#!/usr/bin/env bash
# Direct-JVM runner for the repo's CLI mains (skips sbt startup; same
# add-opens list as build.sbt / bench_families.py). Usage:
#   scripts/jrun.sh [-XmxNg] <mainClass> [args...]
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
MEM="8g"
if [[ "${1:-}" == -Xmx* ]]; then MEM="${1#-Xmx}"; shift; fi
PKGS=(java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar)
ARGS=()
for p in "${PKGS[@]}"; do ARGS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java "${ARGS[@]}" -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC "-Xmx$MEM" \
  -cp "$REPO/target/scala-2.13/classes:$REPO/src/main/resources:/opt/spark/jars/*" \
  "$@"
