#!/usr/bin/env python3
"""Compose the round-end bench artifact from per-family FRESH-JVM runs.

Why: a single 278-query JVM accumulates heap/JIT/codegen-cache pressure
that inflates heavy gates 2-4x vs their isolated cost (r13 judge
measurement: knn_lsh_deleted 3.46s in-suite vs 0.89s isolated), so
in-suite medians cannot distinguish a real regression from suite
pressure. This orchestrator bin-packs the query set into N batches,
runs each batch as its own JVM (graft.Bench with
SPARK_GRAFT_BENCH_FILTER + SPARK_GRAFT_BENCH_EXACT=1), and composes one
artifact, bench/families_latest.json, whose per-query min/median are
fresh-JVM numbers.

COMPARISON RULE (the committed protocol): round-over-round per-query
regression calls are based on families_latest.json ONLY. The full-suite
line (bench/full_latest.json, written by an unfiltered graft.Bench) is
kept as the whole-suite-throughput headline; a per-query delta seen
there but absent from the families artifact is shared-JVM suite
pressure, not a regression.

Usage: python3 scripts/bench_families.py [--sf DIR] [--batches N]
          [--reps N] [--names-from JSON] [--out FILE]
Query names come from --names-from (a JSON object whose keys are query
names — a Verify outDir's oracle_sql.json, the authoritative set) and
fall back to bench/full_latest.json's "queries" keys. Batch packing is
greedy longest-processing-time using the previous artifact's medians as
estimates (new queries default to 1s), so batch wall-times stay even.
"""
import argparse, json, os, subprocess, sys, time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# HOST-DRIFT CANARY (committed protocol, round 16+): a PINNED batch of
# stable, multi-second, rarely-touched queries spanning the major
# families (graph, OLAP, streaming, dedup-LSH, multimodal, sink,
# components, anomaly). Run fresh-JVM min-of-3 as ONE batch every
# round -> bench/canary_latest.json + a line in
# bench/canary_history.jsonl. Round-over-round normalization rule (see
# BASELINE.md): host_ratio = canary_total(now) / canary_total(prev
# round's history line); per-query regression thresholds on
# families_latest.json scale by that ratio. DO NOT edit this list
# without recording a fresh reference point in the same commit —
# comparability is the whole point.
CANARY = [
    "d3b_minhash_bands", "d6d_components_star", "event_anomalies",
    "graph_pagerank", "mm_jpeg_neardup", "s8_patch_roundtrip",
    "stream_sessionize_exec", "table_stats",
]

# The pinned canary protocol (round 16 recording: reps=3, cpus=32,
# mem=8g, sf0.1). A run with different knobs is tagged "adhoc": true
# in the history and is never picked as a normalization reference.
CANARY_PROTOCOL = {"reps": 3, "cpus": 32, "mem": "8g",
                   "sf": "/root/testdata/sf0.1"}

# Streaming per-query-start engine floor at the session's 32 shuffle
# partitions, measured in bench/stream_startup_r16.json (steady-state
# empty-control wall: 4.3 s — 128 HDFS-backed state store providers +
# checkpoint/WAL setup before any input row). The committed regression
# rule for stream_* gates compares the DATA term (wall minus this
# floor) when a delta is within ~4 s absolute; this script computes it
# so round-over-round reads need no manual subtraction.
STREAM_FLOOR_SEC = 4.3

ADD_OPENS_PKGS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_names(path):
    with open(path) as f:
        return sorted(json.load(f).keys())


def load_estimates():
    """Previous medians (any source is fine — only used for packing)."""
    for fname in ("families_latest.json", "full_latest.json"):
        p = os.path.join(REPO, "bench", fname)
        if os.path.exists(p):
            try:
                d = json.load(open(p))
                m = d.get("queries_median") or d.get("queries") or {}
                if m:
                    return m
            except (ValueError, OSError):
                pass
    return {}


def pack(names, est, nbatches):
    """Greedy LPT bin-packing by estimated median."""
    batches = [[] for _ in range(nbatches)]
    loads = [0.0] * nbatches
    for name in sorted(names, key=lambda n: -est.get(n, 1.0)):
        i = loads.index(min(loads))
        batches[i].append(name)
        loads[i] += est.get(name, 1.0)
    return [sorted(b) for b in batches if b]


def pack_pinned(names, est, nbatches, prev_path):
    """PINNED batch composition (committed protocol, round 17+): reuse
    the previous artifact's batch_of verbatim so each query's
    shared-JVM working set is identical round-over-round — re-packing
    each round made per-query deltas compare different batch contexts
    (r16: the three wildest apparent regressions were exactly the
    three queries that changed batch). New queries append into NEW
    final batches (LPT-packed among themselves); dropped queries just
    leave their old batch. Falls back to fresh LPT when no previous
    artifact exists. `prev_path` is the SAME file the run will write
    (--out): pin source and sink must agree, or a custom --out would
    pin from (and never update) a mismatched artifact and silently
    break the same-batch guarantee."""
    try:
        prev_of = json.load(open(prev_path)).get("batch_of") or {}
    except (OSError, ValueError):
        prev_of = {}
    if not prev_of:
        return pack(names, est, nbatches), False
    pinned = {}
    for q in names:
        if q in prev_of:
            pinned.setdefault(prev_of[q], []).append(q)
    batches = [sorted(pinned[i]) for i in sorted(pinned)]
    new = [q for q in names if q not in prev_of]
    if new:
        # new queries never join an existing batch; they get their own
        # final batch(es), one per ~8 queries, LPT inside
        extra = pack(new, est, max(1, (len(new) + 7) // 8))
        print(f"pinned packing: {len(names) - len(new)} queries keep "
              f"their committed batch, {len(new)} new -> "
              f"{len(extra)} appended batch(es): {new}")
        batches += extra
    return batches, True


def run_batch(batch, sf, cpus, reps, mem):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf,
               SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_BENCH_REPS=str(reps),
               SPARK_GRAFT_BENCH_FILTER=",".join(batch),
               SPARK_GRAFT_BENCH_EXACT="1")
    cmd = ["java"]
    for p in ADD_OPENS_PKGS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{mem}",
            "-cp", os.path.join(REPO, "target/scala-2.13/classes")
            + ":" + os.path.join(REPO, "src/main/resources")
            + ":/opt/spark/jars/*",
            "graft.Bench"]
    t0 = time.time()
    proc = subprocess.run(cmd, env=env, cwd=REPO, capture_output=True,
                          text=True)
    wall = time.time() - t0
    line = next((l for l in proc.stdout.splitlines()
                 if l.startswith('{"metric"')), None)
    if proc.returncode != 0 or line is None:
        sys.stderr.write(proc.stdout[-2000:] + "\n" + proc.stderr[-4000:])
        raise SystemExit(f"batch failed (rc={proc.returncode}): "
                         f"{batch[:3]}... ({len(batch)} queries)")
    return json.loads(line), wall


def host_ratio(now_q, prev_q):
    """MEDIAN of per-query canary ratios — robust to one skewed member
    (r16: stream_sessionize_exec drifted x2.07 while the other seven
    sat at 1.02-1.34; a sum-based ratio would have read 1.5+)."""
    ratios = sorted(now_q[q] / prev_q[q] for q in now_q
                    if q in prev_q and prev_q[q] > 0)
    if not ratios:
        return None
    mid = len(ratios) // 2
    return (ratios[mid] if len(ratios) % 2
            else (ratios[mid - 1] + ratios[mid]) / 2)


def run_canary(args, adhoc=False):
    """One fresh-JVM min-of-reps run of the pinned CANARY batch ->
    bench/canary_latest.json + an append-only history line. Cheap
    (~2 min), so it runs before every families composition AND can run
    standalone (--canary-only) to normalize an ad-hoc comparison."""
    res, wall = run_batch(CANARY, args.sf, args.cpus, args.reps, args.mem)
    missing = [q for q in CANARY if q not in res["queries"]]
    if missing:
        raise SystemExit(
            f"canary queries missing from batch result: {missing} — a "
            "renamed/dropped pinned query would silently shrink "
            "canary_total and read as a host speedup; update CANARY "
            "with a fresh reference point in the same commit")
    rev = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                         cwd=REPO, capture_output=True,
                         text=True).stdout.strip()
    # A run off the pinned protocol (reps/cpus/mem/sf) is ad-hoc by
    # definition: comparable to nothing in the history. Knobs are
    # NORMALIZED before comparing (realpath for sf, lowercase mem) so a
    # cosmetically different but equivalent spelling ("8G", a trailing
    # slash) can't silently mark every future run adhoc and stall
    # host_ratio_vs_prev on an ever-older reference; a full-composition
    # run that still classifies adhoc warns loudly.
    def norm(k):
        return {"reps": k["reps"], "cpus": k["cpus"],
                "mem": str(k["mem"]).lower(),
                "sf": os.path.realpath(k["sf"])}
    knobs = {"reps": args.reps, "cpus": args.cpus, "mem": args.mem,
             "sf": args.sf}
    off_protocol = norm(knobs) != norm(CANARY_PROTOCOL)
    if off_protocol and not adhoc:
        sys.stderr.write(
            f"WARNING: full-composition run is OFF the pinned canary "
            f"protocol ({norm(knobs)} != {norm(CANARY_PROTOCOL)}) — "
            f"tagged adhoc; it will NOT become the normalization "
            f"reference\n")
    adhoc = adhoc or off_protocol
    art = {
        "metric": "canary_total",
        "value": round(sum(res["queries"][q] for q in CANARY), 3),
        "unit": "sec",
        "reps": args.reps,
        "queries": {q: res["queries"][q] for q in CANARY},
        "queries_median": {q: res["queries_median"][q] for q in CANARY
                           if q in res["queries_median"]},
        "sf": args.sf,
        "git_rev": rev,
        "recorded_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "protocol": "pinned fresh-JVM canary batch; host_ratio = MEDIAN "
                    "of per-query ratios vs the previous non-adhoc "
                    "history line; scale families_latest.json regression "
                    "thresholds by host_ratio (BASELINE.md protocol, "
                    "median rule from round 17)",
    }
    if adhoc:
        art["adhoc"] = True
    hist_path = os.path.join(REPO, "bench/canary_history.jsonl")
    hist = ([json.loads(l) for l in open(hist_path)]
            if os.path.exists(hist_path) else [])
    # Reference = most recent NON-adhoc line (an ad-hoc --canary-only
    # run must never become the next round's normalization baseline).
    prev = next((h for h in reversed(hist) if not h.get("adhoc")), None)
    if prev is not None:
        r = host_ratio(art["queries"], prev["queries"])
        if r is not None:
            art["host_ratio_vs_prev"] = round(r, 3)
            art["host_ratio_prev_rev"] = prev["git_rev"]
    with open(os.path.join(REPO, "bench/canary_latest.json"), "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    with open(hist_path, "a") as f:
        f.write(json.dumps(art, sort_keys=True) + "\n")
    line = f"canary: {art['value']:.1f}s (wall {wall:.0f}s, rev {rev}"
    line += ", ADHOC)" if adhoc else ")"
    if "host_ratio_vs_prev" in art:
        line += (f"; host_ratio (median per-query) vs "
                 f"{art['host_ratio_prev_rev']} = "
                 f"{art['host_ratio_vs_prev']:.3f}")
    print(line)
    return art


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--batches", type=int, default=12)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--mem", default=os.environ.get("SPARK_DRIVER_MEM", "8g"))
    ap.add_argument("--names-from", default="/tmp/verify_out/oracle_sql.json")
    ap.add_argument("--out",
                    default=os.path.join(REPO, "bench/families_latest.json"))
    ap.add_argument("--canary-only", action="store_true",
                    help="run just the pinned canary batch and exit")
    ap.add_argument("--skip-canary", action="store_true")
    args = ap.parse_args()

    if args.canary_only:
        # standalone canary = ad-hoc normalization check, never the
        # next round's reference (that is the full-composition run's)
        run_canary(args, adhoc=True)
        return
    canary_art = None
    if not args.skip_canary:
        canary_art = run_canary(args)

    names_src = args.names_from
    if not os.path.exists(names_src):
        names_src = os.path.join(REPO, "bench/full_latest.json")
        names = sorted(json.load(open(names_src))["queries"].keys())
    else:
        names = load_names(names_src)
    est = load_estimates()
    # Previous artifact (read BEFORE this run overwrites --out): pin
    # source for batch composition AND the comparator for the in-suite
    # drift ratio below.
    prev_art = None
    try:
        prev_art = json.load(open(args.out))
    except (OSError, ValueError):
        pass
    batches, was_pinned = pack_pinned(names, est, args.batches, args.out)
    print(f"{len(names)} queries -> {len(batches)} fresh-JVM batches "
          f"({'PINNED from previous batch_of' if was_pinned else 'fresh LPT'}"
          f"; estimates from previous artifact: {len(est)} known)")

    mins, meds, batch_of, batch_wall = {}, {}, {}, []
    for i, batch in enumerate(batches):
        res, wall = run_batch(batch, args.sf, args.cpus, args.reps, args.mem)
        for q in batch:
            if q in res["queries"]:
                mins[q] = res["queries"][q]
                meds[q] = res["queries_median"][q]
                batch_of[q] = i
        batch_wall.append(round(wall, 1))
        print(f"  batch {i}: {len(batch)} queries, "
              f"timed sum {sum(res['queries'].values()):.1f}s, "
              f"wall {wall:.0f}s")

    missing = [q for q in names if q not in mins]
    if missing:
        sys.stderr.write(f"WARNING: {len(missing)} queries not timed: "
                         f"{missing}\n")
    artifact = {
        "metric": "families_total",
        "value": sum(mins.values()),
        "unit": "sec",
        "reps": args.reps,
        "batches": len(batches),
        "batch_composition": ("pinned from previous batch_of"
                              if was_pinned else "fresh LPT packing"),
        "protocol": "per-query numbers are from FRESH-JVM batch runs "
                    "(SPARK_GRAFT_BENCH_FILTER exact mode); regression "
                    "calls use THIS file, full_latest.json is the "
                    "whole-suite-throughput headline only; batch_of is "
                    "PINNED round-over-round (new queries append into "
                    "new final batches) so per-query deltas compare the "
                    "same shared-JVM working set; stream_* rows carry "
                    "stream_data_term = wall minus the measured "
                    "per-query-start state-machinery floor "
                    "(bench/stream_startup_r16.json) — use the data "
                    "term for stream regression calls within ~4s abs",
        "queries": mins,
        "queries_median": meds,
        "batch_of": batch_of,
        "batch_wall_sec": batch_wall,
        "stream_floor_sec": STREAM_FLOOR_SEC,
        "stream_data_term": {
            q: round(max(0.0, v - STREAM_FLOOR_SEC), 3)
            for q, v in mins.items() if q.startswith("stream_")},
        "sf": args.sf,
    }
    # DRIFT ERROR BAR (committed protocol, round 18+): the fresh-JVM
    # canary batch is measured in ONE window, hours apart from the 12
    # batch windows it normalizes, and its first exercise (r17)
    # disagreed in SIGN with its own members measured in-suite (1.161
    # fresh-JVM vs ~0.88 in-batch). So stamp a SECOND ratio — the
    # median per-query ratio over all pinned (same-batch-composition)
    # queries common to the previous artifact — next to the canary's,
    # and when the two disagree by >20% flag the band explicitly:
    # normalized round-over-round claims must quote the band, not
    # either point.
    def _med(xs):
        s = sorted(xs)
        if not s:
            return None
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2
    if prev_art and was_pinned and prev_art.get("queries"):
        prev_q = prev_art["queries"]
        common = [q for q in mins
                  if q in prev_q and prev_q[q] > 0
                  and q in (prev_art.get("batch_of") or {})]
        r_all = _med([mins[q] / prev_q[q] for q in common])
        r_can = _med([mins[q] / prev_q[q] for q in common if q in CANARY])
        if r_all is not None:
            artifact["insuite_ratio_vs_prev"] = round(r_all, 3)
            artifact["insuite_ratio_n_queries"] = len(common)
        if r_can is not None:
            artifact["insuite_canary_ratio_vs_prev"] = round(r_can, 3)
        fresh = (canary_art or {}).get("host_ratio_vs_prev")
        if fresh is not None:
            artifact["host_ratio_vs_prev"] = fresh
            if r_all is not None:
                lo, hi = sorted((fresh, r_all))
                band = f"[{lo:.3f}, {hi:.3f}]"
                artifact["host_ratio_band"] = band
                if hi > 1.2 * lo:
                    artifact["host_ratio_band_note"] = (
                        "fresh-JVM canary ratio and in-suite pinned-batch "
                        "median disagree by >20% — treat the band as the "
                        "drift error bar; do not quote either point alone "
                        "for normalized claims")
                    print(f"DRIFT BAND: fresh-JVM {fresh:.3f} vs in-suite "
                          f"{r_all:.3f} over {len(common)} pinned queries "
                          f"-> use {band}")
            # mirror both ratios into canary_latest.json so the two
            # artifacts never tell different normalization stories
            cl = os.path.join(REPO, "bench/canary_latest.json")
            try:
                c = json.load(open(cl))
                if r_all is not None:
                    c["insuite_ratio_vs_prev"] = round(r_all, 3)
                    c["insuite_ratio_n_queries"] = len(common)
                if r_can is not None:
                    c["insuite_canary_ratio_vs_prev"] = round(r_can, 3)
                if r_all is not None:
                    c["host_ratio_band"] = artifact.get("host_ratio_band")
                with open(cl, "w") as f:
                    json.dump(c, f, indent=1, sort_keys=True)
            except (OSError, ValueError):
                pass
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"wrote {args.out}: {len(mins)} queries, "
          f"sum-of-mins {artifact['value']:.1f}s")


if __name__ == "__main__":
    main()
