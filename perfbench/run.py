#!/usr/bin/env python3
"""perfbench: the engine's batch benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the benchmark (an sbt
build in this directory that compiles against the checkout's engine
sources), generates the workload's inputs from the seed (cached under
.bench_build/), then starts one JVM that times its own set-up, runs the
pass schedule and checks every pass's output against the generator's
truth.
Human-readable lines go first; the last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See README.md for the workloads, the metrics and the measured spread.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

DEADLINE_S = 170          # a run must end within 180 s
HEAP = "2g"               # fixed (-Xms = -Xmx): see README.md, peak_rss_mb
CORES = max(1, min(4, os.cpu_count() or 1))

# Pass schedule per workload. `warmup` passes run after the cold one and
# are not reported; the window is round(--seconds / pass_s) passes, at
# least `min_window`, and its median is warm_s. `pass_s` is a fixed
# nominal pass time, so the window is a fixed count for a given --seconds,
# never however many passes happen to fit.
SCHEDULE = {
    "deals_many": dict(warmup=3, pass_s=8.0, min_window=3, item="deals"),
    "corpus_dedup": dict(warmup=5, pass_s=4.0, min_window=5, item="docs"),
}
TRACED_PASSES = 2

# Per-layer metrics printed by --trace 1, all from the traced passes. Each
# layer keeps the fields that are non-zero where it runs; a layer that
# does not run on a workload reads 0 there. README.md maps every layer to
# the end-to-end metric and the workload it should move.
ALL = ["wall_s", "task_s", "busy_cores", "jobs", "tasks", "shuffle_mb", "gc_s"]
NO_GC = ALL[:-1]
SMALL = ["wall_s", "task_s", "busy_cores", "jobs", "shuffle_mb"]
LAYERS = {
    "Pipeline.chunk": SMALL, "Pipeline.cascade": SMALL, "Pipeline.rank": SMALL,
    "Assemble.passage": ALL, "Assemble.enrich": ALL,
    "Clients.identify": ALL, "Clients.embed": SMALL[:3],
    "Crawler.jobs": ALL, "Crawler.validate": ALL, "Crawler.locate": ALL,
    "Sinks.write": NO_GC, "Sinks.csv": SMALL, "Sinks.patch": NO_GC,
    "Dedup.minhash": ALL, "Components.verdicts": ALL,
    "Similarity.semdedup": ALL, "Similarity.knn": ALL,
    "pass": ["wall_s", "self_s", "task_s", "busy_cores", "jobs", "shuffle_mb",
             "gc_s"],
}
EXTRA = [  # ratios and counts taken at layer boundaries: (name, unit, better)
    ("Pipeline.cascade.cands_per_chunk", "ratio", "lower"),
    ("Assemble.enrich_share", "ratio", "lower"),
    ("Crawler.validate.pass_ratio", "ratio", "higher"),
    ("Crawler.validate.docs_per_deal", "ratio", "lower"),
    ("Crawler.locate.llm_share", "ratio", "lower"),
    ("Sinks.files_written", "count", "lower"),
    ("Sinks.patch.rewrite_amp", "ratio", "lower"),
    ("Sinks.patch.conf_keys_changed", "count", "lower"),
    ("Components.verdicts.conf_keys_changed", "count", "lower"),
    ("Dedup.minhash.precision", "ratio", "higher"),
    ("Similarity.semdedup.precision", "ratio", "higher"),
    ("Similarity.knn.recall_at_5", "ratio", "higher"),
    ("pass.conf_keys_changed", "count", "lower"),
    ("pass.codegen_classes", "count", "lower"),
    ("pass.persisted_mb_left", "MB", "lower"),
    ("pass.trace_overhead", "ratio", "lower"),
]
# Which end-to-end metric each layer should move, and on which workload
# (README.md, "How the metrics interact").
MOVES = {
    "Pipeline": "warm_s on deals_many; none on corpus_dedup",
    "Assemble": "warm_s on deals_many; none on corpus_dedup",
    "Clients.identify": "warm_s on deals_many",
    "Clients.embed": "warm_s on corpus_dedup",
    "Crawler": "warm_s on deals_many only",
    "Sinks": "warm_s, peak_rss_mb on deals_many; Sinks.write also corpus_dedup",
    "Dedup": "warm_s on corpus_dedup only",
    "Components": "warm_s on corpus_dedup only",
    "Similarity.semdedup": "warm_s on corpus_dedup",
    "Similarity.knn": "traced-only on corpus_dedup (no timed workload)",
    "pass": "cold_s, peak_rss_mb on both",
}


def moves(name):
    return next((v for k, v in MOVES.items() if name.startswith(k)), "")


FIELD_UNIT = {"wall_s": ("s", "lower"), "self_s": ("s", "lower"),
              "task_s": ("s", "lower"), "busy_cores": ("cores", "higher"),
              "jobs": ("count", "lower"), "tasks": ("count", "lower"),
              "shuffle_mb": ("MB", "lower"), "gc_s": ("s", "lower")}


def per_layer_metrics():
    out = [(f"{layer}.{f}",) + FIELD_UNIT[f]
           for layer, fields in LAYERS.items() for f in fields]
    return out + EXTRA


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Deadline:
    def __init__(self, seconds):
        self.end = time.monotonic() + seconds

    def left(self):
        left = self.end - time.monotonic()
        if left <= 0:
            raise TimeoutError("run exceeded its time budget")
        return left


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark; returns the runtime classpath.
    Skipped when the sources are unchanged since the last build here."""
    engine = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main")]
    if not all(os.path.exists(p) for p in engine):
        raise SystemExit("perfbench: no engine sources next to the benchmark;"
                         " run it from the root of a full checkout")
    sources = engine + [os.path.join(ROOT, "project", "build.properties"),
                        os.path.join(HERE, "build.sbt"),
                        os.path.join(HERE, "project", "build.properties"),
                        os.path.join(HERE, "src")]
    stamp = digest([p for p in sources if os.path.exists(p)])
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (sbt writeClasspath)")
    t0 = time.monotonic()
    res = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "writeClasspath"], cwd=HERE, stdout=sys.stderr,
                         stderr=sys.stderr, timeout=850)
    if res.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"perfbench: build failed ({res.returncode})")
    log(f"built in {time.monotonic() - t0:.1f} s")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def inputs_for(workload, seed):
    """The seed's inputs, generated once and cached under the seed and a
    digest of the generator."""
    gdigest = digest([os.path.join(HERE, "gen.py")])[:16]
    base = os.path.join(BUILD, "inputs")
    path = os.path.join(base, f"{workload}-{seed}-{gdigest}")
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    os.makedirs(base, exist_ok=True)
    # keep the cache small: the few most recent input sets
    old = sorted((os.path.join(base, d) for d in os.listdir(base)),
                 key=os.path.getmtime)
    for d in old[:-6]:
        shutil.rmtree(d, ignore_errors=True)
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.monotonic()
    gen.generate(workload, seed, tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    log(f"generated {workload} seed {seed} in {time.monotonic() - t0:.1f} s")
    return path


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def jvm(cp, work, args, deadline):
    """Runs one benchmark JVM; returns its report."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report = os.path.join(work, "report.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", "--work", work, "--report", report,
            "--cores", str(CORES)] + args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=deadline.left())
    except (subprocess.TimeoutExpired, TimeoutError):
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: benchmark JVM ran out of time")
    if code != 0 or not os.path.exists(report):
        raise SystemExit(f"perfbench: benchmark JVM failed ({code})")
    with open(report) as f:
        out = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return out


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCHEDULE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    sched = SCHEDULE[a.workload]
    cp = build()
    deadline = Deadline(DEADLINE_S)   # the budget starts once the build is done
    inputs = inputs_for(a.workload, a.seed)
    runs = os.path.join(BUILD, "runs")
    common = ["--workload", a.workload, "--inputs", inputs]

    window = max(sched["min_window"], round(a.seconds / sched["pass_s"]))
    r = jvm(cp, os.path.join(runs, f"run-{os.getpid()}"),
            common + ["--warmup", str(sched["warmup"]),
                      "--window", str(window),
                      "--traced", str(TRACED_PASSES if a.trace else 0)],
            deadline)

    passes = r["passes"]
    ok = [p for p in passes if "error" not in p]
    timed = [p for p in passes if p["phase"] != "traced"]
    items = int(r["items"])
    attempted = items * len(timed)
    failed = int(sum(p["failed"] for p in timed))
    for p in passes:
        if "error" in p:
            log(f"{p['phase']} pass failed: {p['error']}")
    cold = [p["wall_s"] for p in ok if p["phase"] == "cold"]
    win = [p for p in ok if p["phase"] == "window"]
    if not cold or len(win) < (window + 1) // 2:
        raise SystemExit("perfbench: too few passes completed to report")
    warm = median([p["wall_s"] for p in win])
    half = len(win) // 2
    trend = (median([p["wall_s"] for p in win[-half:]]) /
             median([p["wall_s"] for p in win[:half]]) - 1)
    e2e = {
        "setup_s": (r["setup_s"], "s"),
        "cold_s": (cold[0], "s"),
        "warm_s": (warm, "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }
    item = sched["item"]
    print(f"perfbench {a.workload} seed={a.seed}: {items} {item} per pass, "
          f"local[{CORES}], -Xmx{HEAP}")
    print(f"  setup_s      {r['setup_s']:8.3f} s    fresh JVM to ready: JVM start "
          f"to session {r['session_s']:.3f}, register {r['register_s']:.3f}, "
          f"first read of the inputs {r['read_s']:.3f}")
    print(f"  cold_s       {e2e['cold_s'][0]:8.3f} s    first pass in the JVM")
    print(f"  warm_s       {warm:8.3f} s    median of {len(win)} window passes "
          f"after {sched['warmup']} warm-up; {items / warm:.1f} {item}/s; "
          f"window trend {trend * 100:+.1f} %")
    print(f"  peak_rss_mb  {r['peak_rss_mb']:8.1f} MB   VmHWM of the run JVM")
    print(f"  failed_frac  {failed / attempted:8.4f}      {failed} of "
          f"{attempted} {item} over {len(timed)} passes")
    print("  passes (phase wall_s cpu_s jobs codegen_compiles "
          "conf_keys_changed persisted_mb_left failed):")
    for p in passes:
        print(f"    {p['phase']:7s} {p['wall_s']:7.3f} {p['cpu_s']:7.2f} "
              f"{int(p['jobs']):4d} {int(p['codegen_compiles']):5d} "
              f"{int(p['conf_keys_changed']):2d} "
              f"{p['persisted_mb_left']:8.2f} {int(p['failed'])}")
    left = sorted({k for p in passes for k in p["conf_changed"].split(",") if k})
    if left:
        print("  session conf keys a pass left changed (restored before the "
              "next): " + ", ".join(left))

    if a.trace:
        traced = r["traced"]
        if not traced:
            raise SystemExit("perfbench: no traced pass completed")
        keys = {k for t in traced for k in t}
        layer = {k: median([t.get(k, 0.0) for t in traced]) for k in keys}
        layer["pass.persisted_mb_left"] = median(
            [p["persisted_mb_left"] for p in win])
        layer["pass.conf_keys_changed"] = median(
            [p["conf_keys_changed"] for p in win])
        # classes the cold pass generated: a batch's distinct generated code
        layer["pass.codegen_classes"] = passes[0]["codegen_compiles"]
        layer["pass.trace_overhead"] = layer["pass.wall_s"] / warm - 1
        metrics = {}
        print("  per-layer (median of %d traced passes):" % len(traced))
        for name, unit, _ in per_layer_metrics():
            v = layer.get(name, 0.0)
            metrics[name] = {"value": v, "unit": unit}
            if v:
                print(f"    {name:40s} {v:12.4f} {unit:6s} {moves(name)}")
        extra = sorted(k for k in keys - set(metrics) if layer[k])
        if extra:
            print("  not exported: " + ", ".join(
                f"{k}={layer[k]:.4g}" for k in extra))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    try:
        main()
    except TimeoutError as e:
        raise SystemExit(f"perfbench: {e}")
