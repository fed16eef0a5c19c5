#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload kg-lookup --seed 1 --seconds 6 --trace 0

Run from the root of a graft checkout. It builds graft and the harness
from source (first run only; later runs reuse the build while the
sources are unchanged), generates the seeded inputs, runs the harness
JVM in an isolated scratch directory (its own java.io.tmpdir and
SPARK_LOCAL_DIRS, removed afterwards), checks the outputs, and prints
human-readable lines followed by one JSON metric line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("kg-lookup", "ingest")
SETUPS = 3  # set-up repetitions; setup_s is their median
SCALE = 0.02  # default corpus scale factor (sf0.1 = 600k lineitems)
HEAP = "3g"
DEADLINE_S = 170
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUN_ROOT = os.path.join(ROOT, ".bench_run")
TRACE_DIR = os.path.join(ROOT, ".bench_trace")
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(ROOT, rel)
        if not os.path.exists(p):
            fail(f"missing {rel}: run from the root of a graft checkout")
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Return (classpath, jvm flags), building with sbt when stale."""
    fp = source_fingerprint()
    launch = os.path.join(BUILD_DIR, "launch.txt")
    stamp = os.path.join(BUILD_DIR, "fingerprint")
    fresh = os.path.exists(launch) and os.path.exists(stamp) and \
        open(stamp).read() == fp
    if not fresh:
        os.makedirs(BUILD_DIR, exist_ok=True)
        log = os.path.join(BUILD_DIR, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "benchLaunch"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840).returncode
        if rc != 0 or not os.path.exists(launch):
            with open(log) as f:
                sys.stderr.write(f.read()[-3000:])
            fail("build failed", 3)
        with open(stamp, "w") as f:
            f.write(fp)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pct(xs, q):
    """Linear-interpolated percentile (q in [0, 100])."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def run_jvm(workload, seed, seconds, trace, scale, run_dir, t_start, classpath, flags):
    in_dir, out_dir, work_dir = (os.path.join(run_dir, d) for d in ("in", "out", "work"))
    tmp_dir, local_dir = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    for d in (out_dir, work_dir, tmp_dir, local_dir):
        os.makedirs(d)
    plan = gen.generate(seed, in_dir, scale)
    # one hard-linked corpus directory per set-up repetition: artifacts
    # keyed by the corpus path are rebuilt by every repetition
    for rep in range(SETUPS):
        d = os.path.join(in_dir, f"corpus-{rep}")
        os.makedirs(d)
        for f in os.listdir(os.path.join(in_dir, "corpus")):
            os.link(os.path.join(in_dir, "corpus", f), os.path.join(d, f))
    env = dict(os.environ, SPARK_LOCAL_DIRS=local_dir)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp_dir}", *flags,
           "-cp", classpath, "graft.perfbench.Main", workload, in_dir, out_dir,
           work_dir, str(seconds), str(trace), str(cpus()), str(SETUPS)]
    log = os.path.join(run_dir, "jvm.log")
    budget = DEADLINE_S - (time.monotonic() - t_start)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(10.0, budget)).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        fail(f"harness exited with {rc}", 4)
    with open(result_path) as f:
        result = json.load(f)
    return plan, result, in_dir, out_dir, work_dir, tmp_dir


def busy_s(result):
    """The single client's busy time: every op, searches included, but
    not the harness's bookkeeping between ops (tracing)."""
    return sum(o["ms"] for o in result["ops"]) / 1000.0


def end_to_end(result):
    ok = [o for o in result["ops"] if o["ok"] and not o["search"]]
    ms = [o["ms"] for o in ok]
    return {
        # median of the repeated session + artifact builds, plus warm-up
        "setup_s": (statistics.median(result["setup_s"]) + result["warmup_s"], "s"),
        "p50_ms": (pct(ms, 50), "ms"),
        "ops_per_s": (len(ok) / busy_s(result), "1/s"),
        "heap_live_mb": (result["heap_live_mb"], "MB"),
    }


def cpu_ticks():
    """Aggregate (busy, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="corpus scale factor, for comparing scales")
    a = ap.parse_args()
    classpath, flags = ensure_built()
    t_start = time.monotonic()
    ticks0 = cpu_ticks()
    os.makedirs(RUN_ROOT, exist_ok=True)
    run_dir = os.path.join(RUN_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan, result, in_dir, out_dir, work_dir, tmp_dir = run_jvm(
            a.workload, a.seed, a.seconds, a.trace, a.scale, run_dir, t_start, classpath, flags)
        verdict = checks.check(a.workload, plan, result, in_dir, out_dir)
        layers = None
        if a.trace:
            layers = checks.per_layer(a.workload, result, out_dir, work_dir, tmp_dir)
            # the spans outlive the scratch directory
            os.makedirs(TRACE_DIR, exist_ok=True)
            shutil.copy(os.path.join(out_dir, "spans.jsonl"), os.path.join(
                TRACE_DIR, f"{a.workload}-{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(RUN_ROOT):
            os.rmdir(RUN_ROOT)

    ticks1 = cpu_ticks()
    steal = float("nan")
    if ticks0 and ticks1:
        busy, stolen = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]
        steal = stolen / max(1, busy + stolen)
    e2e = end_to_end(result)
    attempted = sum(1 for o in result["ops"])
    failed = sum(1 for o in result["ops"] if not o["ok"]) + verdict["wrong_ops"]
    primary = [o for o in result["ops"] if not o["search"]]
    searches = [o["ms"] for o in result["ops"] if o["search"] and o["ok"]]
    lines = [
        f"workload {a.workload} seed {a.seed} window {result['window_ms'] / 1000:.3f} s "
        f"ops {len(primary)} searches {len(searches)}",
        f"loadavg_1m start {result['load_start']:.2f} end {result['load_end']:.2f}"
        f"; cpu_steal_share {steal:.4f} (time the hypervisor ran others on our CPUs)",
        f"heap_peak_mb {result['heap_peak_mb']:.1f} MB (largest heap after the "
        f"{result['window_gcs']} collections in the window); "
        f"setup reps s {' '.join(f'{x:.2f}' for x in result['setup_s'])} "
        f"+ warm-up {result['warmup_s']:.2f}",
    ]
    for k, (v, u) in e2e.items():
        lines.append(f"  {k:<14} {v:#.6g} {u}")
    # a run has tens of ops, too few for ten beyond the 90th percentile,
    # so p90 is printed for reading, not reported as a metric
    ok_ms = [o["ms"] for o in primary if o["ok"]]
    lines.append(f"  {'p90_ms':<14} {pct(ok_ms, 90):#.6g} ms (n={len(ok_ms)}, "
                 f"{sum(m > pct(ok_ms, 90) for m in ok_ms)} beyond)")
    rows = sum(o["rows"] for o in primary if o["ok"])
    lines.append(f"  {'rows_per_s':<14} {rows / busy_s(result):#.6g} rows/s")
    lines.append(f"  {'fail_ratio':<14} {failed / max(1, attempted):#.6g} ratio "
                 f"({failed} of {attempted})")
    if a.workload == "ingest":
        lines.append(f"  {'search_p50_ms':<14} {pct(searches, 50):#.6g} ms (n={len(searches)})")
        lines.append(f"  {'search_p90_ms':<14} {pct(searches, 90):#.6g} ms")
        lines.append(f"  {'space_amp':<14} {result['extra']['Compaction.space_amp']:#.6g} ratio")
        lines.append("  trigger_ms by sink (mean) " + " ".join(
            f"{k.split('.')[1]} {v:.0f}" for k, v in sorted(result["extra"].items())
            if k.startswith("trigger_ms.")))
    for c in verdict["notes"]:
        lines.append(f"  check: {c}")
    if layers is not None:
        for k, (v, u) in layers.items():
            lines.append(f"  layer {k:<36} {v:#.6g} {u}")
    print("\n".join(lines))
    metrics = layers if a.trace else e2e
    print(json.dumps({
        "correct": bool(verdict["ok"] and failed == 0),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
