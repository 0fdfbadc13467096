#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client against the engine.

    python3 perfbench/run.py --workload graph_lookups --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One run:

1. labels the host (load average, a CPU calibration loop, page-cache size);
2. writes the workload's seeded input tables (`datagen.py`, separate
   process) under a fresh temp root inside the checkout, which also holds
   `SPARK_LOCAL_DIRS`, the JVM temp dir and any table the workload writes,
   and is removed at exit;
3. starts the session at `local[k]`, k = min(4, usable cores), with the
   program's default driver heap, and sets up once (resident-store load or
   initial table write): `setup_s` is session start plus that set-up;
4. runs each request type once (the first pass), then the workload's
   `warm_rounds` untimed rounds of the request mix;
5. times the workload's `min_rounds` whole rounds of the mix, and more
   whole rounds while fewer than `--seconds` have passed (a floor that
   the whole rounds pass at `--seconds 1`). A fixed amount of work, not a
   fixed time, puts every run at the same point of the JIT's warm-up
   curve and gives every run the same sample count, so the same tail
   percentile, however fast the program is;
6. checks every read against its oracle and the final state against a
   replay, outside the timed window.

The last stdout line is the result: with `--trace 0` the end-to-end
metrics, with `--trace 1` the per-layer metrics (from a run in which every
other request of each stratum is traced, so the untraced half also gives
the tracing overhead). The line before it holds the run's diagnostics:
host labels, the seconds of each phase, warm-up evidence, within-window
drift, the tail percentile and sample count, and any check failures. A
run with a failed or wrong operation prints `"correct": false` and exits 1.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MAX_CPUS = 4

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "request_p50_s": "s",
    "request_tail_s": "s",
    "requests_per_s": "1/s",
}

LAYER_MODULES = ("operators.go", "operators.fetch", "operators.lookup",
                 "operators.scan", "operators.analytics", "pipeline.similarity",
                 "pipeline.dedup", "mutate.bucketed")
LAYER_UNITS = {"build_s": "s", "build_jobs": "count", "plan_s": "s",
               "execute_s": "s", "execute_jobs": "count", "stages": "count",
               "task_cpu_s": "s", "input_mb": "MB", "shuffle_mb": "MB",
               "spill_mb": "MB"}
PER_LAYER = {f"{m}.{f}": u for m in LAYER_MODULES for f, u in LAYER_UNITS.items()}
PER_LAYER.update({
    "session.start_s": "s",
    "graph.load_s": "s",
    "graph.resident_mb": "MB",
    "cache.release_s": "s",
    "cache.released_frames": "count",
    "cache.retained_mb": "MB",
    "bucketed_layout.touched_bucket_frac": "1",
    "bucketed_layout.rewritten_mb": "MB",
    "bucketed_layout.write_amp": "1",
    "bucketed_layout.files": "count",
    "jvm.gc_s": "s",
    "jvm.rss_peak_mb": "MB",
    "first_pass.build_s": "s",
    "first_pass.plan_s": "s",
    "first_pass.execute_s": "s",
    "request.unattributed_s": "s",
    "trace.overhead_s": "s",
})


# --------------------------------------------------------------------------
# host labels (as bench.py records them)
# --------------------------------------------------------------------------

def host_labels() -> dict:
    out = {}
    try:
        with open("/proc/loadavg") as fh:
            out["loadavg"] = [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        out["loadavg"] = None
    try:
        with open("/proc/meminfo") as fh:
            out["cached_kb"] = next(int(line.split()[1]) for line in fh
                                    if line.startswith("Cached:"))
    except (OSError, StopIteration, ValueError):
        out["cached_kb"] = None
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 1103515245 + i) & 0x7FFFFFFFFFFF
    out["cpu_calib_s"] = time.perf_counter() - t0
    return out


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def configure_env(tmp: str) -> int:
    """Session shape: task threads, local dirs and temp files all inside
    the run's temp root; the driver heap stays at the program default."""
    cpus = min(MAX_CPUS, usable_cpus())
    for d in ("local", "jvmtmp", "pytmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "pytmp")
    # no JVM may write under the system temp dir: neither the launcher JVM
    # spark-submit starts first nor the driver JVM
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(tmp, 'jvmtmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", f"'{jvm_opts}'",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "pyspark-shell"])
    return cpus


def run_rounds(wl, tracer, rid0: int, until_s: float, min_rounds: int,
               traced: bool):
    """Whole rounds of the mix until `until_s` seconds have passed and at
    least `min_rounds` rounds ran. When tracing, every other occurrence of
    each stratum is traced, so traced and untraced requests see the same
    mix. Returns (samples, seconds, mean wall per round, next request id);
    the round means are the steady-state evidence."""
    from tracing import execute
    samples, means, rid, seen = [], [], rid0, {}
    t0 = time.perf_counter()
    while len(means) < min_rounds or time.perf_counter() - t0 < until_s:
        walls = []
        for req in wl.next_round():
            n = seen[req.stratum] = seen.get(req.stratum, -1) + 1
            s = execute(req, rid, tracer, traced and n % 2 == 0)
            wl.after_request(s)
            samples.append(s)
            walls.append(s.wall_s)
            rid += 1
        means.append(sum(walls) / len(walls))
    return samples, time.perf_counter() - t0, means, rid


def layer_metrics(window, first, wl, extra) -> dict:
    """The per-layer metrics of a traced run (see tracing.py)."""
    from tracing import layer_means
    means = layer_means(window)
    out = {f"{m}.{f}": means.get(m, {}).get(f, 0.0)
           for m in LAYER_MODULES for f in LAYER_UNITS}
    traced = [s for s in window if s.layer is not None]
    out["request.unattributed_s"] = (
        sum(s.layer["wall_s"] - s.layer["build_s"] - s.layer["plan_s"]
            - s.layer["execute_s"] for s in traced) / max(len(traced), 1))
    for f in ("build_s", "plan_s", "execute_s"):
        out[f"first_pass.{f}"] = sum(s.layer[f] for s in first if s.layer)
    layout = [s.layout for s in traced if s.layout is not None]
    for k in ("touched_bucket_frac", "rewritten_mb", "files"):
        out[f"bucketed_layout.{k}"] = (sum(x[k] for x in layout) / len(layout)
                                       if layout else 0.0)
    # bytes rewritten over batch bytes, over all traced writes
    out["bucketed_layout.write_amp"] = (
        sum(x["rewritten_mb"] for x in layout) / sum(x["batch_mb"] for x in layout)
        if layout else 0.0)
    # tracing overhead: per stratum, the mean wall of its traced requests
    # with the tracing work included, minus the mean untraced wall
    by = {}
    for s in window:
        if s.ok:
            wall = s.traced_wall_s if s.traced else s.wall_s
            by.setdefault(s.request.stratum, ([], []))[s.traced].append(wall)
    diffs = [sum(t) / len(t) - sum(u) / len(u) for u, t in by.values() if u and t]
    out["trace.overhead_s"] = sum(diffs) / len(diffs) if diffs else 0.0
    rel = wl.releases
    out["cache.release_s"] = sum(r[0] for r in rel) / len(rel) if rel else 0.0
    out["cache.released_frames"] = sum(r[1] for r in rel) / len(rel) if rel else 0.0
    out.update(extra)
    return out


def stop_session(spark) -> None:
    """Stop the session and the driver JVM the gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, tmp: str) -> tuple[dict, dict]:
    """One benchmark run; returns (result, diagnostics)."""
    diag = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    diag["host_before"] = host_labels()
    diag["cpus"] = configure_env(tmp)

    from workloads import WORKLOADS
    cls = WORKLOADS[args.workload]
    data_dir = os.path.join(tmp, "data")
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), data_dir,
                    "--sf", str(cls.sf), "--seed", str(args.seed)], check=True)
    phase = diag["phase_s"] = {"datagen": time.perf_counter() - t0}

    from nebula_storage_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = phase["session"] = time.perf_counter() - t0
    try:
        return measure(args, spark, cls, data_dir, tmp, session_s, diag)
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        phase["stop"] = time.perf_counter() - t0


def measure(args, spark, cls, data_dir, tmp, session_s, diag):
    from tracing import Tracer, execute, gc_seconds
    from workloads import storage_used_mb
    import stats

    phase = diag["phase_s"]
    jvm = spark._jvm
    diag["driver_heap_max_mb"] = jvm.java.lang.Runtime.getRuntime().maxMemory() / (1 << 20)
    diag["spark_master"] = spark.sparkContext.master
    wl = cls(spark, data_dir, tmp, args.seed)
    setup_s = phase["setup"] = wl.setup()
    storage0 = wl.storage_after_setup = storage_used_mb(spark)
    tracer = Tracer(spark) if args.trace else None

    t0 = time.perf_counter()
    first = []
    for rid, req in enumerate(wl.first_pass()):
        s = execute(req, rid, tracer, traced=bool(args.trace))
        wl.after_request(s)
        first.append(s)
    rid = len(first)
    phase["first_pass"] = time.perf_counter() - t0

    _, phase["warm"], warm, rid = run_rounds(wl, None, rid, 0.0, wl.warm_rounds, False)
    diag["warm_round_means_s"] = warm

    gc0 = gc_seconds(spark)
    window, window_s, round_means, rid = run_rounds(
        wl, tracer, rid, float(args.seconds), wl.min_rounds, bool(args.trace))
    phase["window"] = window_s
    gc_s = gc_seconds(spark) - gc0
    jvm_rss_mb = vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid())
    py_rss_mb = vm_hwm_mb(os.getpid())
    retained_mb = storage_used_mb(spark) - storage0

    t0 = time.perf_counter()
    errors = [f"{s.request.stratum}: request raised" for s in first + window if not s.ok]
    errors += wl.check([s for s in first + window if s.ok])
    phase["check"] = time.perf_counter() - t0
    diag["errors"] = errors[:20]
    attempted = len(first) + len(window)
    failed = min(len(errors), attempted)

    walls = [s.wall_s if s.ok else float("inf") for s in window]
    untraced = [s for s in window if not s.traced]
    tail_p, tail_v = stats.tail([s.wall_s if s.ok else float("inf") for s in untraced])
    writes = [s.wall_s for s in untraced if s.request.is_write]
    w_tail_p, w_tail_v = stats.tail(writes)
    diag.update({
        "window_s": window_s, "requests": len(window), "untraced": len(untraced),
        "request_tail_pct": tail_p, "failed_frac": failed / attempted,
        "drift_p50_second_over_first_half": stats.drift([s.wall_s for s in untraced]),
        "write_n": len(writes),
        "write_p50_s": statistics.median(writes) if writes else None,
        "write_tail_pct": w_tail_p, "write_tail_s": w_tail_v,
        "first_pass_s": sum(s.wall_s for s in first),
        "first_pass_by_type_s": {s.request.kind: s.wall_s for s in first},
        "p50_by_stratum_s": by_stratum(untraced),
        "round_means_s": round_means,
        "driver_rss_peak_mb": jvm_rss_mb + py_rss_mb, "python_rss_peak_mb": py_rss_mb,
        "gc_s": gc_s, "retained_mb": retained_mb,
        "leaky_releases": sum(1 for r in wl.releases if r[2] > 1.0)})

    if args.trace:
        extra = {"session.start_s": session_s,
                 "graph.load_s": setup_s if wl.loads_graph else 0.0,
                 "graph.resident_mb": storage0 if wl.loads_graph else 0.0,
                 "cache.retained_mb": retained_mb, "jvm.gc_s": gc_s,
                 "jvm.rss_peak_mb": jvm_rss_mb}
        metrics = layer_metrics(window, first, wl, extra)
        units = PER_LAYER
        spans = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(spans, exist_ok=True)
        path = os.path.join(spans, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write_spans(path)
        diag["spans"] = os.path.relpath(path, ROOT)
    else:
        if tail_v is None:
            raise RuntimeError(f"{len(untraced)} samples cannot give a tail by "
                               "the tail rule")
        if tail_v == float("inf"):
            tail_v = window_s  # a failed request misses the tail at any limit
        metrics = {
            "setup_s": session_s + setup_s,
            "first_pass_s": diag["first_pass_s"],
            "request_p50_s": statistics.median(walls),
            "request_tail_s": tail_v,
            "requests_per_s": len(window) / window_s,
        }
        units = END_TO_END
    diag["host_after"] = host_labels()
    result = {"correct": not errors, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    return result, diag


def by_stratum(samples) -> dict[str, float]:
    walls = {}
    for s in samples:
        if s.ok:
            walls.setdefault(s.request.stratum, []).append(s.wall_s)
    return {k: statistics.median(v) for k, v in sorted(walls.items())}


def parse_args(argv):
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    for mod in ("nebula_storage_spark", "pyspark", "duckdb", "pyarrow", "numpy"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod}; run from the root of a "
                  "checkout of the engine", file=sys.stderr)
            return 2
    # SIGTERM unwinds like an exception, so the temp root and the JVM
    # are cleaned up when the run is cut short
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    parent = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(parent, f"{args.workload}-{uuid.uuid4().hex[:12]}")
    os.makedirs(tmp)
    t0 = time.perf_counter()
    try:
        result, diag = run(args, tmp)
        diag["run_s"] = time.perf_counter() - t0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
