"""Lifecycle benchmark of the powa-archivist warehouse.

    python3 perfbench/run.py --workload fleet_ingest --seed 1 --seconds 20 --trace 0

Runs one workload (see ``workloads.PLANS``) from the root of a checkout
on ``local[<cores>]``, checks its outputs, and prints as its last line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace
1`` wraps the engine's layer entry points in spans, enables the Spark
event log and prints the per-layer metrics instead.

``setup_s`` runs from process start to the first timed operation: the
session start, the history build on a checkout's first run, and the
warehouse provisioning, done ``workloads.SETUP_REPS`` times with its
median counted.

Everything the run writes lives under ``.perfbench/`` in the checkout:
the run's work dir (warehouse, Spark local dirs, ``TMPDIR``), removed
at exit, and each workload's cached packed history, kept for later runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time


def _process_age() -> float:
    """Seconds since this process started (the set-up clock's origin)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T0 = time.perf_counter() - _process_age()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = (
    ("setup_s", "s"), ("tick_p50_s", "s"), ("coalesce_tick_p50_s", "s"),
    ("fleet_capacity_servers", "servers"), ("read_p50_s", "s"),
    ("reads_per_min", "1/min"), ("bytes_per_sample", "B"),
    ("peak_rss_mb", "MiB"),
)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _host_env(run_dir: str, trace: bool) -> int:
    """Size the session from the host and keep every temp file inside
    ``run_dir``; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # an eighth of the host, at most 2 GiB: the engine's 16g default
    # exceeds small hosts, and a 1 GiB heap left reads late in a run
    # 0.6-2x slower from one run to the next.  The heap starts at its
    # full size and is touched up front, so peak RSS counts what the run
    # adds beyond it, not when the collector chose to grow it.
    # (as a share of RAM: an -Xms would exceed the launcher JVM's -Xmx)
    heap_mb = max(512, min(2048, mem_mb // 8))
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+AlwaysPreTouch "
        f"-XX:InitialRAMPercentage={100.0 * heap_mb / mem_mb:.3f}")
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += ["spark.eventLog.enabled=true",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false",
                 f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {c}" for c in conf) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None
    return cores


def end_to_end(ops, setup_s: float, bytes_per_sample: float,
               rss_mb: float) -> dict:
    ticks = [o.s for o in ops if o.kind == "tick"]
    coalesce = [o.s for o in ops if o.kind == "tick" and o.what == "coalesce"]
    reads = [o.s for o in ops if o.kind == "read"]
    vals = {
        "setup_s": setup_s,
        "tick_p50_s": statistics.median(ticks),
        "coalesce_tick_p50_s": statistics.median(coalesce),
        "fleet_capacity_servers": 300.0 / statistics.mean(ticks),
        "read_p50_s": statistics.median(reads),
        "reads_per_min": 60.0 * len(reads) / sum(reads),
        "bytes_per_sample": bytes_per_sample,
        "peak_rss_mb": rss_mb,
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}


def run(args, run_dir: str) -> dict:
    cores = _host_env(run_dir, args.trace)
    sys.path.insert(0, ROOT)
    from powa_archivist_spark.session import get_spark

    from perfbench import checks, layers, lifecycle, trace, workloads

    plan = workloads.PLANS[args.workload]
    cache = workloads.history_cache(plan, os.path.join(ROOT, ".perfbench",
                                                       "cache"))
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    _log(f"session up at {time.perf_counter() - T0:.1f}s")
    try:
        fleet, reps = workloads.setup(spark, plan, args.seed, run_dir, cache)
        tracer = None
        if args.trace:
            tracer = trace.Tracer(spark.sparkContext)
            trace.instrument(tracer)
        # the repeated provisioning counts once, at its median
        setup_s = time.perf_counter() - T0 - sum(reps) + statistics.median(reps)
        _log(f"set up in {setup_s:.1f}s (provisioning "
             f"{', '.join(f'{r:.2f}' for r in reps)}s)")
        ops = workloads.run_loop(fleet, plan, args.seed, args.seconds, tracer)
        for o in ops:
            _log(f"{o.kind} {o.what} {o.s:.2f}s failed={o.failed} "
                 f"{o.read or ''} {o.summary or ''}")
        t = time.perf_counter()
        problems = checks.run_all(fleet, ops)
        files, size = lifecycle.warehouse_files(fleet.wh.root)
        bytes_per_sample = size / max(1, checks.retained_samples(fleet))
        jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = _vm_hwm_mb(jvm) + _vm_hwm_mb("self")
        _log(f"checked in {time.perf_counter() - t:.1f}s")
    finally:
        t = time.perf_counter()
        spark.stop()
        _log(f"session stopped in {time.perf_counter() - t:.1f}s")
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    if args.trace:
        jobs = trace.parse_event_log(os.path.join(run_dir, "eventlog"))
        vals = layers.compute(tracer.spans, jobs, ops, fleet, files)
        metrics = {n: {"value": vals[n], "unit": u}
                   for n, u, _b in layers.catalogue()}
    else:
        metrics = end_to_end(ops, setup_s, bytes_per_sample, rss)
    return {
        "correct": not problems,
        "attempted": sum(o.attempted for o in ops),
        "failed": sum(o.failed for o in ops),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["fleet_ingest", "deep_history_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        result = run(args, run_dir)
    finally:
        t = time.perf_counter()
        if "perfbench.lifecycle" in sys.modules:
            sys.modules["perfbench.lifecycle"].stop_gateway()
        shutil.rmtree(run_dir, ignore_errors=True)
        _log(f"stopped in {time.perf_counter() - t:.1f}s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
