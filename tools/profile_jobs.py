"""Per-JOB decomposition of a declared query's wall clock (guide §1.1):
run the query once with the Spark event log enabled, then parse
JobStart/JobEnd events to report, per Spark job, its duration and the
DRIVER GAP that preceded it (time between the previous job's end and
this job's start — planning, py4j round-trips, filesystem/manifest
work, driver-side loops).

At sf0.1 the data is tiny, so per-query time is dominated by job count
x per-job overhead plus driver gaps; this tool shows which of the two
to attack and which phase (call site) owns it.  A query's jobs are the
ones tagged with its job description (``profile:<query>``), worker-
thread jobs included; jobs of the next query never count.

Usage:
  python tools/profile_jobs.py [--sf SF_DIR] [--top N] q1 [q2 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--top", type=int, default=40)
    args = ap.parse_args()

    evdir = tempfile.mkdtemp(prefix="sparkev_")
    # static confs must be present at JVM/context launch: inject via
    # spark-submit args before any Spark import
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        f"--conf spark.eventLog.dir=file://{evdir} pyspark-shell"
    )

    import __spark_entry__ as entry_mod
    from powa_archivist_spark import session as sess_mod

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = sess_mod.get_spark("profile_jobs", master=f"local[{cpus}]")

    for name in ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]:
        p = f"{args.sf}/{name}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).limit(1).collect()
    spark.range(2).mapInPandas(lambda it: it, "id long").count()

    qs = entry_mod.queries()
    results = {}
    for qname in args.queries:
        fn = qs[qname]
        spark.sparkContext.setJobDescription(f"profile:{qname}")
        t0 = time.time()
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        results[qname] = (t0, wall)
        print(f"== {qname}: wall {wall:.2f}s", flush=True)
    spark.stop()

    # parse the single application event log
    logs = sorted(
        p for p in Path(evdir).rglob("*")
        if p.is_file() and "appstatus" not in p.name
    )
    events = []
    for lg in logs:
        with open(lg) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") in ("SparkListenerJobStart",
                                       "SparkListenerJobEnd"):
                    events.append(ev)
    jobs = {}
    for ev in events:
        jid = ev["Job ID"]
        if ev["Event"] == "SparkListenerJobStart":
            props = ev.get("Properties", {}) or {}
            stages = ev.get("Stage Infos", [])
            jobs[jid] = {
                "start": ev["Submission Time"] / 1000.0,
                "desc": props.get("spark.job.description", ""),
                "site": stages[0].get("Stage Name", "") if stages else "",
                "ntasks": sum(s.get("Number of Tasks", 0) for s in stages),
                "nstages": len(ev.get("Stage IDs", [])),
            }
        else:
            if jid in jobs:
                jobs[jid]["end"] = ev["Completion Time"] / 1000.0

    for qname, (t0, wall) in results.items():
        qjobs = sorted(
            (j for j in jobs.values()
             if j.get("end") and j["desc"] == f"profile:{qname}"),
            key=lambda j: j["start"])
        print(f"\n==== {qname}: wall {wall:.2f}s, {len(qjobs)} jobs")
        tot_job = sum(j["end"] - j["start"] for j in qjobs)
        # gap = time before each job not covered by any previous job
        gaps = []
        cursor = t0
        for j in qjobs:
            gaps.append(j["start"] - cursor)
            cursor = max(cursor, j["end"])
        tail = t0 + wall - cursor
        print(f"     job time {tot_job:.2f}s, driver gaps "
              f"{sum(gaps) + max(tail, 0):.2f}s (tail {max(tail, 0):.2f}s)")
        rows = [
            (j["end"] - j["start"], gaps[i], j["nstages"], j["ntasks"],
             j["site"][:60])
            for i, j in enumerate(qjobs)
        ]
        rows.sort(key=lambda r: -(r[0] + r[1]))
        print("     dur    gap  stages tasks  call site")
        for dur, gap, nst, nt, site in rows[:args.top]:
            print(f"   {dur:6.2f} {gap:6.2f} {nst:5d} {nt:6d}  {site}")
    print(f"\nevent log dir: {evdir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
