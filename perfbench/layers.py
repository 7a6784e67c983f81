"""Per-layer metrics of the traced run, from its spans and event log.

Names are ``<module>.<call>.<measure>``.  Times and counts are means per
call of the layer (per tick, per purge tick or per read where the name
says so), so runs of different lengths compare.  A layer that did not
run in a workload reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from . import trace
from .gen import MIX
from .lifecycle import READ_FNS

TICK_KINDS = ("plain", "coalesce", "purge")
SNAPSHOT_DS = tuple(ds for ds in MIX if ds != "qualstats")
#: the datasources a timed coalesce tick packs (workloads.PLANS)
AGGREGATE_DS = ("pg_stat_bgwriter", "all_tables", "qualstats")
GROUPS = ("tick", "read")
SPARK = ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
         "executor_cpu_s", "driver_gap_s")


def catalogue() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in print order."""
    m = [("orchestrator.take_snapshot.s", "s", "lower")]
    for k in TICK_KINDS:
        m += [(f"orchestrator.take_snapshot.{k}.jobs", "count", "lower"),
              (f"orchestrator.take_snapshot.{k}.tasks", "count", "lower")]
    m += [("orchestrator.self_s", "s", "lower"),
          ("orchestrator.child_cover", "ratio", "higher"),
          ("txn.recover_sweep_s", "s", "lower"),
          ("txn.recover_sweep.dirs", "count", "lower"),
          ("txn.publish_s", "s", "lower"),
          ("txn.publish.ops", "count", "lower")]
    for ds in SNAPSHOT_DS:
        m += [(f"operators.snapshot.{ds}.s", "s", "lower"),
              (f"operators.snapshot.{ds}.jobs", "count", "lower"),
              (f"operators.snapshot.{ds}.tasks", "count", "lower"),
              (f"operators.snapshot.{ds}.rows", "count", "lower")]
    m += [("operators.dictionary.merge_statements.s", "s", "lower"),
          ("operators.dictionary.merge_statements.jobs", "count", "lower"),
          ("operators.databases.databases_snapshot.s", "s", "lower"),
          ("operators.wait_sampling.resolve_wait_sampling.s", "s", "lower"),
          ("sources.readers.read_staging.s", "s", "lower"),
          ("operators.qualstats.qualstats_snapshot.s", "s", "lower"),
          ("operators.qualstats.qualstats_snapshot.jobs", "count", "lower"),
          ("operators.qualstats.qualstats_aggregate.s", "s", "lower"),
          ("operators.qualstats.qualstats_aggregate.jobs", "count", "lower"),
          ("operators.qualstats.qualstats_aggregate.tasks", "count", "lower")]
    for ds in AGGREGATE_DS:
        m += [(f"operators.aggregate.{ds}.s", "s", "lower"),
              (f"operators.aggregate.{ds}.jobs", "count", "lower"),
              (f"operators.aggregate.{ds}.tasks", "count", "lower"),
              (f"operators.aggregate.{ds}.packed_rows", "count", "lower")]
    m += [("operators.purge.s", "s", "lower"),
          ("operators.purge.days_dropped", "count", "higher"),
          ("operators.purge.boundary_rewrites", "count", "lower"),
          ("storage.Warehouse.read.calls", "count", "lower"),
          ("storage.Warehouse.read.s", "s", "lower"),
          ("storage.Warehouse.exists.calls", "count", "lower"),
          ("storage.Warehouse.exists.s", "s", "lower"),
          ("storage.files", "count", "lower")]
    for fn in READ_FNS:
        m += [(f"operators.read.{fn}.plan_s", "s", "lower"),
              (f"operators.read.{fn}.exec_s", "s", "lower"),
              (f"operators.read.{fn}.jobs", "count", "lower"),
              (f"operators.read.{fn}.tasks", "count", "lower"),
              (f"operators.read.{fn}.rows", "count", "lower")]
    for g in GROUPS:
        m += [(f"spark.{g}.{k}", "s" if k.endswith("_s") else "B", "lower")
              for k in SPARK]
    m += [("generator.land_s", "s", "lower"),
          ("generator.rows", "count", "lower"),
          ("op_fail_ratio", "ratio", "lower"),
          ("trace.tick_p50_s", "s", "lower"),
          ("trace.read_p50_s", "s", "lower")]
    return m


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def compute(spans: list[dict], jobs: dict, ops, fleet, files: int) -> dict:
    """Per-layer metric values of one traced run."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    own = trace.attribute_jobs(spans, jobs)

    def incl_jobs(s) -> list[dict]:
        out = list(own.get(s["id"], ()))
        for c in kids.get(s["id"], ()):
            out += incl_jobs(c)
        return out

    def dur(s) -> float:
        return s["t1"] - s["t0"]

    def named(name, **attrs):
        return [s for s in spans if s["name"] == name
                and all(s["attrs"].get(k) == v for k, v in attrs.items())]

    def tasks(js) -> int:
        return sum(j["tasks"] for j in js)

    def ancestor(s, name):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["name"] == name:
                return s
        return None

    out = dict.fromkeys((n for n, _u, _b in catalogue()), 0.0)
    ticks = named("orchestrator.take_snapshot")
    out["orchestrator.take_snapshot.s"] = _mean(dur(t) for t in ticks)
    for k in TICK_KINDS:
        tk = [incl_jobs(t) for t in ticks if t["attrs"].get("kind") == k]
        out[f"orchestrator.take_snapshot.{k}.jobs"] = _mean(len(j) for j in tk)
        out[f"orchestrator.take_snapshot.{k}.tasks"] = _mean(tasks(j) for j in tk)
    cover = [trace.covered((c["t0"], c["t1"]) for c in kids.get(t["id"], ()))
             for t in ticks]
    out["orchestrator.self_s"] = _mean(dur(t) - c for t, c in zip(ticks, cover))
    if ticks:
        out["orchestrator.child_cover"] = sum(cover) / sum(map(dur, ticks))
    sweeps = named("txn.recover", sweep=True)
    out["txn.recover_sweep_s"] = _mean(map(dur, sweeps))
    out["txn.recover_sweep.dirs"] = _mean(t["attrs"]["dirs"] for t in ticks)
    pubs = named("txn.publish")
    out["txn.publish_s"] = _mean(map(dur, pubs))
    out["txn.publish.ops"] = _mean(p["attrs"]["ops"] for p in pubs)

    def per_call(prefix, name, measures, **attrs):
        calls = named(name, **attrs)
        for mz in measures:
            if mz == "s":
                v = _mean(map(dur, calls))
            elif mz == "jobs":
                v = _mean(len(incl_jobs(c)) for c in calls)
            elif mz == "tasks":
                v = _mean(tasks(incl_jobs(c)) for c in calls)
            else:
                v = _mean(c["attrs"].get(mz) or 0 for c in calls)
            out[f"{prefix}.{mz}"] = v

    for ds in SNAPSHOT_DS:
        per_call(f"operators.snapshot.{ds}", "operators.snapshot",
                 ("s", "jobs", "tasks", "rows"), ds=ds)
    for ds in AGGREGATE_DS:
        per_call(f"operators.aggregate.{ds}", "operators.aggregate",
                 ("s", "jobs", "tasks", "packed_rows"), ds=ds)
    for name, measures in (
        ("operators.dictionary.merge_statements", ("s", "jobs")),
        ("operators.databases.databases_snapshot", ("s",)),
        ("operators.wait_sampling.resolve_wait_sampling", ("s",)),
        ("sources.readers.read_staging", ("s",)),
        ("operators.qualstats.qualstats_snapshot", ("s", "jobs")),
        ("operators.qualstats.qualstats_aggregate", ("s", "jobs", "tasks")),
    ):
        per_call(name, name, measures)

    purge_ticks = [t for t in ticks if t["attrs"].get("kind") == "purge"]
    purges = named("operators.purge")
    for key, f in (("s", dur),
                   ("days_dropped", lambda p: p["attrs"]["days_dropped"]),
                   ("boundary_rewrites",
                    lambda p: p["attrs"]["boundary_rewrites"])):
        per_tick = defaultdict(float)
        for p in purges:
            t = ancestor(p, "orchestrator.take_snapshot")
            if t is not None:
                per_tick[t["id"]] += f(p)
        out[f"operators.purge.{key}"] = _mean(
            per_tick[t["id"]] for t in purge_ticks)

    n_ops = max(1, len(ops))
    for attr in ("read", "exists"):
        calls = named(f"storage.Warehouse.{attr}")
        out[f"storage.Warehouse.{attr}.calls"] = len(calls) / n_ops
        out[f"storage.Warehouse.{attr}.s"] = sum(map(dur, calls)) / n_ops
    out["storage.files"] = files

    for fn in READ_FNS:
        plans = named(f"operators.read.{fn}.plan")
        execs = named(f"operators.read.{fn}.exec")
        out[f"operators.read.{fn}.plan_s"] = _mean(map(dur, plans))
        out[f"operators.read.{fn}.exec_s"] = _mean(map(dur, execs))
        js = [incl_jobs(p) + incl_jobs(e) for p, e in zip(plans, execs)]
        out[f"operators.read.{fn}.jobs"] = _mean(len(j) for j in js)
        out[f"operators.read.{fn}.tasks"] = _mean(tasks(j) for j in js)
        out[f"operators.read.{fn}.rows"] = _mean(
            e["attrs"].get("rows", 0) for e in execs)

    # one call group per operation: a tick, or a read's plan + exec
    groups = {"tick": [(t["t0"], t["t1"], incl_jobs(t)) for t in ticks],
              "read": []}
    for fn in READ_FNS:
        for p, e in zip(named(f"operators.read.{fn}.plan"),
                        named(f"operators.read.{fn}.exec")):
            groups["read"].append((p["t0"], e["t1"],
                                   incl_jobs(p) + incl_jobs(e)))
    for g, calls in groups.items():
        for k, field in (("shuffle_read_bytes", "shuffle_read"),
                         ("shuffle_write_bytes", "shuffle_write"),
                         ("spill_bytes", "spill"), ("executor_cpu_s", "cpu_s")):
            out[f"spark.{g}.{k}"] = _mean(sum(j[field] for j in js)
                                          for _a, _b, js in calls)
        out[f"spark.{g}.driver_gap_s"] = _mean(
            (b - a) - trace.covered((max(a, j["t0"]), min(b, j["t1"]))
                                    for j in js if j["t1"] > a and j["t0"] < b)
            for a, b, js in calls)

    tick_ops = [o for o in ops if o.kind == "tick"]
    read_ops = [o for o in ops if o.kind == "read"]
    out["generator.land_s"] = fleet.land_s / max(1, len(tick_ops))
    out["generator.rows"] = fleet.land_rows / max(1, len(tick_ops))
    out["op_fail_ratio"] = (sum(o.failed for o in ops)
                            / max(1, sum(o.attempted for o in ops)))
    if tick_ops:
        out["trace.tick_p50_s"] = statistics.median(o.s for o in tick_ops)
    if read_ops:
        out["trace.read_p50_s"] = statistics.median(o.s for o in read_ops)
    return out
