"""Tracing for the per-layer run: spans, job-group tags, event-log counters.

Spans are recorded around the engine's public entry points by wrapping
them from here (:func:`instrument`); no engine file changes.  A span is
(name, start, end, parent, attrs) and lives in memory until the run ends.
Spans that may run Spark jobs tag them with a job group named after the
span, so each job lands on the call that ran it.  Jobs submitted from
worker threads carry no group and go to the innermost grouped span open
on the main thread when they were submitted.

Bytes, CPU time and task counts come from the run's own Spark event log,
parsed once after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tl = threading.local()
        self._main = threading.get_ident()

    def _stack(self) -> list:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "main": threading.get_ident() == self._main,
               "attrs": attrs, "group": None}
        prev = None
        if group and rec["main"]:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            rec["group"] = f"pb-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            if rec["group"] is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(rec)


def _wrap(tracer: Tracer, owner, attr: str, name: str, group: bool = True,
          static: bool = False, before=None, after=None):
    """Replace ``owner.attr`` with a spanning wrapper.  ``before(args,
    kwargs)`` returns span attrs; ``after(rec, result, args, kwargs)``
    may add more once the call returns."""
    fn = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        attrs = before(args, kwargs) if before else {}
        with tracer.span(name, group=group, **attrs) as rec:
            out = fn(*args, **kwargs)
            if after:
                after(rec, out, args, kwargs)
            return out

    setattr(owner, attr, staticmethod(wrapper) if static else wrapper)


def _arg(args, kwargs, pos: int, key: str):
    return kwargs[key] if key in kwargs else args[pos]


def _day_dirs(wh, tables, srvid) -> dict:
    out = {}
    for t in tables:
        d = os.path.join(wh.path(t), f"srvid={srvid}")
        if os.path.isdir(d):
            for e in os.listdir(d):
                if e.startswith("range_day="):
                    out[(t, e)] = tuple(sorted(os.listdir(os.path.join(d, e))))
    return out


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points (process-wide, for the whole
    traced run)."""
    from powa_archivist_spark import orchestrator as orch_mod
    from powa_archivist_spark import storage, txn
    from powa_archivist_spark.operators import databases, dictionary, qualstats
    from powa_archivist_spark.operators import wait_sampling
    from powa_archivist_spark.sources import readers
    from powa_archivist_spark.storage import Warehouse

    def ds_of(pos):
        return lambda a, k: {"ds": _arg(a, k, pos, "spec").name}

    def rows(key):
        def after(rec, out, a, k):
            rec["attrs"][key] = out
        return after

    _wrap(tracer, orch_mod, "snapshot", "operators.snapshot",
          before=ds_of(1), after=rows("rows"))
    _wrap(tracer, orch_mod, "aggregate", "operators.aggregate",
          before=ds_of(1), after=rows("packed_rows"))

    def purge_before(a, k):
        wh, spec, srvid = a[0], _arg(a, k, 1, "spec"), _arg(a, k, 2, "srvid")
        tables = [Warehouse.history(spec.name)]
        if spec.db_rollup:
            tables.append(Warehouse.history_db(spec.name))
        return {"ds": spec.name, "_days": (wh, tables, srvid,
                                           _day_dirs(wh, tables, srvid))}

    def purge_after(rec, out, a, k):
        wh, tables, srvid, before = rec["attrs"].pop("_days")
        now = _day_dirs(wh, tables, srvid)
        rec["attrs"]["days_dropped"] = sum(1 for d in before if d not in now)
        rec["attrs"]["boundary_rewrites"] = sum(
            1 for d, files in before.items() if d in now and now[d] != files)

    _wrap(tracer, orch_mod, "purge", "operators.purge",
          before=purge_before, after=purge_after)
    _wrap(tracer, qualstats, "purge_constvalues_history",
          "operators.qualstats.purge_constvalues_history")
    _wrap(tracer, qualstats, "qualstats_snapshot",
          "operators.qualstats.qualstats_snapshot", after=rows("rows"))
    _wrap(tracer, qualstats, "qualstats_aggregate",
          "operators.qualstats.qualstats_aggregate", after=rows("packed_rows"))
    _wrap(tracer, databases, "databases_snapshot",
          "operators.databases.databases_snapshot")
    _wrap(tracer, databases, "purge_databases",
          "operators.databases.purge_databases")
    _wrap(tracer, dictionary, "merge_statements",
          "operators.dictionary.merge_statements")
    _wrap(tracer, dictionary, "purge_statements",
          "operators.dictionary.purge_statements")
    _wrap(tracer, wait_sampling, "resolve_wait_sampling",
          "operators.wait_sampling.resolve_wait_sampling")
    _wrap(tracer, readers, "read_staging", "sources.readers.read_staging")

    def recover_before(a, k):
        sweep = k.get("sweep", a[2] if len(a) > 2 else False)
        return {"sweep": bool(sweep)}

    _wrap(tracer, txn.StagedPass, "recover", "txn.recover", static=True,
          before=recover_before)
    _wrap(tracer, txn.StagedPass, "publish", "txn.publish",
          before=lambda a, k: {"ops": len(a[0]._ops)})
    for attr in ("read", "exists", "drop_srvid"):
        _wrap(tracer, storage.Warehouse, attr, f"storage.Warehouse.{attr}",
              group=False)

    def tick_before(a, k):
        wh = a[0].wh
        dirs = sum(len(d) for _p, d, _f in os.walk(wh.root))
        return {"srvid": _arg(a, k, 1, "server").srvid, "dirs": dirs}

    _wrap(tracer, orch_mod.Orchestrator, "take_snapshot",
          "orchestrator.take_snapshot", before=tick_before)


# ---- event log ---------------------------------------------------------------


def parse_event_log(log_dir: str) -> dict:
    """Per-job stats from the run's event log: submission/completion
    (epoch s), group, tasks, shuffle bytes, spill bytes, executor CPU."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "t0": ev["Submission Time"] / 1000.0, "t1": None,
                        "group": props.get("spark.jobGroup.id"),
                        "tasks": 0, "shuffle_read": 0, "shuffle_write": 0,
                        "spill": 0, "cpu_s": 0.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"]))
                    if j is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    j["tasks"] += 1
                    j["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    j["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    j["spill"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    for j in jobs.values():
        if j["t1"] is None:
            j["t1"] = j["t0"]
    return jobs


def attribute_jobs(spans: list[dict], jobs: dict) -> dict[int, list[dict]]:
    """span id -> the jobs it ran itself (not its children's)."""
    by_group = {s["group"]: s for s in spans if s["group"]}
    grouped = sorted((s for s in spans if s["group"]),
                     key=lambda s: s["t1"] - s["t0"])
    own: dict[int, list[dict]] = defaultdict(list)
    for j in jobs.values():
        s = by_group.get(j["group"])
        if s is None:
            # untagged: innermost (shortest) grouped span open at submit
            s = next((c for c in grouped if c["t0"] <= j["t0"] <= c["t1"]),
                     None)
        if s is not None:
            own[s["id"]].append(j)
    return own


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
