"""Workload definitions, set-up and the timed closed loop.

Each workload is a closed loop with one client on a simulated clock:
the loop passes ``now`` to every tick and never sleeps.  A run takes the
workload's schedule of ticks and reads once, then repeats its read round
while less than ``--seconds`` have passed, so every run takes the same
ticks and whole read rounds of the same mix.  The seed drives the live counters and picks the
server of each read.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

from powa_archivist_spark.storage import Warehouse

from . import lifecycle as L
from .gen import FleetGen

STEP = dt.timedelta(hours=8)   # three ticks per simulated day
COALESCE = 3                   # plain, coalesce and purge ticks alternate
#: the prebuilt history is generated from this fixed seed once per
#: checkout and copied into each run; the run's seed drives the live
#: ticks and the reads
HISTORY_SEED = 0
#: warehouse provisionings per run; ``setup_s`` counts their median
SETUP_REPS = 3


@dataclass(frozen=True)
class Plan:
    name: str
    #: ticking servers and the datasources each one collects
    mix: dict
    #: servers with prebuilt packed history (see ``_history``)
    history_servers: tuple[int, ...]
    history_days: int
    #: ("tick", srvid) or a read slot (function, datasource, last
    #: "hour" / "day" / "all" retention of the read server's samples)
    schedule: tuple
    #: read slots repeated, as whole rounds, while the run has time left
    reads: tuple


#: every read function once, over the three read datasources and the
#: last hour, last day and full retention
READS = (("stat_get_sample", "statements", "day"),
         ("top_consumers", "kcache", "all"),
         ("stat_get_rates", "pg_stat_database", "day"),
         ("stat_get_history", "statements", "hour"),
         ("read_metas_df", "kcache", "all"))
#: datasources with no packed history of their own
NO_HISTORY = ("databases", "qualstats")

PLANS = {
    "fleet_ingest": Plan(
        name="fleet_ingest",
        # srvid 0 takes the local path: raw wait samples, whose dbid
        # resolves through the server's statements dictionary.  The
        # others land in staging with versioned layouts: kcache and the
        # keyed module on srvid 1; the databases feed, the keyless module
        # and the dbnames-scoped db_module on srvid 2.  srvid 3 only
        # holds history; the deep workload ticks statements and qualstats.
        mix={
            0: ("wait_sampling",),
            1: ("kcache", "pg_stat_database"),
            2: ("databases", "pg_stat_bgwriter", "all_tables"),
        },
        history_servers=(0, 1, 2, 3), history_days=3,
        # the smear makes these a purge, a plain and a coalesce tick;
        # then reads of the one server holding statements history
        schedule=(("tick", 0), ("tick", 1), ("tick", 2),
                  *(("stat_get_history", "statements", "day"),) * 5),
        reads=(("stat_get_history", "statements", "day"),),
    ),
    "deep_history_mixed": Plan(
        name="deep_history_mixed",
        # a coalesce tick of qualstats, gated by the server's statements
        # dictionary, and a purge tick of statements (the dictionary
        # merge), each followed by reads
        mix={2: ("qualstats",),
             3: ("statements",)},
        history_servers=tuple(range(16)), history_days=8,
        schedule=(("tick", 2), *READS[:3], ("tick", 3), *READS[3:]),
        reads=READS,
    ),
}


def _history(plan: Plan) -> dict[int, tuple[str, ...]]:
    """The datasources each history server holds packed history of: the
    ones it collects, or the read mix's for servers that never tick."""
    return {
        s: tuple(ds for ds in plan.mix[s] if ds not in NO_HISTORY)
        if s in plan.mix else L.READ_DS
        for s in plan.history_servers
    }


def _cache_key(plan: Plan) -> str:
    """The plan, the benchmark's own sources and every engine source:
    the cached history is rebuilt whenever code that writes it changes."""
    h = hashlib.sha256(repr((plan, HISTORY_SEED, STEP)).encode())
    here = os.path.dirname(os.path.abspath(__file__))
    engine = os.path.join(os.path.dirname(here), "powa_archivist_spark")
    files = [os.path.join(here, f) for f in ("gen.py", "lifecycle.py", "land.py")]
    for dirpath, dirs, names in os.walk(engine):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        files += [os.path.join(dirpath, n) for n in sorted(names)
                  if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, here).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def history_cache(plan: Plan, cache_root: str) -> str:
    """The directory of the plan's packed history.  A checkout's first
    run builds it in a child process, so that the run's own JVM starts
    as cold as every later run's."""
    cache = os.path.join(cache_root, f"{plan.name}-{_cache_key(plan)}")
    if not os.path.isdir(cache):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"))
        subprocess.run([sys.executable, "-m", "perfbench.workloads",
                        plan.name, cache], cwd=root, env=env, check=True,
                       stdout=sys.stderr)
    return cache


def build(spark, plan: Plan, cache: str) -> None:
    """Write the plan's packed history to ``cache``."""
    srvids = sorted(set(plan.mix) | set(plan.history_servers))
    tmp = f"{cache}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    L.build_history(spark, Warehouse(spark, tmp),
                    FleetGen(HISTORY_SEED, srvids, STEP), _history(plan),
                    range(plan.history_days * 3))
    os.replace(tmp, cache)


def _build_main(name: str, cache: str) -> None:
    from powa_archivist_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench-history", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    try:
        build(spark, PLANS[name], cache)
    finally:
        spark.stop()
        L.stop_gateway()


def provision(spark, plan: Plan, seed: int, cache: str, root: str) -> L.Fleet:
    """A warehouse at ``root`` holding the cached history, with the
    plan's servers registered and their generators precomputed."""
    srvids = sorted(set(plan.mix) | set(plan.history_servers))
    gen = FleetGen(seed, srvids, STEP)
    hist_gen = FleetGen(HISTORY_SEED, srvids, STEP)
    first_live = plan.history_days * 3
    history = _history(plan)
    # hard links: the engine replaces files and never writes one in place
    subprocess.run(["cp", "-al", cache, root], check=True)
    fleet = L.Fleet(spark, Warehouse(spark, root), gen, hist_gen, first_live,
                    history=history)
    # samples of the servers no tick touches: fixed by the build
    fleet.static_samples = sum(
        len(hist_gen.staging(ds, s, i))
        for s, dss in history.items() if s not in plan.mix
        for ds in dss for i in range(first_live))
    for s, mix in plan.mix.items():
        L.add_server(fleet, s, tuple(d for d in mix if d != "databases"),
                     COALESCE, plan.history_days, "databases" in mix)
    return fleet


def setup(spark, plan: Plan, seed: int, run_dir: str,
          cache: str) -> tuple[L.Fleet, list[float]]:
    """The run's fleet, provisioned ``SETUP_REPS`` times from the cached
    history; returns it with each provisioning's seconds."""
    times = []
    for k in range(SETUP_REPS):
        t0 = time.perf_counter()
        root = os.path.join(run_dir, f"warehouse{k}")
        fleet = provision(spark, plan, seed, cache, root)
        if k:
            shutil.rmtree(os.path.join(run_dir, f"warehouse{k - 1}"))
        times.append(time.perf_counter() - t0)
    return fleet, times


@dataclass
class Op:
    kind: str          # "tick" | "read"
    s: float           # wall seconds
    failed: int        # failed datasource steps / reads
    attempted: int
    what: str          # tick kind, or read fn
    read: L.Read | None = None
    summary: tuple | None = None


def run_loop(fleet: L.Fleet, plan: Plan, seed: int, seconds: float,
             tracer=None) -> list[Op]:
    rng = random.Random(f"perfbench-reads/{seed}")
    t0 = time.perf_counter()
    ops: list[Op] = []

    def step(s):
        if s[0] == "tick":
            ops.append(_tick(fleet, s[1]))
            if tracer is not None:
                # the take_snapshot span closes last of the tick's
                tracer.spans[-1]["attrs"]["kind"] = ops[-1].what
        else:
            ops.append(_read(fleet, L.make_read(fleet, rng, *s), tracer))

    for s in plan.schedule:
        step(s)
    while time.perf_counter() - t0 < seconds:
        for s in plan.reads:
            step(s)
    return ops


def _tick(fleet: L.Fleet, srvid: int) -> Op:
    i = fleet.next_tick[srvid]
    caps = L.inputs(fleet, srvid, i)
    now = fleet.gen.ts(i)
    steps = len(fleet.servers[srvid].enabled) + fleet.feeds_databases[srvid]
    t0 = time.perf_counter()
    try:
        errors = fleet.orch.take_snapshot(fleet.servers[srvid], captures=caps,
                                          now=now)
    except RuntimeError:
        errors = steps
    s = time.perf_counter() - t0
    fleet.next_tick[srvid] = i + 1
    return Op("tick", s, min(errors, steps), steps,
              L.tick_kind(fleet, srvid, now))


def _read(fleet: L.Fleet, r: L.Read, tracer) -> Op:
    name = f"operators.read.{r.fn}"
    t0 = time.perf_counter()
    try:
        if tracer is None:
            rows = L.read_frame(fleet, r).collect()
        else:
            with tracer.span(name + ".plan", group=True, ds=r.ds):
                df = L.read_frame(fleet, r)
            with tracer.span(name + ".exec", group=True, ds=r.ds) as rec:
                rows = df.collect()
                rec["attrs"]["rows"] = len(rows)
    except Exception:  # a failed read is counted, the loop goes on
        traceback.print_exc()
        return Op("read", time.perf_counter() - t0, 1, 1, r.fn, r)
    s = time.perf_counter() - t0
    return Op("read", s, 0, 1, r.fn, r, summary=L.summarize(r, rows))


if __name__ == "__main__":
    _build_main(*sys.argv[1:])
