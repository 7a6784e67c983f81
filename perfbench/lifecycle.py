"""The engine side of the workloads: fleet ticks, packed history, reads.

Everything here reaches the engine through its public surface only:
``Orchestrator.take_snapshot`` / ``read_metas_df``, ``operators.read``,
``Warehouse`` and ``functions.packing``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from powa_archivist_spark.functions import packing
from powa_archivist_spark.operators import dictionary
from powa_archivist_spark.operators import read as R
from powa_archivist_spark.operators.qualstats import SRC_SCHEMA
from powa_archivist_spark.operators.snapshot import db_rollup_agg
from powa_archivist_spark.orchestrator import Orchestrator, ServerConfig
from powa_archivist_spark.specs import DatasourceSpec, Key, get_spec
from powa_archivist_spark.storage import Warehouse

from . import land
from .gen import FleetGen

#: monitored versions of the remote servers (pg14..pg17)
REMOTE_VERSIONS = (140000, 150000, 160000, 170000)
#: datasources the read mix covers
READ_DS = ("statements", "kcache", "pg_stat_database")
#: counter each read datasource ranks and sums by
METRIC = {"statements": "calls", "kcache": "exec_reads",
          "pg_stat_database": "xact_commit"}
READ_FNS = ("stat_get_sample", "top_consumers", "stat_get_rates",
            "stat_get_history", "read_metas_df")
TOP_K = 5
#: hour of day every purge cutoff falls on: between the sparse entity's
#: 00:00 sample and the others' later ones, so each purge rewrites the
#: boundary day instead of keeping or dropping it whole
CUTOFF_HOUR = 4

WAIT_RAW = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("event", T.StringType()),
    T.StructField("queryid", T.LongType()),
    T.StructField("count", T.DecimalType(38, 0)),
])
DATABASES_FEED = T.StructType([T.StructField("oid", T.LongType()),
                               T.StructField("datname", T.StringType())])


def staging_schema(ds: str) -> T.StructType:
    return SRC_SCHEMA if ds == "qualstats" else get_spec(ds).staging_schema


def arrow_df(spark, rows: list[tuple], schema: T.StructType):
    """DataFrame of generator rows through one Arrow batch: a local
    relation built on the driver, with no Python worker behind it."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
    tbl = pa.Table.from_arrays(
        [pa.array(list(cols[k]), type=land.arrow_type(f.dataType))
         for k, f in enumerate(schema.fields)],
        names=[f.name for f in schema.fields])
    return spark.createDataFrame(tbl, schema)


@dataclass
class Fleet:
    """A warehouse, its orchestrator, the servers and their generators.

    Ticks before ``first_live`` come from ``hist_gen`` (the prebuilt
    history), later ones from ``gen``."""

    spark: object
    wh: Warehouse
    gen: FleetGen
    hist_gen: FleetGen
    first_live: int
    servers: dict[int, ServerConfig] = field(default_factory=dict)
    history: dict[int, tuple[str, ...]] = field(default_factory=dict)
    orch: Orchestrator = None
    next_tick: dict[int, int] = field(default_factory=dict)
    land_s: float = 0.0
    land_rows: int = 0
    static_samples: int = 0   # samples of servers that never tick
    feeds_databases: dict[int, bool] = field(default_factory=dict)

    def __post_init__(self):
        self.orch = Orchestrator(self.wh)

    def gen_for(self, i: int) -> FleetGen:
        return self.hist_gen if i < self.first_live else self.gen

    def ticked(self, srvid: int) -> range:
        """Every tick index whose rows the server's tables hold now."""
        return range(0, self.next_tick.get(srvid, self.first_live))


def add_server(fleet: Fleet, srvid: int, mix: tuple[str, ...],
               coalesce: int, history_days: int,
               feeds_databases: bool = True) -> None:
    """Register a ticking server.  srvid 0 takes the local path, every
    other one the remote path.  Retention puts the first purge cutoff at
    ``CUTOFF_HOUR`` of history day 1, so that pass drops day 0 whole and
    rewrites day 1, and every later purge, a day on, does the same to
    the next day."""
    fleet.feeds_databases[srvid] = feeds_databases
    gen = fleet.gen
    seq = next(q for q in range(1, coalesce + 1)
               if (q + srvid % 20) % coalesce == 1)   # first purge pass
    purge_hour = gen.ts(fleet.first_live - 1 + seq).hour
    retention = dt.timedelta(days=history_days - 2,
                             hours=(purge_hour - CUTOFF_HOUR) % 24)
    fleet.servers[srvid] = ServerConfig(
        srvid=srvid, frequency_s=int(gen.step.total_seconds()),
        retention=retention, powa_coalesce=coalesce, enabled=list(mix),
        version=None if srvid == 0 else REMOTE_VERSIONS[srvid % 4],
        db_modules={"all_tables": {"enabled": True,
                                   "dbnames": gen.scoped_dbnames(srvid)}},
    )
    fleet.next_tick[srvid] = fleet.first_live


def retention(fleet: Fleet, srvid: int) -> dt.timedelta:
    s = fleet.servers.get(srvid)
    if s is not None:
        return s.retention
    return min(s.retention for s in fleet.servers.values())


# ---- ingest -------------------------------------------------------------------


def inputs(fleet: Fleet, srvid: int, i: int) -> dict:
    """Captures for one tick.  Remote inputs are landed in staging and
    timed as ``land_s``; local ones are capture DataFrames."""
    gen, spark = fleet.gen, fleet.spark
    mix = fleet.servers[srvid].enabled
    caps = {}
    if fleet.feeds_databases[srvid]:
        caps["databases"] = arrow_df(spark, gen.databases(srvid, i),
                                     DATABASES_FEED)
    if srvid == 0:
        for ds in mix:
            if ds == "wait_sampling":
                caps[ds] = arrow_df(spark, gen.raw_wait_samples(srvid, i),
                                    WAIT_RAW)
            else:
                caps[ds] = arrow_df(spark, gen.staging(ds, srvid, i),
                                    staging_schema(ds))
        return caps
    t0 = time.perf_counter()
    for ds in mix:
        fleet.land_rows += land.land(
            fleet.wh.root, Warehouse.src_tmp(ds), staging_schema(ds), srvid,
            gen.staging(ds, srvid, i), f"{i:06d}")
    fleet.land_s += time.perf_counter() - t0
    return caps


def tick_kind(fleet: Fleet, srvid: int, now: dt.datetime) -> str:
    m = fleet.orch.read_metas(srvid)
    if m["aggts"] == now:
        return "coalesce"
    return "purge" if m["purgets"] == now else "plain"


# ---- prebuilt history ---------------------------------------------------------


def _db_spec(spec: DatasourceSpec) -> DatasourceSpec:
    return DatasourceSpec(
        name=f"{spec.name}_db", kind=spec.kind, keys=(Key(spec.dbid_col),),
        counters=tuple(c for c in spec.counters if c.aggregatable),
    )


def build_history(spark, wh: Warehouse, gen: FleetGen,
                  history: dict[int, tuple[str, ...]], ticks: range) -> None:
    """Packed history of ``ticks`` for each (srvid, datasource) of
    ``history``: one packed row per entity and simulated day, written
    with ``functions.packing`` and ``Warehouse.append`` in the layout
    coalesce passes produce, without running them.  Every server also
    gets its statements dictionary, last seen at the last history tick,
    so the local server resolves its wait samples without collecting
    statements itself."""
    day = F.to_date("ts")
    last = gen.ts(ticks[-1])
    dic = [(s, qid, db, uid, f"SELECT * FROM t{n} WHERE id = $1", last)
           for s in sorted(history) for qid, db, uid, n in gen.servers[s].queries]
    wh.append(arrow_df(spark, dic, dictionary.SCHEMA), dictionary.TABLE,
              partition_by=["srvid"])
    for ds in sorted({d for dss in history.values() for d in dss}):
        srvids = [s for s, dss in history.items() if ds in dss]
        spec = get_spec(ds)
        rows = [r for s in srvids for i in ticks for r in gen.staging(ds, s, i)]
        cur = arrow_df(spark, rows, spec.staging_schema).select(
            *[f.name for f in spec.current_schema.fields])
        out = [(spec, cur, spec.key_names, Warehouse.history(ds))]
        if spec.db_rollup:
            out.append((_db_spec(spec), db_rollup_agg(cur, spec),
                        [spec.dbid_col], Warehouse.history_db(ds)))
        for sub, df, keys, table in out:
            packed = (df.withColumn("range_day", day)
                      .groupBy("srvid", *keys, "range_day")
                      .agg(*packing.pack_exprs(sub))
                      .select(*[f.name for f in sub.history_schema.fields],
                              "range_day")
                      .repartition("srvid", "range_day"))
            wh.append(packed, table, partition_by=["srvid", "range_day"])


# ---- the powa-web read mix ----------------------------------------------------


@dataclass(frozen=True)
class Read:
    fn: str
    ds: str
    srvid: int
    lo: dt.datetime
    hi: dt.datetime
    upto: int    # the server's ticks [0, upto) were ingested at read time


def make_read(fleet: Fleet, rng: random.Random, fn: str, ds: str,
              span: str) -> Read:
    """A read of ``ds`` on a seeded server that has its history, over
    the last hour, the last day or the full retention up to that
    server's latest sample."""
    srvid = rng.choice(sorted(s for s, dss in fleet.history.items()
                              if ds in dss))
    upto = fleet.ticked(srvid).stop
    hi = fleet.gen.ts(upto - 1)
    lo = {"hour": hi - dt.timedelta(hours=1),
          "day": hi - dt.timedelta(days=1),
          "all": hi - retention(fleet, srvid)}[span]
    return Read(fn, ds, srvid, lo, hi, upto)


def read_frame(fleet: Fleet, r: Read):
    """The DataFrame of one read: planning, including the eager file
    listing, but no action."""
    if r.fn == "read_metas_df":
        return fleet.orch.read_metas_df()
    spec = get_spec(r.ds)
    if r.fn == "top_consumers":
        return R.top_consumers(fleet.wh, spec, r.srvid, r.lo, r.hi,
                               METRIC[r.ds], k=TOP_K)
    return getattr(R, r.fn)(fleet.wh, spec, r.srvid, r.lo, r.hi)


def summarize(r: Read, rows: list) -> tuple:
    """What the correctness check compares of one read's result."""
    if r.fn == "read_metas_df":
        return tuple(sorted((x.srvid, tuple(x.errors or ())) for x in rows))
    spec = get_spec(r.ds)
    if r.fn == "top_consumers":
        return tuple((tuple(x[k] for k in spec.key_names), x.consumed)
                     for x in rows)
    col = METRIC[r.ds] if r.fn == "stat_get_history" else f"{METRIC[r.ds]}_per_sec"
    vals = [x[col] for x in rows if x[col] is not None]
    return (len(rows), float(sum(vals)))


def warehouse_files(root: str) -> tuple[int, int]:
    """(parquet files, parquet bytes) under ``root``; ``.crc`` and every
    other non-parquet file excluded."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def stop_gateway() -> None:
    """Wait for the JVM the session started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
