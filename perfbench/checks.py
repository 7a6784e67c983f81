"""Correctness checks, run after the timed loop and outside its timing.

- Every retained sample round-trips: ``stat_get_history`` over a ticking
  server's whole timeline returns as many samples, with the same counter
  sums, as a DuckDB scan of the table files (current rows plus unnested
  packed records).
- The metas ``errors`` are empty, staging is drained and no
  ``.__stage__`` directory remains.
- Every timed read's result is not empty and matches a DuckDB
  recomputation over the generator's rows: diffs, rates, downsampling
  and top-K re-derived in SQL from the rows the engine was given.

DuckDB runs with one thread: its default per-core pool busy-waits beside
the Spark driver in this process.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb
import pyarrow as pa
from pyspark.sql import functions as F

from powa_archivist_spark.operators import read as R
from powa_archivist_spark.specs import get_spec
from powa_archivist_spark.storage import Warehouse

from . import land
from . import lifecycle as L
from .gen import EPOCH, MIX


def connect():
    con = duckdb.connect(config={"threads": 1})
    con.execute("SET TimeZone = 'UTC'")
    return con


def _sum_col(spec) -> str:
    """The first integer counter of ``spec``: exact sums on both sides."""
    return next(c.name for c in spec.counters if c.dtype in ("bigint", "numeric"))


def _files(root: str, table: str) -> str | None:
    d = os.path.join(root, table)
    for dirpath, dirs, files in os.walk(d):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        if any(f.endswith(".parquet") for f in files):
            return os.path.join(d, "**", "*.parquet")
    return None


def stored_samples(con, root: str, ds: str, srvid: int | None = None,
                   col: str | None = None) -> tuple[int, int]:
    """(samples, sum of ``col``) stored for ``ds``: current rows plus the
    records of packed history rows, read straight from the files."""
    where = "" if srvid is None else f"WHERE srvid = {int(srvid)}"
    n = total = 0
    cur = _files(root, Warehouse.current(ds))
    if cur:
        c = f"sum(CAST({col} AS HUGEINT))" if col else "0"
        a, b = con.execute(
            f"SELECT count(*), {c} FROM read_parquet('{cur}', "
            f"hive_partitioning = true) {where}").fetchone()
        n, total = n + a, total + (b or 0)
    hist = _files(root, Warehouse.history(ds))
    if hist:
        c = f"sum(CAST(r.{col} AS HUGEINT))" if col else "0"
        a, b = con.execute(
            f"SELECT count(*), {c} FROM (SELECT unnest(records) AS r FROM "
            f"read_parquet('{hist}', hive_partitioning = true) {where})"
        ).fetchone()
        n, total = n + a, total + (b or 0)
    return n, int(total)


def round_trip(fleet: L.Fleet, con) -> list[str]:
    """Whole-timeline ``stat_get_history`` vs the stored files, for every
    (ticking server, datasource) pair, in one Spark action."""
    lo, hi = EPOCH - dt.timedelta(days=1), EPOCH + dt.timedelta(days=3650)
    frames, want = [], {}
    for srvid, server in sorted(fleet.servers.items()):
        if fleet.next_tick[srvid] == fleet.first_live:
            continue   # never ticked: nothing of it to round-trip
        for ds in server.enabled:
            spec = get_spec(ds)
            col = _sum_col(spec)
            frames.append(
                R.stat_get_history(fleet.wh, spec, srvid, lo, hi).agg(
                    F.lit(ds).alias("ds"), F.lit(srvid).alias("srvid"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col(col).cast("decimal(38,0)")).alias("total")))
            want[(ds, srvid)] = stored_samples(con, fleet.wh.root, ds,
                                               srvid, col)
    got = {}
    if frames:
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        got = {(r.ds, r.srvid): (r.n, int(r.total or 0))
               for r in union.collect()}
    return [f"round trip {k}: stat_get_history {got.get(k)} != files {v}"
            for k, v in want.items() if got.get(k) != v or v[0] == 0]


def hygiene(fleet: L.Fleet) -> list[str]:
    """Empty error ledgers, drained staging, no stage directories."""
    out = []
    for r in fleet.orch.read_metas_df().collect():
        if r.errors:
            out.append(f"metas errors srvid={r.srvid}: {r.errors[:3]}")
    for ds in MIX:
        if _files(fleet.wh.root, Warehouse.src_tmp(ds)):
            out.append(f"staging of {ds} not drained")
    for dirpath, dirs, _files_ in os.walk(fleet.wh.root):
        for d in dirs:
            if d.startswith(".__stage"):
                out.append(f"stage dir left: {os.path.join(dirpath, d)}")
    return out


# ---- read results vs DuckDB over the generator's rows -------------------------

_SERIES = """
    s AS (SELECT * FROM g WHERE ts BETWEEN $lo AND $hi)"""

_RATES = """
    d AS (
        SELECT epoch(ts) - lag(epoch(ts)) OVER w AS sec,
               {m} - lag({m}) OVER w AS dm
        FROM {src} WINDOW w AS (PARTITION BY {keys} ORDER BY ts))
    SELECT count(*),
           sum(CASE WHEN dm < 0 THEN NULL ELSE dm END / greatest(sec, 1))
    FROM d WHERE sec IS NOT NULL"""

SQL = {
    "stat_get_history": "WITH" + _SERIES + " SELECT count(*), sum({m}) FROM s",
    "stat_get_rates": "WITH" + _SERIES + "," + _RATES.replace("{src}", "s"),
    "stat_get_sample": "WITH" + _SERIES + """,
    n AS (SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY ts) AS num,
                 count(*) OVER (PARTITION BY {keys}) AS total FROM s),
    k AS (SELECT * FROM n WHERE num % (floor(total / 100) + 1) = 0),"""
    + _RATES.replace("{src}", "k"),
    "top_consumers": "WITH" + _SERIES + """,
    d AS (
        SELECT {keys}, epoch(ts) - lag(epoch(ts)) OVER w AS intvl,
               {m} - lag({m}) OVER w AS dm
        FROM s WINDOW w AS (PARTITION BY {keys} ORDER BY ts))
    SELECT {keys}, sum(CASE WHEN dm < 0 THEN NULL ELSE dm END) AS consumed
    FROM d WHERE intvl IS NOT NULL GROUP BY {keys}
    ORDER BY consumed DESC NULLS LAST, {keys} LIMIT {k}""",
}


def _generator_rows(con, fleet: L.Fleet, r: L.Read) -> None:
    spec = get_spec(r.ds)
    rows = [x[: len(spec.staging_schema.fields) - len(spec.staging_extra)]
            for i in range(r.upto)
            for x in fleet.gen_for(i).staging(r.ds, r.srvid, i)]
    schema = spec.staging_schema
    fields = schema.fields[: len(schema.fields) - len(spec.staging_extra)]
    cols = list(zip(*rows))
    tbl = pa.Table.from_arrays(
        [pa.array(list(cols[k]), type=land.arrow_type(f.dataType))
         for k, f in enumerate(fields)], names=[f.name for f in fields])
    con.register("g", tbl)


def expected(con, fleet: L.Fleet, r: L.Read) -> tuple:
    spec = get_spec(r.ds)
    _generator_rows(con, fleet, r)
    sql = SQL[r.fn].format(m=L.METRIC[r.ds], keys=", ".join(spec.key_names),
                           k=L.TOP_K)
    res = con.execute(sql, {"lo": r.lo, "hi": r.hi}).fetchall()
    con.unregister("g")
    if r.fn == "top_consumers":
        return tuple(sorted(((tuple(x[:-1]), x[-1]) for x in res), key=repr))
    n, total = res[0]
    return (n, float(total or 0))


def _same(a: tuple, b: tuple) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                return False
        elif isinstance(x, tuple):
            if not _same(x, y):
                return False
        elif x != y:
            return False
    return True


def reads(fleet: L.Fleet, ops, con) -> list[str]:
    out = []
    for op in ops:
        if op.kind != "read" or op.summary is None:
            continue
        r = op.read
        if r.fn == "read_metas_df":
            bad = [x for x in op.summary
                   if x[1] or x[0] not in fleet.servers]
            if bad or not op.summary:
                out.append(f"read_metas_df: {op.summary}")
            continue
        want = expected(con, fleet, r)
        got = op.summary
        if r.fn == "top_consumers":
            got = tuple(sorted(got, key=repr))
        if not _same(got, want):
            out.append(f"{r}: engine {got} != duckdb {want}")
        elif not got or got[0] == 0:
            out.append(f"{r}: empty result")
    return out


def run_all(fleet: L.Fleet, ops) -> list[str]:
    con = connect()
    try:
        return hygiene(fleet) + round_trip(fleet, con) + reads(fleet, ops, con)
    finally:
        con.close()


def retained_samples(fleet: L.Fleet) -> int:
    """(entity, ts) counter samples the warehouse holds, every server and
    datasource, for ``bytes_per_sample``.  The files of servers that
    never tick are not rescanned: their count is fixed by the build."""
    con = connect()
    try:
        return fleet.static_samples + sum(
            stored_samples(con, fleet.wh.root, ds, s)[0]
            for s in fleet.servers for ds in set(MIX) | set(L.READ_DS))
    finally:
        con.close()
