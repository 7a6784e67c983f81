"""Retention purge + reset.

Reference: ``powa_statements_purge`` (powa--5.2.0.sql:5848-5887), generated
``<ds>_purge`` (powa--5.2.0.sql:1543-1569), ``powa_reset`` + per-datasource
resets (powa--5.2.0.sql:6359-6563).

Retention resolution chain (``powa_get_server_retention``,
powa--5.2.0.sql:2942-2990): per-server override else engine default
(1 day).  Dropped databases get a 1.2x grace factor before cascade delete
(powa--5.2.0.sql:5833-5839).

Spark shape: the purge predicate ``range_end < now() - retention`` aligns
with the (srvid, range_day) partitioning, so at scale the delete is
partition-pruned: only boundary-day partitions are rewritten, whole
expired days are dropped without reading them.  Both publish through
one ``txn.StagedPass`` replace per table, so a crash never strands a
day half swapped.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..specs import DatasourceSpec
from ..storage import Warehouse
from ..txn import StagedPass
from .aggregate import _db_subspec

DEFAULT_RETENTION = dt.timedelta(days=1)  # powa.c:283-290


def purge(
    wh: Warehouse,
    spec: DatasourceSpec,
    srvid: int,
    retention: dt.timedelta = DEFAULT_RETENTION,
    now: dt.datetime | None = None,
) -> None:
    """Delete history rows whose range_end fell out of retention.  The
    entity table and its ``_db`` twin are trimmed concurrently and
    commit together, like the reference's one-statement delete: a crash
    leaves every day as it was or the whole purge done."""
    now = now or dt.datetime.now(dt.timezone.utc)
    tables = [(Warehouse.history(spec.name), spec.history_schema)]
    if spec.db_rollup:
        tables.append((Warehouse.history_db(spec.name),
                       _db_subspec(spec).history_schema))
    purge_tables(wh, srvid, now - retention, tables)


def purge_tables(wh: Warehouse, srvid: int, cutoff: dt.datetime,
                 tables: list[tuple[str, T.StructType | None]]) -> None:
    """Purge every (table, history schema) of ``tables`` at once, through
    one staged pass on the srvid lane."""
    sp = StagedPass(wh, srvid)
    sp.stage_concurrently(*(
        lambda t=t, schema=schema: _purge_table(wh, sp, t, srvid, cutoff,
                                                schema)
        for t, schema in tables))
    sp.publish()


def _purge_table(wh: Warehouse, sp: StagedPass, table: str, srvid: int,
                 cutoff: dt.datetime,
                 schema: T.StructType | None = None) -> None:
    """Stage ``table``'s purge as one replace: expired day leaves are
    drops, read by nobody; the boundary day is rewritten with the exact
    timestamp predicate (dropped when nothing of it is kept)."""
    if not wh.exists(table):
        return
    srv = f"srvid={srvid}"
    srv_path = os.path.join(wh.path(table), srv)
    if not os.path.isdir(srv_path):
        return
    cutoff_day = cutoff.date()
    drops: list[str] = []
    boundary_days: list[str] = []
    for entry in sorted(os.listdir(srv_path)):
        if not entry.startswith("range_day="):
            continue
        day = dt.date.fromisoformat(entry.split("=", 1)[1])
        if day < cutoff_day:
            drops.append(f"{srv}/{entry}")
        elif day == cutoff_day:
            boundary_days.append(f"{srv}/{entry}")
    # a day leaf holds the history columns minus its partition keys; a
    # known schema spares a footer-inference job
    reader = wh.spark.read
    if schema is not None:
        reader = reader.schema(
            T.StructType([f for f in schema.fields if f.name != "srvid"]))
    writes = []
    for leaf in boundary_days:
        df = reader.parquet(os.path.join(wh.path(table), leaf))
        keep = F.col("range_end") >= F.lit(cutoff)
        # both counts in one aggregate job
        n_kept, n_all = df.agg(
            F.count(F.when(keep, 1)), F.count(F.lit(1))
        ).first()
        if n_kept == n_all:
            continue
        # the leaf is dropped unless its kept rows land
        drops.append(leaf)
        if n_kept > 0:
            writes.append((df.filter(keep), leaf))

    def write(d: str) -> None:
        for kept, leaf in writes:
            kept.write.mode("overwrite").parquet(os.path.join(d, leaf))

    if drops:
        sp.stage("replace", table, write, drops=drops)


def reset(wh: Warehouse, spec: DatasourceSpec, srvid: int) -> None:
    """Truncate one server's data everywhere (``powa_<ds>_reset``,
    powa--5.2.0.sql:6359-6563) — pure partition drops."""
    tables = [
        Warehouse.src_tmp(spec.name),
        Warehouse.current(spec.name),
        Warehouse.history(spec.name),
    ]
    if spec.db_rollup:
        tables += [Warehouse.current_db(spec.name), Warehouse.history_db(spec.name)]
    for t in tables:
        wh.drop_srvid(t, srvid)
