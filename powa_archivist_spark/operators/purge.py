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
expired days are dropped without reading them.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import concurrently
from ..specs import DatasourceSpec
from ..storage import Warehouse
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
    entity table and its ``_db`` twin are trimmed concurrently."""
    now = now or dt.datetime.now(dt.timezone.utc)
    cutoff = now - retention
    calls = [lambda: _purge_table(wh, Warehouse.history(spec.name), srvid,
                                  cutoff, spec.history_schema)]
    if spec.db_rollup:
        calls.append(lambda: _purge_table(
            wh, Warehouse.history_db(spec.name), srvid, cutoff,
            _db_subspec(spec).history_schema))
    concurrently(wh.spark, *calls)


def _purge_table(wh: Warehouse, table: str, srvid: int,
                 cutoff: dt.datetime,
                 schema: T.StructType | None = None) -> None:
    if not wh.exists(table):
        return
    srv_path = os.path.join(wh.path(table), f"srvid={srvid}")
    if not os.path.isdir(srv_path):
        return
    cutoff_day = cutoff.date()
    boundary_days: list[str] = []
    # 1) drop whole expired day-partitions without reading them
    for entry in sorted(os.listdir(srv_path)):
        if not entry.startswith("range_day="):
            continue
        day = dt.date.fromisoformat(entry.split("=", 1)[1])
        if day < cutoff_day:
            shutil.rmtree(os.path.join(srv_path, entry))
        elif day == cutoff_day:
            boundary_days.append(entry)
    # a day leaf holds the history columns minus its partition keys; a
    # known schema spares a footer-inference job
    reader = wh.spark.read
    if schema is not None:
        reader = reader.schema(
            T.StructType([f for f in schema.fields if f.name != "srvid"]))
    # 2) rewrite only the boundary day with the exact timestamp predicate
    for entry in boundary_days:
        p = os.path.join(srv_path, entry)
        df = reader.parquet(p)
        keep = F.col("range_end") >= F.lit(cutoff)
        # both counts in one aggregate job
        n_kept, n_all = df.agg(
            F.count(F.when(keep, 1)), F.count(F.lit(1))
        ).first()
        if n_kept == n_all:
            continue
        # dot-prefixed scratch: Spark readers treat it as hidden, the
        # range_day= scan above skips it, and a crash between write
        # and replace leaves an inert dir instead of a bogus
        # partition that poisons every later read and purge pass
        tmp = os.path.join(srv_path, f".__tmp__{entry}")
        if n_kept > 0:
            df.filter(keep).write.mode("overwrite").parquet(tmp)
            shutil.rmtree(p)
            os.replace(tmp, p)
        else:
            shutil.rmtree(p)


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
