"""Generic coalesce/aggregate job — pack current rows into history.

Reference: ``powa_statements_aggregate`` (powa--5.2.0.sql:5990-6114) and
the generated module variant (powa--5.2.0.sql:1490-1539): two
INSERT..SELECT with array-of-struct packing, then DELETE the current rows.

Spark shape: read the srvid partition of the current table, groupBy-pack
(functions/packing.py), append to history partitioned by (srvid,
range_day), then drain the current partition.  The pack groupBy is the
only shuffle; its key (srvid, entity keys) is exactly the storage key, so
at scale the same partitioning serves the aggregate AND the read path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.packing import pack
from ..session import concurrently, observe_rows
from ..specs import DatasourceSpec
from ..storage import Warehouse


def aggregate(wh: Warehouse, spec: DatasourceSpec, srvid: int) -> int:
    """Pack one server's current rows into history; returns packed rows.

    Runs on the engine session (:meth:`Warehouse.engine`): a coalesce
    pass packs ONE server's current window — bounded per (srvid,
    coalesce interval) by the snapshot contract — so its pack groupBy
    and history append plan at cluster parallelism instead of paying
    the wide analytics posture on a micro-batch.  The entity table and
    its ``_db`` twin share nothing, so they pack concurrently."""
    wh = wh.engine()
    calls = [lambda: _aggregate_one(
        wh, spec, srvid,
        Warehouse.current(spec.name), Warehouse.history(spec.name),
    )]
    if spec.db_rollup:
        db = _db_subspec(spec)
        calls.append(lambda: _aggregate_one(
            wh, db, srvid,
            Warehouse.current_db(spec.name), Warehouse.history_db(spec.name),
        ))
    return sum(concurrently(wh.spark, *calls))


def _aggregate_one(
    wh: Warehouse,
    spec: DatasourceSpec,
    srvid: int,
    current_table: str,
    history_table: str,
) -> int:
    if not wh.exists(current_table):
        return 0
    # the known schema spares a footer-inference job per read
    cur = (
        wh.read(current_table, spec.current_schema)
        .filter(F.col("srvid") == srvid)
    )
    packed, rows = observe_rows(
        pack(cur, spec).withColumn("range_day", F.to_date("range_end")))
    # an empty partitioned append writes no file
    wh.append(packed, history_table, partition_by=["srvid", "range_day"])
    # drain the current partition (DELETE FROM *_current WHERE srvid —
    # powa--5.2.0.sql:6051-6056)
    wh.drop_srvid(current_table, srvid)
    return rows()


def _db_subspec(spec: DatasourceSpec) -> DatasourceSpec:
    """Derived spec for the `_db` tables: keyed by dbid, aggregatable
    counters only (powa--5.2.0.sql:1047-1056), typed as
    :func:`~.snapshot.db_rollup_agg` writes them — ``sum()`` widens
    integer counters to bigint (numeric is already decimal(38, 0), the
    widest decimal)."""
    from dataclasses import replace

    from ..specs import DatasourceSpec, Key

    return DatasourceSpec(
        name=f"{spec.name}_db",
        kind=spec.kind,
        priority=spec.priority,
        keys=(Key(spec.dbid_col, "oid"),),
        counters=tuple(
            replace(c, dtype="bigint") if c.dtype == "integer" else c
            for c in spec.agg_counters
        ),
    )
