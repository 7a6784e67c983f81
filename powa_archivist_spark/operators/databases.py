"""Databases dimension — ``powa_databases`` (powa--5.2.0.sql:920-928).

Snapshot semantics (``powa_databases_snapshot``, powa--5.2.0.sql:3731-3796):
one full-outer reconciliation of the incoming database list against the
stored dimension —

- new oid            -> insert (J4 anti side);
- oid with changed   -> in-place rename (D2 ``UPDATE .. FROM``);
  datname
- missing oid        -> soft delete: stamp ``dropped = now()`` once
  (reverse anti side); the row stays so history remains attributable.

Purge (``powa_databases_purge``, powa--5.2.0.sql:5789-5846): rows dropped
longer than **1.2 x retention** ago are deleted, cascading to the
statements dictionary (the reference's FK ``ON DELETE CASCADE``,
powa--5.2.0.sql:937-940 — explicit here, Spark has no FKs).

Dropped databases are excluded from ingest via :func:`read_databases`
(the P3 filter, powa--5.2.0.sql:6616-6618).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..storage import Warehouse
from ..txn import StagedPass
from . import dictionary

TABLE = "powa_databases"

SCHEMA = T.StructType(
    [
        T.StructField("srvid", T.IntegerType(), False),
        T.StructField("oid", T.LongType(), False),
        T.StructField("datname", T.StringType(), True),
        T.StructField("dropped", T.TimestampType(), True),
    ]
)

DROP_GRACE_FACTOR = 1.2  # powa--5.2.0.sql:5835


def databases_snapshot(
    wh: Warehouse,
    srvid: int,
    feed: DataFrame,
    now: dt.datetime | None = None,
) -> None:
    """Reconcile the stored dimension with ``feed`` (columns oid, datname).

    One full-outer join classifies insert/rename/soft-delete in a single
    pass (the reference uses three statements — 3746-3786); the srvid
    partition is replaced atomically (one staged swap)."""
    now = now or dt.datetime.now(dt.timezone.utc)
    stored = wh.read(TABLE, SCHEMA).filter(F.col("srvid") == srvid)
    incoming = (
        feed.select(F.col("oid").cast("long"), F.col("datname"))
        .distinct()
        .withColumnRenamed("oid", "new_oid")
        .withColumnRenamed("datname", "new_datname")
    )
    j = stored.join(incoming, stored.oid == incoming.new_oid, "full_outer")
    merged = j.select(
        F.lit(srvid).cast("int").alias("srvid"),
        F.coalesce("oid", "new_oid").alias("oid"),
        # rename-in-place when present in both with a different name
        F.coalesce("new_datname", "datname").alias("datname"),
        F.when(
            F.col("new_oid").isNull() & F.col("dropped").isNull(), F.lit(now)
        )
        .otherwise(F.col("dropped"))
        .alias("dropped"),
    )
    sp = StagedPass(wh, srvid)
    sp.stage_replace(merged, TABLE)
    sp.publish()


def purge_databases(
    wh: Warehouse,
    srvid: int,
    retention: dt.timedelta,
    now: dt.datetime | None = None,
) -> int:
    """Delete long-dropped databases (grace = 1.2 x retention) and cascade
    to the statements dictionary.  Returns the number of purged dbs."""
    now = now or dt.datetime.now(dt.timezone.utc)
    cutoff = now - DROP_GRACE_FACTOR * retention
    stored = wh.read(TABLE, SCHEMA).filter(F.col("srvid") == srvid)
    doomed = stored.filter(
        F.col("dropped").isNotNull() & (F.col("dropped") < F.lit(cutoff))
    )
    doomed_oids = [r.oid for r in doomed.select("oid").collect()]
    if not doomed_oids:
        return 0
    # one staged pass: the FK-cascade analog (statements dictionary rows
    # of purged dbs) commits together with the dimension delete
    sp = StagedPass(wh, srvid)
    sp.stage_replace(stored.filter(~F.col("oid").isin(doomed_oids)), TABLE)
    if wh.exists(dictionary.TABLE):
        dic = wh.read(dictionary.TABLE, dictionary.SCHEMA).filter(
            F.col("srvid") == srvid
        )
        sp.stage_replace(dic.filter(~F.col("dbid").isin(doomed_oids)),
                         dictionary.TABLE)
    sp.publish()
    return len(doomed_oids)


def read_databases(wh: Warehouse, srvid: int,
                   include_dropped: bool = False) -> DataFrame:
    """The dimension feed for joins; dropped dbs excluded by default
    (P3, powa--5.2.0.sql:6616-6618)."""
    df = wh.read(TABLE, SCHEMA).filter(F.col("srvid") == srvid)
    if not include_dropped:
        df = df.filter(F.col("dropped").isNull())
    return df
