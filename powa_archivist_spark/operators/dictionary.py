"""Query-text dictionary — ``powa_statements`` (powa--5.2.0.sql:930-948).

The one true upsert in the reference (D1/D2/J3, powa--5.2.0.sql:4021-4066):
per snapshot, MRU-touch existing entries (``last_present_ts = now()``),
anti-join-insert missing (queryid, dbid, userid) triples with an arbitrary
representative query text (``min(query)`` — A9), and purge entries not seen
within retention (powa--5.2.0.sql:5879-5881).

Without Delta MERGE this is a read-join-overwrite of the srvid partition:
correct because the dictionary is orders of magnitude smaller than the
fact tables (it is the reference's most-broadcast dimension).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..storage import Warehouse
from ..txn import StagedPass

TABLE = "powa_statements"

SCHEMA = T.StructType(
    [
        T.StructField("srvid", T.IntegerType(), False),
        T.StructField("queryid", T.LongType(), False),
        T.StructField("dbid", T.LongType(), False),
        T.StructField("userid", T.LongType(), False),
        T.StructField("query", T.StringType(), True),
        T.StructField("last_present_ts", T.TimestampType(), True),
    ]
)

KEYS = ["srvid", "queryid", "dbid", "userid"]


def merge_statements(
    wh: Warehouse, srvid: int, capture: DataFrame,
    now: dt.datetime | None = None,
    staged=None,
) -> None:
    """MRU-touch + insert-missing, one partition overwrite.

    ``capture`` needs columns (queryid, dbid, userid, query, ts).
    With ``staged`` (a txn.StagedPass) the overwrite is staged into the
    caller's pass and becomes visible only at its publish() — the
    dictionary merge co-commits with the history append, like inside the
    reference's wCTE (powa--5.2.0.sql:4032-4066).
    """
    now = now or dt.datetime.now(dt.timezone.utc)
    seen = (
        capture.groupBy("queryid", "dbid", "userid")
        .agg(F.min("query").alias("query"))  # A9: representative text
        .withColumn("srvid", F.lit(srvid).cast("int"))
        .withColumn("last_present_ts", F.lit(now))
        .select(*KEYS, "query", "last_present_ts")
    )
    existing = wh.read(TABLE, SCHEMA).filter(F.col("srvid") == srvid)

    # WHEN MATCHED: keep stored query text, bump last_present_ts
    # WHEN NOT MATCHED: insert (powa--5.2.0.sql:4032-4066)
    merged = (
        existing.alias("e")
        .join(seen.select(*KEYS).alias("s"), KEYS, "left")
        .withColumn(
            "last_present_ts",
            F.when(F.col("s.srvid").isNotNull(), F.lit(now)).otherwise(
                F.col("e.last_present_ts")
            ),
        )
        .select("e.srvid", "e.queryid", "e.dbid", "e.userid", "e.query",
                "last_present_ts")
    )
    new_rows = seen.join(existing, KEYS, "left_anti")
    out = merged.unionByName(new_rows)
    if staged is not None:
        staged.stage_replace(out, TABLE)
    else:
        _overwrite_srvid_partition(wh, out, srvid)


def purge_statements(
    wh: Warehouse, srvid: int, retention: dt.timedelta,
    now: dt.datetime | None = None,
) -> None:
    """MRU purge: drop entries unseen for longer than retention
    (powa--5.2.0.sql:5879-5881)."""
    now = now or dt.datetime.now(dt.timezone.utc)
    cutoff = now - retention
    existing = wh.read(TABLE, SCHEMA).filter(F.col("srvid") == srvid)
    kept = existing.filter(F.col("last_present_ts") >= F.lit(cutoff))
    _overwrite_srvid_partition(wh, kept, srvid)


def _overwrite_srvid_partition(wh: Warehouse, df: DataFrame, srvid: int) -> None:
    sp = StagedPass(wh, srvid)
    sp.stage_replace(df, TABLE)
    sp.publish()


def gate_to_statements(wh: Warehouse, srvid: int, df: DataFrame) -> DataFrame:
    """J2: keep only rows whose (queryid, dbid, userid) exists in the
    statements dictionary (``WHERE EXISTS``, powa--5.2.0.sql:7119-7124) —
    qualstats-like sources must not reference unknown statements.

    The dictionary is the engine's most-broadcast dimension; the semi
    join never shuffles the fact side."""
    if not wh.exists(TABLE):
        return df.limit(0)
    dic = (
        wh.read(TABLE, SCHEMA)
        .filter(F.col("srvid") == srvid)
        .select("queryid", "dbid", "userid")
    )
    return df.join(F.broadcast(dic), ["queryid", "dbid", "userid"], "left_semi")


def read_statements(wh: Warehouse, srvid: int | None = None) -> DataFrame:
    df = wh.read(TABLE, SCHEMA)
    if srvid is not None:
        df = df.filter(F.col("srvid") == srvid)
    return df
