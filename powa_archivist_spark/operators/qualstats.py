"""End-to-end qualstats snapshot — ``powa_qualstats_snapshot``
(powa--5.2.0.sql:7104-7184) as one wCTE-shaped pass over the staging
capture:

    capture      := qualstats src rows gated to known statements
                    (WHERE EXISTS on powa_statements, :7116-7124)
    missing_quals:= quals-atom dedup dictionary insert
                    (array_agg(DISTINCT q::qual_type), :7126-7143)
    by_qual      := per-qual rollup into quals_history_current
                    (SUM counters, AVG error estimates, :7145-7154)
    constvalues  := raw constvalues rows into
                    constvalues_history_current (:7156-7166)
    cleanup      := drop the srvid staging partition (:7180-7182)

Spark shape: the gated capture is cached and fans out to the three
writes (D1 multi-sink), which run at once; ``v_rowcount`` is observed on
the constvalues write (one row per capture row), so the gate's broadcast
and the three writes are the pass's only jobs.  The quals dictionary
insert is an anti-join (J3); the rollup is one map-side combinable
groupBy.  The downstream jobs — packing, purge, reset and the
constvalues top-20 ranking (operators/topk.py) — run off the same
current tables through the generic spec machinery.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import observe_rows
from ..specs import QUALSTATS_SPEC
from ..storage import Warehouse
from . import dictionary

#: qual_type atom (powa--5.2.0.sql:3086-3091)
QUAL_ATOM = T.StructType([
    T.StructField("relid", T.LongType(), True),
    T.StructField("attnum", T.IntegerType(), True),
    T.StructField("opno", T.LongType(), True),
    T.StructField("eval_type", T.StringType(), True),
])

#: powa_qualstats_src_tmp (powa--5.2.0.sql:3102-3117)
SRC_SCHEMA = T.StructType([
    T.StructField("srvid", T.IntegerType(), False),
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("uniquequalnodeid", T.LongType(), False),
    T.StructField("dbid", T.LongType(), False),
    T.StructField("userid", T.LongType(), False),
    T.StructField("qualnodeid", T.LongType(), False),
    T.StructField("occurences", T.LongType(), False),
    T.StructField("execution_count", T.LongType(), False),
    T.StructField("nbfiltered", T.LongType(), False),
    T.StructField("mean_err_estimate_ratio", T.DoubleType(), True),
    T.StructField("mean_err_estimate_num", T.DoubleType(), True),
    T.StructField("queryid", T.LongType(), False),
    T.StructField("constvalues", T.ArrayType(T.StringType()), True),
    T.StructField("quals", T.ArrayType(QUAL_ATOM), True),
])

#: powa_qualstats_quals dictionary (powa--5.2.0.sql:3119-3130)
QUALS_TABLE = "powa_qualstats_quals"
QUALS_SCHEMA = T.StructType([
    T.StructField("srvid", T.IntegerType(), False),
    T.StructField("qualid", T.LongType(), True),
    T.StructField("queryid", T.LongType(), True),
    T.StructField("dbid", T.LongType(), True),
    T.StructField("userid", T.LongType(), True),
    T.StructField("quals", T.ArrayType(QUAL_ATOM), True),
])

#: powa_qualstats_constvalues_history_current (powa--5.2.0.sql:3183-3199)
CONSTVALUES_TABLE = "powa_qualstats_constvalues_history_current"

#: powa_qualstats_constvalues_history (powa--5.2.0.sql:3166-3182): one
#: row per qual per coalesce window, six ranked qual_values[] arrays
CONSTVALUES_HISTORY_TABLE = "powa_qualstats_constvalues_history"

QUAL_KEYS = ["srvid", "qualid", "queryid", "dbid", "userid"]


def qualstats_snapshot(
    wh: Warehouse,
    srvid: int,
    capture: DataFrame | None = None,
    drop_staging: bool = True,
) -> int:
    """One qualstats snapshot pass; returns the captured row count
    (the reference's ``v_rowcount``, powa--5.2.0.sql:7168-7172).

    The three sinks (quals dictionary, per-qual current rollup,
    constvalues) commit through ONE txn.StagedPass — the reference runs
    them inside a single wCTE statement (:7104-7184), and the staged
    publish is the parquet analog: a crash anywhere in the pass leaves
    readers on the pre-pass state with staging intact for replay."""
    from ..session import adopt
    from ..txn import StagedPass

    wh = wh.engine()
    StagedPass.recover(wh, srvid)
    if capture is None:
        capture = wh.read(Warehouse.src_tmp(QUALSTATS_SPEC.name), SRC_SCHEMA)
    else:
        capture = adopt(wh.spark, capture)
    capture = capture.filter(F.col("srvid") == srvid)
    # statements gate (J2): qualstats rows must reference known
    # statements (:7116-7124)
    capture = dictionary.gate_to_statements(wh, srvid, capture)
    # the gate's broadcast and the staging scan run once for all sinks
    capture = capture.cache()
    try:
        sp = StagedPass(wh, srvid)
        missing = _missing_quals(wh, srvid, capture)
        _, _, n = sp.stage_concurrently(
            lambda: sp.stage_append(missing, QUALS_TABLE),
            lambda: sp.stage_append(
                _by_qual(capture), Warehouse.current(QUALSTATS_SPEC.name)),
            lambda: sp.stage_append(_constvalues(capture), CONSTVALUES_TABLE),
        )
        sp.publish()
        if drop_staging and wh.exists(Warehouse.src_tmp(QUALSTATS_SPEC.name)):
            wh.drop_srvid(Warehouse.src_tmp(QUALSTATS_SPEC.name), srvid)
        return n
    finally:
        capture.unpersist()


def _missing_quals(wh: Warehouse, srvid: int,
                   capture: DataFrame) -> DataFrame:
    """missing_quals (powa--5.2.0.sql:7126-7143): one dictionary row per
    (qualid, queryid, dbid, userid) holding the DISTINCT qual atoms.
    ``array_agg(DISTINCT q::qual_type)`` -> sort_array(collect_set(atom))
    — collect_set dedupes, sort_array pins the order Postgres gets from
    the DISTINCT sort, keeping results engine-stable."""
    seen = (
        capture.select(
            F.col("srvid").cast("int"),
            F.col("qualnodeid").alias("qualid"),
            "queryid", "dbid", "userid",
            F.explode("quals").alias("q"),
        )
        .groupBy(*QUAL_KEYS)
        .agg(F.sort_array(F.collect_set("q")).alias("quals"))
    )
    existing = (
        wh.read(QUALS_TABLE, QUALS_SCHEMA)
        .filter(F.col("srvid") == srvid)
        .select(*QUAL_KEYS)
    )
    # seen is already partitioned on the keys (groupBy), so a shuffled
    # anti-join adds one stage to the write job where a broadcast of
    # the dictionary would run a job of its own
    return seen.join(existing.hint("shuffle_hash"), QUAL_KEYS, "left_anti")


def _by_qual(capture: DataFrame) -> DataFrame:
    """by_qual (powa--5.2.0.sql:7145-7154): per-qual rollup — the
    uniquequalnodeid-level rows (one per plan-node instance) collapse to
    the qualnodeid level.  SUMs and AVGs are map-side combinable; the
    output lands in the generic spec's current table so packing / purge /
    diff-rate machinery applies unchanged."""
    return (
        capture.groupBy(
            F.col("srvid").cast("int").alias("srvid"),
            F.col("qualnodeid").alias("qualid"),
            "queryid", "dbid", "userid", "ts",
        )
        .agg(
            F.sum("occurences").alias("occurences"),
            F.sum("execution_count").alias("execution_count"),
            F.sum("nbfiltered").alias("nbfiltered"),
            F.avg("mean_err_estimate_ratio").alias("mean_err_estimate_ratio"),
            F.avg("mean_err_estimate_num").alias("mean_err_estimate_num"),
        )
        .select(
            "srvid", "qualid", "queryid", "dbid", "userid", "ts",
            "occurences", "execution_count", "nbfiltered",
            "mean_err_estimate_ratio", "mean_err_estimate_num",
        )
    )


def _constvalues(capture: DataFrame) -> DataFrame:
    """by_qual_with_const (powa--5.2.0.sql:7156-7166): raw rows with
    their constvalues, feeding the top-20 aggregation job
    (operators/topk.py)."""
    return capture.select(
        F.col("srvid").cast("int"),
        F.col("qualnodeid").alias("qualid"),
        "queryid", "dbid", "userid", "ts",
        "occurences", "execution_count", "nbfiltered",
        "mean_err_estimate_ratio", "mean_err_estimate_num",
        "constvalues",
    )


def qualstats_aggregate(wh: Warehouse, srvid: int) -> int:
    """``powa_qualstats_aggregate``, constvalues half (powa--5.2.0.sql:
    7193-7233, via ``powa_qualstats_aggregate_constvalues_current``
    :6924-6982): collapse one server's per-snapshot constvalues rows
    into ONE history row per qual carrying six ranked top-20
    ``qual_values[]`` arrays plus the covered coalesce range, then
    drain the current table.  Returns the packed row count.

    The quals half of the reference function (records array +
    mins/maxs, :7210-7224) flows through the generic spec machinery
    (operators/aggregate.py) — same packing as every other module.

    Spark shape: one groupBy pre-agg per distinct (qual, constvalues)
    — map-side combinable — then the shared 6-ranking window job
    (operators/topk.py, one shuffle for all six orders).  History is
    partitioned (srvid, range_day) like every packed table so the
    generic purge's partition-drop fast path applies."""
    from .topk import qualstats_constvalues_topk

    # engine session: the ranking below would otherwise plan every
    # exchange at the analytics posture's 256 partitions
    wh = wh.engine()
    if not wh.exists(CONSTVALUES_TABLE):
        return 0
    cur = constvalues_current(wh, srvid)
    pre = cur.groupBy(*QUAL_KEYS, "constvalues").agg(
        F.min("ts").alias("mints"),
        F.max("ts").alias("maxts"),
        F.sum("occurences").alias("sum_occurences"),
        F.sum("nbfiltered").alias("sum_nbfiltered"),
        F.sum("execution_count").alias("sum_execution_count"),
        F.avg("mean_err_estimate_ratio").alias("mean_err_estimate_ratio"),
        F.avg("mean_err_estimate_num").alias("mean_err_estimate_num"),
    )
    packed = qualstats_constvalues_topk(pre, k=20)
    out = packed.select(
        *QUAL_KEYS,
        F.col("mints").alias("range_start"),
        F.col("maxts").alias("range_end"),
        "most_used", "most_filtering", "least_filtering",
        "most_executed", "most_errestim_ratio", "most_errestim_num",
    ).withColumn("range_day", F.to_date("range_end"))
    # an empty partitioned append writes no file
    out, rows = observe_rows(out)
    wh.append(out, CONSTVALUES_HISTORY_TABLE,
              partition_by=["srvid", "range_day"])
    wh.drop_srvid(CONSTVALUES_TABLE, srvid)
    return rows()


def purge_constvalues_history(
    wh: Warehouse,
    srvid: int,
    retention: dt.timedelta,
    now: dt.datetime | None = None,
) -> None:
    """``powa_qualstats_purge`` (powa--5.2.0.sql:7238-7260): drop packed
    constvalues history whose range fell out of retention (the reference
    only bothers with already-coalesced data)."""
    from .purge import _purge_table

    now = now or dt.datetime.now(dt.timezone.utc)
    _purge_table(wh, CONSTVALUES_HISTORY_TABLE, srvid, now - retention)


def constvalues_history(wh: Warehouse,
                        srvid: int | None = None) -> DataFrame:
    df = wh.read(CONSTVALUES_HISTORY_TABLE)
    if srvid is not None:
        df = df.filter(F.col("srvid") == srvid)
    return df


def read_quals(wh: Warehouse, srvid: int | None = None) -> DataFrame:
    df = wh.read(QUALS_TABLE, QUALS_SCHEMA)
    if srvid is not None:
        df = df.filter(F.col("srvid") == srvid)
    return df


def constvalues_current(wh: Warehouse, srvid: int | None = None) -> DataFrame:
    schema = T.StructType(
        [T.StructField("srvid", T.IntegerType(), False)]
        + [T.StructField(n, T.LongType(), True)
           for n in ("qualid", "queryid", "dbid", "userid")]
        + [T.StructField("ts", T.TimestampType(), False)]
        + [T.StructField(n, T.LongType(), True)
           for n in ("occurences", "execution_count", "nbfiltered")]
        + [T.StructField(n, T.DoubleType(), True)
           for n in ("mean_err_estimate_ratio", "mean_err_estimate_num")]
        + [T.StructField("constvalues", T.ArrayType(T.StringType()), True)]
    )
    df = wh.read(CONSTVALUES_TABLE, schema)
    if srvid is not None:
        df = df.filter(F.col("srvid") == srvid)
    return df


def reset_qualstats(wh: Warehouse, srvid: int) -> None:
    """powa_qualstats_reset: the quals dictionary and constvalues tables
    cascade with the generic reset (powa--5.2.0.sql:6506-6539)."""
    wh.drop_srvid(QUALS_TABLE, srvid)
    wh.drop_srvid(CONSTVALUES_TABLE, srvid)
    wh.drop_srvid(CONSTVALUES_HISTORY_TABLE, srvid)
