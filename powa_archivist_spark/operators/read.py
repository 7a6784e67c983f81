"""Read path — the query semantics powa-web consumes (SURVEY.md §3.4).

``powa_stat_get_activity(srvid, from, to)`` (powa--5.2.0.sql:7765-7792) is
the canonical unpack-read:

    SELECT * FROM current WHERE ts BETWEEN from AND to
    UNION ALL
    SELECT (unnest(records)).* FROM history
      WHERE coalesce_range && tstzrange(from, to, '[]')
    ... re-filtered on ts

plus the diff/rate derivation between consecutive records (§2.8).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.diff_rate import with_diff, with_rate
from ..functions.packing import unpack
from ..specs import DatasourceSpec
from ..storage import Warehouse


def stat_get_history(
    wh: Warehouse,
    spec: DatasourceSpec,
    srvid: int,
    ts_from: dt.datetime,
    ts_to: dt.datetime,
) -> DataFrame:
    """current-slice UNION ALL unpacked-history-slice, flat rows."""
    lo, hi = F.lit(ts_from), F.lit(ts_to)
    cols = ["srvid", *spec.key_names, "ts", *spec.counter_names]

    cur = (
        wh.read(Warehouse.current(spec.name), spec.current_schema)
        .filter(F.col("srvid") == srvid)
        .filter((F.col("ts") >= lo) & (F.col("ts") <= hi))
        .select(*cols)
    )
    hist = wh.read(Warehouse.history(spec.name), spec.history_schema).filter(
        F.col("srvid") == srvid
    )
    unpacked = unpack(hist, spec, lo, hi).select(*cols)
    return cur.unionByName(unpacked)


def stat_get_rates(
    wh: Warehouse,
    spec: DatasourceSpec,
    srvid: int,
    ts_from: dt.datetime,
    ts_to: dt.datetime,
    clamp_resets: bool = True,
) -> DataFrame:
    """Per-entity per-sec rates between consecutive snapshots — the `/`
    operator applied over the unpack-read (powa--5.2.0.sql:1176-1223)."""
    series = stat_get_history(wh, spec, srvid, ts_from, ts_to)
    return with_rate(series, spec, clamp_resets=clamp_resets).filter(
        F.col("sec").isNotNull()
    )


def stat_get_sample(
    wh: Warehouse,
    spec: DatasourceSpec,
    srvid: int,
    ts_from: dt.datetime,
    ts_to: dt.datetime,
    n_samples: int = 100,
    clamp_resets: bool = True,
) -> DataFrame:
    """Downsampled rate series — the powa-web plot query shape
    (powa-web powa/sql: ``row_number() % (total/samples + 1) = 0`` over
    the unpack-read, THEN diff/rate between the **kept** points so each
    plotted sample smooths the skipped interval instead of dropping it).

    One shuffle: ``row_number`` and the per-entity ``count`` share the
    same partition keys, so Catalyst evaluates both window frames over a
    single exchange+sort; the rate ``lag`` then reuses that
    partitioning.  At 100 TB the range filter prunes partitions before
    the exchange and each entity's series is tiny — the shuffle is keyed
    on (srvid, entity), never on ts.
    """
    from pyspark.sql import Window

    series = stat_get_history(wh, spec, srvid, ts_from, ts_to)
    keys = ["srvid", *spec.key_names]
    w_ord = Window.partitionBy(*keys).orderBy("ts")
    w_all = Window.partitionBy(*keys)
    sampled = (
        series.withColumn("number", F.row_number().over(w_ord))
        .withColumn("total", F.count(F.lit(1)).over(w_all))
        .filter(
            F.col("number")
            % (F.floor(F.col("total") / F.lit(n_samples)) + F.lit(1))
            == 0
        )
        .drop("number", "total")
    )
    return with_rate(sampled, spec, clamp_resets=clamp_resets).filter(
        F.col("sec").isNotNull()
    )


def top_consumers(
    wh: Warehouse,
    spec: DatasourceSpec,
    srvid: int,
    ts_from: dt.datetime,
    ts_to: dt.datetime,
    metric: str,
    k: int = 20,
    clamp_resets: bool = True,
) -> DataFrame:
    """The powa-web landing-page read: top-K entities by a counter's
    consumption over a range — per entity, consumption = sum of positive
    deltas between consecutive snapshots (reset-aware, like the `-`
    operator with the clamp), ranked descending with the entity key as
    tiebreak.

    Plan: unpack-read -> one per-entity window pass for the lag deltas ->
    one groupBy summing them -> two-phase per-srvid top-K.  The first
    window partitions by (srvid, salt) so no single task ever sorts more
    than entities/n_salt rows; only the salt-local top-K survive, so the
    final per-srvid rank window sees at most k*n_salt rows regardless of
    entity cardinality (global top-K is a subset of the union of per-salt
    top-Ks).  Never a single-partition sort over unbounded input."""
    if metric not in spec.counter_names:
        raise KeyError(f"{metric!r} is not a counter of {spec.name}")
    series = stat_get_history(wh, spec, srvid, ts_from, ts_to)
    diffed = with_diff(series, spec, clamp_resets=clamp_resets)
    consumed = (
        diffed.filter(F.col("intvl").isNotNull())
        .groupBy("srvid", *spec.key_names)
        .agg(
            F.sum(metric).alias("consumed"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
    order = [F.desc("consumed"), *[F.asc(c) for c in spec.key_names]]
    n_salt = 32
    w_salt = Window.partitionBy("srvid", "_salt").orderBy(*order)
    pruned = (
        consumed.withColumn(
            "_salt", F.pmod(F.xxhash64(*spec.key_names), F.lit(n_salt))
        )
        .withColumn("_r", F.row_number().over(w_salt))
        .filter(F.col("_r") <= k)
        .drop("_salt", "_r")
    )
    w = Window.partitionBy("srvid").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
