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
from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.diff_rate import with_diff, with_rate
from ..functions.packing import unpack
from ..specs import DatasourceSpec, ident
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
    # the current schema is already (srvid, keys, ts, counters)
    cur = (
        wh.read(Warehouse.current(spec.name), spec.current_schema)
        .where(f"srvid = {int(srvid)}")
        .where((F.col("ts") >= lo) & (F.col("ts") <= hi))
    )
    hist = wh.read(Warehouse.history(spec.name), spec.history_schema).where(
        f"srvid = {int(srvid)}"
    )
    return cur.unionByName(unpack(hist, spec, lo, hi))


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
    return with_rate(series, spec, clamp_resets).where("sec IS NOT NULL")


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
    single exchange+sort; the rate's one struct ``lag`` then reuses
    that partitioning.  At 100 TB the range filter prunes partitions before
    the exchange and each entity's series is tiny — the shuffle is keyed
    on (srvid, entity), never on ts.
    """
    series = stat_get_history(wh, spec, srvid, ts_from, ts_to)
    keys = ", ".join(map(ident, ["srvid", *spec.key_names]))
    sampled = series.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY {keys} ORDER BY ts) AS _number",
        f"count(1) OVER (PARTITION BY {keys}) AS _total",
    ).where(f"_number % (floor(_total / {int(n_samples)}) + 1) = 0")
    return with_rate(sampled, spec, clamp_resets).where("sec IS NOT NULL")


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
    top-Ks).  Never a single-partition sort over unbounded input.  A
    keyless datasource has one entity per srvid: no salt phase."""
    if metric not in {c.name for c in spec.agg_counters}:
        raise KeyError(f"{metric!r}: no aggregatable counter of {spec.name}")
    # read and diff only ``metric``: the one struct lag would otherwise
    # carry every counter through the entity shuffle
    spec = replace(spec, counters=tuple(
        c for c in spec.counters if c.name == metric))
    series = stat_get_history(wh, spec, srvid, ts_from, ts_to)
    consumed = (
        with_diff(series, spec, clamp_resets).where("intvl IS NOT NULL")
        .groupBy("srvid", *spec.key_names)
        .agg(F.expr(f"sum({ident(metric)}) AS consumed"),
             F.expr("count(1) AS n_samples"))
    )
    keys = ", ".join(map(ident, spec.key_names))
    order = ", ".join(["consumed DESC",
                       *(f"{ident(c)} ASC" for c in spec.key_names)])
    n_salt = 32
    pruned = consumed if not keys else (
        consumed.selectExpr("*", f"pmod(xxhash64({keys}), {n_salt}) AS _salt")
        .selectExpr("*", "row_number() OVER "
                    f"(PARTITION BY srvid, _salt ORDER BY {order}) AS _r")
        .where(f"_r <= {int(k)}")
        .drop("_salt", "_r")
    )
    return pruned.selectExpr(
        "*", f"row_number() OVER (PARTITION BY srvid ORDER BY {order}) AS `rank`"
    ).where(f"`rank` <= {int(k)}")
