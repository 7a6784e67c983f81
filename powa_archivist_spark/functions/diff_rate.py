"""Diff (`-`) and rate (`/`) operator surface.

The reference generates, per datasource, a ``<ds>_mi`` function + a custom
``-`` operator (field-wise delta, powa--5.2.0.sql:1139-1173) and a
``<ds>_div`` function + ``/`` operator (delta / epoch-seconds, clamped to
>= 1 second, powa--5.2.0.sql:1176-1223).  powa-web applies them between
adjacent records of an entity's time series.

Spark-native equivalent, generated from the spec as SQL text the way the
reference generates its operator SQL: ONE
``lag(struct(unix_timestamp(ts) AS _ts, <agg counters>))`` over the
(srvid, keys) entity window carries every counter's predecessor at once,
and the deltas or rates are one ``selectExpr`` over it.  A frame costs a
few JVM calls instead of a ``lag`` Column per counter, and stays inside
whole-stage codegen (no Python UDFs).

Counter-reset handling: the reference does NOT handle counter resets
(negative deltas after ``pg_stat_*_reset``); we optionally clamp negative
deltas to NULL (``clamp_resets=True``) which the reference UI does
implicitly.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..specs import DatasourceSpec, ident


def epoch_seconds(col: Column | str) -> Column:
    """Fractional-second epoch of a timestamp column, tolerant of every
    encoding the landing zone produces (TIMESTAMP_LTZ *and* TIMESTAMP_NTZ).

    ``cast(ts as double)`` throws ``DATATYPE_MISMATCH`` on TIMESTAMP_NTZ;
    casting through (LTZ) ``timestamp`` first is legal for both types and,
    under the engine's pinned-UTC session, a microsecond identity — so
    oracle hashes are unchanged.  Microseconds are exactly representable
    in a double."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")


def epoch_micros(col: Column | str) -> Column:
    """Integer-microsecond epoch, NTZ-safe (see :func:`epoch_seconds`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


_TS = "unix_timestamp(CAST(ts AS TIMESTAMP))"  # NTZ-safe epoch seconds
_SEC = f"({_TS} - _prev._ts)"


@functools.cache
def _lagged(spec: DatasourceSpec) -> tuple[str, str]:
    """Every input column plus ``_prev``, the entity's previous record."""
    prev = ", ".join([f"{_TS} AS _ts", *(ident(c.name) for c in spec.agg_counters)])
    keys = ", ".join(map(ident, ["srvid", *spec.key_names]))
    return "*", (f"lag(struct({prev})) OVER (PARTITION BY {keys} ORDER BY ts)"
                 " AS _prev")


def _delta(name: str, clamp_resets: bool) -> str:
    d = f"({ident(name)} - _prev.{ident(name)})"
    return f"CASE WHEN {d} < 0 THEN NULL ELSE {d} END" if clamp_resets else d


@functools.cache
def _diffs(spec: DatasourceSpec, clamp_resets: bool) -> tuple[str, ...]:
    """``<ds>_mi`` (powa--5.2.0.sql:1139-1173): ``intvl`` = seconds between
    consecutive snapshots, one ``<f>`` delta per aggregatable counter.
    Rows with no predecessor get NULLs (the reference simply has no
    output pair for them)."""
    return ("srvid", *map(ident, spec.key_names), "ts",
            f"CAST({_SEC} AS DOUBLE) AS intvl",
            *(f"{_delta(c.name, clamp_resets)} AS {ident(c.name)}"
              for c in spec.agg_counters))


@functools.cache
def _rates(spec: DatasourceSpec, clamp_resets: bool) -> tuple[str, ...]:
    """``<ds>_div`` (powa--5.2.0.sql:1176-1223): ``sec = extract(epoch from
    a.ts - b.ts)``, clamped to >= 1 (reference clamps `CASE WHEN sec = 0
    THEN 1`); per-sec fields are ``(a.f - b.f) / sec`` as double (numeric
    stays decimal)."""
    sec = f"CASE WHEN {_SEC} < 1 THEN 1 ELSE {_SEC} END"
    out = ["srvid", *map(ident, spec.key_names), "ts",
           f"CAST({_SEC} AS BIGINT) AS sec"]
    for c in spec.agg_counters:
        d = _delta(c.name, clamp_resets)
        if c.dtype == "numeric":
            rate = f"CAST({d} / {sec} AS DECIMAL(38,6))"
        else:
            rate = f"CAST({d} AS DOUBLE) / CAST({sec} AS DOUBLE)"
        out.append(f"{rate} AS {ident(c.per_sec_name)}")
    return tuple(out)


def with_diff(
    df: DataFrame, spec: DatasourceSpec, clamp_resets: bool = False
) -> DataFrame:
    """Entity series -> (srvid, keys, ts, intvl, deltas...)."""
    return df.selectExpr(*_lagged(spec)).selectExpr(*_diffs(spec, clamp_resets))


def with_rate(
    df: DataFrame, spec: DatasourceSpec, clamp_resets: bool = False
) -> DataFrame:
    """Entity series -> (srvid, keys, ts, sec, per-sec rates...)."""
    return df.selectExpr(*_lagged(spec)).selectExpr(*_rates(spec, clamp_resets))
