"""Coalesce packing / unpacking — the reference's storage-compression core.

Packing (`powa_statements_aggregate` powa--5.2.0.sql:6002-6049; generated
variant 1490-1539): per entity, collapse N snapshot rows into ONE row
holding

- ``records``: ts-ordered array of record structs (``array_agg(record)``),
- ``(range_start, range_end)``: inclusive ``tstzrange(min(ts),max(ts),'[]')``,
- ``mins_in_range`` / ``maxs_in_range``: field-wise min/max summary structs
  (minus the no-minmax fields).

Unpacking (`powa_stat_get_activity` powa--5.2.0.sql:7765-7792): explode
``records`` of rows whose range overlaps [from,to], re-filter on ts.

Spark notes (SURVEY.md §4 watch-outs):
- Postgres gets record order from insertion order; Spark's collect_list has
  NO order guarantee -> ``sort_array`` with ``ts`` as the FIRST struct field
  imposes it (struct ordering is lexicographic by field position).
- min/max over ~35-field structs is generated from the spec, exactly like
  the reference generates the SQL text (powa--5.2.0.sql:1509-1525).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..specs import DatasourceSpec, ident


def _summary(fn: str, spec: DatasourceSpec) -> str:
    fields = [f"{fn}(ts) AS ts", *(f"{fn}({ident(c.name)}) AS {ident(c.name)}"
                                   for c in spec.minmax_counters)]
    return f"struct({', '.join(fields)}) AS {fn}s_in_range"


@functools.cache
def _pack_text(spec: DatasourceSpec) -> tuple[str, ...]:
    # ts-first record struct (ts first => sort_array orders by ts)
    record = ", ".join(["ts", *(ident(c.name) for c in spec.counters)])
    return (f"sort_array(collect_list(struct({record}))) AS records",
            "min(ts) AS range_start", "max(ts) AS range_end",
            _summary("min", spec), _summary("max", spec))


def pack_exprs(spec: DatasourceSpec) -> list[Column]:
    """Aggregate expressions for the coalesce groupBy."""
    return [F.expr(e) for e in _pack_text(spec)]


def pack(df: DataFrame, spec: DatasourceSpec) -> DataFrame:
    """current rows -> packed history rows (one per entity)."""
    keys = ["srvid", *spec.key_names]
    return df.groupBy(*keys).agg(*pack_exprs(spec)).selectExpr(
        *map(ident, keys), "range_start", "range_end", "records",
        "mins_in_range", "maxs_in_range")


def range_overlap(ts_from: Column, ts_to: Column) -> Column:
    """``coalesce_range && tstzrange(from, to, '[]')`` with inclusive
    (range_start, range_end) columns (powa--5.2.0.sql:7784-7786).

    This predicate is parquet min/max-stat prunable — the Spark analog of
    the reference's GiST range index (powa--5.2.0.sql:2123).
    """
    return (F.col("range_start") <= ts_to) & (F.col("range_end") >= ts_from)


def unpack(df: DataFrame, spec: DatasourceSpec,
           ts_from: Column | None = None,
           ts_to: Column | None = None) -> DataFrame:
    """packed history rows -> flat (srvid, keys, ts, counters) rows.

    With bounds: range-overlap filter BEFORE the explode (cheap, prunable),
    ts re-filter AFTER (exact) — same two-phase filter as the reference
    (powa--5.2.0.sql:7776-7789).
    """
    if ts_from is not None and ts_to is not None:
        df = df.filter(range_overlap(ts_from, ts_to))
    keys = ["srvid", *map(ident, spec.key_names)]
    out = df.selectExpr(*keys, "explode(records) AS r").selectExpr(*keys, "r.*")
    if ts_from is not None and ts_to is not None:
        out = out.filter((F.col("ts") >= ts_from) & (F.col("ts") <= ts_to))
    return out
