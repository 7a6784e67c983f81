"""Declared query surface — the operator inventory exercised over the
driver's TPC-H-ish testdata, each with a DuckDB oracle (SURVEY.md §2).

Every query here is built from the engine's operator library (packing,
diff/rate, top-K, joins, rollups) applied to the provisioned tables
(`region nation customer supplier part orders lineitem events documents
embeddings`).

Determinism contract with the oracle (the driver hash-compares values):
- money/metric aggregates are quantized per-row to integer cents
  (``CAST(round(x * 100) AS BIGINT)``) BEFORE summing — integer sums are
  order-independent and bitwise identical across engines, where
  double-precision sums are not (both engines round doubles half-away-
  from-zero, so the per-row quantization itself is identical);
- double outputs are only ever produced by per-row arithmetic on
  identical inputs (IEEE ops are deterministic), never by reductions;
- every ranking breaks ties on a unique key;
- DuckDB ``SUM(BIGINT)`` returns HUGEINT — oracles cast back to BIGINT.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .specs import Counter, DatasourceSpec, Key
from .functions.packing import pack, unpack
from .functions.diff_rate import epoch_micros, epoch_seconds
from .session import local_frame


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table loader with version shims — the Spark analog of the
    reference's versioned ``*_src`` readers that pad/convert columns per
    source version (powa--5.2.0.sql:3798-4004, S1/S4).

    Handled encodings (the landing zone has shipped all three):
    - TIMESTAMP(NANOS): Spark's parquet reader rejects it; read nanos as
      long and truncate to micros (integer ``div`` — double arithmetic
      would round half the microseconds up, diverging from the oracle's
      truncation);
    - TIMESTAMP_NTZ (``timestamp[us]`` with no timezone): legal to read
      but illegal in epoch arithmetic (``cast as double`` /
      ``unix_micros``); normalize to TIMESTAMP_LTZ, a microsecond
      identity under the pinned-UTC session (DuckDB reads the same naive
      micros, so oracle hashes are unchanged);
    - TIMESTAMP_LTZ: passed through."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col, dtype in df.dtypes:
        if dtype == "bigint" and col == "ts" and name == "events":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def cents(col: Column, scale: int = 100) -> Column:
    return F.round(col * scale).cast("long")


# Events mapped onto the engine's datasource model: entity = user_id,
# counters = (event_id, value_cents).  Lets the powa operators (pack /
# unpack / rate) run against oracle-checkable public data.
EVENTS_SPEC = DatasourceSpec(
    name="events",
    keys=(Key("user_id", "oid"),),
    counters=(Counter("event_id", "bigint"), Counter("value_cents", "bigint")),
)


def _events_as_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        F.lit(0).alias("srvid"),
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id"),
        cents(F.col("value")).alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# TPC-H-style analytical queries (A1 aggregation, J1 joins, O3 top-K)
# ---------------------------------------------------------------------------

Q1_CUTOFF = "2000-01-01 00:00:00"


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: grouped cumulative-counter style aggregation (A1)."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp")
    )
    price, disc, tax = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
        F.sum(cents(price)).alias("sum_base_price_cents"),
        F.sum(F.round(price * (1 - disc) * 10000).cast("long")).alias(
            "sum_disc_price_c4"
        ),
        F.sum(F.round(price * (1 - disc) * (1 + tax) * 1000000).cast("long")).alias(
            "sum_charge_c6"
        ),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price_cents",
        "sum_disc_price_c4",
        "sum_charge_c6",
        "count_order",
        (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
        (
            F.col("sum_base_price_cents").cast("double") / 100 / F.col("count_order")
        ).alias("avg_price"),
    )


ORACLE_Q01 = f"""
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price_cents,
       sum_disc_price_c4, sum_charge_c6, count_order,
       CAST(sum_qty AS DOUBLE) / count_order AS avg_qty,
       CAST(sum_base_price_cents AS DOUBLE) / 100 / count_order AS avg_price
FROM (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_base_price_cents,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
           AS BIGINT) AS sum_disc_price_c4,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
           * 1000000) AS BIGINT)) AS BIGINT) AS sum_charge_c6,
         COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
  GROUP BY l_returnflag, l_linestatus
) g
"""


def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue top-10: broadcast dims + window rank with tie-break (O3)."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("2000-03-15").cast("timestamp")
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    j = (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("revenue_c4"))
    )
    # global top-10 via distributed TakeOrdered (orderBy+limit), NOT an
    # unpartitioned window (which would sort everything on one partition);
    # the rank window then runs over just 10 rows
    top = j.orderBy(F.desc("revenue_c4"), F.asc("o_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue_c4"), F.asc("o_orderkey"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("o_orderkey", "o_orderdate", "o_orderpriority", "revenue_c4", "rank")
    )


ORACLE_Q03 = """
SELECT o_orderkey, o_orderdate, o_orderpriority, revenue_c4, rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY revenue_c4 DESC, o_orderkey) AS rank
  FROM (
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
             AS BIGINT)) AS BIGINT) AS revenue_c4
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '2000-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
  ) r
) ranked
WHERE rank <= 10
"""


def q05_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join volume rollup: all dims broadcast, one fact shuffle."""
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    j = (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
    )
    return (
        j.groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_c4"), F.count(F.lit(1)).alias("n_items"))
    )


ORACLE_Q05 = """
SELECT n_name,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         AS BIGINT) AS revenue_c4,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# powa-core semantics over the events series
# ---------------------------------------------------------------------------


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-db rollup analog (A1): SUM counters GROUP BY the db key."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(cents(F.col("value"))).alias("sum_value_cents"),
    )


ORACLE_EVENTS_ROLLUP = """
SELECT event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY event_type
"""


def events_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `/` rate operator (§2.8): per-entity lag deltas / epoch seconds.

    Epochs are taken as fractional-second doubles (microseconds are exactly
    representable), denominator clamped to >= 1s like the reference
    (powa--5.2.0.sql:1205-1213)."""
    ev = _events_as_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = epoch_seconds("ts")
    prev_epoch = F.lag(epoch).over(w)
    delta = F.col("value_cents") - F.lag("value_cents").over(w)
    sec = epoch - prev_epoch
    clamped = F.when(sec < 1.0, F.lit(1.0)).otherwise(sec)
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            delta.alias("delta_cents"),
            sec.alias("sec"),
            (delta.cast("double") / 100 / clamped).alias("rate_per_sec"),
        )
        .filter(F.col("sec").isNotNull())
    )


ORACLE_EVENTS_RATE = """
SELECT user_id, event_id, ts, delta_cents, sec,
       CAST(delta_cents AS DOUBLE) / 100 /
         (CASE WHEN sec < 1.0 THEN 1.0 ELSE sec END) AS rate_per_sec
FROM (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100) AS BIGINT)
           - lag(CAST(round(value * 100) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_cents,
         epoch(ts) - lag(epoch(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sec
  FROM events
) d
WHERE sec IS NOT NULL
"""


PACK_FROM = "2024-01-05 00:00:00"
PACK_TO = "2024-01-25 00:00:00"


def events_pack_unpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 packing + the unpack-read (powa_stat_get_activity semantics):
    pack per-entity arrays, then explode back through the two-phase range
    filter — lossless roundtrip proves packing correctness."""
    series = _events_as_series(spark, sf_dir)
    packed = pack(series, EVENTS_SPEC)
    lo = F.lit(PACK_FROM).cast("timestamp")
    hi = F.lit(PACK_TO).cast("timestamp")
    return unpack(packed, EVENTS_SPEC, lo, hi).select(
        "user_id", "ts", "event_id", "value_cents"
    )


ORACLE_PACK_UNPACK = f"""
SELECT user_id, ts, event_id,
       CAST(round(value * 100) AS BIGINT) AS value_cents
FROM events
WHERE ts BETWEEN TIMESTAMP '{PACK_FROM}' AND TIMESTAMP '{PACK_TO}'
"""


def events_minmax_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed row's summary surface: inclusive range bounds + field-wise
    min/max sketches (powa--5.2.0.sql:6002-6049)."""
    series = _events_as_series(spark, sf_dir)
    packed = pack(series, EVENTS_SPEC)
    return packed.select(
        "user_id",
        "range_start",
        "range_end",
        F.size("records").alias("n_records"),
        F.col("mins_in_range.value_cents").alias("min_value_cents"),
        F.col("maxs_in_range.value_cents").alias("max_value_cents"),
        F.col("mins_in_range.event_id").alias("min_event_id"),
        F.col("maxs_in_range.event_id").alias("max_event_id"),
    )


ORACLE_MINMAX = """
SELECT user_id, MIN(ts) AS range_start, MAX(ts) AS range_end,
       CAST(COUNT(*) AS INT) AS n_records,
       MIN(CAST(round(value * 100) AS BIGINT)) AS min_value_cents,
       MAX(CAST(round(value * 100) AS BIGINT)) AS max_value_cents,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM events GROUP BY user_id
"""


def events_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20-per-group ranking (A5/W1, powa--5.2.0.sql:6945-6950)."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", "event_id", cents(F.col("value")).alias("value_cents")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value_cents"), F.asc("event_id")
    )
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("event_type", "rank", "event_id", "value_cents")
    )


ORACLE_TOPK = """
SELECT event_type, rank, event_id, value_cents
FROM (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS value_cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
           ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id) AS rank
  FROM events
) r WHERE rank <= 20
"""


def events_mru_last_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRU dictionary semantics (last_present_ts, powa--5.2.0.sql:4025-4031)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("last_present_ts"), F.count(F.lit(1)).alias("n_seen"))
    )


ORACLE_MRU = """
SELECT user_id, MAX(ts) AS last_present_ts, COUNT(*) AS n_seen
FROM events GROUP BY user_id
"""


def orders_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: WHERE EXISTS gating -> left_semi join."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("2001-06-01").cast("timestamp")
    )
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", cents(F.col("o_totalprice")).alias("o_totalprice_cents"))


ORACLE_SEMI = """
SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalprice_cents
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > TIMESTAMP '2001-06-01 00:00:00')
"""


def customers_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: NOT EXISTS -> left_anti join (missing-dictionary detection)."""
    cust = t(spark, sf_dir, "customer")
    recent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return cust.join(
        recent, cust.c_custkey == recent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


ORACLE_ANTI = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
"""


def latest_order_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/J7: ORDER BY ... DESC LIMIT 1 per key -> window row_number pick."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


ORACLE_LATEST = """
SELECT o_custkey, o_orderkey, o_orderdate
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) r WHERE rn = 1
"""


def events_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 time-slice predicate — prunable range read."""
    lo = F.lit("2024-01-10 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-20 00:00:00").cast("timestamp")
    return (
        t(spark, sf_dir, "events")
        .filter((F.col("ts") >= lo) & (F.col("ts") <= hi))
        .filter(F.col("event_type") != "click")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


ORACLE_RANGE_READ = """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
  AND event_type != 'click'
"""


def events_ignored_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: ignored-entities filter (powa.ignored_users)."""
    ignored = [1, 2, 3, 5, 8]
    return (
        t(spark, sf_dir, "events")
        .filter(~F.col("user_id").isin(ignored))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).alias("sum_value_cents"),
        )
    )


ORACLE_IGNORED = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
WHERE user_id NOT IN (1, 2, 3, 5, 8)
GROUP BY event_type
"""


def docs_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: regex filter (utility-statement exclusion pattern)."""
    docs = t(spark, sf_dir, "documents")
    pat = r"\b(query|table)\b"
    return (
        docs.filter(F.col("text").rlike(pat))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_REGEX = r"""
SELECT lang, COUNT(*) AS n_docs
FROM documents
WHERE regexp_matches(text, '\b(query|table)\b')
GROUP BY lang
"""


SPLIT_TS = "2024-01-15 00:00:00"


def events_history_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical read path end-to-end (powa_stat_get_activity +
    the `/` operator, powa--5.2.0.sql:7765-7792 + 1176-1223): events
    before SPLIT_TS are coalesce-packed (history), the rest stay flat
    (current); the reader unions current with the unpacked history slice
    and derives per-entity rates.  Packing is lossless, so the output
    must equal rates computed directly over the raw series — which is
    exactly what the SQL oracle does."""
    series = _events_as_series(spark, sf_dir)
    cut = F.lit(SPLIT_TS).cast("timestamp")
    packed = pack(series.filter(F.col("ts") < cut), EVENTS_SPEC)
    current = series.filter(F.col("ts") >= cut)
    # the unpack window covers every packed row BY CONSTRUCTION
    # (history holds exactly ts < cut): the range-overlap predicate
    # (J11) is still exercised, but the read stays lossless for ANY
    # regenerated dataset — a literal calendar window silently dropped
    # rows (and each user's boundary lag) the moment the generator
    # shifted events outside it, while the oracle has no filter
    lo = F.lit("1970-01-01 00:00:00").cast("timestamp")
    hist_slice = unpack(packed, EVENTS_SPEC, lo, cut)
    full = current.select(
        "srvid", "user_id", "ts", "event_id", "value_cents"
    ).unionByName(
        hist_slice.select("srvid", "user_id", "ts", "event_id", "value_cents")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = epoch_seconds("ts")
    delta = F.col("value_cents") - F.lag("value_cents").over(w)
    sec = epoch - F.lag(epoch).over(w)
    clamped = F.when(sec < 1.0, F.lit(1.0)).otherwise(sec)
    return full.select(
        "user_id",
        "event_id",
        "ts",
        delta.alias("delta_cents"),
        sec.alias("sec"),
        (delta.cast("double") / 100 / clamped).alias("rate_per_sec"),
    ).filter(F.col("sec").isNotNull())


def events_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `-` diff operator (§2.8, powa--5.2.0.sql:1139-1173): per-entity
    lag deltas + the covered interval in seconds."""
    ev = _events_as_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = epoch_seconds("ts")
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            (F.col("value_cents") - F.lag("value_cents").over(w)).alias(
                "delta_cents"
            ),
            (epoch - F.lag(epoch).over(w)).alias("intvl_sec"),
        )
        .filter(F.col("intvl_sec").isNotNull())
    )


ORACLE_EVENTS_DIFF = """
SELECT user_id, event_id, ts, delta_cents, intvl_sec
FROM (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100) AS BIGINT)
           - lag(CAST(round(value * 100) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_cents,
         epoch(ts) - lag(epoch(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS intvl_sec
  FROM events
) d
WHERE intvl_sec IS NOT NULL
"""


def events_window_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W3: window min/max + partition cardinality without collapsing
    rows (powa--5.2.0.sql:6954, 6961)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.min("ts").over(w).alias("first_ts"),
        F.max("ts").over(w).alias("last_ts"),
        F.count(F.lit(1)).over(w).alias("n_in_partition"),
    )


ORACLE_WINDOW_BOUNDS = """
SELECT user_id, event_id, ts,
       MIN(ts) OVER (PARTITION BY user_id) AS first_ts,
       MAX(ts) OVER (PARTITION BY user_id) AS last_ts,
       COUNT(*) OVER (PARTITION BY user_id) AS n_in_partition
FROM events
"""


def orders_filtered_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 count FILTER + A8 bool_and + A9 representative min."""
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("o_totalprice") > 150000.0, 1).otherwise(0)
        ).alias("n_big"),
        F.bool_and(F.col("o_orderstatus") == "O").alias("all_open"),
        F.min("o_orderdate").alias("min_orderdate"),
    )


ORACLE_FILTERED_COUNTS = """
SELECT o_orderpriority,
       COUNT(*) AS n_total,
       CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS BIGINT) AS n_big,
       bool_and(o_orderstatus = 'O') AS all_open,
       MIN(o_orderdate) AS min_orderdate
FROM orders GROUP BY o_orderpriority
"""


MERGE_T = "2000-01-01 00:00:00"


def dim_merge_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/D4 snapshot-replace diff: classify dimension members as
    new/dropped/kept via one full-outer join (the Spark MERGE shape for
    powa db-list reconciliation, powa--5.2.0.sql:3746-3786, 5611-5701)."""
    orders = t(spark, sf_dir, "orders")
    cut = F.lit(MERGE_T).cast("timestamp")
    old = (
        orders.filter(F.col("o_orderdate") < cut)
        .select(F.col("o_custkey").alias("old_key"))
        .distinct()
    )
    new = (
        orders.filter(F.col("o_orderdate") >= cut)
        .select(F.col("o_custkey").alias("new_key"))
        .distinct()
    )
    j = old.join(new, old.old_key == new.new_key, "full_outer")
    return j.select(
        F.coalesce("old_key", "new_key").alias("custkey"),
        F.when(F.col("old_key").isNull(), F.lit("new"))
        .when(F.col("new_key").isNull(), F.lit("dropped"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )


ORACLE_MERGE_CLASSIFY = f"""
SELECT COALESCE(old_key, new_key) AS custkey,
       CASE WHEN old_key IS NULL THEN 'new'
            WHEN new_key IS NULL THEN 'dropped'
            ELSE 'kept' END AS status
FROM (SELECT DISTINCT o_custkey AS old_key FROM orders
      WHERE o_orderdate < TIMESTAMP '{MERGE_T}') o
FULL OUTER JOIN
     (SELECT DISTINCT o_custkey AS new_key FROM orders
      WHERE o_orderdate >= TIMESTAMP '{MERGE_T}') n
  ON o.old_key = n.new_key
"""


def guaranteed_row_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: LEFT JOIN ... ON true from a 1-row frame so an empty source
    still emits one (all-NULL) row (powa--5.2.0.sql:4381-4382)."""
    one = spark.range(1).select(F.lit("snapshot").alias("marker"))
    src = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 1e8)  # empty at every SF
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_sup"))
    )
    return one.join(src, F.lit(True), "left").select(
        "marker", "s_nationkey", "n_sup"
    )


ORACLE_GUARANTEED_ROW = """
SELECT 'snapshot' AS marker, s_nationkey, n_sup
FROM (SELECT 1 AS one)
LEFT JOIN (SELECT s_nationkey, COUNT(*) AS n_sup
           FROM supplier WHERE s_acctbal > 1e8
           GROUP BY s_nationkey) s ON true
"""


def user_nation_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: left join against a deduped dimension + COALESCE(key, 0) for
    unmatched rows (wait-sampling queryid→dbid resolution,
    powa--5.2.0.sql:7315-7334)."""
    ev = t(spark, sf_dir, "events")
    dim = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .distinct()
    )
    j = ev.join(
        F.broadcast(dim), ev.user_id == dim.c_custkey, "left"
    )
    return (
        j.select(F.coalesce("c_nationkey", F.lit(0)).alias("nationkey"),
                 cents(F.col("value")).alias("value_cents"))
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value_cents").alias("sum_value_cents"))
    )


ORACLE_USER_NATION = """
SELECT COALESCE(c_nationkey, 0) AS nationkey,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
LEFT JOIN (SELECT DISTINCT c_custkey, c_nationkey FROM customer) c
  ON user_id = c_custkey
GROUP BY COALESCE(c_nationkey, 0)
"""


def salted_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant big x medium equi join (functions/skew.py
    salted_join): big side salted, dim side replicated salt times so a
    hot key's rows spread over salt reducers.  The result — and the
    oracle — is exactly the unsalted join; only the physical row routing
    differs.  Broadcast is disabled for the dim here on purpose: the
    pattern targets dims too big to broadcast."""
    from .functions.skew import salted_join

    ev = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"),
        cents(F.col("value")).alias("value_cents"),
    )
    dim = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .distinct()
    )
    return (
        salted_join(ev, dim, ["c_custkey"], salt=8)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("sum_value_cents"),
        )
    )


ORACLE_SALTED_JOIN = """
SELECT c_nationkey,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
JOIN (SELECT DISTINCT c_custkey, c_nationkey FROM customer) c
  ON user_id = c_custkey
GROUP BY c_nationkey
"""


REF_CONTAINERS = ["ECONOMY", "PROMO", "TURBO"]


def container_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 array_except + O7 containment (`<@`) over collected sets; arrays
    serialized to CSV so the value-hash compare is representation-stable."""
    ref = F.array(*[F.lit(c) for c in REF_CONTAINERS])
    per_brand = (
        t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.sort_array(F.collect_set("p_type")).alias("containers"))
    )
    missing = F.array_except(ref, F.col("containers"))
    return per_brand.select(
        "p_brand",
        F.concat_ws(",", missing).alias("missing_csv"),
        F.size(F.array_except(F.col("containers"), ref)).alias("n_extra"),
        (F.size(missing) == 0).alias("covers_ref"),
    )


ORACLE_ARRAY_OPS = f"""
WITH per_brand AS (
  SELECT p_brand,
         list_sort(list_distinct(list(p_type))) AS containers
  FROM part GROUP BY p_brand
), calc AS (
  SELECT p_brand,
         list_filter({REF_CONTAINERS!r}, x -> NOT list_contains(containers, x))
           AS missing,
         CAST(len(list_filter(containers,
           x -> NOT list_contains({REF_CONTAINERS!r}, x))) AS INT) AS n_extra
  FROM per_brand
)
SELECT p_brand, array_to_string(missing, ',') AS missing_csv, n_extra,
       len(missing) = 0 AS covers_ref
FROM calc
"""


def lineitem_xor_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: xor side-selector filter + CASE projection
    (powa--5.2.0.sql:7039-7062)."""
    li = t(spark, sf_dir, "lineitem")
    is_air = F.col("l_linestatus") == "F"
    is_ret = F.col("l_returnflag") == "R"
    return (
        li.filter(is_air != is_ret)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.when(is_air, F.lit("finished_side"))
            .otherwise(F.lit("return_side"))
            .alias("side"),
            cents(F.col("l_extendedprice")).alias("price_cents"),
        )
    )


ORACLE_XOR_CASE = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_linestatus = 'F' THEN 'finished_side'
            ELSE 'return_side' END AS side,
       CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
FROM lineitem
WHERE (l_linestatus = 'F') != (l_returnflag = 'R')
"""


def events_two_level_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's two-level materialization (per-entity + per-db
    `_db` tables, A1) as one unioned rollup; level marked by user_id=-1."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", "user_id", cents(F.col("value")).alias("value_cents")
    )
    lvl1 = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("sum_value_cents"),
    )
    lvl2 = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("sum_value_cents"),
        )
        .select(
            "event_type",
            F.lit(-1).cast("long").alias("user_id"),
            "n_events",
            "sum_value_cents",
        )
    )
    return lvl1.unionByName(lvl2)


ORACLE_TWO_LEVEL = """
SELECT event_type, user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY event_type, user_id
UNION ALL
SELECT event_type, CAST(-1 AS BIGINT) AS user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY event_type
"""


def constvalues_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/W1: the qualstats constvalues 6-ranking top-20 job
    (powa--5.2.0.sql:6924-6982) over events mapped to the qualstats input
    shape (qual = event_type, constvalue = user_id).  Ranked arrays are
    serialized to CSV for a representation-stable compare."""
    from .operators.topk import qualstats_constvalues_topk

    ev = t(spark, sf_dir, "events")
    pre = (
        ev.groupBy(
            F.lit(0).alias("srvid"),
            F.col("event_type").alias("qualid"),
            F.lit(0).alias("queryid"),
            F.lit(0).alias("dbid"),
            F.lit(0).alias("userid"),
            F.col("user_id").cast("string").alias("constvalues"),
        )
        .agg(
            F.count(F.lit(1)).alias("sum_occurences"),
            # +1 keeps the sum strictly positive (single event_id=0 group
            # would hit divide-by-zero, where engines diverge: inf vs 0.0)
            F.sum(F.col("event_id") + 1).alias("sum_execution_count"),
            F.sum(cents(F.col("value"))).alias("sum_nbfiltered"),
            F.min("ts").alias("mints"),
            F.max("ts").alias("maxts"),
        )
        .withColumn(
            "mean_err_estimate_ratio",
            F.col("sum_nbfiltered").cast("double") / F.col("sum_occurences"),
        )
        .withColumn(
            "mean_err_estimate_num", F.col("sum_nbfiltered") + F.lit(0)
        )
    )
    out = qualstats_constvalues_topk(pre, k=20)
    csv = lambda c: F.concat_ws(  # noqa: E731
        ",", F.transform(F.col(c), lambda x: x["constvalues"])
    ).alias(c)
    return out.select(
        "qualid",
        csv("most_used"),
        csv("most_filtering"),
        csv("least_filtering"),
        csv("most_executed"),
        csv("most_errestim_ratio"),
        csv("most_errestim_num"),
        "mints",
        "maxts",
    )


ORACLE_CONSTVALUES_TOPK = """
WITH pre AS (
  SELECT event_type AS qualid,
         CAST(user_id AS VARCHAR) AS constvalues,
         COUNT(*) AS n_occ,
         SUM(event_id + 1) AS n_exec,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS n_filt,
         MIN(ts) AS mints, MAX(ts) AS maxts
  FROM events GROUP BY event_type, CAST(user_id AS VARCHAR)
), calc AS (
  SELECT *,
         CAST(n_filt AS DOUBLE) / n_exec AS filtered_ratio,
         CAST(n_filt AS DOUBLE) / n_occ AS err_ratio
  FROM pre
), ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY n_occ DESC, constvalues) AS r_used,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY filtered_ratio DESC, constvalues) AS r_filt,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY filtered_ratio ASC, constvalues) AS r_least,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY n_exec DESC, constvalues) AS r_exec,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY err_ratio DESC, constvalues) AS r_erat,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY n_filt DESC, constvalues) AS r_enum
  FROM calc
)
SELECT qualid,
  string_agg(constvalues, ',' ORDER BY r_used)
    FILTER (WHERE r_used <= 20) AS most_used,
  string_agg(constvalues, ',' ORDER BY r_filt)
    FILTER (WHERE r_filt <= 20) AS most_filtering,
  string_agg(constvalues, ',' ORDER BY r_least)
    FILTER (WHERE r_least <= 20) AS least_filtering,
  string_agg(constvalues, ',' ORDER BY r_exec)
    FILTER (WHERE r_exec <= 20) AS most_executed,
  string_agg(constvalues, ',' ORDER BY r_erat)
    FILTER (WHERE r_erat <= 20) AS most_errestim_ratio,
  string_agg(constvalues, ',' ORDER BY r_enum)
    FILTER (WHERE r_enum <= 20) AS most_errestim_num,
  MIN(mints) AS mints, MAX(maxts) AS maxts
FROM ranked
GROUP BY qualid
"""


def constvalues_history_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END ``powa_qualstats_aggregate`` constvalues half
    (powa--5.2.0.sql:7193-7233 via :6924-6982), running the REAL wired
    operator against a scratch warehouse: events rows mapped onto the
    constvalues_history_current shape, ``qualstats_aggregate`` packs
    them into one six-ranked-array history row per qual, and the packed
    table is read back with the arrays CSV-serialized for a
    representation-stable compare.

    The err-estimate fields are constant within each (qual, constvalue)
    group (derived from user_id), so the double AVGs are exact and
    engine-portable."""
    import tempfile

    from .operators import qualstats as qs
    from .storage import Warehouse

    wh = Warehouse(spark, tempfile.mkdtemp(prefix="powa_cvh_query_"))
    ev = t(spark, sf_dir, "events")
    cur = ev.select(
        F.lit(1).cast("int").alias("srvid"),
        (F.col("user_id") % 5).alias("qualid"),
        F.lit(0).cast("long").alias("queryid"),
        F.lit(0).cast("long").alias("dbid"),
        F.lit(0).cast("long").alias("userid"),
        F.col("ts"),
        F.lit(1).cast("long").alias("occurences"),
        (F.col("event_id") % 1000 + 1).alias("execution_count"),
        cents(F.col("value")).alias("nbfiltered"),
        (F.col("user_id") % 7).cast("double").alias("mean_err_estimate_ratio"),
        (F.col("user_id") % 3).cast("double").alias("mean_err_estimate_num"),
        F.array(F.col("user_id").cast("string")).alias("constvalues"),
    )
    wh.append(cur, qs.CONSTVALUES_TABLE, partition_by=["srvid"])
    qs.qualstats_aggregate(wh, 1)
    hist = qs.constvalues_history(wh, 1)
    csv = lambda c: F.concat_ws(  # noqa: E731
        ",", F.transform(F.col(c), lambda x: F.array_join(x["constvalues"], "|"))
    ).alias(c)
    return hist.select(
        "qualid",
        csv("most_used"),
        csv("most_filtering"),
        csv("least_filtering"),
        csv("most_executed"),
        csv("most_errestim_ratio"),
        csv("most_errestim_num"),
        "range_start",
        "range_end",
    )


ORACLE_CONSTVALUES_HISTORY_PACK = """
WITH src AS (
  SELECT user_id % 5 AS qualid,
         CAST(user_id AS VARCHAR) AS cv,
         ts,
         1 AS occ,
         event_id % 1000 + 1 AS exec_c,
         CAST(round(value * 100) AS BIGINT) AS filt,
         CAST(user_id % 7 AS DOUBLE) AS e_ratio,
         CAST(user_id % 3 AS DOUBLE) AS e_num
  FROM events
), pre AS (
  SELECT qualid, cv,
         MIN(ts) AS mints, MAX(ts) AS maxts,
         SUM(occ) AS n_occ,
         SUM(filt) AS n_filt,
         SUM(exec_c) AS n_exec,
         AVG(e_ratio) AS e_ratio,
         AVG(e_num) AS e_num
  FROM src GROUP BY qualid, cv
), calc AS (
  SELECT *,
         CASE WHEN n_exec = 0 THEN 0.0
              ELSE CAST(n_filt AS DOUBLE) / n_exec END AS fr
  FROM pre
), ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY n_occ DESC, cv) AS r_used,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY fr DESC, cv) AS r_filt,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY fr ASC, cv) AS r_least,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY n_exec DESC, cv) AS r_exec,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY e_ratio DESC, cv) AS r_erat,
    ROW_NUMBER() OVER (PARTITION BY qualid
      ORDER BY e_num DESC, cv) AS r_enum
  FROM calc
)
SELECT qualid,
  string_agg(cv, ',' ORDER BY r_used)
    FILTER (WHERE r_used <= 20) AS most_used,
  string_agg(cv, ',' ORDER BY r_filt)
    FILTER (WHERE r_filt <= 20) AS most_filtering,
  string_agg(cv, ',' ORDER BY r_least)
    FILTER (WHERE r_least <= 20) AS least_filtering,
  string_agg(cv, ',' ORDER BY r_exec)
    FILTER (WHERE r_exec <= 20) AS most_executed,
  string_agg(cv, ',' ORDER BY r_erat)
    FILTER (WHERE r_erat <= 20) AS most_errestim_ratio,
  string_agg(cv, ',' ORDER BY r_enum)
    FILTER (WHERE r_enum <= 20) AS most_errestim_num,
  MIN(mints) AS range_start, MAX(maxts) AS range_end
FROM ranked
GROUP BY qualid
"""


def price_above_global_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: CROSS JOIN against a 1-row global aggregate (the bgwriter pg17
    shim pattern, powa--5.2.0.sql:4639-4645) — every row compared to a
    corpus-wide statistic without a self-join."""
    li = t(spark, sf_dir, "lineitem")
    # exact integer comparison (price*n > 2*sum), never a double average:
    # double reductions are summation-order-dependent across engines
    stat = li.agg(
        F.sum(cents(F.col("l_extendedprice"))).alias("sum_cents"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        li.crossJoin(F.broadcast(stat))
        .filter(
            2 * cents(F.col("l_extendedprice")) * F.col("n")
            > 3 * F.col("sum_cents")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            cents(F.col("l_extendedprice")).alias("price_cents"),
        )
    )


ORACLE_ABOVE_AVG = """
SELECT l_orderkey, l_linenumber,
       CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
FROM lineitem
CROSS JOIN (SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents,
                   COUNT(*) AS n
            FROM lineitem) s
WHERE 2 * CAST(round(l_extendedprice * 100) AS BIGINT) * n > 3 * sum_cents
"""


def union_dictionary_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 + P4: join facts against a deduped UNION of two dictionaries
    (the qualstats statement-dictionary union join,
    powa--5.2.0.sql:7070-7080), with a prefix-exclusion filter on the
    dictionary side (the toast-schema LIKE filter, powa--5.2.0.sql:353)."""
    recent = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("custkey"))
    )
    building = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    dic = recent.union(building).distinct()
    cust = t(spark, sf_dir, "customer").filter(
        ~F.col("c_name").startswith("Customer#00000001")
    )
    return (
        cust.join(F.broadcast(dic), cust.c_custkey == dic.custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents(F.col("c_acctbal"))).alias("sum_acctbal_cents"),
        )
    )


ORACLE_UNION_DICT = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS sum_acctbal_cents
FROM customer
JOIN (SELECT o_custkey AS custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
      UNION
      SELECT c_custkey AS custkey FROM customer
      WHERE c_mktsegment = 'BUILDING') d
  ON c_custkey = d.custkey
WHERE c_name NOT LIKE 'Customer#00000001%'
GROUP BY c_mktsegment
"""


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery decorrelation (TPC-H Q2 shape): the cheapest
    lineitem price per part, joined back to recover the supplier —
    expressed as a min-aggregate + equi-join instead of a per-row
    subquery."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        cents(F.col("l_extendedprice")).alias("price_cents"),
    )
    mins = li.groupBy("l_partkey").agg(F.min("price_cents").alias("min_cents"))
    return (
        li.join(F.broadcast(mins), "l_partkey")
        .filter(F.col("price_cents") == F.col("min_cents"))
        .groupBy("l_partkey")
        .agg(
            F.min("l_suppkey").alias("suppkey"),  # deterministic tie-break
            F.min("min_cents").alias("min_price_cents"),
        )
    )


ORACLE_CHEAPEST = """
SELECT l_partkey, CAST(MIN(l_suppkey) AS BIGINT) AS suppkey,
       MIN(min_cents) AS min_price_cents
FROM (
  SELECT l.l_partkey, l.l_suppkey,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_cents,
         m.min_cents
  FROM lineitem l
  JOIN (SELECT l_partkey,
               MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS min_cents
        FROM lineitem GROUP BY l_partkey) m
    ON l.l_partkey = m.l_partkey
  WHERE CAST(round(l.l_extendedprice * 100) AS BIGINT) = m.min_cents
) x
GROUP BY l_partkey
"""


def salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 rollup computed through the salted two-phase path (skew
    mitigation); algebraic ops make it bit-identical to a direct
    groupBy — which is exactly what the oracle computes."""
    from .functions.skew import salted_agg

    ev = t(spark, sf_dir, "events").select(
        "event_type", cents(F.col("value")).alias("value_cents")
    )
    return salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": ("count", "value_cents"),
            "sum_value_cents": ("sum", "value_cents"),
            "max_value_cents": ("max", "value_cents"),
        },
    )


ORACLE_SALTED = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_value_cents,
       MAX(CAST(round(value * 100) AS BIGINT)) AS max_value_cents
FROM events GROUP BY event_type
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (data-driven window boundaries — the
    operator built-in windows can't express; streaming twin uses
    applyInPandasWithState)."""
    from .streaming.sessionize import sessionize_batch

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return sessionize_batch(ev, gap_s=1800)


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), idx AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT)
              AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, MIN(ts) AS session_start,
       MAX(ts) AS session_end, COUNT(*) AS n_events
FROM idx GROUP BY user_id, session_idx
"""


def priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation over a fact-dimension join (TPC-H Q12
    shape): per returnflag, split line counts by order priority class."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp"))
    )
    orders = t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


ORACLE_PRIORITY_LINES = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
GROUP BY l_returnflag
"""


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-of-aggregates (TPC-H Q14 shape): promo revenue share as one
    exact-int division (deterministic double from exact operands)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0)).alias(
            "promo_rev_c4"
        ),
        F.sum(rev).alias("total_rev_c4"),
    )
    return agg.select(
        "promo_rev_c4",
        "total_rev_c4",
        (
            100.0 * F.col("promo_rev_c4").cast("double")
            / F.col("total_rev_c4")
        ).alias("promo_share_pct"),
    )


ORACLE_PROMO_SHARE = """
SELECT promo_rev_c4, total_rev_c4,
       100.0 * CAST(promo_rev_c4 AS DOUBLE) / total_rev_c4 AS promo_share_pct
FROM (
  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                  THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                       AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_rev_c4,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT)) AS BIGINT) AS total_rev_c4
  FROM lineitem JOIN part ON l_partkey = p_partkey
) s
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def qualstats_snapshot_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END ``powa_qualstats_snapshot`` (powa--5.2.0.sql:7104-7184),
    running the REAL wired operator against a scratch warehouse:

    - events rows mapped onto the qualstats src shape (plan-instance id,
      qual id, counters, qual atoms);
    - a customer-derived statements dictionary (the gate's EXISTS side);
    - ``operators.qualstats.qualstats_snapshot``: gate -> quals-atom
      dedup -> per-qual rollup -> constvalues -> staging drain;
    - result = the per-qual rollup read back from the current table,
      joined with the deduped atom count from the quals dictionary.

    The AVG'd error estimates are constant within each rollup group
    (derived from group-key columns), so the double averages are exact
    and engine-portable."""
    import tempfile

    from .operators import dictionary
    from .operators import qualstats as qs
    from .storage import Warehouse

    wh = Warehouse(spark, tempfile.mkdtemp(prefix="powa_qs_query_"))
    ev = t(spark, sf_dir, "events")
    src = ev.select(
        F.lit(1).cast("int").alias("srvid"),
        F.date_trunc("day", F.col("ts")).alias("ts"),
        (F.col("event_id") % 3).alias("uniquequalnodeid"),
        (F.col("user_id") % 5).alias("dbid"),
        (F.col("user_id") % 7).alias("userid"),
        (F.col("user_id") % 11).alias("qualnodeid"),
        F.lit(1).cast("long").alias("occurences"),
        (F.col("event_id") % 1000 + 1).alias("execution_count"),
        cents(F.col("value")).alias("nbfiltered"),
        (F.col("user_id") % 11).cast("double").alias("mean_err_estimate_ratio"),
        (F.col("user_id") % 5).cast("double").alias("mean_err_estimate_num"),
        (F.col("user_id") % 50).alias("queryid"),
        F.array(F.col("user_id").cast("string")).alias("constvalues"),
        F.array(
            F.struct(
                (F.col("user_id") % 50).alias("relid"),
                (F.col("event_id") % 3).cast("int").alias("attnum"),
                F.lit(96).cast("long").alias("opno"),
                F.lit("f").alias("eval_type"),
            )
        ).alias("quals"),
    )
    wh.append(src, Warehouse.src_tmp(qs.QUALSTATS_SPEC.name),
              partition_by=["srvid"])

    stmts = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 750)
        .select(
            (F.col("c_custkey") % 50).alias("queryid"),
            (F.col("c_custkey") % 5).alias("dbid"),
            (F.col("c_custkey") % 7).alias("userid"),
            F.concat(F.lit("q"), (F.col("c_custkey") % 50)).alias("query"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        )
    )
    dictionary.merge_statements(wh, 1, stmts)
    qs.qualstats_snapshot(wh, 1)

    keys = ["qualid", "queryid", "dbid", "userid"]
    cur = wh.read(Warehouse.current(qs.QUALSTATS_SPEC.name)).select(
        *keys, "ts", "occurences", "execution_count", "nbfiltered",
        "mean_err_estimate_ratio", "mean_err_estimate_num",
    )
    atoms = qs.read_quals(wh, 1).select(
        *keys, F.size("quals").alias("n_atoms")
    )
    return cur.join(atoms, keys)


ORACLE_QUALSTATS_SNAPSHOT = """
WITH src AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts,
         user_id % 11 AS qualid,
         user_id % 50 AS queryid,
         user_id % 5 AS dbid,
         user_id % 7 AS userid,
         event_id % 3 AS inst,
         1 AS occurences,
         event_id % 1000 + 1 AS execution_count,
         CAST(round(value * 100) AS BIGINT) AS nbfiltered,
         CAST(user_id % 11 AS DOUBLE) AS ratio,
         CAST(user_id % 5 AS DOUBLE) AS num
  FROM events
), gated AS (
  SELECT s.* FROM src s
  WHERE EXISTS (
    SELECT 1 FROM customer c
    WHERE c.c_custkey <= 750
      AND c.c_custkey % 50 = s.queryid
      AND c.c_custkey % 5 = s.dbid
      AND c.c_custkey % 7 = s.userid)
), rolled AS (
  SELECT qualid, queryid, dbid, userid, ts,
         CAST(SUM(occurences) AS BIGINT) AS occurences,
         CAST(SUM(execution_count) AS BIGINT) AS execution_count,
         CAST(SUM(nbfiltered) AS BIGINT) AS nbfiltered,
         AVG(ratio) AS mean_err_estimate_ratio,
         AVG(num) AS mean_err_estimate_num
  FROM gated GROUP BY 1, 2, 3, 4, 5
), atoms AS (
  SELECT qualid, queryid, dbid, userid,
         CAST(COUNT(DISTINCT inst) AS INT) AS n_atoms
  FROM gated GROUP BY 1, 2, 3, 4
)
SELECT r.qualid, r.queryid, r.dbid, r.userid, r.ts, r.occurences,
       r.execution_count, r.nbfiltered, r.mean_err_estimate_ratio,
       r.mean_err_estimate_num, a.n_atoms
FROM rolled r JOIN atoms a USING (qualid, queryid, dbid, userid)
"""


def wait_sampling_snapshot_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END wait_sampling ingest (powa--5.2.0.sql:7297-7341) on the
    real wired operators against a scratch warehouse:

    - statements dictionary from customer (queryid -> several dbids: the
      DISTINCT projection MULTIPLIES samples per executing db, exactly
      the reference's join semantics);
    - databases dimension with one db soft-DELETED (P3: its samples are
      excluded);
    - raw per-pid profile samples from events (no dbid) resolved via
      ``operators.wait_sampling.resolve_wait_sampling`` (J8; unknown
      queryids fall back to dbid 0), then ``operators.snapshot`` with the
      engine's per-db rollup;
    - result = the current slice joined with the engine-written db
      rollup."""
    import tempfile

    from .operators import dictionary
    from .operators.databases import databases_snapshot
    from .operators.snapshot import snapshot as snapshot_job
    from .operators.wait_sampling import resolve_wait_sampling
    from .specs import WAIT_SAMPLING
    from .storage import Warehouse

    wh = Warehouse(spark, tempfile.mkdtemp(prefix="powa_ws_query_"))
    stmts = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 750)
        .select(
            (F.col("c_custkey") % 50).alias("queryid"),
            (F.col("c_custkey") % 3).alias("dbid"),
            (F.col("c_custkey") % 7).alias("userid"),
            F.concat(F.lit("q"), (F.col("c_custkey") % 50)).alias("query"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        )
    )
    dictionary.merge_statements(wh, 1, stmts)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    databases_snapshot(
        wh, 1,
        local_frame(spark, [(0, "db0"), (1, "db1"), (2, "db2")],
                    "oid long, datname string"),
        now=t0,
    )
    databases_snapshot(  # db2 disappears -> soft-deleted (dropped)
        wh, 1,
        local_frame(spark, [(0, "db0"), (1, "db1")],
                    "oid long, datname string"),
        now=t0 + dt.timedelta(hours=1),
    )
    ev = t(spark, sf_dir, "events")
    samples = ev.select(
        F.date_trunc("day", F.col("ts")).alias("ts"),
        F.concat(F.lit("et"), (F.col("event_id") % 3)).alias("event_type"),
        F.concat(F.lit("ev"), (F.col("user_id") % 13)).alias("event"),
        (F.col("user_id") % 60).alias("queryid"),
        F.lit(1).cast("decimal(38,0)").alias("count"),
    )
    cap = resolve_wait_sampling(wh, 1, samples)
    snapshot_job(wh, WAIT_SAMPLING, 1, capture=cap, drop_staging=False)

    cur = wh.read(
        Warehouse.current(WAIT_SAMPLING.name), WAIT_SAMPLING.current_schema
    ).select(
        "dbid", "event_type", "event", "queryid", "ts",
        F.col("count").cast("long").alias("count"),
    )
    roll = wh.read(Warehouse.current_db(WAIT_SAMPLING.name)).select(
        "dbid", "ts", F.col("count").cast("long").alias("db_count")
    )
    return cur.join(roll, ["dbid", "ts"])


ORACLE_WAIT_SAMPLING = """
WITH dict AS (
  SELECT DISTINCT c_custkey % 50 AS queryid, c_custkey % 3 AS dbid
  FROM customer WHERE c_custkey <= 750
), samples AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts,
         'et' || CAST(event_id % 3 AS VARCHAR) AS event_type,
         'ev' || CAST(user_id % 13 AS VARCHAR) AS event,
         user_id % 60 AS queryid, 1 AS cnt
  FROM events
), resolved AS (
  SELECT s.ts, s.event_type, s.event, s.queryid,
         COALESCE(d.dbid, 0) AS dbid, s.cnt
  FROM samples s LEFT JOIN dict d USING (queryid)
  WHERE COALESCE(d.dbid, 0) != 2
), agg AS (
  SELECT dbid, event_type, event, queryid, ts,
         CAST(SUM(cnt) AS BIGINT) AS count
  FROM resolved GROUP BY 1, 2, 3, 4, 5
), roll AS (
  SELECT dbid, ts, CAST(SUM(count) AS BIGINT) AS db_count
  FROM agg GROUP BY dbid, ts
)
SELECT a.dbid, a.event_type, a.event, a.queryid, a.ts, a.count, r.db_count
FROM agg a JOIN roll r USING (dbid, ts)
"""


def snapshot_lifecycle_unpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+A2+P8 END-TO-END on the real engine jobs: events-derived
    per-day counter samples appended via ``operators.snapshot``, packed
    into history via ``operators.aggregate`` (ts-ordered record arrays +
    min/max sketches + current drain), then range-read back through the
    two-phase ``unpack`` — all against a scratch warehouse.  The output
    joins the unpacked rows with the per-entity packing sketch, so the
    oracle checks the whole chain round-trips losslessly."""
    import tempfile

    from .operators.aggregate import aggregate
    from .operators.snapshot import snapshot as snapshot_job
    from .storage import Warehouse

    spec = DatasourceSpec(
        name="ev_lifecycle", kind="module",
        keys=(Key("user_id", "oid"),),
        counters=(Counter("n_events"), Counter("value_cents")),
    )
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="powa_life_query_"))
    ev = t(spark, sf_dir, "events")
    cap = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("ts"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).alias("value_cents"),
        )
        .select(F.lit(1).cast("int").alias("srvid"), "user_id", "ts",
                "n_events", "value_cents")
    )
    snapshot_job(wh, spec, 1, capture=cap, drop_staging=False)
    aggregate(wh, spec, 1)

    hist = wh.read(Warehouse.history(spec.name), spec.history_schema)
    lo = F.to_timestamp(F.lit("2024-01-05 00:00:00"))
    hi = F.to_timestamp(F.lit("2024-01-15 00:00:00"))
    rows = unpack(hist, spec, lo, hi)
    sketch = hist.select(
        "user_id",
        F.size("records").alias("n_records"),
        F.col("mins_in_range.value_cents").alias("min_cents"),
        F.col("maxs_in_range.value_cents").alias("max_cents"),
    )
    return rows.join(sketch, "user_id").select(
        "user_id", "ts", "n_events", "value_cents",
        "n_records", "min_cents", "max_cents",
    )


ORACLE_LIFECYCLE_UNPACK = """
WITH rolled AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM events GROUP BY 1, 2
), sketch AS (
  SELECT user_id, CAST(COUNT(*) AS INT) AS n_records,
         MIN(value_cents) AS min_cents, MAX(value_cents) AS max_cents
  FROM rolled GROUP BY user_id
)
SELECT r.user_id, r.ts, r.n_events, r.value_cents,
       s.n_records, s.min_cents, s.max_cents
FROM rolled r JOIN sketch s USING (user_id)
WHERE r.ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND r.ts <= TIMESTAMP '2024-01-15 00:00:00'
"""


def versioned_layout_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/P6 as an oracle-checked query, on the REAL registered layouts:
    events-derived rows land in pg_stat_database staging carrying a
    pg14-only column (session_time), and the read resolves the pg12
    layout epoch (powa--5.2.0.sql:4751-4766) — native columns projected,
    the too-new column DROPPED to NULL, absent columns NULL-shimmed.
    The oracle replays the projection the layout mandates."""
    import tempfile

    from .sources.readers import read_staging
    from .sources.versions import MODULE_SOURCES
    from .specs import MODULE_SPECS
    from .storage import Warehouse

    spec = MODULE_SPECS["pg_stat_database"]
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="powa_vlr_query_"))
    ev = t(spark, sf_dir, "events")
    raw = (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("ts"),
            (F.col("user_id") % 5 + 16384).alias("datid"),
        )
        .agg(
            F.count(F.lit(1)).alias("xact_commit"),
            F.sum(cents(F.col("value"))).alias("blks_read"),
            F.max("user_id").alias("checksum_failures"),
        )
        .withColumn("srvid", F.lit(1).cast("int"))
        # a column the pg12 layout must NOT pass through (pg14+ only)
        .withColumn("session_time", F.lit(42.0))
    )
    wh.append(raw, Warehouse.src_tmp(spec.name), partition_by=["srvid"])
    out = read_staging(wh, spec, srvid=1, server_version=120012,
                       source=MODULE_SOURCES[spec.name])
    return out.select(
        "datid", "ts", "xact_commit", "blks_read", "checksum_failures",
        "session_time", "sessions", "tup_returned",
    )


ORACLE_VERSIONED_LAYOUT = """
SELECT user_id % 5 + 16384 AS datid,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts,
       CAST(COUNT(*) AS BIGINT) AS xact_commit,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS blks_read,
       CAST(MAX(user_id) AS BIGINT) AS checksum_failures,
       CAST(NULL AS DOUBLE) AS session_time,
       CAST(NULL AS BIGINT) AS sessions,
       CAST(NULL AS BIGINT) AS tup_returned
FROM events GROUP BY 1, 2
"""


def events_sampled_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The powa-web PLOT query shape (§3.4 read surface, mirrored by
    operators.read.stat_get_sample): downsample each entity's counter
    series to ~N points with the ``row_number % (total/N + 1) = 0``
    pattern, THEN rate between the KEPT points — each plotted sample
    smooths the skipped interval rather than dropping its delta.

    Both window frames share one partitioning (user_id), so the whole
    query is a single exchange+sort; the range filter would prune
    partitions before the shuffle on a ts-partitioned table."""
    n_samples = 20
    ev = _events_as_series(spark, sf_dir)
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_all = Window.partitionBy("user_id")
    sampled = (
        ev.withColumn("number", F.row_number().over(w_ord))
        .withColumn("total", F.count(F.lit(1)).over(w_all))
        .filter(
            F.col("number")
            % (F.floor(F.col("total") / F.lit(float(n_samples))).cast("long")
               + F.lit(1))
            == 0
        )
    )
    epoch = epoch_seconds("ts")
    prev_epoch = F.lag(epoch).over(w_ord)
    delta = F.col("value_cents") - F.lag("value_cents").over(w_ord)
    sec = epoch - prev_epoch
    clamped = F.when(sec < 1.0, F.lit(1.0)).otherwise(sec)
    return (
        sampled.select(
            "user_id",
            "ts",
            F.col("number").alias("sample_no"),
            delta.alias("delta_cents"),
            (delta.cast("double") / 100 / clamped).alias("rate_per_sec"),
        )
        .filter(F.col("delta_cents").isNotNull())
    )


ORACLE_SAMPLED_RATES = """
WITH series AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS value_cents,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS number,
         COUNT(*) OVER (PARTITION BY user_id) AS total
  FROM events
), sampled AS (
  SELECT * FROM series
  WHERE number % (CAST(floor(total / 20.0) AS BIGINT) + 1) = 0
), stepped AS (
  SELECT user_id, ts, number AS sample_no,
         value_cents - LAG(value_cents) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS delta_cents,
         epoch(ts) - LAG(epoch(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS sec
  FROM sampled
)
SELECT user_id, ts, sample_no, delta_cents,
       CAST(delta_cents AS DOUBLE) / 100 /
         (CASE WHEN sec < 1.0 THEN 1.0 ELSE sec END) AS rate_per_sec
FROM stepped WHERE delta_cents IS NOT NULL
"""


def events_top_consumers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query twin of operators.read.top_consumers (powa-web landing
    page): per-entity sum of positive counter deltas over the range,
    reset-clamped, global top-20 with id tiebreak.

    The top-20 is TakeOrdered (``orderBy().limit()`` — per-partition
    heaps merged on the driver, never a single-partition global sort);
    the rank window then runs over at most 20 rows."""
    ev = _events_as_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.col("value_cents") - F.lag("value_cents").over(w)
    clamped = F.when(delta < 0, F.lit(0)).otherwise(delta)
    consumed = (
        ev.select("user_id", clamped.alias("d"))
        .filter(F.col("d").isNotNull())
        .groupBy("user_id")
        .agg(F.sum("d").alias("consumed"), F.count(F.lit(1)).alias("n_samples"))
    )
    order = [F.desc("consumed"), F.asc("user_id")]
    topk = consumed.orderBy(*order).limit(20)
    return topk.withColumn("rank", F.row_number().over(Window.orderBy(*order)))


ORACLE_TOP_CONSUMERS = """
WITH deltas AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT)
           - LAG(CAST(round(value * 100) AS BIGINT)) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS d
  FROM events
), clamped AS (
  SELECT user_id, CASE WHEN d < 0 THEN 0 ELSE d END AS d
  FROM deltas WHERE d IS NOT NULL
), consumed AS (
  SELECT user_id, CAST(SUM(d) AS BIGINT) AS consumed,
         COUNT(*) AS n_samples
  FROM clamped GROUP BY user_id
)
SELECT user_id, consumed, n_samples,
       CAST(ROW_NUMBER() OVER (ORDER BY consumed DESC, user_id) AS INT)
         AS rank
FROM consumed
QUALIFY rank <= 20
"""


def events_rollup_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over (event_type, user bucket): per-bucket,
    per-type subtotals and the grand total in ONE aggregation pass —
    Spark plans a single shuffle with an Expand (3 grouping sets), the
    same shape a reporting layer needs instead of 3 separate queries.
    Null grouping keys are sentinel-coalesced so both engines agree on
    dtypes."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 10).alias("user_bucket"),
        cents(F.col("value")).alias("value_cents"),
    )
    agg = ev.rollup("event_type", "user_bucket").agg(
        (F.grouping("event_type") * 2 + F.grouping("user_bucket"))
        .cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("sum_cents"),
    )
    return agg.select(
        F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
        F.coalesce("user_bucket", F.lit(-1)).alias("user_bucket"),
        "gid",
        "n_events",
        "sum_cents",
    )


ORACLE_ROLLUP_SETS = """
SELECT COALESCE(event_type, '<all>') AS event_type,
       COALESCE(user_bucket, -1) AS user_bucket,
       CAST(GROUPING(event_type) * 2 + GROUPING(user_bucket) AS INT) AS gid,
       COUNT(*) AS n_events,
       CAST(SUM(value_cents) AS BIGINT) AS sum_cents
FROM (
  SELECT event_type, user_id % 10 AS user_bucket,
         CAST(round(value * 100) AS BIGINT) AS value_cents
  FROM events
)
GROUP BY ROLLUP (event_type, user_bucket)
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user-bucket event counts spread into one column per
    event type (explicit value list — at scale an implicit pivot would
    add a distinct-values job).  Catalyst compiles this to conditional
    aggregation: one shuffle, no join."""
    ev = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("user_bucket"), "event_type"
    )
    return (
        ev.groupBy("user_bucket")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )


ORACLE_PIVOT_COUNTS = f"""
SELECT user_id % 10 AS user_bucket,
       {", ".join(
           f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}"
           for t in EVENT_TYPES
       )}
FROM events GROUP BY user_id % 10
"""


def catalog_layout_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 as an oracle-checked query on the REAL registered catalog
    layouts: a part-derived pg_attribute batch staged as a pg11 server
    would send it is projected through ``sources.catalog.stage_catalog``
    — pg11-native columns pass (attidentity, atthasmissing), the too-new
    attcompression is REPLACED by the epoch's literal default (''), the
    pg12+ attgenerated shims to its literal default (''), and a
    never-staged native column (attfdwoptions) lands NULL.  The oracle replays the exact
    projection powa_catalog_src_query(110000) mandates
    (powa--5.2.0.sql:524-533)."""
    from .sources.catalog import stage_catalog

    part = t(spark, sf_dir, "part")
    staged = part.select(
        F.lit(1).cast("int").alias("srvid"),
        (F.col("p_partkey") % 3 + 16384).cast("long").alias("dbid"),
        F.col("p_partkey").alias("attrelid"),
        F.col("p_name").alias("attname"),
        (F.col("p_size") + 20).cast("long").alias("atttypid"),
        F.col("p_size").cast("int").alias("attlen"),
        (F.col("p_partkey") % 16).cast("int").alias("attnum"),
        (F.col("p_size") % 2 == 0).alias("attnotnull"),
        F.lit(False).alias("atthasdef"),
        F.lit(-1).cast("int").alias("attstattarget"),
        F.lit(0).cast("long").alias("attcollation"),
        F.array(F.col("p_brand")).alias("attoptions"),
        F.when(F.col("p_size") % 5 == 0, F.lit("a")).otherwise(F.lit(""))
        .alias("attidentity"),
        (F.col("p_size") % 3 == 0).alias("atthasmissing"),
        # a pg14+ column the pg11 layout must NOT pass through
        F.lit("pglz").alias("attcompression"),
    )
    out = stage_catalog(staged, "pg_attribute", server_version=110000)
    # string-array cells are flattened for the comparator (numpy dtype
    # reprs differ between the two pandas paths); NULL-shimmed arrays
    # compare as their nullness
    return out.select(
        "dbid", "attrelid", "attname", "attnum", "attidentity",
        "atthasmissing", "attgenerated", "attcompression",
        F.concat_ws(",", "attoptions").alias("attoptions_csv"),
        F.col("attfdwoptions").isNull().alias("attfdwoptions_is_null"),
    )


ORACLE_CATALOG_LAYOUT = """
SELECT p_partkey % 3 + 16384 AS dbid,
       p_partkey AS attrelid,
       p_name AS attname,
       CAST(p_partkey % 16 AS INT) AS attnum,
       CASE WHEN p_size % 5 = 0 THEN 'a' ELSE '' END AS attidentity,
       p_size % 3 = 0 AS atthasmissing,
       '' AS attgenerated,
       '' AS attcompression,
       p_brand AS attoptions_csv,
       TRUE AS attfdwoptions_is_null
FROM part
"""


def events_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): every purchase event matched to
    the same user's most recent click at-or-before it — the union-window
    shape (one keyed shuffle, no range-join amplification); ties at the
    same click ts resolve to the largest event_id.  The oracle is
    DuckDB's native ASOF LEFT JOIN over a tie-deduped click side."""
    from .operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", cents(F.col("value")).alias("value_cents")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    return asof_join(
        purchases, clicks, ["user_id"], "ts",
        payload_cols=["event_id"], right_seq_col="event_id",
    )


ORACLE_ASOF_CLICK = """
WITH p AS (
  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS value_cents
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, event_id FROM (
    SELECT user_id, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
)
SELECT p.user_id, p.ts, p.event_id, p.value_cents,
       c.ts AS asof_ts, c.event_id AS asof_event_id
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-set overlap join (operators/interval.py, J11 extended to
    range × range): clicks falling inside each view's 60-minute window,
    per user, via the bin equi-join (no cross join; candidates refined
    by the exact overlap predicate)."""
    from .operators.interval import interval_join

    ev = t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_start"),
        (F.col("ts") + F.expr("INTERVAL 60 MINUTES")).alias("v_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    return interval_join(
        views, clicks, ["user_id"],
        l_start="v_start", l_end="v_end",
        r_start="c_ts", r_end="c_ts",
        bin_width_s=3600,
    ).select("user_id", "view_id", "v_start", "v_end", "click_id", "c_ts")


ORACLE_INTERVAL_JOIN = """
WITH v AS (
  SELECT user_id, event_id AS view_id, ts AS v_start,
         ts + INTERVAL 60 MINUTE AS v_end
  FROM events WHERE event_type = 'view'
), c AS (
  SELECT user_id, event_id AS click_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
)
SELECT v.user_id, view_id, v_start, v_end, click_id, c_ts
FROM v JOIN c ON v.user_id = c.user_id
             AND v_start <= c_ts AND c_ts <= v_end
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase, computed in
    ONE keyed shuffle: a running ``min(when(...))`` window carries each
    user's first view timestamp to every later row, a second window pass
    over the SAME sort order (no extra exchange) carries the first
    qualifying click, and a final per-user aggregate reduces to stage
    flags.  The cascaded-min shape is the scalable alternative to the
    classic three self-joins (which shuffle the events table three
    times); at 100 TB the sort amortizes across both window passes."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = ev.withColumn(
        "v_min",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    staged = staged.withColumn(
        "c_min",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("v_min")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "did_view"
        ),
        F.max(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("v_min")),
                1,
            ).otherwise(0)
        ).alias("did_click"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("c_min")),
                1,
            ).otherwise(0)
        ).alias("did_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum("did_view").alias("n_view"),
        F.sum("did_click").alias("n_view_click"),
        F.sum("did_purchase").alias("n_view_click_purchase"),
    )


ORACLE_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS vts
  FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS cts
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.vts
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT DISTINCT e.user_id
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.cts
  WHERE e.event_type = 'purchase'
)
SELECT CAST((SELECT count(DISTINCT user_id) FROM events) AS BIGINT) AS n_users,
       CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_view_click_purchase
"""


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    event; each later activity week counts toward (cohort_week,
    week_offset).  Two keyed shuffles — first-seen per user, then the
    distinct-user rollup — both on bounded keys (users, then cohort
    cells); the events->first_seen join is a user-keyed equi join that
    co-partitions with the first aggregate."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    first = first.select(
        "user_id", F.date_trunc("week", "first_ts").alias("cohort_week")
    )
    joined = ev.join(first, "user_id")
    return (
        joined.select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.to_date("ts"), F.to_date("cohort_week"))
                .cast("long") / F.lit(7)
            ).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


ORACLE_COHORT = """
WITH f AS (
  SELECT user_id,
         date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT cohort_week,
       CAST(datediff('day', CAST(cohort_week AS DATE), CAST(e.ts AS DATE)) // 7
            AS BIGINT) AS week_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN f USING (user_id)
GROUP BY 1, 2
"""


def events_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame windows the reference never needed (it stores
    whole-partition packs; powa-web does rolling reads client-side):
    per-user 7-row moving sum (ROWS frame over a unique (ts, event_id)
    order) and trailing-1-hour sum (RANGE frame over microsecond epoch —
    peers at the same instant are included by both engines, so ties are
    deterministic).  Both frames share one partition sort."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", cents(F.col("value")).alias("value_cents")
    )
    us = epoch_micros("ts")
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(-6, 0)
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value_cents",
        F.sum("value_cents").over(w_rows).alias("roll7_cents"),
        F.sum("value_cents").over(w_range).alias("hour_cents"),
    )


ORACLE_WINDOW_FRAMES = """
SELECT user_id, event_id, ts,
       CAST(round(value * 100) AS BIGINT) AS value_cents,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll7_cents,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS hour_cents
FROM events
"""


def events_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family over one partition sort:
    percent_rank / cume_dist on the value ordering (peers share ranks,
    so ties are deterministic), ntile(4) and first/last_value over the
    tie-broken (value_cents, event_id) total order.  Extends W1 (the
    reference's 5-ranking constvalues job) to the rank functions the
    reference happens not to use."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", "event_id", cents(F.col("value")).alias("value_cents")
    )
    w_val = Window.partitionBy("event_type").orderBy("value_cents")
    w_uni = Window.partitionBy("event_type").orderBy("value_cents", "event_id")
    w_full = w_uni.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ev.select(
        "event_type",
        "event_id",
        "value_cents",
        F.percent_rank().over(w_val).alias("pct_rank"),
        F.cume_dist().over(w_val).alias("cume"),
        F.ntile(4).over(w_uni).alias("quartile"),
        F.first("event_id").over(w_full).alias("cheapest_event"),
        F.last("event_id").over(w_full).alias("dearest_event"),
    )


ORACLE_RANK_DISTRIBUTION = """
SELECT event_type, event_id,
       CAST(round(value * 100) AS BIGINT) AS value_cents,
       percent_rank() OVER w_val AS pct_rank,
       cume_dist() OVER w_val AS cume,
       CAST(ntile(4) OVER w_uni AS INTEGER) AS quartile,
       first_value(event_id) OVER w_full AS cheapest_event,
       last_value(event_id) OVER w_full AS dearest_event
FROM events
WINDOW
  w_val AS (PARTITION BY event_type ORDER BY CAST(round(value * 100) AS BIGINT)),
  w_uni AS (PARTITION BY event_type
            ORDER BY CAST(round(value * 100) AS BIGINT), event_id),
  w_full AS (PARTITION BY event_type
             ORDER BY CAST(round(value * 100) AS BIGINT), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def events_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank p50/p90/p99 per event_type
    (operators/quantiles.py): one window sort + conditional aggregation,
    integer-only target ranks — bit-identical across engines, unlike
    interpolated/approx percentile built-ins."""
    from .operators.quantiles import grouped_quantiles

    ev = t(spark, sf_dir, "events").select(
        "event_type", "event_id", cents(F.col("value")).alias("value_cents")
    )
    return grouped_quantiles(
        ev, ["event_type"], "value_cents", "event_id", (50, 90, 99)
    )


ORACLE_GROUPED_QUANTILES = """
WITH ranked AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS value_cents,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY CAST(round(value * 100) AS BIGINT), event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n,
       min(value_cents) AS min_v,
       max(value_cents) AS max_v,
       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN value_cents END) AS p50,
       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN value_cents END) AS p90,
       max(CASE WHEN rn = (n * 99 + 99) // 100 THEN value_cents END) AS p99
FROM ranked
GROUP BY event_type
"""


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per event_type: bin = floor(value / 5) —
    single map-side-combinable aggregation (the distribution analog of
    A1's rollup); bin edges are IEEE-deterministic per row."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.floor(F.col("value") / F.lit(5.0)).alias("bin"),
            cents(F.col("value")).alias("value_cents"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("value_cents").alias("sum_cents"),
            F.min("value_cents").alias("min_cents"),
            F.max("value_cents").alias("max_cents"),
        )
    )


ORACLE_VALUE_HISTOGRAM = """
SELECT event_type,
       CAST(floor(value / 5.0) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(CAST(round(value * 100) AS BIGINT)) AS min_cents,
       max(CAST(round(value * 100) AS BIGINT)) AS max_cents
FROM events
GROUP BY 1, 2
"""


# Dict order: each SURVEY §2 row's primary citation sits early (the
# round driver's correctness gate samples the FIRST 50 queries()
# entries, so the sample covers the most operator rows).  Order is NOT
# the enforcement mechanism: tests/test_oracle_full.py runs EVERY
# declared (query, oracle) pair in pytest, so a tail-query regression
# fails CI rather than relying on the committed ORACLE_FULL.txt
# self-report (ADVICE r4).
CORE_QUERIES = {
    "events_funnel": (events_funnel, ORACLE_FUNNEL),
    "events_cohort_retention": (events_cohort_retention, ORACLE_COHORT),
    "events_window_frames": (events_window_frames, ORACLE_WINDOW_FRAMES),
    "events_rank_distribution": (events_rank_distribution,
                                 ORACLE_RANK_DISTRIBUTION),
    "events_value_histogram": (events_value_histogram,
                               ORACLE_VALUE_HISTOGRAM),
    "events_grouped_quantiles": (events_grouped_quantiles,
                                 ORACLE_GROUPED_QUANTILES),
    "events_asof_click": (events_asof_click, ORACLE_ASOF_CLICK),
    "events_interval_join": (events_interval_join, ORACLE_INTERVAL_JOIN),
    "q01_pricing_summary": (q01_pricing_summary, ORACLE_Q01),
    "q03_top_orders": (q03_top_orders, ORACLE_Q03),
    "q05_nation_volume": (q05_nation_volume, ORACLE_Q05),
    "events_rollup": (events_rollup, ORACLE_EVENTS_ROLLUP),
    "events_rate": (events_rate, ORACLE_EVENTS_RATE),
    "events_pack_unpack": (events_pack_unpack, ORACLE_PACK_UNPACK),
    "events_minmax_sketch": (events_minmax_sketch, ORACLE_MINMAX),
    "events_topk_per_group": (events_topk_per_group, ORACLE_TOPK),
    "events_mru_last_seen": (events_mru_last_seen, ORACLE_MRU),
    "orders_semi_join": (orders_semi_join, ORACLE_SEMI),
    "customers_anti_join": (customers_anti_join, ORACLE_ANTI),
    "latest_order_pick": (latest_order_pick, ORACLE_LATEST),
    "events_range_read": (events_range_read, ORACLE_RANGE_READ),
    "events_ignored_users": (events_ignored_users, ORACLE_IGNORED),
    "docs_regex_filter": (docs_regex_filter, ORACLE_REGEX),
    "events_diff": (events_diff, ORACLE_EVENTS_DIFF),
    "events_window_bounds": (events_window_bounds, ORACLE_WINDOW_BOUNDS),
    "orders_filtered_counts": (orders_filtered_counts, ORACLE_FILTERED_COUNTS),
    "dim_merge_classify": (dim_merge_classify, ORACLE_MERGE_CLASSIFY),
    "guaranteed_row_join": (guaranteed_row_join, ORACLE_GUARANTEED_ROW),
    "user_nation_resolution": (user_nation_resolution, ORACLE_USER_NATION),
    "container_array_ops": (container_array_ops, ORACLE_ARRAY_OPS),
    "lineitem_xor_case": (lineitem_xor_case, ORACLE_XOR_CASE),
    "constvalues_topk": (constvalues_topk, ORACLE_CONSTVALUES_TOPK),
    "constvalues_history_pack": (constvalues_history_pack,
                                 ORACLE_CONSTVALUES_HISTORY_PACK),
    "price_above_global_avg": (price_above_global_avg, ORACLE_ABOVE_AVG),
    "union_dictionary_join": (union_dictionary_join, ORACLE_UNION_DICT),
    "priority_line_counts": (priority_line_counts, ORACLE_PRIORITY_LINES),
    "events_sessionize": (events_sessionize, ORACLE_SESSIONIZE),
    "cheapest_supplier_per_part": (cheapest_supplier_per_part, ORACLE_CHEAPEST),
    "salted_rollup": (salted_rollup, ORACLE_SALTED),
    "salted_join_rollup": (salted_join_rollup, ORACLE_SALTED_JOIN),
    "qualstats_snapshot_topk": (qualstats_snapshot_rollup,
                                ORACLE_QUALSTATS_SNAPSHOT),
    "wait_sampling_snapshot_resolved": (wait_sampling_snapshot_resolved,
                                        ORACLE_WAIT_SAMPLING),
    "snapshot_lifecycle_unpack": (snapshot_lifecycle_unpack,
                                  ORACLE_LIFECYCLE_UNPACK),
    "versioned_layout_read": (versioned_layout_read,
                              ORACLE_VERSIONED_LAYOUT),
    "catalog_layout_read": (catalog_layout_read, ORACLE_CATALOG_LAYOUT),
    "events_sampled_rates": (events_sampled_rates, ORACLE_SAMPLED_RATES),
    "events_rollup_sets": (events_rollup_sets, ORACLE_ROLLUP_SETS),
    "events_top_consumers": (events_top_consumers, ORACLE_TOP_CONSUMERS),
    "events_pivot_counts": (events_pivot_counts, ORACLE_PIVOT_COUNTS),
    "events_two_level_rollup": (events_two_level_rollup, ORACLE_TWO_LEVEL),
    "events_history_rates": (events_history_rates, ORACLE_EVENTS_RATE),
    "promo_revenue_share": (promo_revenue_share, ORACLE_PROMO_SHARE),
}
