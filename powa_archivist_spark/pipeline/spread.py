"""Scan-parallelism floor for CPU-heavy per-row stages (r13, guide
§2.5 input skew / §6 input splits).

A bounded corpus that arrives as ONE parquet row group is ONE Spark
split — row groups are indivisible to the reader, so
``spark.sql.files.minPartitionNum`` cannot split it either — and every
tokenize / shingle / gram-explode / hash stage that follows runs on a
single core while the rest of the cluster idles.  ``spread`` hash-
repartitions such an input up to cluster parallelism BEFORE the heavy
map work, keyed on the unique id column so the placement is
deterministic under task retries (guide §2.5 on rand-derived keys:
retried round-robin tasks can duplicate or lose rows; a hash of the id
cannot).

At scale this is a no-op: the scan already yields >= parallelism
splits, the probe reads plan metadata (no job), and no exchange is
added.  The probe-then-repartition shape is shared with the ANN
scoring fan-out (pipeline/similarity.py) — this module is the common
home so the text stack can use it without importing similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_coalesce(df: DataFrame) -> DataFrame:
    """Collapse a bounded per-batch frame to a few write tasks (r13,
    guide §6 output sizing): the streaming folds' sink frames are
    unions of 32-partition checkpointed micro-frames — without a
    shuffle AQE never coalesces them, so every fold append wrote ~64
    KB-sized parquet files whose listing+footer cost is then paid by
    EVERY later fold's ledger read.  ``coalesce`` is a narrow merge of
    cached checkpoint blocks (no shuffle, no recompute); it never
    increases a frame's partition count, so an already-narrow frame
    passes through unchanged.  Parallelism/8 write tasks (4 on a
    local[32] session)."""
    return df.coalesce(
        max(1, df.sparkSession.sparkContext.defaultParallelism // 8))


def spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition ``df`` up to cluster parallelism when its plan
    currently yields fewer partitions; identity otherwise.

    The constant-true ``spark_partition_id() >= 0`` filter above the
    exchange is a PREDICATE-PUSHDOWN BARRIER (r13): Catalyst pushes
    filters on derived columns — including the ``size(..) > 0 AND
    isnotnull(..)`` predicates InferFiltersFromGenerate synthesizes
    under every explode — through RepartitionByExpression by
    substituting the full defining expression, which lands the heavy
    shingle/gram compute back in the one-split scan stage this exchange
    exists to escape (measured: the whole minhash/PPJoin map work
    serialized below the exchange).  Predicates cannot reorder across a
    nondeterministic filter, so work stays above; the barrier itself
    evaluates one integer comparison per row.  Caller-side filters on
    raw scan columns sit BELOW the spread in the plan (they are applied
    to ``df`` before it is passed in) and still reach the parquet
    scan."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key)).where(
        F.spark_partition_id() >= 0
    )
