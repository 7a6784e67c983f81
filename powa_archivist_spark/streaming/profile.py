"""Streaming corpus profiling — an at-rest HyperLogLog register table
maintained across micro-batches.

Batch analytics answer "how many distinct users/tokens/urls" with one
pass (pipeline/sketches.hll_distinct); a continuously-ingesting corpus
needs the same answer WITHOUT rescanning history.  The register frame
(pipeline/sketches.hll_registers) is exactly the state that makes this
work: per (group, bucket) maxima, MAX-mergeable, ≤ 2^p rows per group
forever.  Each micro-batch folds its own registers into the at-rest
table; estimates read the table alone — cost independent of how much
history the sketch summarizes.

Correctness contract (tested): because MAX-merge is ASSOCIATIVE and
IDEMPOTENT, the table after any batch arrival order equals the batch
sketch over the union of the data, and a replayed micro-batch (crash
between table swap and epoch marker) cannot inflate the sketch — the
replay protocol needs no ledger here, unlike the dedup sinks.

Scale shape: per batch, one map-side-combinable groupBy over the batch
(new registers), one bounded merge groupBy over (at-rest ∪ new) — the
at-rest side is ≤ groups × 2^p rows by construction, so the merge cost
is batch-proportional; the swap is storage.Warehouse.overwrite's
write-new-then-two-rename dir swap (the new frame's lineage reads the
live dir while writing the tmp dir — no self-clobber window).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from ..pipeline.sketches import hll_estimate, hll_merge, hll_registers
from ..session import adopt
from ..storage import Warehouse
from .fold import stream_fold

HLL_TABLE = "profile_hll_registers"


def process_hll_batch(
    wh: Warehouse,
    batch: DataFrame,
    key_col: str,
    group_cols: Sequence[str],
    p: int = 9,
    table: str = HLL_TABLE,
) -> None:
    """Fold one micro-batch into the at-rest register table."""
    wh = wh.engine()
    batch = adopt(wh.spark, batch)
    new = hll_registers(batch, key_col, group_cols, p)
    if wh.exists(table):
        new = hll_merge(wh.read(table), new, group_cols=group_cols)
    wh.overwrite(new, table)


def hll_profile(
    wh: Warehouse,
    group_cols: Sequence[str],
    p: int = 9,
    table: str = HLL_TABLE,
) -> DataFrame:
    """Estimates from the at-rest table — never touches history."""
    return hll_estimate(wh.read(table), group_cols, p)


def stream_hll_profile(
    spark,
    landing_glob: str,
    schema,
    checkpoint_dir: str,
    wh: Warehouse,
    key_col: str,
    group_cols: Sequence[str],
    p: int = 9,
):
    """Structured Streaming wrapper (:func:`~.fold.stream_fold`):
    landing files -> register fold.  Replay is harmless here —
    idempotent merge — so the epoch marker only skips wasted work."""
    return stream_fold(
        spark, landing_glob, schema, checkpoint_dir,
        lambda batch, epoch_id, gen: process_hll_batch(
            wh, batch, key_col, group_cols, p),
    )
