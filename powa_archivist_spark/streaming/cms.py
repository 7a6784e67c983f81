"""Streaming frequency profiling — an at-rest Count-Min register
ledger maintained across micro-batches (late r9).

The batch operator (pipeline/sketches.cms_registers) is the state that
makes this work: d x w additive integer registers per group whose merge
is elementwise SUM.  Each micro-batch APPENDS its own register frame
tagged with the epoch; point queries merge the at-rest epochs without
rescanning history.

Like the quantile ledger (streaming/quantiles.py) and UNLIKE the HLL
register fold (streaming/profile.py), the merge is NOT idempotent — a
replayed epoch would double-count every key it saw — so the fold
follows the dedup-ledger shape:

each epoch's registers append through the ledger-fold runner
(streaming/fold.py, which documents the replay protocol once): one
manifest per epoch, and a checkpoint-replayed epoch whose rows landed
is a no-op.

At-rest size: epochs x groups x d x w rows.  ``compact_cms_profile``
folds all epochs into a single summed epoch (addition is associative),
re-bounding the table; it swaps through the same manifest protocol.

The profile after ANY batch arrival order equals the ONE-SHOT batch
sketch over the union of the data (tested bit-for-bit): SUM over a
disjoint partition of the rows is the same total, register by register.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.sketches import cms_estimate, cms_registers
from ..storage import Warehouse
from .fold import compact_ledger, fold

CMS_TABLE = "profile_cms_registers"


def _merged_registers(rows: DataFrame,
                      group_cols: Sequence[str]) -> DataFrame:
    """Fold the at-rest epoch frames: elementwise register addition."""
    return (
        rows.groupBy(*group_cols, "seed", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def process_cms_batch(
    wh: Warehouse,
    batch: DataFrame,
    epoch_id: int,
    key_col: str,
    group_cols: Sequence[str],
    d: int = 4,
    w: int = 256,
    table: str = CMS_TABLE,
) -> bool:
    """Fold one micro-batch's registers into the at-rest ledger;
    returns False when the epoch already landed (checkpoint replay —
    the short-circuit is load-bearing: SUM-merge is not idempotent)."""
    return fold(
        wh, batch, tables=(table,), key=(table, int(epoch_id)),
        build=lambda wh, batch, sp: {table: cms_registers(
            batch, key_col, group_cols, d, w
        ).withColumn("epoch", F.lit(int(epoch_id)).cast("long"))},
    )


def cms_profile(
    wh: Warehouse,
    probes: DataFrame,
    key_col: str,
    group_cols: Sequence[str],
    d: int = 4,
    w: int = 256,
    table: str = CMS_TABLE,
) -> DataFrame:
    """Point-query estimates for the bounded watchlist from the at-rest
    ledger alone — equal to the one-shot batch sketch over everything
    ingested.  No exact recount: the ledger never stores raw keys, the
    same deliberate trade as the streaming HLL profile."""
    rows = wh.read(table)
    merged = _merged_registers(rows, group_cols)
    groups = rows.select(*group_cols).distinct()
    return cms_estimate(merged, groups, probes, key_col, group_cols, d, w)


def compact_cms_profile(
    wh: Warehouse,
    group_cols: Sequence[str],
    table: str = CMS_TABLE,
) -> None:
    """Fold all at-rest epochs into one (epoch = max seen), re-bounding
    the ledger to groups x d x w rows."""
    compact_ledger(wh, table, lambda rows: _merged_registers(rows, group_cols))
