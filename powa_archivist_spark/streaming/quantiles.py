"""Streaming quantile profiling — an at-rest level-sampling sketch
ledger maintained across micro-batches (r9, VERDICT r8 task 7).

The batch operator (pipeline/sketches.level_sample_sketch) is the
state that makes this work: a deterministic expected-size-k survivor
sample per group whose merge is "union + raise the cut + re-filter".
Each micro-batch APPENDS its own sketch rows tagged with the epoch;
profile reads merge the at-rest epochs without rescanning history.

Unlike the HLL register fold (streaming/profile.py), the merge here is
NOT idempotent — a replayed epoch would double-count its population and
re-admit its survivors — so the fold follows the dedup-ledger shape,
not the register-overwrite shape:

each epoch's sketch rows append through the ledger-fold runner
(streaming/fold.py, which documents the replay protocol once): one
manifest per epoch, and a checkpoint-replayed epoch whose rows landed
is a no-op.

At-rest size: epochs x groups x ~k rows.  ``compact_profile`` folds
all epochs into a single merged epoch (the sketch compaction is
associative), bounding the table again; it swaps through the same
manifest protocol.

The profile after ANY batch arrival order equals the ONE-SHOT batch
sketch over the union of the data (tested bit-for-bit): disjoint-merge
determinism is exactly the property the batch sketch was built around.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.sketches import (
    _bitlen,
    level_sample_quantiles,
    level_sample_sketch,
)
from ..storage import Warehouse
from .fold import compact_ledger, fold

KLL_TABLE = "profile_quantile_sketch"


def _merged_survivors(rows: DataFrame, group_cols: Sequence[str],
                      k: int) -> DataFrame:
    """Fold the at-rest epoch sketches: population = sum of per-epoch
    populations, cut recomputed for the merged n, survivors re-filtered
    at it (nested survivor sets make this exactly the one-shot
    selection)."""
    per_epoch_n = rows.select("epoch", *group_cols, "n").distinct()
    merged_n = per_epoch_n.groupBy(*group_cols).agg(
        F.sum("n").alias("n")
    )
    cuts = merged_n.select(
        *group_cols, "n",
        _bitlen(F.expr(f"(n - 1) div {int(k)}")).alias("cut"),
    )
    return (
        rows.drop("n", "cut", "epoch")
        .join(F.broadcast(cuts), list(group_cols))
        .filter(F.expr("h % shiftleft(CAST(1 AS BIGINT), cut) = 0"))
        .select(*group_cols, "n", "cut", "value", "h")
    )


def process_quantile_batch(
    wh: Warehouse,
    batch: DataFrame,
    epoch_id: int,
    value_col: str,
    id_col: str,
    group_cols: Sequence[str],
    k: int = 256,
    table: str = KLL_TABLE,
) -> bool:
    """Fold one micro-batch's sketch into the at-rest ledger; returns
    False when the epoch already landed (checkpoint replay)."""
    return fold(
        wh, batch, tables=(table,), key=(table, int(epoch_id)),
        build=lambda wh, batch, sp: {table: level_sample_sketch(
            batch, value_col, id_col, group_cols, k
        ).withColumn("epoch", F.lit(int(epoch_id)).cast("long"))},
    )


def quantile_profile(
    wh: Warehouse,
    group_cols: Sequence[str],
    k: int = 256,
    table: str = KLL_TABLE,
    percents: Sequence[int] = (50, 90, 95, 99),
) -> DataFrame:
    """Merged quantile profile from the at-rest ledger alone — equal to
    the one-shot batch sketch over everything ingested."""
    surv = _merged_survivors(wh.read(table), group_cols, k)
    return level_sample_quantiles(surv, group_cols, percents)


def compact_profile(
    wh: Warehouse,
    group_cols: Sequence[str],
    k: int = 256,
    table: str = KLL_TABLE,
) -> None:
    """Fold all at-rest epochs into one (epoch = max seen), re-bounding
    the ledger to ~groups x k rows."""
    compact_ledger(wh, table,
                   lambda rows: _merged_survivors(rows, group_cols, k))
