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

- the epoch's sketch rows append through ONE txn.StagedPass manifest
  (atomic at rest, crash-invisible to readers);
- a replay short-circuit probes the table for the epoch id with a
  ``limit(1)`` job (same protocol as streaming/pq_ingest.py) — a
  checkpoint-replayed epoch whose rows landed is a no-op.

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
from ..session import adopt
from ..storage import Warehouse

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
    from ..txn import GLOBAL_LANE, StagedPass

    from .epochs import epoch_replayed, landed

    wh = wh.engine()
    batch = adopt(wh.spark, batch)
    StagedPass.recover(wh, GLOBAL_LANE)
    StagedPass.sweep_flat_stages(wh, table)
    # in-process replay memo (r13): a dict lookup instead of one
    # limit(1) probe job per micro-batch; cold entries seed once
    if epoch_replayed(wh, table, int(epoch_id)):
        return False
    sk = level_sample_sketch(batch, value_col, id_col, group_cols, k)
    sp = StagedPass(wh, GLOBAL_LANE)
    sp.stage_append_flat(
        sk.withColumn("epoch", F.lit(int(epoch_id)).cast("long")), table
    )
    sp.publish()
    landed(wh, table, int(epoch_id))
    return True


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
    the ledger to ~groups x k rows; the swap commits through one
    manifest like every other replace."""
    from ..txn import GLOBAL_LANE, StagedPass

    wh = wh.engine()
    StagedPass.recover(wh, GLOBAL_LANE)
    if not wh.exists(table):
        return
    rows = wh.read(table)
    top = rows.agg(F.max("epoch").alias("e")).collect()[0].e
    if top is None:
        # empty ledger: nothing to fold — a no-op beats staging a
        # replace whose epoch cast would raise TypeError on None
        return
    merged = _merged_survivors(rows, group_cols, k).withColumn(
        "epoch", F.lit(int(top)).cast("long")
    )
    sp = StagedPass(wh, GLOBAL_LANE)
    sp.stage_replace_flat(
        merged.select(*rows.columns).localCheckpoint(), table
    )
    sp.publish()
