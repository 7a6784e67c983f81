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

- the epoch's registers append through ONE txn.StagedPass manifest
  (atomic at rest, crash-invisible to readers);
- a replay short-circuit probes the table for the epoch id with a
  ``limit(1)`` job (same protocol as streaming/pq_ingest.py) — a
  checkpoint-replayed epoch whose rows landed is a no-op.

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
from ..session import adopt
from ..storage import Warehouse

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
    regs = cms_registers(batch, key_col, group_cols, d, w)
    sp = StagedPass(wh, GLOBAL_LANE)
    sp.stage_append_flat(
        regs.withColumn("epoch", F.lit(int(epoch_id)).cast("long")), table
    )
    sp.publish()
    landed(wh, table, int(epoch_id))
    return True


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
    the ledger to groups x d x w rows; the swap commits through one
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
    merged = _merged_registers(rows, group_cols).withColumn(
        "epoch", F.lit(int(top)).cast("long")
    )
    sp = StagedPass(wh, GLOBAL_LANE)
    sp.stage_replace_flat(
        merged.select(*rows.columns).localCheckpoint(), table
    )
    sp.publish()
