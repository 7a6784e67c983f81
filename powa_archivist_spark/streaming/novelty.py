"""Streaming n-gram novelty — an at-rest first-owner ledger maintained
across micro-batches (late r10).

The batch operator (pipeline/corpus.ngram_novelty) attributes every
distinct trigram to the min-id document containing it and profiles the
novel share per source; a continuously-ingesting corpus needs the same
diagnostic WITHOUT rescanning history.  The state that makes this work
is the FIRST-OWNER relation (gram -> owning doc): a gram is novel
exactly once, for the first document that brings it, so the at-rest
ledger only ever APPENDS rows for grams never seen before — per-batch
cost is one batch-gram build plus one gram-keyed anti-join against the
ledger, never a history rescan.

Semantics contract: the ledger records FIRST-ARRIVAL ownership.  When
micro-batches arrive in ascending id ranges (the landing tables'
ingestion order — the declared replay feeds them that way), first
arrival == min id and the profile equals the one-shot batch
`ngram_novelty` bit-for-bit (tested).  Out-of-order arrival keeps the
streaming-native meaning ("novel at ingest time"); the batch equality is
the ordered case.

Replay protocol (streaming/fold.py documents it once): the per-doc stat
rows and the new-owner rows land through one manifest, and a
checkpoint-replayed epoch short-circuits on the stat table's epoch key
— an appended-then-replayed batch cannot double-count a doc or steal a
gram it already owns.

Scale shape per batch at 100 TB: one explode -> per-doc distinct (the
batch), one gram-keyed min (batch owners, partial agg), one gram-keyed
LEFT ANTI join against the ledger (both sides hash-partitioned on gram;
the ledger side prunes to the gram key column), two bounded rollups.
The ledger grows with DISTINCT corpus grams — the same asymptote as the
batch operator's first-owner table.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.corpus import _word_ngrams
from ..pipeline.spread import spread
from ..storage import Warehouse
from .fold import fold

OWNERS_TABLE = "novelty_first_owner"
STATS_TABLE = "novelty_doc_stats"


def process_novelty_batch(
    wh: Warehouse,
    batch: DataFrame,
    epoch_id: int,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    owners_table: str = OWNERS_TABLE,
    stats_table: str = STATS_TABLE,
) -> bool:
    """Fold one micro-batch into the first-owner ledger + per-doc stat
    table; returns False when the epoch already landed (checkpoint
    replay)."""
    epoch = F.lit(int(epoch_id)).cast("long")

    def build(wh, batch, sp):
        # spread before the gram explode (r13, guide §2.5) — see the
        # postings fold: serial one-split batches otherwise
        grams = (
            _word_ngrams(spread(batch, id_col), n, text_col, id_col)
            .distinct()
            .localCheckpoint(eager=False)
        )
        owners = grams.groupBy("gram").agg(
            F.min(id_col).alias("first_doc"))
        if wh.exists(owners_table):
            owners = owners.join(
                wh.read(owners_table).select("gram"), "gram", "left_anti"
            )
        # owners feeds the ledger append AND the per-doc novel rollup
        # (concurrent writes over a shared lazy localCheckpoint
        # serialize its materialization in the block manager; each side
        # then reads the blocks)
        owners = owners.localCheckpoint(eager=False)
        novel = owners.groupBy(F.col("first_doc").alias(id_col)).agg(
            F.count(F.lit(1)).alias("n_novel")
        )
        stats = (
            batch.select(id_col)
            .join(
                grams.groupBy(id_col).agg(
                    F.count(F.lit(1)).alias("n_grams")
                ),
                id_col, "left",
            )
            .join(novel, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
                epoch.alias("epoch"),
            )
        )
        return {
            owners_table: owners.withColumn("epoch", epoch)
            .select("gram", "first_doc", "epoch"),
            stats_table: stats,
        }

    return fold(wh, batch, tables=(owners_table, stats_table),
                key=(stats_table, int(epoch_id)), build=build)


def novelty_profile(
    wh: Warehouse,
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    stats_table: str = STATS_TABLE,
) -> DataFrame:
    """Per-group novelty profile from the at-rest stat table alone —
    equal to the one-shot batch `ngram_novelty` when batches arrived in
    ascending id ranges.  ``docs`` supplies the id -> group mapping
    (ids never ingested roll up with zero counts, matching the batch
    operator's left join)."""
    stats = wh.read(stats_table)
    return (
        docs.select(id_col, group_col)
        .join(stats.select(id_col, "n_grams", "n_novel"), id_col, "left")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("n_grams", F.lit(0))).alias("n_grams"),
            F.sum(F.coalesce("n_novel", F.lit(0))).alias("n_novel"),
        )
        .select(
            group_col, "n_docs", "n_grams", "n_novel",
            F.when(
                F.col("n_grams") > 0,
                F.col("n_novel").cast("double") / F.col("n_grams"),
            ).alias("novelty"),
        )
    )
