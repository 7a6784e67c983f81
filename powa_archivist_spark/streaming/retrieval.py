"""Streaming retrieval-index maintenance — an at-rest BM25 postings
ledger maintained across micro-batches (late r9).

The batch operator (pipeline/textstats.bm25_postings) is the state that
makes this work: an exploded (doc, dlen, tok, c) postings table.  Docs
are immutable and arrive whole in exactly one micro-batch, so postings
of successive epochs have DISJOINT doc ids and the merge is plain
UNION — each micro-batch appends its postings rows plus ONE corpus-stats
row (n_docs, sum_dlen; those merge by SUM), both tagged with the epoch.
Scoring reads the ledger alone — the index stays fresh without ever
rescanning history.

Disjoint-union merge is not idempotent any more than the CMS sum is —
a replayed epoch would duplicate every posting it carries — so the fold
follows the ledger shape (streaming/cms.py, streaming/quantiles.py):

both frames append through the ledger-fold runner (streaming/fold.py,
which documents the replay protocol once): one manifest per epoch, and
a checkpoint-replayed epoch whose postings landed is a no-op.

The profile after ANY batch arrival order equals the ONE-SHOT batch
BM25 over the union of the docs (tested bit-for-bit): the postings
union is literally the same multiset of rows, and the summed stats are
the same two integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.textstats import (
    _bm25_workload,
    bm25_blockmax,
    bm25_from_postings,
    bm25_impact_index,
    bm25_postings,
    bm25_wand_from_index,
)
from ..pipeline.spread import spread
from ..storage import Warehouse
from .fold import fold

POSTINGS_TABLE = "retrieval_postings"
STATS_TABLE = "retrieval_corpus_stats"


def process_postings_batch(
    wh: Warehouse,
    batch: DataFrame,
    epoch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    table: str = POSTINGS_TABLE,
    stats_table: str = STATS_TABLE,
) -> bool:
    """Append one micro-batch's postings + stats rows to the at-rest
    ledger; returns False when the epoch already landed (checkpoint
    replay — the short-circuit is load-bearing: a duplicated epoch
    would double its docs' postings and inflate n_docs)."""
    epoch = F.lit(int(epoch_id)).cast("long")

    def build(wh, batch, sp):
        toks = F.split(F.col(text_col), " ")
        # spread before the postings explode (r13, guide §2.5): a batch
        # cut from few parquet splits runs the tokenize + explode +
        # partial count serially otherwise; probe-gated no-op for
        # many-file batches
        post = bm25_postings(spread(batch, id_col), text_col,
                             id_col).withColumn("epoch", epoch)
        stats = batch.select(F.size(toks).alias("dlen")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dlen").alias("sum_dlen"),
        ).withColumn("epoch", epoch)
        # independent frames (both derive straight from the batch scan)
        return {table: post, stats_table: stats}

    return fold(wh, batch, tables=(table, stats_table),
                key=(table, int(epoch_id)), build=build)


def bm25_profile(
    wh: Warehouse,
    n_queries: int = 5,
    terms_per_query: int = 4,
    k: int = 10,
    id_col: str = "doc_id",
    table: str = POSTINGS_TABLE,
    stats_table: str = STATS_TABLE,
) -> DataFrame:
    """Top-k retrieval from the at-rest ledger alone — equal to the
    one-shot batch BM25 over everything ingested."""
    term = wh.read(table).drop("epoch")
    stats = wh.read(stats_table).agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_dlen").alias("sum_dlen"),
    )
    return bm25_from_postings(
        term, stats, n_queries=n_queries,
        terms_per_query=terms_per_query, k=k, id_col=id_col,
    )


def bm25_wand_profile(
    wh: Warehouse,
    n_queries: int = 5,
    terms_per_query: int = 4,
    k: int = 10,
    id_col: str = "doc_id",
    table: str = POSTINGS_TABLE,
    stats_table: str = STATS_TABLE,
    workload: str = "stratified",
    stats_out: dict | None = None,
) -> DataFrame:
    """Block-max WAND serving from the at-rest ledger (r10): derive the
    impact index + zone map from the ledger's postings and corpus stats
    (impacts depend on GLOBAL df and corpus length stats, which every
    append moves — so the impact view is computed against the ledger's
    current state, the same freshness contract as :func:`bm25_profile`)
    and run the anytime pruned top-k.  Equal to ``bm25_wand`` over the
    union of every ingested batch for the same workload."""
    term = wh.read(table).drop("epoch")
    stats = wh.read(stats_table).agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_dlen").alias("sum_dlen"),
    )
    qterms = _bm25_workload(term, n_queries, terms_per_query,
                            strategy=workload)
    index = bm25_impact_index(
        term, stats, qterms=qterms, id_col=id_col
    ).localCheckpoint(eager=False)
    bmax = bm25_blockmax(index, id_col=id_col)
    return bm25_wand_from_index(
        index, bmax, qterms, k=k, id_col=id_col, stats_out=stats_out
    )
