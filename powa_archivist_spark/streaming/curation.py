"""Streaming corpus curation — the continuous-ingest form of the batch
curation composition (pipeline/queries.corpus_curation_e2e): each
micro-batch runs

    quality gate -> cross-batch exact dedup (digest ledger) ->
    deterministic train/val/test split -> sink append,

with rejected docs appended to an auditable reject ledger carrying the
violated-rule reasons.  Every stage is the SAME operator the batch path
uses (textstats.quality_gate, the dedup digest ledger, corpus.
dataset_split), so a corpus built from the stream equals the batch
pipeline over the same data modulo arrival order inside a micro-batch
(first-arriving batch wins per normalized text; min id inside a batch).

Scale shape: gate and split are map-only expressions; the only join per
batch is the digest-ledger anti-join (broadcast by default; at 100 TB
pass ``bucketed_ledger=True`` so the corpus-sized ledger side is read
exchange-free from its digest-bucketed layout); the reject ledger is
append-only and carries (id, reasons, stream_gen, epoch), not the
text.  All three sinks of a micro-batch commit through one manifest
(r7) in the ledger-fold runner (streaming/fold.py) — crash replays are
exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..pipeline.corpus import dataset_split
from ..pipeline.textstats import quality_gate
from ..pipeline.spread import write_coalesce
from ..storage import Warehouse
from .dedup import (LEDGER_TABLE, BucketedDigestLedger, digest_write,
                    dedup_batch_survivors)
from .fold import fold, stream_fold

REJECT_TABLE = "corpus_rejects"


def _reject_schema(id_col: str):
    """Declared reader schema for the reject ledger (long ids — the
    pipeline's document-id contract): pre-r7 files that predate the
    epoch/stream_gen columns surface them as nulls instead of steering
    schema inference."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("reasons", T.ArrayType(T.StringType())),
        T.StructField("epoch", T.LongType()),
        T.StructField("stream_gen", T.StringType()),
    ])


def process_curation_batch(
    wh: Warehouse,
    batch: DataFrame,
    sink_table: str,
    thresholds: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_ledger: bool = True,
    epoch_id: int | None = None,
    stream_gen: str | None = None,
    digest_ledger=None,
) -> None:
    """One curation pass over a micro-batch (see module docstring).

    r7 (ADVICE r6): the three appends of one micro-batch — curated sink,
    digest ledger, reject ledger — commit through ONE txn.StagedPass
    manifest.  A crash at any point leaves either none of them visible
    (the epoch replays cleanly) or all of them (the replay's survivors
    anti-join to nothing against the now-complete ledger), never the
    sink-without-ledger state that re-admitted the whole survivor set
    on replay.  With an ``epoch_id`` + ``stream_gen`` (a per-checkpoint
    generation id, so a FRESH checkpoint restarting epochs at 0 can
    never match a previous run's rows), rejects carry both and a
    fully-published epoch short-circuits before any job — reject rows
    are replay-idempotent too.  Batch-mode callers (``None``) own their
    retry semantics and get epoch -1 / gen ''."""
    streamed = epoch_id is not None and stream_gen is not None

    def build(wh, batch, sp):
        if digest_ledger is not None:
            digest_ledger.sweep_stages()
        # eager localCheckpoint (r14): the verdict feeds BOTH the reject
        # append and the survivor chain (left_semi into dedup + sink) —
        # without the cut each side re-ran the whole quality_gate
        # scoring pass per fold
        verdict = quality_gate(batch, text_col, id_col,
                               thresholds).localCheckpoint()
        rejects = verdict.filter(~F.col("keep")).select(
            id_col, "reasons",
            F.lit(-1 if epoch_id is None else int(epoch_id))
            .cast("long").alias("epoch"),
            F.lit(stream_gen or "").alias("stream_gen"),
        )
        passed = batch.join(
            verdict.filter("keep").select(id_col), id_col, "left_semi"
        )
        # lazy checkpoint: the sink write below materializes it, the
        # ledger write then reads the blocks
        survivors = dedup_batch_survivors(
            wh, passed, text_col, id_col, broadcast_ledger, digest_ledger
        ).localCheckpoint(eager=False)
        # survivor-count probe rides the sink write (r14, Observation
        # API): dataset_split is map-only 1:1, so the labeled frame's
        # count inside the staged append replaces a separate probe job
        obs = Observation()
        labeled = dataset_split(
            survivors.drop("text_hash"), id_col=id_col
        ).observe(obs, F.count(F.lit(1)).alias("n"))
        # sink write first: the ledger decision reads its observation
        sp.stage_append_flat(labeled, sink_table)
        writes = dict([digest_write(survivors, digest_ledger)]
                      if obs.get["n"] > 0 else [])
        # rejects inherit quality_gate's parallelism-wide spread —
        # coalesce the bounded per-batch append (r13, guide §6)
        writes[REJECT_TABLE] = write_coalesce(rejects)
        return writes

    # declared-schema seed read (ADVICE r7): a pre-r7 reject table
    # lacks the epoch/stream_gen columns — old files seed as
    # (None, None), which no replay key matches
    fold(
        wh, batch, tables=(sink_table, LEDGER_TABLE, REJECT_TABLE),
        key=(REJECT_TABLE, (int(epoch_id), stream_gen))
        if streamed else None,
        key_frame=lambda wh: wh.read(
            REJECT_TABLE, schema=_reject_schema(id_col)
        ).select("epoch", "stream_gen"),
        build=build,
    )


def stream_curation(
    spark,
    landing_glob: str,
    schema,
    checkpoint_dir: str,
    wh: Warehouse,
    sink_table: str = "corpus_curated",
    thresholds: dict | None = None,
    bucketed_ledger: bool = False,
):
    """Streaming curation pipeline on :func:`~.fold.stream_fold`: the
    per-batch sink/ledger/reject appends commit through one manifest
    keyed by (epoch, stream generation), so the marker-less crash
    window replays idempotently too."""
    dl = BucketedDigestLedger(wh) if bucketed_ledger else None
    return stream_fold(
        spark, landing_glob, schema, checkpoint_dir,
        lambda batch, epoch_id, gen: process_curation_batch(
            wh, batch, sink_table, thresholds, epoch_id=epoch_id,
            stream_gen=gen, digest_ledger=dl,
        ),
    )
