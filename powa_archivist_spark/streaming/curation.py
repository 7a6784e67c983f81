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
text.  All three sinks of a micro-batch commit through one
txn.StagedPass manifest (r7) — crash replays are exactly-once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.corpus import dataset_split
from ..pipeline.textstats import quality_gate
from ..pipeline.spread import write_coalesce
from ..session import adopt
from ..storage import Warehouse
from .dedup import dedup_batch_survivors
from .ingest import with_epoch_marker as _with_epoch_marker

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


def _stream_generation(checkpoint_dir: str) -> str:
    """A per-checkpoint generation id (uuid written once into the
    checkpoint dir): epoch ids restart at 0 whenever a stream gets a
    fresh checkpoint, so replay-idempotency keys must carry the
    generation or a new run's epoch 0 would match — and silently
    skip — a previous run's published epoch 0."""
    import uuid

    p = os.path.join(checkpoint_dir, "stream_gen.id")
    if not os.path.exists(p):
        os.makedirs(checkpoint_dir, exist_ok=True)
        tmp = p + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            f.write(uuid.uuid4().hex)
        os.replace(tmp, p)
    with open(p) as f:
        return f.read().strip()


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
    from ..txn import GLOBAL_LANE, StagedPass

    from .dedup import LEDGER_TABLE

    wh = wh.engine()
    batch = adopt(wh.spark, batch)
    StagedPass.recover(wh, GLOBAL_LANE)
    StagedPass.sweep_flat_stages(wh, sink_table, LEDGER_TABLE, REJECT_TABLE)
    if digest_ledger is not None:
        digest_ledger.sweep_stages()
    # in-process replay memo (r13): a dict lookup instead of one
    # limit(1) probe job per micro-batch; cold entries seed once.
    # Declared schema on the seed read (ADVICE r7): a pre-r7 reject
    # table lacks the epoch/stream_gen columns — with the declared
    # reader schema old files seed as (None, None), which no replay
    # key matches.
    if epoch_id is not None and stream_gen is not None:
        from .epochs import epoch_replayed

        if epoch_replayed(
            wh, REJECT_TABLE, (int(epoch_id), stream_gen),
            key_frame=lambda: wh.read(
                REJECT_TABLE, schema=_reject_schema(id_col)
            ).select("epoch", "stream_gen"),
        ):
            return  # epoch fully published (atomic pass) — pure replay
    # eager localCheckpoint (r14): the verdict feeds BOTH the reject
    # append and the survivor chain (left_semi into dedup + sink) —
    # without the cut each side re-ran the whole quality_gate scoring
    # pass per fold (same rationale as the dedup folds' shingle
    # checkpoint, r13)
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
    survivors = dedup_batch_survivors(
        wh, passed, text_col, id_col, broadcast_ledger, digest_ledger
    ).cache()
    try:
        # survivor-count probe rides the sink write (r14, Observation
        # API): dataset_split is map-only 1:1, so observing the labeled
        # frame's count inside the staged append replaces the separate
        # limit(1).count() probe job per fold
        from pyspark.sql import Observation

        obs = Observation()
        labeled = dataset_split(
            survivors.drop("text_hash"), id_col=id_col
        ).observe(obs, F.count(F.lit(1)).alias("n"))
        sp = StagedPass(wh, GLOBAL_LANE)
        # sink write first: it materializes the survivors cache and the
        # count observation the ledger decision reads; the ledger and
        # reject writes then touch distinct tables over materialized
        # inputs — overlapped (r14, guide §2.6)
        sp.stage_append_flat(labeled, sink_table)
        calls = []
        if obs.get["n"] > 0:
            if digest_ledger is not None:
                calls.append(lambda: digest_ledger.stage_append(
                    survivors.select("text_hash"), sp
                ))
            else:
                calls.append(lambda: sp.stage_append_flat(
                    survivors.select("text_hash"), LEDGER_TABLE
                ))
        # rejects inherit quality_gate's parallelism-wide spread —
        # coalesce the bounded per-batch append (r13, guide §6)
        calls.append(lambda: sp.stage_append_flat(
            write_coalesce(rejects), REJECT_TABLE))
        sp.stage_concurrently(*calls)
        sp.publish()
        if epoch_id is not None and stream_gen is not None:
            from .epochs import landed

            landed(wh, REJECT_TABLE, (int(epoch_id), stream_gen))
    finally:
        survivors.unpersist()


def stream_curation(
    spark,
    landing_glob: str,
    schema,
    checkpoint_dir: str,
    wh: Warehouse,
    sink_table: str = "corpus_curated",
    thresholds: dict | None = None,
    max_files_per_trigger: int = 16,
    bucketed_ledger: bool = False,
):
    """Streaming curation pipeline with committed-epoch markers (same
    replay protocol as every foreachBatch sink in this package); the
    per-batch sink/ledger/reject appends additionally commit through
    one StagedPass manifest keyed by (stream generation, epoch), so the
    marker-less crash window replays idempotently too."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_glob)
    )
    marker_dir = os.path.join(checkpoint_dir, "epoch_markers")
    gen = _stream_generation(checkpoint_dir)
    from .dedup import BucketedDigestLedger

    dl = BucketedDigestLedger(wh) if bucketed_ledger else None

    def process(batch: DataFrame, epoch_id: int) -> None:
        _with_epoch_marker(
            marker_dir, epoch_id,
            lambda: process_curation_batch(wh, batch, sink_table,
                                           thresholds,
                                           epoch_id=epoch_id,
                                           stream_gen=gen,
                                           digest_ledger=dl),
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
