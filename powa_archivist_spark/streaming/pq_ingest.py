"""Streaming PQ-encoded vector ingest — the index-maintenance side of
:mod:`powa_archivist_spark.pipeline.similarity`'s product quantizer.

A production embedding pipeline trains the codebook ONCE on a bootstrap
corpus and freezes it (re-training would silently re-map every existing
code); from then on, newly embedded vectors arrive continuously and
only need ENCODING — a map-side pass against the broadcast frozen
codebook — plus an append to the at-rest codes table.  This module is
that loop:

- :func:`pq_bootstrap` — train + freeze the codebook, encode the
  bootstrap corpus, publish both tables;
- :func:`process_pq_batch` — encode one micro-batch and append through
  a StagedPass manifest with (stream_gen, epoch) replay short-circuit
  (the curation sinks' protocol: a replayed epoch either sees its rows
  already published and skips, or re-stages the identical deterministic
  rows);
- :func:`stream_pq_ingest` — the Structured Streaming wrapper
  (foreachBatch + committed-epoch markers).

Scale shape: per batch, encoding is map-only against a bounded
broadcast dim (the SIZED codebook — m x n_codes_target rows) plus one
per-(id, sub) partial-aggregated argmin; the append is a staged flat
file.  Nothing ever rescans the at-rest codes table; ANN queries read
codes + codebook exactly as the batch :func:`pq_search` does.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline.similarity import pq_encode, pq_train
from ..session import adopt
from ..storage import Warehouse
from .ingest import with_epoch_marker as _with_epoch_marker

PQ_CODEBOOK_TABLE = "pq_codebook"
PQ_CODES_TABLE = "pq_codes"


def _codes_schema(id_col: str) -> T.StructType:
    # declared reader schema (the reject-table lesson, ADVICE r7): rows
    # from older layouts surface null epoch/stream_gen instead of
    # steering schema inference or failing the replay filter
    return T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("codes", T.ArrayType(T.LongType())),
        T.StructField("epoch", T.LongType()),
        T.StructField("stream_gen", T.StringType()),
    ])


def pq_bootstrap(
    wh: Warehouse,
    emb: DataFrame,
    m: int = 8,
    n_codes_target: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the SIZED codebook on the bootstrap corpus, freeze it, and
    publish the initial codes table (epoch -1, empty stream_gen)."""
    cb = pq_train(emb, m=m, n_codes_target=n_codes_target,
                  id_col=id_col, vec_col=vec_col)
    wh.overwrite(cb, PQ_CODEBOOK_TABLE)
    enc = pq_encode(emb, wh.read(PQ_CODEBOOK_TABLE), m=m,
                    id_col=id_col, vec_col=vec_col)
    wh.overwrite(
        enc.select(
            id_col, "codes",
            F.lit(-1).cast("long").alias("epoch"),
            F.lit("").alias("stream_gen"),
        ),
        PQ_CODES_TABLE,
    )


def process_pq_batch(
    wh: Warehouse,
    batch: DataFrame,
    m: int = 8,
    epoch_id: int | None = None,
    stream_gen: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Encode one micro-batch against the frozen codebook and append
    its code rows through a single staged manifest.  A replayed epoch
    whose rows already published short-circuits before any encode job;
    the marker-less crash windows are covered by the manifest protocol
    (recover/sweep below) exactly as in the curation sinks."""
    from ..txn import GLOBAL_LANE, StagedPass

    from .epochs import epoch_replayed, landed

    wh = wh.engine()
    batch = adopt(wh.spark, batch)
    StagedPass.recover(wh, GLOBAL_LANE)
    StagedPass.sweep_flat_stages(wh, PQ_CODES_TABLE)
    # in-process replay memo (r13): a dict lookup instead of one
    # limit(1) probe job per micro-batch; cold entries seed once (the
    # declared-schema read keeps pre-r7 null-epoch files harmless —
    # they seed as (None, None), which no replay key matches)
    if epoch_id is not None and stream_gen is not None:
        if epoch_replayed(
            wh, PQ_CODES_TABLE, (int(epoch_id), stream_gen),
            key_frame=lambda: wh.read(
                PQ_CODES_TABLE, schema=_codes_schema(id_col)
            ).select("epoch", "stream_gen"),
        ):
            return
    cb = wh.read(PQ_CODEBOOK_TABLE)
    enc = pq_encode(batch, cb, m=m, id_col=id_col, vec_col=vec_col).select(
        id_col, "codes",
        F.lit(-1 if epoch_id is None else int(epoch_id))
        .cast("long").alias("epoch"),
        F.lit(stream_gen or "").alias("stream_gen"),
    )
    sp = StagedPass(wh, GLOBAL_LANE)
    sp.stage_append_flat(enc, PQ_CODES_TABLE)
    sp.publish()
    if epoch_id is not None and stream_gen is not None:
        landed(wh, PQ_CODES_TABLE, (int(epoch_id), stream_gen))


def pq_codes(wh: Warehouse, id_col: str = "vec_id") -> DataFrame:
    """The at-rest compressed index (declared schema read)."""
    return wh.read(PQ_CODES_TABLE, schema=_codes_schema(id_col))


def stream_pq_ingest(
    spark,
    landing_glob: str,
    schema,
    checkpoint_dir: str,
    wh: Warehouse,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int = 16,
):
    """Structured Streaming wrapper: landing parquet -> foreachBatch
    encode+append with committed-epoch markers; ``pq_bootstrap`` must
    have published the frozen codebook first.  ``availableNow``: the
    query ends once the landing drains."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_glob)
    )
    marker_dir = os.path.join(checkpoint_dir, "epoch_markers")
    gen = os.path.basename(checkpoint_dir.rstrip("/"))

    def process(batch: DataFrame, epoch_id: int) -> None:
        _with_epoch_marker(
            marker_dir, epoch_id,
            lambda: process_pq_batch(
                wh, batch, m=m, epoch_id=epoch_id, stream_gen=gen,
                id_col=id_col, vec_col=vec_col,
            ),
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
