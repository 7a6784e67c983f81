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
- :func:`process_pq_batch` — encode one micro-batch and append it
  through the ledger-fold runner (streaming/fold.py) keyed by
  (epoch, stream_gen): a replayed epoch either sees its rows already
  published and skips, or re-stages the identical deterministic rows;
- :func:`stream_pq_ingest` — the Structured Streaming wrapper
  (:func:`~.fold.stream_fold`).

Scale shape: per batch, encoding is map-only against a bounded
broadcast dim (the SIZED codebook — m x n_codes_target rows) plus one
per-(id, sub) partial-aggregated argmin; the append is a staged flat
file.  Nothing ever rescans the at-rest codes table; ANN queries read
codes + codebook exactly as the batch :func:`pq_search` does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline.similarity import pq_encode, pq_train
from ..storage import Warehouse
from .fold import fold, stream_fold

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
    exactly as in the curation sinks."""
    streamed = epoch_id is not None and stream_gen is not None

    def build(wh, batch, sp):
        cb = wh.read(PQ_CODEBOOK_TABLE)
        return {PQ_CODES_TABLE: pq_encode(
            batch, cb, m=m, id_col=id_col, vec_col=vec_col
        ).select(
            id_col, "codes",
            F.lit(-1 if epoch_id is None else int(epoch_id))
            .cast("long").alias("epoch"),
            F.lit(stream_gen or "").alias("stream_gen"),
        )}

    # declared-schema seed read: pre-r7 null-epoch files seed as
    # (None, None), which no replay key matches
    fold(
        wh, batch, tables=(PQ_CODES_TABLE,),
        key=(PQ_CODES_TABLE, (int(epoch_id), stream_gen))
        if streamed else None,
        key_frame=lambda wh: wh.read(
            PQ_CODES_TABLE, schema=_codes_schema(id_col)
        ).select("epoch", "stream_gen"),
        build=build,
    )


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
):
    """Structured Streaming wrapper: landing parquet -> encode+append per
    micro-batch (:func:`~.fold.stream_fold`); ``pq_bootstrap`` must have
    published the frozen codebook first."""
    return stream_fold(
        spark, landing_glob, schema, checkpoint_dir,
        lambda batch, epoch_id, gen: process_pq_batch(
            wh, batch, m=m, epoch_id=epoch_id, stream_gen=gen,
            id_col=id_col, vec_col=vec_col,
        ),
    )
