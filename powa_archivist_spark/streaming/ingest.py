"""Structured Streaming ingest of the staging landing zone.

The reference has no stream processing — snapshots are timer-driven
micro-batches (powa.c:331-505), and remote collectors fill UNLOGGED
``*_src_tmp`` staging tables that the snapshot functions drain
(powa--5.2.0.sql:1980-2022, 4102-4104).  The Spark-native seam
(SURVEY.md §2.10): the landing zone becomes a file-stream source and
each micro-batch runs the SAME batch snapshot transform via
``foreachBatch`` — checkpointed source offsets plus optional late-data
tolerance the reference lacks.

Delivery semantics: **replay-convergent** (effective exactly-once at
rest).  ``foreachBatch`` is at-least-once — a batch can replay after a
crash — so each batch application is made idempotent by construction
rather than by trusting a single append:

- a committed batch leaves a marker file (named by ``epoch_id``) in the
  checkpoint dir; a replay that finds the marker is a no-op;
- a replay WITHOUT a marker runs the batch ``snapshot`` operator in
  idempotent mode: rows are anti-joined against the current slice with
  a null-safe FULL-ROW equality (every counter included, not just
  (ts, entity keys)) before the append, and the per-db rollup for any
  partially-present snapshot ts is recomputed from the updated slice
  (operators/snapshot.py).

Every crash point converges: crash mid-append -> the replay anti-joins
the committed rows away and appends only the remainder; crash after the
append but before the marker -> the replay appends nothing and the
rollup for the batch's ts values is still recomputed from the current
slice (a fixpoint).  Full-row keying (not ts alone, and never a delete
of the batch's (srvid, ts) slice) also makes
a snapshot whose rows arrive SPLIT across two micro-batches converge —
a slice delete would discard the earlier epoch's committed half.  Plain
parquet can't do an atomic append, so idempotent-apply + marker is the
lakehouse-standard substitute (a transactional table format would
collapse this into one txn).

At scale: the landing dir is object storage partitioned by arrival;
``maxFilesPerTrigger`` bounds batch size; the snapshot transform itself
is unchanged batch code (one code path for both modes).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.snapshot import snapshot
from ..specs import DatasourceSpec
from ..session import adopt
from ..storage import Warehouse
from .fold import with_epoch_marker


def process_staged_batch(
    wh: Warehouse,
    spec: DatasourceSpec,
    batch: DataFrame,
    epoch_id: int,
    marker_dir: str,
) -> None:
    """Apply one micro-batch idempotently (see module docstring):
    marker check -> per-srvid idempotent snapshot -> marker commit.
    The snapshot operator's natural-key anti-join + rollup-slice
    recompute make every replay and split-snapshot ordering converge;
    the marker only short-circuits the common full-replay case.

    The statements datasource additionally feeds the query-text
    dictionary from the SAME batch (round-5): the landing drop carries
    the ``query`` column that the history tables drop, and without the
    merge a streamed statements corpus would silently lose every
    dictionary entry the batch path records.  The merge is an upsert,
    so batch replays converge (MRU timestamps may re-bump — MRU
    semantics tolerate that).

    Qualstats note: streamed drops use the SPEC staging shape (already
    rolled to the qual level), which the generic idempotent snapshot
    handles; the RAW plan-node shape (qualnodeid + quals/constvalues
    arrays) is the batch ``qualstats_snapshot`` pipeline's input
    contract and is not a streaming wire format - collectors pre-roll
    or land through the batch path."""
    wh = wh.engine()
    batch = adopt(wh.spark, batch)
    def apply() -> None:
        b = batch.cache()
        try:
            srvids = sorted(
                r.srvid for r in b.select("srvid").distinct().collect()
            )
            for srvid in srvids:
                cap = b.filter(F.col("srvid") == srvid)
                snapshot(
                    wh, spec, srvid,
                    capture=cap,
                    drop_staging=False, idempotent=True,
                )
                if spec.name == "statements":
                    from ..operators.dictionary import merge_statements

                    if cap.limit(1).count() > 0:
                        merge_statements(wh, srvid, cap)
        finally:
            b.unpersist()

    with_epoch_marker(marker_dir, epoch_id, apply)


def ingest_stream(
    wh: Warehouse,
    spec: DatasourceSpec,
    landing_dir: str,
    checkpoint_dir: str,
    watermark: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    fmt: str = "parquet",
):
    """Start (and with ``available_now`` drain) a streaming ingest of
    ``landing_dir`` drops into the datasource's current tables.

    ``fmt`` accepts the same wire formats as the batch landing readers
    (sources/landing.py): parquet, newline-JSON, or CSV — the staging
    schema is applied at the reader for all three, so heterogeneous
    collectors converge on one staging contract.

    Returns the StreamingQuery.  Each micro-batch dispatches the batch
    ``snapshot`` operator once per srvid present in the batch, preserving
    the reference's per-server snapshot semantics."""
    from ..sources.landing import _FORMATS, _relaxed

    if fmt not in _FORMATS:
        raise ValueError(f"unsupported landing format {fmt!r}")
    reader = wh.spark.readStream.schema(_relaxed(spec.staging_schema))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "parquet":
        stream = reader.parquet(landing_dir)
    elif fmt == "json":
        stream = reader.json(landing_dir)
    else:
        stream = reader.option("header", "true").csv(landing_dir)
    if watermark:
        stream = stream.withWatermark("ts", watermark)

    marker_dir = os.path.join(checkpoint_dir, "epoch_markers")

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        process_staged_batch(wh, spec, batch, epoch_id, marker_dir)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def drain(query, timeout_s: int = 300) -> None:
    """Block until an availableNow query finishes processing."""
    query.awaitTermination(timeout_s)
