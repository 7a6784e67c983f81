"""Streaming k-means maintenance — an at-rest incremental clustering
ledger (r11, VERDICT r10 task 7).

The batch operator (pipeline/similarity.kmeans) clusters a corpus to an
integer fixed point; a continuously-ingesting corpus wants the same
assignment WITHOUT re-running Lloyd per batch — the mini-batch posture
every SemDeDup / IVF-cell maintenance loop runs: assign each arriving
batch to FROZEN centers (one broadcast min_by aggregation — the cheap
map-shaped path), and periodically REFRESH the centers with a full
integer-Lloyd pass over the at-rest vector table (the
``IVF.build``/``ann_index_upsert`` posture generalized to clustering).

State tables (all folded through ONE manifest per batch by the
ledger-fold runner, streaming/fold.py — atomic at rest, crash-invisible
to readers):

  kmeans_vectors  (vec_id, v, epoch)                — quantized corpus
  kmeans_centers  (cluster, cv, trained_epoch)      — the frozen centers
  kmeans_assign   (vec_id, cluster, d2_q, frozen, epoch) — current view

Semantics contract: after a refresh at epoch E, centers equal the
one-shot batch :func:`~..pipeline.similarity.kmeans` over every vector
ingested through E (bit-for-bit — the vectors table IS that union and
the Lloyd loop is deterministic), and the assignment view equals
``assign_to_centers`` of ALL ingested vectors against those centers
(refresh re-assigns history; later frozen batches use the byte-identical
assignment plan).  A ledger whose every epoch refreshes therefore equals
the one-shot kmeans over the union after any prefix (tested).  Frozen
assignments carry ``frozen=true`` — the staleness marker the profile
reports (how much of the corpus has never been re-Lloyd'd).

Replay protocol (streaming/fold.py documents it once): a
checkpoint-replayed epoch short-circuits on the vectors table's epoch
key — a replayed batch cannot duplicate vectors, double-assign, or
retrain on half-landed state.

Scale shape per batch at 100 TB: frozen-assign is one broadcast of k x
dim longs onto the batch + one min_by partial agg — map-shaped, no
history read.  Refresh is the batch kmeans' own posture (broadcast
min_by assignment + (cluster, dim) bounded-key update, k x dim longs to
the driver per round) over the at-rest vectors — scheduled, not
per-batch; the vectors table is the same asymptote every ANN index
already pays (``IVF.cells`` keeps full quantized vectors per cell).

Reference analog: powa's snapshot/coalesce split (frequent cheap
appends, periodic aggregate repack — powa--5.2.0.sql snapshot vs
coalesce passes); the refresh is the coalesce of clustering state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.similarity import assign_to_centers, kmeans, quantized
from ..pipeline.spread import spread, write_coalesce
from ..session import local_frame
from ..storage import Warehouse
from .fold import fold, replace

VECTORS_TABLE = "kmeans_vectors"
CENTERS_TABLE = "kmeans_centers"
ASSIGN_TABLE = "kmeans_assign"


def process_kmeans_batch(
    wh: Warehouse,
    batch: DataFrame,
    epoch_id: int,
    k: int = 8,
    init_rounds: int = 3,
    max_rounds: int = 10,
    refresh: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectors_table: str = VECTORS_TABLE,
    centers_table: str = CENTERS_TABLE,
    assign_table: str = ASSIGN_TABLE,
    stats_out: dict | None = None,
) -> bool:
    """Fold one micro-batch into the clustering ledger; returns False
    when the epoch already landed (checkpoint replay).

    ``refresh=True`` (or the first batch ever — there are no centers to
    freeze against) runs the full integer-Lloyd refresh over ALL at-rest
    vectors and replaces centers + the whole assignment view; otherwise
    the batch frozen-assigns against the current centers and appends."""
    epoch = F.lit(int(epoch_id)).cast("long")

    def build(wh, batch, sp):
        # spread before the vector quantization map (r13, guide §2.5):
        # serial one-split batches otherwise; probe-gated.  Lazy
        # checkpoint (r14): the probe below materializes it, so the
        # staged append and the refresh/frozen assignment read the
        # blocks instead of re-running the exchange + quantize.
        vecs = spread(batch, id_col).select(
            F.col(id_col).alias("vec_id"),
            quantized(F.col(vec_col)).alias("v"),
        ).withColumn("epoch", epoch).localCheckpoint(eager=False)

        # Structured Streaming can deliver EMPTY micro-batches.  Folding
        # one is a no-op — and on the first-ever batch it would send
        # kmeans() a zero-row frame (seed LIMIT 1 on nothing ->
        # degenerate centers).  Skip unless an explicit refresh was
        # requested AND there is history to refresh over — and then
        # refresh directly over history without appending a zero-row run
        # to the vectors ledger (r13, ADVICE r12: empty epochs never
        # land in the ledger; a crash-replay of an empty refresh re-runs
        # the deterministic Lloyd and replaces identical state).
        is_empty = not vecs.take(1)
        if is_empty and not (refresh and wh.exists(centers_table)):
            if stats_out is not None:
                stats_out["refreshed"] = False
            return None

        writes = {}
        if not is_empty:
            # write_coalesce (r13, guide §6): the spread exchange leaves
            # the batch at cluster parallelism — staged as-is every fold
            # appends tiny files every later refresh re-lists and re-reads
            writes[vectors_table] = write_coalesce(vecs)
        if refresh or not wh.exists(centers_table):
            # full integer-Lloyd over the at-rest union (history + this
            # batch — the staged vectors haven't published yet, so union
            # the batch explicitly); deterministic => equals the one-shot
            # batch kmeans over everything ingested through this epoch
            all_vecs = vecs.select("vec_id", "v")
            if wh.exists(vectors_table):
                hist = wh.read(vectors_table).select("vec_id", "v")
                all_vecs = hist if is_empty else hist.unionByName(all_vecs)
            st: dict = {}
            assign = kmeans(
                all_vecs, k=k, init_rounds=init_rounds,
                max_rounds=max_rounds, id_col="vec_id", vec_col="v",
                stats_out=st, pre_quantized=True,
            )
            # k driver-local rows in ONE file: a local frame scans in
            # up to defaultParallelism slices
            centers = local_frame(
                wh.spark,
                [(i, c, int(epoch_id)) for i, c in enumerate(st["centers"])],
                "cluster long, cv array<bigint>, trained_epoch long",
            ).coalesce(1)
            writes[centers_table] = replace(centers)
            # the corpus-sized refresh REPLACE stays uncoalesced — its
            # parallelism must scale with the at-rest table
            writes[assign_table] = replace(assign.select(
                "vec_id", "cluster", "d2_q",
                F.lit(False).alias("frozen"), epoch.alias("epoch"),
            ))
            if stats_out is not None:
                stats_out.update(st)
                stats_out["refreshed"] = True
        else:
            cents = wh.read(centers_table).select("cluster", "cv")
            assign = assign_to_centers(
                vecs.select("vec_id", "v"), cents, id_col="vec_id"
            )
            # frozen appends are batch-bounded: coalesce the write
            writes[assign_table] = write_coalesce(assign.select(
                "vec_id", "cluster", "d2_q",
                F.lit(True).alias("frozen"), epoch.alias("epoch"),
            ))
            if stats_out is not None:
                stats_out["refreshed"] = False
        return writes

    return fold(wh, batch,
                tables=(vectors_table, centers_table, assign_table),
                key=(vectors_table, int(epoch_id)), build=build)


def kmeans_assignment(wh: Warehouse,
                      assign_table: str = ASSIGN_TABLE) -> DataFrame:
    """The current assignment view from the ledger alone — after a
    refresh epoch this equals the one-shot batch kmeans over everything
    ingested (tested bit-for-bit)."""
    return wh.read(assign_table).select(
        "vec_id", "cluster", "d2_q", "frozen"
    )


def kmeans_ledger_profile(wh: Warehouse,
                          assign_table: str = ASSIGN_TABLE) -> DataFrame:
    """Per-cluster rollup of the ledger's assignment view: size,
    integer inertia, radius, and the staleness count (vectors assigned
    against frozen centers since the last refresh) — the report an
    operator reads to decide when the next refresh is due.  One
    bounded-key groupBy, nothing rescans vectors."""
    return (
        wh.read(assign_table)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("frozen").cast("long")).alias("n_frozen"),
            F.sum("d2_q").alias("inertia_q"),
            F.max("d2_q").alias("radius_q"),
        )
    )


def kmeans_staleness(wh: Warehouse,
                     frozen_frac_threshold: float = 0.2,
                     centers_table: str = CENTERS_TABLE,
                     assign_table: str = ASSIGN_TABLE) -> DataFrame:
    """ONE-row ledger staleness report (r12, VERDICT r11 task 6) — the
    refresh-due signal an operator reads: how much of the corpus is
    frozen-assigned against centers it never trained (``frozen_frac``),
    how many epochs have landed since the last refresh, and whether the
    frozen fraction has crossed the refresh threshold.  Two bounded
    aggregates over the assignment view and the k-row centers dim —
    nothing rescans vectors, so the signal is as cheap as reading the
    ledger's metadata at any corpus size."""
    trained = wh.read(centers_table).agg(
        F.max("trained_epoch").alias("trained_epoch")
    )
    agg = wh.read(assign_table).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("frozen").cast("long")).alias("n_frozen"),
        F.max("epoch").alias("latest_epoch"),
        F.sum("d2_q").alias("inertia_q"),
    )
    frac = F.col("n_frozen") / F.col("n_vecs")
    return agg.crossJoin(trained).select(
        "n_vecs",
        "n_frozen",
        frac.alias("frozen_frac"),
        "inertia_q",
        "trained_epoch",
        "latest_epoch",
        (F.col("latest_epoch") - F.col("trained_epoch"))
        .alias("epochs_since_refresh"),
        (frac >= F.lit(frozen_frac_threshold)).alias("refresh_due"),
    )
