"""At-rest incremental connected-components dedup ledger (r13, VERDICT
r12 task 2/4) — the missing at-rest family member: every other
dedup/sketch family had a ledger with replay short-circuit (digests,
near-dup bands, BM25 postings, CMS/HLL/KLL, k-means, PQ codes, novelty
grams), but transitive-closure dedup only had the batch
:func:`~..pipeline.dedup.connected_components` — a corpus built
incrementally at 100 TB re-ran the full CC over the pair ledger every
time, and the greedy first-owner ledger (streaming/dedup.py) keeps a
DIFFERENT set than CC's min-id-per-component.

State tables (folded through ONE manifest per batch by the ledger-fold
runner, streaming/fold.py — reference analog: the packed at-rest
posture, powa--5.2.0.sql:2107-2123):

  components_ledger  (doc_id, band, bucket, sh)  — bands+shingles of ALL
                     ingested docs (band NULL discriminates shingle
                     rows; same layout as the near-dup ledger)
  components_edges   (a_id, b_id, epoch)         — verified near-dup
                     edges, append-only
  components_assign  (doc_id, label0, epoch)     — IMMUTABLE per-doc
                     rows: the doc's component label AT INSERT TIME
  components_remap   (from_label, to_label)      — bounded dim mapping
                     superseded labels to their current component

The split is the scale design: when components MERGE, the docs whose
label changed are never rewritten — one bounded remap row redirects
every doc that ever carried the superseded label.  The current
assignment view is ``coalesce(remap[label0], label0)`` — one broadcast
join of a dim bounded by MERGE EVENTS (not membership, not corpus).
The remap is kept FLAT (pointer-jumped to its fixed point every fold),
so the view is one lookup deep by construction.

Fold algorithm per micro-batch (incremental hooking over new edges
only):

1. band+shingle the batch once; verified near-dup edges = in-batch
   band collisions + cross-batch collisions against the ledger
   (identical candidate+verify semantics to the one-shot
   :func:`~..pipeline.dedup.minhash_dedup_pairs` — bands are
   content-deterministic, so the edge union over batches EQUALS the
   one-shot pair relation over the union corpus);
2. contract the new edges through the current view (old endpoints map
   to their component label, batch endpoints to themselves) and run
   the batch CC on the CONTRACTED graph — bounded by the batch's
   edges, never the corpus;
3. changed labels become remap rows (old remap entries pointer-jump
   through them, so the dim stays flat); batch docs land in ``assign``
   with their FINAL post-fold label, so they never need a remap entry
   of their own.

Semantics contract (tested batch-equality): after any prefix of folds,
:func:`components_assignment` equals the one-shot
``connected_components(minhash_dedup_pairs(union), union)`` —
bit-for-bit, labels = min doc id per component.  Replay protocol
(streaming/fold.py documents it once): a checkpoint-replayed epoch
short-circuits on the assign table's epoch key.

Scale shape per batch at 100 TB: the cross-batch candidate join keys
on (band, bucket) — at scale the ledger partitions by bucket so a
batch touches only its colliding buckets' files; the contracted CC's
driver loop is bounded by the batch's edge count; the one corpus-sized
read is the old-endpoint label lookup, a broadcast-semi-pruned scan of
the two-long-column assign table (the digest-ledger asymptote every
streaming dedup pass already pays)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..pipeline.spread import spread, write_coalesce
from ..session import local_frame
from ..storage import Warehouse
from .dedup import NearDupLedger, kept_ledger, ledger_rows, verified_pairs
from .fold import fold, replace, stream_fold

COMP_LEDGER_TABLE = "components_ledger"
COMP_EDGES_TABLE = "components_edges"
COMP_ASSIGN_TABLE = "components_assign"
COMP_REMAP_TABLE = "components_remap"

_REMAP_SCHEMA = "from_label long, to_label long"


class ComponentsState(NearDupLedger):
    """Cross-fold in-memory view of the components ledger state (r14,
    VERDICT r13 task 2): extends :class:`NearDupLedger`'s combined
    bands+shingles cache with the ASSIGN and REMAP views, so a fold's
    hot path re-reads (and re-lists) no state table at all — the r13
    profile attributed ~1 s/fold to driver-side frame construction plus
    per-fold warehouse read listing.  Same durability contract as the
    parent: the parquet state is still written every fold through the
    manifest, the views advance only after it published, and a restart
    starts cold and seeds identical state from disk.  ``assign`` is the
    lazy union of the folds' checkpointed batch_assign deltas (each
    materialized by its own staged write — exactly the table's
    contents); ``remap`` is the checkpointed current remap (None =
    table absent)."""

    def __init__(self) -> None:
        super().__init__()
        self.assign: DataFrame | None = None
        self.remap: DataFrame | None = None
        #: True once assign/remap were seeded (from disk or from the
        #: first fold) — an absent remap is a VALID cached state, so a
        #: plain None check cannot express "cold"
        self.seeded = False
        self._views: tuple | None = None

    def begin(self, healed: int) -> None:
        super().begin(healed)
        self._views = None

    def stage_views(self, assign: DataFrame,
                    remap: DataFrame | None) -> None:
        """Hold one fold's assign delta and new remap until commit."""
        self._views = (assign, remap)

    def commit(self) -> None:
        super().commit()
        if self._views is not None:
            assign, remap = self._views
            self.assign = (assign if self.assign is None
                           else self.assign.unionByName(assign))
            if remap is not None:
                self.remap = remap
            self._views = None

    def close(self) -> None:
        super().close()
        self.assign = None
        self.remap = None
        self.seeded = False
        self._views = None


def _assignment_view(assign: DataFrame,
                     remap: DataFrame | None) -> DataFrame:
    """(doc_id, component) from given assign/remap frames — the shared
    body of :func:`components_assignment` and the fold's cached-state
    path (one broadcast redirect through the bounded remap dim)."""
    if remap is None:
        return assign.select(
            "doc_id", F.col("label0").alias("component")
        )
    return (
        assign.join(
            F.broadcast(remap),
            assign.label0 == remap.from_label, "left",
        )
        .select(
            "doc_id",
            F.coalesce("to_label", "label0").alias("component"),
        )
    )


def components_assignment(wh: Warehouse,
                          assign_table: str = COMP_ASSIGN_TABLE,
                          remap_table: str = COMP_REMAP_TABLE) -> DataFrame:
    """The current (doc_id, component) view from the ledger alone:
    immutable per-doc labels redirected through the broadcast remap
    dim.  After any fold this equals the one-shot
    ``connected_components`` over every ingested doc and verified edge
    (tested bit-for-bit)."""
    assign = wh.read(assign_table)
    remap = wh.read(remap_table) if wh.exists(remap_table) else None
    return _assignment_view(assign, remap)


def process_components_batch(
    wh: Warehouse,
    batch: DataFrame,
    epoch_id: int,
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    ledger: NearDupLedger | None = None,
) -> bool:
    """Fold one micro-batch into the components ledger; returns False
    when the epoch already landed (checkpoint replay) or the batch is
    empty.  See the module docstring for the algorithm and the
    batch-equality contract."""
    from ..pipeline.dedup import (connected_components, min_label_union_find,
                                  minhash_bands, shingle_arrays)

    # cross-fold state cache (r14, VERDICT r13 task 2): when the caller
    # threads a ComponentsState, the assign/remap views live in the
    # driver as checkpointed frames and the fold re-reads no state table
    st = ledger if isinstance(ledger, ComponentsState) else None
    epoch = F.lit(int(epoch_id)).cast("long")

    def build(wh, batch, sp):
        if st is not None and not st.seeded:
            # cold seed: one read handle per table, resolved now; later
            # folds extend these frames in memory with the checkpointed
            # deltas their staged writes materialize
            st.assign = (wh.read(COMP_ASSIGN_TABLE)
                         if wh.exists(COMP_ASSIGN_TABLE) else None)
            st.remap = (wh.read(COMP_REMAP_TABLE)
                        if wh.exists(COMP_REMAP_TABLE) else None)
            st.seeded = True

        # eager localCheckpoint, not persist (r13): both frames feed
        # many downstream statements (candidate join, verify,
        # contraction, ledger delta, staged writes), and with persist
        # every one of those actions re-canonicalizes the full minhash
        # expression tree on the driver for the cache lookup.  spread
        # before the shingle transform (r13, guide §2.5): a batch cut
        # from a few parquet splits runs the whole shingle + minhash map
        # serially otherwise.  The empty-batch probe rides the
        # checkpoint's own job (r14, Observation API).
        obs = Observation()
        sh_b = shingle_arrays(spread(batch, id_col), shingle_n, text_col,
                              id_col).observe(
            obs, F.count(F.lit(1)).alias("n")
        ).localCheckpoint()
        if obs.get["n"] == 0:
            return None
        # lazy checkpoint (r13): the first action (the cedges probe
        # below) materializes the bands while sh_b's blocks are hot
        batch_bands = minhash_bands(
            batch, num_perm, bands, shingle_n, text_col, id_col,
            shingle_df=sh_b, hash_fn=hash_fn,
        ).localCheckpoint(eager=False)
        # batch ids and ledger ids are disjoint for fresh docs; a
        # re-ingested id self-pairs (harmless: contraction drops
        # la == lb)
        edges_new = (
            verified_pairs(
                batch_bands, sh_b,
                kept_ledger(wh, ledger, COMP_LEDGER_TABLE), id_col,
                threshold,
            )
            .select(
                F.least("new_id", "other_id").alias("a_id"),
                F.greatest("new_id", "other_id").alias("b_id"),
            )
            .localCheckpoint(eager=False)
        )

        # contract the new edges through the current view: old
        # endpoints -> current component label, batch endpoints ->
        # themselves.  The endpoint set is bounded by the batch's
        # edges, so the semi-prune broadcasts.
        endpoints = (
            edges_new.select(F.col("a_id").alias("node"))
            .unionByName(edges_new.select(F.col("b_id").alias("node")))
            .distinct()
        )
        # batch ids read from the CHECKPOINTED shingle frame (r13): one
        # row per batch doc, served from block-manager blocks instead of
        # re-scanning the batch's parquet splits on each of the three
        # bounded joins below
        batch_ids = sh_b.select(F.col(id_col).alias("node"))
        label_frames = [
            batch_ids.join(F.broadcast(endpoints), "node", "left_semi")
            .select("node", F.col("node").alias("label"))
        ]
        if st is not None:
            old_assign, old_remap_view = st.assign, st.remap
        else:
            old_assign = (wh.read(COMP_ASSIGN_TABLE)
                          if wh.exists(COMP_ASSIGN_TABLE) else None)
            old_remap_view = (wh.read(COMP_REMAP_TABLE)
                              if wh.exists(COMP_REMAP_TABLE) else None)
        if old_assign is not None:
            old_view = _assignment_view(old_assign, old_remap_view).select(
                F.col(id_col).alias("node"),
                F.col("component").alias("label"),
            )
            label_frames.append(
                old_view.join(F.broadcast(endpoints), "node", "left_semi")
            )
        view = label_frames[0]
        for fr in label_frames[1:]:
            view = view.unionByName(fr)
        la = view.select(F.col("node").alias("a_id"),
                         F.col("label").alias("la"))
        lb = view.select(F.col("node").alias("b_id"),
                         F.col("label").alias("lb"))
        cedges = (
            edges_new.join(la, "a_id").join(lb, "b_id")
            .filter(F.col("la") != F.col("lb"))
            .select(
                F.least("la", "lb").alias("src"),
                F.greatest("la", "lb").alias("dst"),
            )
        )
        # batch CC over the CONTRACTED graph — bounded by this batch's
        # edges.  r13: under the same driver cap connected_components
        # uses, ONE take() probe + exact min-label union-find replaces
        # the full CC call (whose hook/contract pre-pass would re-run on
        # an already-contracted graph).  Past the cap the distributed CC
        # remains the route, so the 100 TB posture is unchanged.
        driver_cap = int(os.environ.get("SPARK_GRAFT_CC_DRIVER_EDGES",
                                        "500000"))
        probe = cedges.take(driver_cap + 1)
        if len(probe) <= driver_cap:
            lab = min_label_union_find(probe)
            delta_rows = sorted(
                (int(n), int(v)) for n, v in lab.items() if n != v
            )
            # one slice: the remap rows it adds below land in one file
            delta_map = local_frame(wh.spark, delta_rows,
                                    _REMAP_SCHEMA).coalesce(1)
            delta_empty = not delta_rows
        else:
            cedges = cedges.select(
                F.col("src").alias("a_id"), F.col("dst").alias("b_id")
            ).localCheckpoint(eager=False)
            cnodes = (
                cedges.select(F.col("a_id").alias("n"))
                .unionByName(cedges.select(F.col("b_id").alias("n")))
                .distinct()
            )
            delta_map = (
                connected_components(cedges, cnodes, id_col="n")
                .filter(F.col("n") != F.col("component"))
                .select(
                    F.col("n").alias("from_label"),
                    F.col("component").alias("to_label"),
                )
                .localCheckpoint(eager=False)
            )
            delta_empty = False

        # batch docs land with their FINAL post-fold label (so they
        # never need a remap row of their own); when the fold changed no
        # labels the join is skipped — the assign rows are the ids
        if delta_empty:
            batch_assign = batch_ids.select(
                F.col("node").alias(id_col),
                F.col("node").alias("label0"),
                epoch.alias("epoch"),
            )
        else:
            batch_assign = (
                batch_ids.join(
                    F.broadcast(delta_map),
                    batch_ids.node == delta_map.from_label, "left",
                )
                .select(
                    F.col("node").alias(id_col),
                    F.coalesce("to_label", "node").alias("label0"),
                    epoch.alias("epoch"),
                )
            )
        # remap fold: existing entries pointer-jump through delta_map
        # (keeps the dim flat); changed OLD labels add new entries —
        # batch-origin labels are excluded (their docs carry the final
        # label directly).  Key-disjoint by construction: delta keys
        # are CURRENT labels, which are never existing remap keys.
        # r13: an empty delta leaves the remap EXACTLY as it was, so the
        # rewrite is skipped.
        new_remap = None
        if not delta_empty:
            # reuse the read handle resolved for the contraction view
            # above (r14)
            if old_remap_view is not None:
                old_remap = old_remap_view
            else:
                old_remap = local_frame(wh.spark, [], _REMAP_SCHEMA)
            jumped = (
                old_remap.join(
                    F.broadcast(delta_map.select(
                        F.col("from_label").alias("t"),
                        F.col("to_label").alias("t2"),
                    )),
                    old_remap.to_label == F.col("t"), "left",
                )
                .select(
                    "from_label",
                    F.coalesce("t2", "to_label").alias("to_label"),
                )
            )
            new_entries = delta_map.join(
                F.broadcast(batch_ids),
                delta_map.from_label == batch_ids.node,
                "left_anti",
            )
            # lazy checkpoint (r14): the staged write materializes it
            # and the state cache then holds the blocks
            new_remap = jumped.unionByName(new_entries).localCheckpoint(
                eager=False)

        # all-ingested bands+shingles delta (band NULL = shingle rows)
        combined_delta = ledger_rows(batch_bands, sh_b, id_col)
        if ledger is not None:
            combined_delta = ledger.stage(combined_delta)
        batch_assign = batch_assign.localCheckpoint(eager=False)
        if st is not None:
            st.stage_views(batch_assign, new_remap)
        # four DISTINCT tables over checkpointed/cached inputs — the
        # runner stages them overlapped (r14, guide §2.6)
        writes = {
            COMP_LEDGER_TABLE: combined_delta,
            COMP_EDGES_TABLE: write_coalesce(
                edges_new.withColumn("epoch", epoch)),
            COMP_ASSIGN_TABLE: write_coalesce(batch_assign),
        }
        if new_remap is not None:
            # UNcoalesced (r14, ADVICE r13): the remap is a full-table
            # replace whose size grows with merge history — write
            # parallelism must scale with the at-rest table
            writes[COMP_REMAP_TABLE] = replace(new_remap)
        return writes

    return fold(
        wh, batch,
        tables=(COMP_LEDGER_TABLE, COMP_EDGES_TABLE, COMP_ASSIGN_TABLE,
                COMP_REMAP_TABLE),
        key=(COMP_ASSIGN_TABLE, int(epoch_id)), build=build, state=ledger,
    )


def stream_components_ledger(
    spark,
    landing_glob: str,
    schema,
    checkpoint_dir: str,
    wh: Warehouse,
    threshold: float = 0.8,
    ledger: NearDupLedger | None = None,
):
    """Structured Streaming wrapper (:func:`~.fold.stream_fold`):
    landing files -> components fold.  Pass a
    :class:`~.dedup.NearDupLedger` to cache the growing bands+shingles
    state across batches (caller owns ``close()``)."""
    return stream_fold(
        spark, landing_glob, schema, checkpoint_dir,
        lambda batch, epoch_id, gen: process_components_batch(
            wh, batch, epoch_id, threshold=threshold, ledger=ledger),
    )
