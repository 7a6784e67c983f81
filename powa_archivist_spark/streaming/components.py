"""At-rest incremental connected-components dedup ledger (r13, VERDICT
r12 task 2/4) — the missing at-rest family member: every other
dedup/sketch family had a ledger with replay short-circuit (digests,
near-dup bands, BM25 postings, CMS/HLL/KLL, k-means, PQ codes, novelty
grams), but transitive-closure dedup only had the batch
:func:`~..pipeline.dedup.connected_components` — a corpus built
incrementally at 100 TB re-ran the full CC over the pair ledger every
time, and the greedy first-owner ledger (streaming/dedup.py) keeps a
DIFFERENT set than CC's min-id-per-component.

State tables (folded through ONE txn.StagedPass manifest per batch —
the package-wide D1 shape; reference analog: the packed at-rest
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
bit-for-bit, labels = min doc id per component.  Replay protocol: a
checkpoint-replayed epoch short-circuits on a ``limit(1)`` epoch probe
against the assign table (streaming/quantiles.py's protocol).

Scale shape per batch at 100 TB: the cross-batch candidate join keys
on (band, bucket) — at scale the ledger partitions by bucket so a
batch touches only its colliding buckets' files; the contracted CC's
driver loop is bounded by the batch's edge count; the one corpus-sized
read is the old-endpoint label lookup, a broadcast-semi-pruned scan of
the two-long-column assign table (the digest-ledger asymptote every
streaming dedup pass already pays)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.spread import spread, write_coalesce
from ..session import adopt
from ..storage import Warehouse
from .dedup import NearDupLedger
from .ingest import with_epoch_marker as _with_epoch_marker

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
    StagedPass manifest; a restart starts cold and seeds identical
    state from disk.  ``assign`` is the lazy union of the folds'
    checkpointed batch_assign deltas (each materialized by its own
    staged write — exactly the table's contents); ``remap`` is the
    checkpointed current remap (None = table absent)."""

    def __init__(self) -> None:
        super().__init__()
        self.assign: DataFrame | None = None
        self.remap: DataFrame | None = None
        #: True once assign/remap were seeded (from disk or from the
        #: first fold) — an absent remap is a VALID cached state, so a
        #: plain None check cannot express "cold"
        self.seeded = False

    def reset(self) -> None:
        """Drop the cached views (crash-recovery applied a manifest
        this process did not fold — reseed from the tables)."""
        self.assign = None
        self.remap = None
        self.seeded = False

    def close(self) -> None:
        super().close()
        self.reset()


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
    from ..txn import GLOBAL_LANE, StagedPass

    from .epochs import epoch_replayed, landed

    wh = wh.engine()
    batch = adopt(wh.spark, batch)
    healed = StagedPass.recover(wh, GLOBAL_LANE)
    StagedPass.sweep_flat_stages(wh, COMP_LEDGER_TABLE, COMP_EDGES_TABLE,
                                 COMP_ASSIGN_TABLE, COMP_REMAP_TABLE)
    # cross-fold state cache (r14, VERDICT r13 task 2): when the caller
    # threads a ComponentsState, the assign/remap views live in the
    # driver as checkpointed frames and the fold re-reads no state
    # table; recovery applying a crashed pass's manifest invalidates
    # the cache (those rows landed without this process's fold), same
    # contract as the epoch memo
    st = ledger if isinstance(ledger, ComponentsState) else None
    if st is not None and healed:
        st.reset()
    # in-process replay memo (r13): a dict lookup instead of one
    # limit(1) probe job per micro-batch; cold entries seed once
    if epoch_replayed(wh, COMP_ASSIGN_TABLE, int(epoch_id)):
        return False
    if st is not None and not st.seeded:
        # cold seed: one read handle per table, resolved now; later
        # folds extend these frames in memory with the checkpointed
        # deltas their staged writes materialize
        st.assign = (wh.read(COMP_ASSIGN_TABLE)
                     if wh.exists(COMP_ASSIGN_TABLE) else None)
        st.remap = (wh.read(COMP_REMAP_TABLE)
                    if wh.exists(COMP_REMAP_TABLE) else None)
        st.seeded = True

    # eager localCheckpoint, not persist (r13): both frames feed many
    # downstream statements (candidate join, verify, contraction,
    # ledger delta, staged writes), and with persist every one of those
    # actions re-canonicalizes the full minhash expression tree on the
    # driver for the cache lookup — measured as multi-second driver
    # gaps per fold.  The checkpoint truncates lineage to a leaf; the
    # data lands in the same block-manager storage.
    # spread before the shingle transform (r13, guide §2.5): a batch
    # cut from a few parquet splits runs the whole shingle + minhash
    # map serially otherwise; the eager checkpoint then pins the
    # parallel layout for every downstream statement.  Probe-gated —
    # a many-file micro-batch skips the exchange.
    # empty-batch probe rides the checkpoint MATERIALIZATION itself
    # (r14, the Observation API — VERDICT r13 task 2): the eager
    # localCheckpoint job already computes every row, so the row count
    # falls out of the same job and the former take(1) probe job (one
    # per fold) disappears
    from pyspark.sql import Observation

    obs = Observation()
    sh_b = shingle_arrays(spread(batch, id_col), shingle_n, text_col,
                          id_col).observe(
        obs, F.count(F.lit(1)).alias("n")
    ).localCheckpoint()
    if obs.get["n"] == 0:
        return False
    # lazy checkpoint (r13): the first action (the cedges probe below)
    # materializes the bands while sh_b's blocks are hot; the ledger
    # append and later folds then read the checkpointed blocks.  An
    # eager checkpoint here was one extra fixed-latency job per fold.
    batch_bands = minhash_bands(
        batch, num_perm, bands, shingle_n, text_col, id_col,
        shingle_df=sh_b, hash_fn=hash_fn,
    ).localCheckpoint(eager=False)
    # ONE unified candidate+verify pipeline (r13, guide §2.4): the
    # in-batch band self-join and the cross-batch ledger join used
    # to be two separate join+verify subtrees — at fold scale each
    # Exchange is one fixed-latency AQE sub-job, and at 100 TB each
    # is a real shuffle.  The "other" side is the batch itself
    # (admitted only when other_id < new_id — the a<b in-batch rule)
    # unioned with the all-ingested ledger (admitted always);
    # batch ids and ledger ids are disjoint for fresh docs, and a
    # re-ingested id self-pairs exactly like the old cross-batch
    # join did (harmless: contraction drops la == lb).  Candidate
    # set, verify formula and final least/greatest orientation are
    # identical to the two-subtree form.
    combined = None
    if ledger is not None and ledger.combined is not None:
        combined = ledger.combined
    elif wh.exists(COMP_LEDGER_TABLE):
        combined = wh.read(COMP_LEDGER_TABLE)
        if ledger is not None:
            ledger.combined = combined  # restart: seed the cache
    other_bands = batch_bands.select(
        "band", "bucket", F.col(id_col).alias("other_id"),
        F.lit(False).alias("is_old"),
    )
    other_sh = sh_b.select(F.col(id_col).alias("other_id"),
                           F.col("sh").alias("b_sh"))
    if combined is not None:
        other_bands = other_bands.unionByName(
            combined.filter(F.col("band").isNotNull()).select(
                "band", "bucket", F.col(id_col).alias("other_id"),
                F.lit(True).alias("is_old"),
            )
        )
        other_sh = other_sh.unionByName(
            combined.filter(F.col("band").isNull()).select(
                F.col(id_col).alias("other_id"),
                F.col("sh").alias("b_sh"),
            )
        )
    cands = (
        batch_bands.select(
            "band", "bucket", F.col(id_col).alias("new_id")
        )
        .join(other_bands, ["band", "bucket"])
        .filter(F.col("is_old") | (F.col("other_id") < F.col("new_id")))
        .select("new_id", "other_id")
        .distinct()
    )
    an = sh_b.select(F.col(id_col).alias("new_id"),
                     F.col("sh").alias("a_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    edges_new = (
        cands.join(an, "new_id")
        .join(other_sh, "other_id")
        .filter((inter / union) >= threshold)
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
    # batch ids read from the CHECKPOINTED shingle frame (r13):
    # shingle_arrays keeps exactly one row per batch doc, so this is the
    # same id set served from block-manager blocks — the raw batch
    # would re-scan its parquet splits on each of the three bounded
    # joins below (label contraction, assign build, remap anti-join)
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
    # edges.  r13: the contracted delta graph is tiny by
    # construction (bounded by the batch's edges, cliques already
    # collapsed by label contraction), so under the same driver cap
    # connected_components uses, ONE take() probe + exact min-label
    # union-find replaces the full CC call — which would re-run its
    # own hook/contract pre-pass (explode + groupBy + double join +
    # distinct, each an Exchange and an AQE sub-job) on an
    # already-contracted graph.  Past the cap the distributed CC
    # remains the route, so the 100 TB posture is unchanged.
    driver_cap = int(os.environ.get("SPARK_GRAFT_CC_DRIVER_EDGES",
                                    "500000"))
    probe = cedges.take(driver_cap + 1)
    if len(probe) <= driver_cap:
        lab = min_label_union_find(probe)
        delta_rows = sorted(
            (int(n), int(v)) for n, v in lab.items() if n != v
        )
        # one slice (r13): the plain form is a 32-slice LocalTableScan
        # whose non-broadcast uses below each pay empty tasks, and
        # coalescing one measured a multi-second fallback penalty
        delta_map = wh.spark.createDataFrame(
            wh.spark.sparkContext.parallelize(delta_rows, 1),
            _REMAP_SCHEMA,
        )
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
    # never need a remap row of their own); a batch doc absent from
    # delta_map keeps itself as label.  When the fold changed no
    # labels the join is skipped outright — the assign rows are the
    # ids themselves.
    if delta_empty:
        batch_assign = batch_ids.select(
            F.col("node").alias(id_col),
            F.col("node").alias("label0"),
            F.lit(int(epoch_id)).cast("long").alias("epoch"),
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
                F.lit(int(epoch_id)).cast("long").alias("epoch"),
            )
        )
    # remap fold: existing entries pointer-jump through delta_map
    # (keeps the dim flat); changed OLD labels add new entries —
    # batch-origin labels are excluded (their docs carry the final
    # label directly).  Key-disjoint by construction: delta keys
    # are CURRENT labels, which are never existing remap keys.
    # r13: an empty delta leaves the remap EXACTLY as it was
    # (jumped == old_remap, no new entries), so the rewrite — one
    # staged table replace plus a join, every fold — is skipped.
    new_remap = None
    if not delta_empty:
        # reuse the read handle resolved for the contraction view above
        # (r14): the second wh.read of the same table per fold was pure
        # driver listing cost
        if old_remap_view is not None:
            old_remap = old_remap_view
        else:
            old_remap = wh.spark.createDataFrame([], _REMAP_SCHEMA)
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
        new_remap = jumped.unionByName(new_entries)

    # all-ingested bands+shingles delta (band NULL = shingle rows)
    sh_type = dict(sh_b.dtypes)["sh"]
    band_t = dict(batch_bands.dtypes)["band"]
    bucket_t = dict(batch_bands.dtypes)["bucket"]
    # write_coalesce INSIDE the checkpointed lineage (r13, guide §6):
    # the union of two 32-partition checkpoints otherwise writes ~64
    # tiny files per fold, and every later fold re-lists and re-reads
    # them through the ledger
    combined_delta = write_coalesce(batch_bands.select(
        id_col, "band", "bucket",
        F.lit(None).cast(sh_type).alias("sh"),
    ).unionByName(
        sh_b.select(
            id_col,
            F.lit(None).cast(band_t).alias("band"),
            F.lit(None).cast(bucket_t).alias("bucket"),
            "sh",
        )
    ))
    if ledger is not None:
        combined_delta = ledger.advance(combined_delta)

    # lazy checkpoints on the assign/remap deltas (r14): each staged
    # write below is its materializing action, and the cross-fold state
    # cache then extends its in-memory views with the checkpointed
    # blocks instead of re-reading the tables next fold
    batch_assign = batch_assign.localCheckpoint(eager=False)
    if new_remap is not None:
        new_remap = new_remap.localCheckpoint(eager=False)

    sp = StagedPass(wh, GLOBAL_LANE)
    # the four staged writes touch four DISTINCT tables and read only
    # checkpointed/cached inputs — run them overlapped (r14, guide
    # §2.6): at fold scale each write is a fixed-latency micro-job and
    # serializing them was the fold's tail
    calls = [
        lambda: sp.stage_append_flat(combined_delta, COMP_LEDGER_TABLE),
        lambda: sp.stage_append_flat(
            write_coalesce(edges_new.withColumn(
                "epoch", F.lit(int(epoch_id)).cast("long")
            )),
            COMP_EDGES_TABLE,
        ),
        lambda: sp.stage_append_flat(write_coalesce(batch_assign),
                                     COMP_ASSIGN_TABLE),
    ]
    if new_remap is not None:
        # UNcoalesced (r14, ADVICE r13): the remap is a full-table
        # replace whose size grows with merge history — write
        # parallelism must scale with the at-rest table
        # (clustering.py's refresh-replace rule); at fold scale the
        # frame is naturally narrow (old remap scan ∪ one delta slice)
        # so no small-file regression either way
        calls.append(
            lambda: sp.stage_replace_flat(new_remap, COMP_REMAP_TABLE))
    sp.stage_concurrently(*calls)
    sp.publish()
    landed(wh, COMP_ASSIGN_TABLE, int(epoch_id))
    if st is not None:
        # mirror the TABLES the pass just published (post-commit only:
        # a fold that raises before publish leaves the cache unchanged,
        # exactly like the tables)
        st.assign = (batch_assign if st.assign is None
                     else st.assign.unionByName(batch_assign))
        if new_remap is not None:
            st.remap = new_remap
    return True


def stream_components_ledger(
    spark,
    landing_glob: str,
    schema,
    checkpoint_dir: str,
    wh: Warehouse,
    threshold: float = 0.8,
    max_files_per_trigger: int = 16,
    ledger: NearDupLedger | None = None,
):
    """Structured Streaming wrapper: landing files -> foreachBatch
    components fold.  The epoch marker skips wasted work on re-delivery
    and the in-fold epoch probe makes a marker-less replay a no-op
    too.  Pass a :class:`~.dedup.NearDupLedger` to cache the growing
    bands+shingles state across batches (caller owns ``close()``)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_glob)
    )
    marker_dir = os.path.join(checkpoint_dir, "epoch_markers")

    def process(batch: DataFrame, epoch_id: int) -> None:
        _with_epoch_marker(
            marker_dir, epoch_id,
            lambda: process_components_batch(
                wh, batch, epoch_id, threshold=threshold, ledger=ledger,
            ),
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
