"""Streaming deduplication — the continuous-ingest twin of
``pipeline.dedup.exact_dedup`` for a landing stream of documents.

Two forms, matching how Spark wants this expressed:

- :func:`stream_exact_dedup` — ``dropDuplicatesWithinWatermark`` on the
  normalized-text digest: state is bounded by the watermark horizon (a
  duplicate arriving later than the horizon is re-emitted — the standard
  trade of state size vs dedup window).  Pure Structured Streaming, one
  stateful operator, no external table.
- :func:`stream_exact_dedup_ledger` — micro-batch folds against a persistent
  digest ledger: each micro-batch anti-joins the seen-digest table, then
  appends the survivors' digests — UNBOUNDED dedup window at the cost of
  one broadcast-able join per batch.  This is the corpus-build shape: at
  100 TB the ledger is a digest-bucketed table and the anti-join shuffles
  only on the digest.

Both keep the batch operator's semantics (first arrival wins by
normalized text) so a corpus built from the stream equals the batch
:func:`pipeline.dedup.exact_dedup` keep-set over the same data, modulo
arrival order inside one micro-batch (resolved min-id like the batch op).

Delivery: both ledger sinks (exact digests and near-dup bands) run
through the ledger-fold runner (streaming/fold.py): a checkpoint-
replayed epoch whose marker exists is a no-op, and the sink append and
the ledger append of one micro-batch commit through ONE manifest, so a
crash MID-epoch leaves either both visible (the replay's survivors
anti-join to nothing) or neither (clean replay) — exactly-once at rest
on plain parquet, the multi-statement-transaction equivalent.  At
100 TB store the digest ledger through :class:`BucketedDigestLedger`
so the per-batch anti-join never re-shuffles the corpus-sized ledger
side.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..pipeline.dedup import normalized_text
from ..pipeline.spread import spread, write_coalesce
from ..session import local_frame
from ..storage import Warehouse
from .fold import fold, stream_fold

LEDGER_TABLE = "corpus_digest_ledger"


def with_digest(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("text_hash", F.md5(normalized_text(F.col(text_col))))


def stream_exact_dedup(
    stream: DataFrame,
    watermark: str = "1 hour",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermark-bounded streaming exact dedup: emits the first arrival
    of each normalized text within the watermark horizon."""
    return (
        with_digest(stream, text_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


class BucketedDigestLedger:
    """At-rest digest ledger BUCKETED on ``text_hash`` (r7, VERDICT r6
    task 8): the per-batch anti-join then reads the ledger with ZERO
    Exchange — only the (small) batch side shuffles into the ledger's
    bucketing, instead of both sides re-shuffling the full ledger every
    micro-batch.  At 100 TB the ledger is the corpus-sized side, so
    this removes the dominant per-batch shuffle.

    Layout machinery: ``layout.write_bucketed`` catalog tables (bucket
    spec lives in the session catalog).  Appends stay ATOMIC with the
    rest of the micro-batch pass: ``stage_append`` writes the delta as
    a same-spec bucketed scratch table (bucket ids ride in the file
    names, so moving the files preserves assignment), moves its files
    into an ordinary staged ``append`` op at the ledger's catalog
    location and drops the scratch table.  Publish then moves the files
    into the live ledger under the pass's one manifest commit;
    :meth:`read` refreshes the catalog's view of them.

    Concurrency contract: one writer/reader loop per ledger (the
    stream's serialized micro-batch loop), matching every other global-lane
    writer; crash leftovers are healed by recover() + sweep_stages().
    """

    def __init__(self, wh: Warehouse,
                 table: str = "corpus_digest_ledger_bkt",
                 n_buckets: int = 64) -> None:
        self.wh = wh
        self.spark = wh.spark
        self.table = table
        self.n_buckets = n_buckets

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def read(self) -> DataFrame:
        from .. import txn

        txn.heal_table(self.wh, self.table)
        # a pass publishes on the engine session, and its REFRESH TABLE
        # only reaches that session's relation cache
        self.spark.catalog.refreshTable(self.table)
        return self.spark.table(self.table)

    def _location(self, table: str) -> str:
        (row,) = (
            self.spark.sql(f"DESCRIBE FORMATTED `{table}`")
            .filter("col_name = 'Location'")
            .collect()
        )
        loc = row.data_type
        return loc[len("file:"):] if loc.startswith("file:") else loc

    def ensure(self) -> None:
        if not self.exists():
            from ..layout import write_bucketed

            write_bucketed(
                local_frame(self.spark, [], "text_hash string"),
                self.table, ["text_hash"], self.n_buckets,
            )

    def stage_append(self, df: DataFrame, sp) -> None:
        """Stage a bucketed delta into the pass's manifest."""
        from ..layout import drop_table, write_bucketed

        self.ensure()

        def write(d: str) -> None:
            scratch = f"{self.table}__stage_{uuid.uuid4().hex[:12]}"
            write_bucketed(df.select("text_hash"), scratch,
                           ["text_hash"], self.n_buckets)
            os.replace(self._location(scratch), d)
            drop_table(self.spark, scratch)

        sp.stage("append", self.table, write,
                 root=self._location(self.table))

    def sweep_stages(self) -> None:
        """Reclaim what passes that died before their manifest rename
        left: scratch tables, and stages at the ledger location
        (committed ones were consumed by recover())."""
        from ..layout import drop_table
        from ..txn import StagedPass

        for t in self.spark.catalog.listTables():
            if t.name.startswith(f"{self.table}__stage_"):
                drop_table(self.spark, t.name)
        if self.exists():
            StagedPass.sweep_stages(self._location(self.table))


def dedup_batch_survivors(
    wh: Warehouse, batch: DataFrame,
    text_col: str = "text", id_col: str = "doc_id",
    broadcast_ledger: bool = True,
    digest_ledger: "BucketedDigestLedger | None" = None,
) -> DataFrame:
    """The lazy survivors frame of one exact-dedup ledger pass: min-id
    per digest inside the batch, then anti-join the seen-digest ledger.

    ``broadcast_ledger`` controls the anti-join strategy: True (default,
    small/medium corpora) broadcasts the seen-digest set to every task;
    False forces a shuffle-side anti-join — the ledger grows with the
    KEPT corpus, so at 100 TB it cannot broadcast and both sides hash-
    shuffle on the digest (with the ledger stored digest-bucketed, the
    exchange is one-sided — SCALE.md).  Exposed separately from
    :func:`process_dedup_batch` so tests can pin the join strategy."""
    hashed = with_digest(batch, text_col)
    # the min id per digest, joined back on (text_hash, id): the keep
    # side names its min column after id_col, so the join needs no
    # self-join column references
    w_min = hashed.groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    firsts = hashed.join(w_min, ["text_hash", id_col]).select(*hashed.columns)
    if digest_ledger is not None:
        # bucketed ledger: NO Exchange on the ledger side — the batch
        # side alone shuffles into the ledger's bucketing (plan-pinned)
        if digest_ledger.exists():
            firsts = firsts.join(
                digest_ledger.read().hint("shuffle_hash"),
                "text_hash", "left_anti",
            )
        return firsts
    if wh.exists(LEDGER_TABLE):
        seen = wh.read(LEDGER_TABLE)
        if broadcast_ledger:
            seen = F.broadcast(seen)
        else:
            # pin the shuffle path even if AQE would have picked a BHJ
            # for a small ledger: the caller asserting no-broadcast is
            # sizing for a ledger that exceeds executor memory
            seen = seen.hint("shuffle_hash")
        firsts = firsts.join(seen, "text_hash", "left_anti")
    return firsts


def digest_write(docs: DataFrame,
                 digest_ledger: "BucketedDigestLedger | None" = None):
    """The ``(table, write)`` fold write appending ``docs``' digests to
    the flat digest ledger, or to ``digest_ledger`` when bucketed."""
    hashes = docs.select("text_hash")
    if digest_ledger is None:
        return LEDGER_TABLE, hashes
    return digest_ledger.table, lambda sp, _table: (
        digest_ledger.stage_append(hashes, sp))


def process_dedup_batch(
    wh: Warehouse, batch: DataFrame, sink_table: str,
    text_col: str = "text", id_col: str = "doc_id",
    broadcast_ledger: bool = True,
    digest_ledger: "BucketedDigestLedger | None" = None,
) -> None:
    """One ledger pass: compute survivors (see
    :func:`dedup_batch_survivors`), append them to the sink + their
    digests to the ledger — committed through ONE manifest (r7, ADVICE
    r6): a crash between the two appends previously left survivors in
    the sink with their digests missing from the ledger, so the epoch
    replay re-admitted the entire survivor set as duplicates.  Now
    either both appends are visible (replay anti-joins to nothing) or
    neither is (clean replay)."""
    def build(wh, batch, sp):
        if digest_ledger is not None:
            digest_ledger.sweep_stages()
        # lazy checkpoint: the count materializes it, both staged
        # writes then read the blocks
        firsts = dedup_batch_survivors(
            wh, batch, text_col, id_col, broadcast_ledger, digest_ledger
        ).localCheckpoint(eager=False)
        if firsts.count() == 0:
            return None
        return dict([(sink_table, firsts.drop("text_hash")),
                      digest_write(firsts, digest_ledger)])

    fold(wh, batch, tables=(sink_table, LEDGER_TABLE), key=None,
         build=build)


#: ONE combined near-dup ledger table (band rows + shingle rows, split by
#: ``band IS NULL``): each micro-batch commits its kept-doc band keys AND
#: shingle arrays with a single append job instead of two (r5 verdict
#: task 4).  Parquet min/max stats on ``band`` prune the irrelevant half
#: of the files on each read.
NEAR_DUP_LEDGER_TABLE = "corpus_neardup_ledger"


class NearDupLedger:
    """Optional cross-batch in-memory view of the near-dup ledger.

    Threaded through consecutive :func:`process_near_dup_batch` calls it
    avoids re-reading (and re-listing) the growing ledger table every
    micro-batch: each batch's kept delta is ``localCheckpoint``-ed, so
    the next batch reads it from the block manager through a leaf-sized
    plan.  The durable parquet ledger is STILL appended every batch, so
    a restart — which starts with an empty cache — reads identical
    state from disk.  It is the fold's driver-side ``state``
    (streaming/fold.py): a delta joins the cache only after its pass
    published, and a pass that recovery healed behind this process's
    back empties the cache, which then re-seeds from the table.

    Why checkpoint instead of persist+union: the minhash expression
    trees are enormous, and a union-of-persisted-deltas ledger embeds
    every prior batch's full lineage in every later plan — Catalyst
    re-walks (canonicalizes, cache-matches) those trees per query and
    by batch 4 the DRIVER side alone cost ~50 s (measured).  The
    checkpoint truncates lineage to a LogicalRDD leaf; AQE restores
    broadcast choices at runtime from the actual shuffle sizes.

    Memory: the checkpointed state grows with the KEPT corpus, exactly
    like the ledger itself — at 100 TB run without the cache (``None``)
    and let each batch read the bucket-pruned ledger table."""

    def __init__(self) -> None:
        #: combined (id, band, bucket, sh) state, band NULL on shingle
        #: rows — same layout as NEAR_DUP_LEDGER_TABLE; a lazy union of
        #: per-batch checkpointed deltas (k leaf nodes after k batches)
        self.combined: DataFrame | None = None
        self._pending: DataFrame | None = None

    def begin(self, healed: int) -> None:
        """Fold entry: drop a failed pass's pending delta, and the whole
        cache when recovery just healed a pass."""
        if healed:
            self.close()
        self._pending = None

    def stage(self, delta: DataFrame) -> DataFrame:
        """Checkpoint one batch's kept delta (LAZY — r13: the durable
        append that follows is the materializing action, so the delta
        is computed once while its batch-local parents are hot) and
        hold it until :meth:`commit`.  Returns the checkpointed delta
        for the durable append to read."""
        self._pending = delta.localCheckpoint(eager=False)
        return self._pending

    def commit(self) -> None:
        """Fold the published pass's delta into the cache."""
        if self._pending is not None:
            self.combined = (
                self._pending if self.combined is None
                else self.combined.unionByName(self._pending)
            )
            self._pending = None

    def close(self) -> None:
        self.combined = None
        self._pending = None


def kept_ledger(wh: Warehouse, ledger: NearDupLedger | None,
                table: str) -> DataFrame | None:
    """The combined bands+shingles state so far: the cache when warm,
    else the table (seeding a cold cache — a restart over a non-empty
    ledger must fold the on-disk baseline in NOW, or later batches
    would dedup against post-restart deltas alone), else None."""
    if ledger is not None and ledger.combined is not None:
        return ledger.combined
    if not wh.exists(table):
        return None
    combined = wh.read(table)
    if ledger is not None:
        ledger.combined = combined
    return combined


def verified_pairs(batch_bands: DataFrame, sh_b: DataFrame,
                   combined: DataFrame | None, id_col: str,
                   threshold: float) -> DataFrame:
    """Verified (new_id, other_id) near-dup pairs of one batch.

    One candidate+verify pipeline serves both rules (r13, guide §2.4):
    the "other" side unions the batch itself (admitted only when
    other_id < new_id — the in-batch rule) with the ``combined`` ledger
    state (admitted always), so there is one distinct before the verify
    join and one shingle-verify join tree.  Cross-batch candidates come
    from ALL batch docs, not just in-batch survivors."""
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
                F.col(id_col).alias("other_id"), F.col("sh").alias("b_sh")
            )
        )
    cands = (
        batch_bands.select("band", "bucket", F.col(id_col).alias("new_id"))
        .join(other_bands, ["band", "bucket"])
        .filter(F.col("is_old") | (F.col("other_id") < F.col("new_id")))
        .select("new_id", "other_id")
        .distinct()
    )
    a = sh_b.select(F.col(id_col).alias("new_id"), F.col("sh").alias("a_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    return (
        cands.join(a, "new_id")
        .join(other_sh, "other_id")
        .filter((inter / union) >= threshold)
    )


def ledger_rows(bands: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    """One batch's combined ledger delta: band rows and shingle rows in
    one frame (band IS NULL discriminates on read), so the ledger takes
    ONE append job.  write_coalesce INSIDE the checkpointed lineage
    (r13, guide §6): the union of two parallelism-wide checkpointed
    frames otherwise writes ~64 tiny files per fold, re-listed and
    re-read by every later fold through the ledger."""
    return write_coalesce(bands.select(
        id_col, "band", "bucket",
        F.lit(None).cast(dict(sh.dtypes)["sh"]).alias("sh"),
    ).unionByName(
        sh.select(
            id_col,
            F.lit(None).cast(dict(bands.dtypes)["band"]).alias("band"),
            F.lit(None).cast(dict(bands.dtypes)["bucket"]).alias("bucket"),
            "sh",
        )
    ))


def process_near_dup_batch(
    wh: Warehouse,
    batch: DataFrame,
    sink_table: str,
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    ledger: NearDupLedger | None = None,
) -> None:
    """One near-dup ledger pass (cross-batch MinHash LSH dedup):

    1. in-batch: minhash_dedup_pairs over the batch, min-id keeps;
    2. cross-batch: survivors' band buckets equi-join the bands ledger
       (the SAME join shape as the batch operator, with the ledger as
       the other side), exact-jaccard verify against the kept docs'
       persisted shingle arrays;
    3. survivors append to the sink, their bands + shingles to the ONE
       combined ledger table — both through one manifest, so a crash
       can never leave sink rows whose ledger rows are missing (the
       replay would re-admit those docs as duplicates).

    The ledger grows with the KEPT corpus only; both joins shuffle on
    (band, bucket) / doc id — bounded keys, no cross join.  At 100 TB
    the bands ledger is bucket-partitioned so a batch touches only its
    colliding buckets' files."""
    from ..pipeline.dedup import minhash_bands, shingle_arrays

    def build(wh, batch, sp):
        # eager localCheckpoint, not persist (r13): both frames feed
        # many downstream statements, and with persist every action over
        # them re-canonicalizes the full minhash expression tree on the
        # driver for the cache lookup.  spread before the shingle
        # transform (r13, guide §2.5): serial one-split batches otherwise
        sh_b = shingle_arrays(spread(batch, id_col), shingle_n, text_col,
                              id_col).localCheckpoint()
        # signatures + band buckets computed ONCE for the whole batch;
        # lazy checkpoint (r13): the sink append materializes the bands
        # while sh_b's blocks are hot, the ledger delta then reads them
        batch_bands = minhash_bands(
            batch, num_perm, bands, shingle_n, text_col, id_col,
            shingle_df=sh_b, hash_fn=hash_fn,
        ).localCheckpoint(eager=False)
        # no .distinct() on the drop set: it only ever feeds a left_anti
        # join, which is duplicate-insensitive
        drops = verified_pairs(
            batch_bands, sh_b,
            kept_ledger(wh, ledger, NEAR_DUP_LEDGER_TABLE), id_col,
            threshold,
        ).select(F.col("new_id").alias(id_col))
        survivors = batch.join(drops, id_col, "left_anti").localCheckpoint(
            eager=False)
        # survivor-count probe rides the sink append (r14, Observation
        # API); the append goes FIRST: it materializes the survivors and
        # the observation — an all-dup batch appends one empty file
        obs = Observation()
        sp.stage_append_tree(
            survivors.observe(obs, F.count(F.lit(1)).alias("n")),
            sink_table,
        )
        if obs.get["n"] == 0:
            return {}
        keep_ids = survivors.select(id_col)
        delta = ledger_rows(
            batch_bands.join(keep_ids, id_col, "left_semi"),
            sh_b.join(keep_ids, id_col, "left_semi"),
            id_col,
        )
        if ledger is not None:
            delta = ledger.stage(delta)
        return {NEAR_DUP_LEDGER_TABLE: delta}

    fold(wh, batch, tables=(sink_table, NEAR_DUP_LEDGER_TABLE), key=None,
         build=build, state=ledger)


def stream_near_dup_ledger(
    spark,
    landing_glob: str,
    schema,
    checkpoint_dir: str,
    wh: Warehouse,
    sink_table: str = "corpus_docs_neardup",
    threshold: float = 0.8,
    ledger: NearDupLedger | None = None,
):
    """Streaming near-duplicate corpus builder: each micro-batch dedups
    in-batch AND against everything kept so far (LSH bands + shingle
    verify ledger).  Pass a :class:`NearDupLedger` to skip the per-batch
    ledger re-read (caller owns ``ledger.close()`` after the run)."""
    return stream_fold(
        spark, landing_glob, schema, checkpoint_dir,
        lambda batch, epoch_id, gen: process_near_dup_batch(
            wh, batch, sink_table, threshold, ledger=ledger),
    )


def stream_exact_dedup_ledger(
    spark,
    landing_glob: str,
    schema,
    checkpoint_dir: str,
    wh: Warehouse,
    sink_table: str = "corpus_docs",
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_ledger: bool = True,
    bucketed_ledger: bool = False,
):
    """Unbounded-window streaming dedup via the digest ledger (corpus
    building).  Broadcast of the ledger is a small-scale convenience —
    at 100 TB pass ``bucketed_ledger=True`` and the per-batch anti-join
    reads the digest-BUCKETED ledger with zero Exchange on the ledger
    side (only the batch shuffles; plan-pinned); ``broadcast_ledger=
    False`` is the intermediate shuffle-both-sides form."""
    dl = BucketedDigestLedger(wh) if bucketed_ledger else None
    return stream_fold(
        spark, landing_glob, schema, checkpoint_dir,
        lambda batch, epoch_id, gen: process_dedup_batch(
            wh, batch, sink_table, text_col, id_col, broadcast_ledger,
            digest_ledger=dl),
    )
