"""Similarity search over embedding columns (array<float>).

- brute-force top-k: exact baseline, quantized-integer dot product so the
  ranking is bitwise deterministic and oracle-checkable;
- LSH-bucketed variant (random hyperplane signs): buckets bound the
  candidate set, turning the O(Q x N) cross join into an equi join on
  (bucket), with multi-probe via several independent tables;
- IVF: sampled (optionally Lloyd-refined) coarse cells, a broadcast
  ``max_by`` assignment, and a per-query probe of the ``nprobe`` best
  cells.  One scorer rescores a probe's candidates with either codec:
  ``raw`` (the quantized vector, exact dot) or ``pq`` (product-quantized
  residual codes, asymmetric lookup-table distance).  The same pieces
  serve the in-memory searches (``knn_ivf``, ``pq_search``,
  ``ivfpq_search``), the nprobe tuning curves, and the at-rest
  :class:`IvfIndex` (``IVF`` raw, ``IVFPQ`` pq): cell-partitioned
  parquet with LSM delta runs, an id Bloom, and one staged manifest per
  build, upsert or compaction;
- k-means, scalar quantization, diversity selection and the recall
  audit on the same exact integer grid.

All JVM-side (zip_with / aggregate) except the blocked numpy kernels.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# the probe-then-repartition scan floor lives in pipeline/spread.py
# (r13) so the text stack shares one implementation with the ANN
# scoring fan-out (here the amplification is the 63x broadcast-codebook
# row blowup; there it is the gram/shingle explode)
from ..session import adopt, local_frame
from .spread import spread as _spread

QUANT = 1_000_000  # 1e6 quantization: 64-dim unit vectors -> dot < 6.5e13


def quantized(col):
    """float vector -> exact integer grid (deterministic across engines)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT).cast("long"))


def int_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def knn_bruteforce(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by integer-quantized dot product (== cosine ranking for
    unit-normalized embeddings).  Queries are broadcast; one pass over the
    corpus; per-query top-k via window rank with id tie-break."""
    q = _query_vecs(emb, id_col, vec_col, query_ids)
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), quantized(F.col(vec_col)).alias("cv")
    )
    pairs = F.broadcast(q).crossJoin(c).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id", "neighbor_id", int_dot(F.col("qv"), F.col("cv")).alias("dot_q")
    )
    return _top_k(scored, k, "dot_q")


def embedding_near_dup_pairs(
    emb: DataFrame,
    min_dot_q: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
    allpairs_max_rows: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: quantized dot >= min_dot_q
    (cosine threshold x QUANT^2 for unit vectors).

    Adaptive physical strategy, same shape as ``dedup.jaccard_pairs``:

    - ``allpairs``: broadcast cross-join baseline — O(n^2) comparisons
      but zero shuffle; right for tiny corpora and as the oracle
      reference shape.
    - ``blocked``: grid-blocked numpy matmul
      (:func:`embedding_near_dup_pairs_blocked`) — bitwise-identical
      output, bounded per-task memory, the 100 TB path.
    - ``auto``: a bounded ``limit(K+1).count()`` probe (scans at most
      K+1 rows, never the corpus) picks allpairs iff the corpus fits
      under ``allpairs_max_rows``.  Pass an explicit strategy to skip
      the probe job when the caller already knows the corpus size."""
    if strategy == "auto":
        n = emb.select(id_col).limit(allpairs_max_rows + 1).count()
        strategy = "allpairs" if n <= allpairs_max_rows else "blocked"
    if strategy == "blocked":
        return embedding_near_dup_pairs_blocked(
            emb, min_dot_q, id_col=id_col, vec_col=vec_col
        )
    if strategy != "allpairs":
        raise ValueError(f"unknown strategy {strategy!r}")
    a = emb.select(F.col(id_col).alias("a_id"), quantized(F.col(vec_col)).alias("av"))
    b = emb.select(F.col(id_col).alias("b_id"), quantized(F.col(vec_col)).alias("bv"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", int_dot(F.col("av"), F.col("bv")).alias("dot_q"))
        .filter(F.col("dot_q") >= min_dot_q)
    )


def int_l2(a, b):
    """Exact integer squared euclidean distance on the quantized grid."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _init_batches(k: int, init_rounds: int) -> list[int]:
    """Split the k-1 non-seed centers over the init rounds (larger
    batches first) — shared with the oracle generator so both engines
    select identical batch sizes."""
    q, rem = divmod(k - 1, init_rounds)
    return [q + 1] * rem + [q] * (init_rounds - rem)


def _center_rows(cents: DataFrame) -> list[tuple[int, list[int]]]:
    """Collect a BOUNDED (cluster, cv) center table to the driver,
    sorted by cluster id — k x dim longs, the same bounded probe the
    Lloyd loop already pays every round for its convergence check."""
    return sorted(
        ((int(r[0]), list(r[1]))
         for r in cents.select("cluster", "cv").collect()),
        key=lambda rc: rc[0],
    )


def _centers_1row(spark, centers: list[tuple[int, list[int]]]) -> DataFrame:
    """The center table as ONE row holding an array<struct<cluster,cv>>
    column.  Centers ride as DATA, not literals: the per-round plan
    TEXT stays byte-identical across Lloyd rounds / streaming epochs,
    so Catalyst planning and whole-stage codegen compile once and cache
    (an earlier r13 draft baked the centers in as literals — every
    round then recompiled a fresh several-hundred-literal plan and the
    driver-side compile time exceeded the shuffle it saved, measured
    27 s -> 70 s on emb_kmeans).  Broadcasting one row is the cheapest
    exchange Spark has."""
    return local_frame(spark, [([(int(cid), [int(x) for x in cv])
                                 for cid, cv in centers],)],
                       "cents array<struct<cluster:bigint,cv:array<bigint>>>")


def _best_center(vcol, k: int):
    """Per-row argmin-L2 against the 1-row-broadcast ``cents`` array:
    ``least`` over k struct(d2, cluster) expressions — lexicographic
    struct ordering resolves ties to the smallest cluster id, the exact
    ``min_by(struct(cluster, ...), struct(d2, cluster))`` semantics of
    the r10-r12 per-id aggregation shape, with no per-id shuffle and no
    sort.  FLAT expressions on purpose: ``least`` and the k int_l2
    terms evaluate inside whole-stage codegen, whereas an
    ``array_min(transform(...))`` formulation nests higher-order
    functions and falls back to interpretation — measured ~7x slower
    per evaluation and immune to codegen warmup."""
    exprs = [
        F.struct(
            int_l2(
                vcol, F.element_at(F.col("cents"), i + 1).getField("cv")
            ).alias("d2"),
            F.element_at(F.col("cents"), i + 1)
            .getField("cluster").alias("cluster"),
        )
        for i in range(k)
    ]
    return exprs[0] if len(exprs) == 1 else F.least(*exprs)


def _assign_driver_centers(vecs: DataFrame,
                           centers: list[tuple[int, list[int]]],
                           id_col: str = "vec_id") -> DataFrame:
    """Assignment of quantized (id, v) rows against driver-held centers
    as ONE narrow projection behind a 1-row broadcast (r13, guide §2.4:
    the k-bounded center table needs no per-id aggregation — the former
    broadcast crossJoin + corpus-wide min_by SortAggregate shuffled and
    double-sorted the n x k scored frame once per call).  Returns
    (id, cluster, d2_q), bit-identical to the aggregation shape."""
    cents = _centers_1row(vecs.sparkSession, centers)
    best = _best_center(F.col("v"), len(centers))
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select(F.col(id_col), best.alias("best"))
        .select(
            id_col,
            F.col("best.cluster").alias("cluster"),
            F.col("best.d2").alias("d2_q"),
        )
    )


def assign_to_centers(vecs: DataFrame, cents: DataFrame,
                      id_col: str = "vec_id") -> DataFrame:
    """argmin-L2 assignment of quantized (id, v) rows against a
    (cluster, cv) center table, ties to the smallest cluster id (r11:
    factored out of :func:`kmeans`'s final step so the streaming
    ledger's frozen-assign path is the byte-identical plan).  Returns
    (id, cluster, d2_q).

    r13: the center table is k-bounded BY CONTRACT (the callers pass
    Lloyd centers — k x dim longs), so it collapses to the driver once
    and the assignment plans as a projection behind a 1-row broadcast
    (:func:`_assign_driver_centers`) — no corpus-wide per-id min_by
    shuffle, no SortAggregate, where the r10-r12 shape paid both per
    call."""
    return _assign_driver_centers(vecs, _center_rows(cents), id_col=id_col)


def kmeans(
    emb: DataFrame,
    k: int = 8,
    init_rounds: int = 3,
    max_rounds: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats_out: dict | None = None,
    pre_quantized: bool = False,
) -> DataFrame:
    """Distributed full-Lloyd k-means to CONVERGENCE with sized
    k-means||-style initialization (r10, VERDICT r9 task 6) — the
    multi-round clustering-to-convergence operator the D4/SemDeDup
    curation recipes and the IVF builds call for, deterministic to the
    bit so a statically-unrolled SQL oracle replays every round.

    **Init (batched farthest-point, the k-means|| shape).**  Seed = the
    min-id vector; each of ``init_rounds`` rounds then selects the top
    batch of points by (min squared distance to the current centers
    DESC, id ASC) — Bahmani et al.'s oversampling insight (O(R) corpus
    passes instead of k sequential k-means++ draws) with the randomized
    d^2-proportional draw replaced by a top-batch TakeOrdered so the
    selection is a pure function of the data (a randomized draw cannot
    be oracle-checked).  Exactly k centers come out, so no reclustering
    step is needed; cluster ids number the centers in selection order.

    **Lloyd.**  Each round: argmin-L2 assignment against the 1-row
    BROADCAST center array (r13 — :func:`_best_center`: ``least`` over
    k struct(d2, cluster) terms, a projection; ties to the smallest
    cluster id), then the centroid update as dimension-wise int64 sums
    floored through one exact double division (the :func:`ivf_refine`
    integer-grid discipline; order-independent, engine-exact).  Empty
    clusters keep their previous center.  The k x dim new centers come
    to the driver (the bounded per-round probe — the BPE-argmax
    precedent) and the loop STOPS at the integer fixed point (centers
    unchanged implies assignments unchanged implies every later round
    is the identity) or at ``max_rounds``.  Because converged rounds
    are no-ops, the oracle replays a FIXED ``max_rounds`` unrolling and
    matches whichever round Spark stopped at.

    Plan per round at 100 TB (r13, guide §2.4): ONE map-side-combinable
    groupBy(cluster) carrying dim per-dimension partial sums — a single
    k-row-keyed exchange; the assignment itself is a projection behind
    a 1-row broadcast of the center array (centers live on the driver
    between rounds for the convergence check regardless, so scoring
    needs no per-id aggregation).  The r10-r12 shape paid 3 exchanges
    and two full sorts of the n x k scored frame per round.  The
    quantized corpus is lazily localCheckpointed once; every round
    plans against that materialization, never the raw input.

    Returns the final assignment (id, cluster, d2_q).  ``stats_out``
    records ``rounds``, ``converged`` and the final ``centers`` (the
    k x dim integer list the streaming ledger freezes).
    ``pre_quantized`` (r11) marks ``vec_col`` as already on the integer
    grid (the at-rest ledger's vector table) — quantization must be
    applied exactly once."""
    vcol = (F.col(vec_col) if pre_quantized
            else quantized(F.col(vec_col)))
    vecs = emb.select(
        F.col(id_col), vcol.alias("v")
    ).localCheckpoint(eager=False)

    # r13 count-probed TRAINING route (guide §1.2: "the distributed
    # algorithm" first — here the cheapest correct algorithm is not
    # distributed at all).  Lloyd is a driver-sequenced loop of
    # micro-jobs whose per-round cost at any corpus size that fits the
    # probe is pure orchestration: fresh-plan analysis, AQE stage
    # barriers and collect latency (~0.7 s/round measured on 2000
    # vectors — 33 rounds = 23 s of overhead for ~3 s of compute).
    # When the quantized corpus fits a bounded probe, collect it ONCE
    # and run the identical integer arithmetic in numpy on the driver:
    # same seed, same batched-farthest init, same argmin ties, same
    # floor(sx/n) IEEE double division, same fixed point — the
    # statically unrolled oracle replays it unchanged (oracle-gated on
    # all five kmeans-family queries).  Past the cap the distributed
    # loop below runs — itself restructured this round to one
    # k-row-keyed exchange per round.  Training on a bounded sample
    # with driver-side Lloyd is the standard quantizer-training posture
    # (FAISS trains on samples); the cap is env-tunable.
    driver_cap = int(
        os.environ.get("SPARK_GRAFT_KMEANS_DRIVER_ROWS", "65536")
    )
    centers: list[list[int]]
    if vecs.limit(driver_cap + 1).count() <= driver_cap:
        centers, rounds, converged = _kmeans_driver_loop(
            vecs, k, init_rounds, max_rounds, id_col
        )
        if stats_out is not None:
            stats_out["rounds"] = rounds
            stats_out["converged"] = converged
            stats_out["centers"] = centers
        return _assign_driver_centers(
            vecs, list(enumerate(centers)), id_col=id_col
        )

    seed = (
        vecs.orderBy(F.col(id_col).asc()).limit(1).collect()[0]
    )
    centers = [list(seed.v)]

    # r13 restructure (guide §2.4 — remove shuffles outright): centers
    # are k x dim longs held by the DRIVER between rounds anyway (the
    # convergence check needs them), so every scoring pass ships them
    # as ONE broadcast row holding the center array and the per-vector
    # argmin/min-distance becomes a projection over it.  The r10-r12
    # shape paid, per round, a corpus-wide groupBy(id) min_by that
    # planned as SortAggregate (min_by over struct is not
    # hash-aggregable: two full sorts of the n x k scored frame) + a
    # posexplode double groupBy for the centroid update — 3 exchanges
    # and 2 sorts per round.  Now: init rounds are one TakeOrdered job
    # (no shuffle); Lloyd rounds are one projection + one
    # groupBy(cluster) carrying dim per-dimension partial sums — a
    # single k-row-keyed exchange.  Centers ride as DATA so the round
    # plan text never changes and codegen compiles once
    # (_centers_1row).  Arithmetic is IDENTICAL (exact integer grid,
    # same floor(sx/n) double division, ties to the smallest cluster),
    # so the statically unrolled oracle replays unchanged.
    for batch in _init_batches(k, init_rounds):
        if batch <= 0:
            continue
        picked = _init_score_frame(vecs, centers, batch, id_col).collect()
        centers.extend(list(r.v) for r in picked)

    rounds = 0
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        new_rows = _lloyd_update_frame(vecs, centers, id_col).collect()
        updated = {int(r.cluster): list(r.cv) for r in new_rows}
        new_centers = [
            updated.get(i, centers[i]) for i in range(len(centers))
        ]
        if new_centers == centers:
            converged = True
            break
        centers = new_centers

    if stats_out is not None:
        stats_out["rounds"] = rounds
        stats_out["converged"] = converged
        stats_out["centers"] = centers

    return _assign_driver_centers(
        vecs, list(enumerate(centers)), id_col=id_col
    )


def _kmeans_driver_loop(
    vecs: DataFrame,
    k: int,
    init_rounds: int,
    max_rounds: int,
    id_col: str,
) -> tuple[list[list[int]], int, bool]:
    """The k-means training loop on the DRIVER over a count-probe-
    bounded collected corpus (see the routing comment in
    :func:`kmeans`) — numpy int64 end to end, replicating the
    distributed loop's arithmetic exactly:

    - seed = min-id vector; init rounds pick the top batch by
      (min-d2 DESC, id ASC) — ``lexsort`` on unique ids, no ties;
    - Lloyd assignment = first-of-min ``argmin`` over centers in
      cluster-id order (ties to the smallest cluster, the min_by /
      least-struct rule);
    - centroid update = exact int64 dimension sums through ONE IEEE
      double division + floor (Python's ``int/int`` is the same
      correctly-rounded long->double conversion pair and division
      Spark's ``FLOOR(CAST(sx AS DOUBLE) / n)`` performs);
    - empty clusters keep their previous center; stop at the integer
      fixed point or ``max_rounds``.

    Returns (centers, rounds, converged)."""
    import math

    import numpy as np

    rows = vecs.collect()
    rows.sort(key=lambda r: r[0])
    ids = np.array([int(r[0]) for r in rows], dtype=np.int64)
    V = np.array([list(r[1]) for r in rows], dtype=np.int64)

    def d2_matrix(C: np.ndarray) -> np.ndarray:
        out = np.empty((V.shape[0], C.shape[0]), dtype=np.int64)
        for ci in range(C.shape[0]):
            diff = V - C[ci]
            out[:, ci] = (diff * diff).sum(axis=1)
        return out

    C = V[0:1].copy()
    for batch in _init_batches(k, init_rounds):
        if batch <= 0:
            continue
        md = d2_matrix(C).min(axis=1)
        order = np.lexsort((ids, -md))  # md DESC, id ASC
        C = np.vstack([C, V[order[:batch]]])

    rounds = 0
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        assign = d2_matrix(C).argmin(axis=1)  # first min = smallest id
        newC = C.copy()
        for ci in range(C.shape[0]):
            members = V[assign == ci]
            if len(members):
                sums = members.sum(axis=0)
                newC[ci] = np.array(
                    [math.floor(int(s) / len(members)) for s in sums],
                    dtype=np.int64,
                )
        if np.array_equal(newC, C):
            converged = True
            break
        C = newC
    return [[int(x) for x in c] for c in C], rounds, converged


def _lloyd_update_frame(vecs: DataFrame, centers: list[list[int]],
                        id_col: str = "vec_id") -> DataFrame:
    """One Lloyd round's centroid-update frame: 1-row-broadcast argmin
    projection -> ONE groupBy(cluster) with per-dimension partial sums
    -> floored exact double division.  Called once per Lloyd round by
    :func:`kmeans`; fixed-dim corpus by contract (the oracle's own
    centroid update indexes v[i] with one shared series)."""
    dim = len(centers[0])
    cents = _centers_1row(vecs.sparkSession, list(enumerate(centers)))
    best = _best_center(F.col("v"), len(centers))
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select(best.getField("cluster").alias("cluster"), "v")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col("v").getItem(d)).alias(f"s{d}")
              for d in range(dim)],
        )
        .select(
            "cluster",
            F.array(*[
                F.floor(F.col(f"s{d}") / F.col("n")).cast("long")
                for d in range(dim)
            ]).alias("cv"),
        )
    )


def _init_score_frame(vecs: DataFrame, centers: list[list[int]],
                      batch: int = 4,
                      id_col: str = "vec_id") -> DataFrame:
    """One init round's top-batch selection frame: 1-row-broadcast
    min-distance projection -> TakeOrdered (md DESC, id ASC) — no
    shuffle at all.  Called once per init round by :func:`kmeans`."""
    cents = _centers_1row(vecs.sparkSession, list(enumerate(centers)))
    d2s = [
        int_l2(F.col("v"), F.element_at(F.col("cents"), i + 1)
               .getField("cv"))
        for i in range(len(centers))
    ]
    md = d2s[0] if len(d2s) == 1 else F.least(*d2s)
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select(id_col, "v", md.alias("md"))
        .orderBy(F.col("md").desc(), F.col(id_col).asc())
        .limit(batch)
    )


def kmeans_profile(emb: DataFrame, k: int = 8, init_rounds: int = 3,
                   max_rounds: int = 10, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Per-cluster diagnostics over the :func:`kmeans` assignment —
    size, inertia (sum of quantized squared distances), and radius (max
    d2): the balance/compactness report every clustering-backed recipe
    (SemDeDup pruning rates, IVF cell sizing, D4 diversity buckets)
    reads before trusting the clustering.  One bounded-key groupBy on
    top of the assignment; inertia stays on the exact integer grid so
    the oracle replays it bit-for-bit."""
    assign = kmeans(emb, k=k, init_rounds=init_rounds,
                    max_rounds=max_rounds, id_col=id_col,
                    vec_col=vec_col)
    return assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("d2_q").alias("inertia_q"),
        F.max("d2_q").alias("radius_q"),
    )


def kmeans_semdedup(emb: DataFrame, min_dot_q: int, k: int = 8,
                    init_rounds: int = 3, max_rounds: int = 10,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    pairs: DataFrame | None = None) -> DataFrame:
    """SemDeDup as published (Abbas et al. 2023): k-means the embedding
    space, then search near-duplicates ONLY within each cluster — drop
    every vector that has a same-cluster neighbor with a smaller id
    above the threshold (keep the earliest representative of each
    semantic clump, the `emb_semantic_dedup` keep rule scoped by
    cluster).

    The 100 TB posture composes the two postures this package already
    ships rather than inventing a third: k stays a fixed QUALITY knob
    (assignment cost n x k stays linear — adaptive k = n/target would
    make Lloyd itself quadratic), and the threshold-pair relation comes
    from the caller's routed pair machinery via ``pairs`` — exact
    all-pairs under the count-probe bound (what the oracle gate and the
    declared SFs see), LSH-bucketed above it (the `_routed_emb_pairs`
    posture the r9 review confirmed for `emb_near_dup`).  Cluster
    scoping is then one same-cluster filter on the pair relation: at
    the exact route the result is bit-identical to the naive
    within-cluster all-pairs, at the LSH route the documented recall
    trade applies twice (bucket miss + cluster-boundary miss — both are
    SemDeDup's own published trades).

    ``pairs=None`` runs the self-contained exact shape: one
    cluster-keyed self-join (both sides hash-partitioned on cluster,
    a < b) -> exact integer dot filter — the oracle twin and the right
    call when a bounded corpus is known to fit.

    Output is one row per input vector: (id, cluster, is_kept)."""
    assign = kmeans(emb, k=k, init_rounds=init_rounds,
                    max_rounds=max_rounds, id_col=id_col,
                    vec_col=vec_col).select(id_col, "cluster")
    if pairs is not None:
        assign = assign.localCheckpoint(eager=False)
        a = assign.select(
            F.col(id_col).alias("a_id"), F.col("cluster").alias("ca")
        )
        b = assign.select(
            F.col(id_col).alias("b_id"), F.col("cluster").alias("cb")
        )
        dropped = (
            pairs.select("a_id", "b_id")
            .join(a, "a_id")
            .join(b, "b_id")
            .filter(F.col("ca") == F.col("cb"))
            .select(F.col("b_id").alias(id_col))
            .distinct()
            .withColumn("_dropped", F.lit(1))
        )
        return assign.join(dropped, id_col, "left").select(
            id_col, "cluster",
            F.col("_dropped").isNull().alias("is_kept"),
        )
    v = (
        emb.select(F.col(id_col), quantized(F.col(vec_col)).alias("v"))
        .join(assign, id_col)
        .localCheckpoint(eager=False)
    )
    a = v.select(
        F.col(id_col).alias("a_id"), F.col("cluster"),
        F.col("v").alias("av"),
    )
    b = v.select(
        F.col(id_col).alias("b_id"), F.col("cluster"),
        F.col("v").alias("bv"),
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(int_dot(F.col("av"), F.col("bv")) >= min_dot_q)
        .select(F.col("b_id").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    # ONE reference to the pairwise subplan: a left join whose null
    # side is the keep flag (anti+semi union would execute it twice)
    return v.join(dropped, id_col, "left").select(
        id_col, "cluster", F.col("_dropped").isNull().alias("is_kept")
    )


def _ceil_mod(n: int, target: int) -> int:
    """The sampling stride that holds a seed sample near ``target`` of
    ``n`` rows: ceil(n / target), at least 1.  A FIXED stride grows the
    sample linearly with the corpus and every assignment against it
    quadratically (the sf1->sf3 alpha 1.41 cliff, PERF.md); the sized
    stride keeps the per-vector cost constant."""
    return max(1, -(-n // target))


def _seed_cells(emb: DataFrame, centroid_mod: int, id_col: str,
                vec_col: str) -> DataFrame:
    """Deterministic coarse centroids, reproducible without RNG or
    iterative k-means: the ``id % centroid_mod == 0`` slice, quantized
    — (cell_id, cv)."""
    return emb.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("cell_id"), quantized(F.col(vec_col)).alias("cv")
    )


def _query_vecs(emb: DataFrame, id_col: str, vec_col: str,
                query_ids: list[int] | None = None) -> DataFrame:
    """(query_id, qv): the quantized query side, optionally the
    ``query_ids`` slice of ``emb``."""
    if query_ids is not None:
        emb = emb.filter(F.col(id_col).isin(list(query_ids)))
    return emb.select(
        F.col(id_col).alias("query_id"), quantized(F.col(vec_col)).alias("qv")
    )


def _top_k(scored: DataFrame, k: int, score: str,
           asc: bool = False) -> DataFrame:
    """Per-query top-``k`` of (query_id, neighbor_id, score) rows by
    ``score`` (descending unless ``asc``), ties to the smaller neighbor
    id — one window partitioned per query, never global."""
    w = Window.partitionBy("query_id").orderBy(
        F.asc(score) if asc else F.desc(score), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score, "rank")
    )


def _coarse_assign(vecs: DataFrame, cents: DataFrame, id_col: str,
                   carry: tuple[str, ...] = ("v",)) -> DataFrame:
    """Argmax-dot cell of every quantized (id, v) row against the
    broadcast (cell_id, cv) table: ONE ``max_by`` aggregation keyed on
    ``(dot_c, -cell_id)`` — map-side combinable, no window sort and no
    K-times data amplification through a shuffle (the scored rows
    collapse to one per vector before any exchange).  Ties resolve to
    the smallest cell id.  Returns (id, cell_id, *carry); ``carry``
    names ``v`` and/or ``dot_c``."""
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        id_col, "cell_id", *[c for c in carry if c != "dot_c"],
        int_dot(F.col("v"), F.col("cv")).alias("dot_c"),
    )
    best = F.max_by(
        F.struct("cell_id", *carry),
        F.struct(F.col("dot_c"), (-F.col("cell_id")).alias("neg_cell")),
    )
    return scored.groupBy(id_col).agg(best.alias("best")).select(
        id_col, "best.*"
    )


def _floored_mean(rows: DataFrame, keys: list[str], vec: str) -> DataFrame:
    """Per-``keys`` dimension-wise mean of the ``vec`` arrays ON THE
    QUANTIZED INTEGER GRID: int64 sums (exact, order-independent)
    divided per dimension and floored, so unlike a float mean the
    result does not depend on aggregation order and a SQL oracle
    replays it.  One posexplode -> (keys, dim) SUM/COUNT groupBy, then
    one sorted collect_list reassembling the vectors — two
    map-side-combinable aggregations over bounded keys.  Returns
    (keys..., cv)."""
    by_dim = rows.select(
        *keys, F.posexplode(vec).alias("dim", "x")
    ).groupBy(*keys, "dim").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    return (
        by_dim.withColumn(
            "cx", F.floor(F.col("sx") / F.col("n")).cast("long")
        )
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("cx")))
                ),
                lambda s: s.getField("cx"),
            ).alias("cv")
        )
    )


def ivf_assign(
    emb: DataFrame,
    centroid_mod: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization with deterministic centroid sampling
    (:func:`_seed_cells`).  Returns (centroids, assignments) — the
    assignment is the broadcast ``max_by`` of :func:`_coarse_assign`,
    (id, cell_id, v).  At scale the cell id becomes a partition column
    so a probe touches only its cells' files (:class:`IvfIndex`)."""
    cents = _seed_cells(emb, centroid_mod, id_col, vec_col)
    return cents, ivf_encode(emb, cents, id_col=id_col, vec_col=vec_col)


def ivf_refine(
    emb: DataFrame,
    iters: int = 1,
    centroid_mod: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd-refined IVF centroids — the iterative-algorithm shape in
    pure DataFrame ops, deterministic to the bit: each iteration
    re-assigns every vector to its argmax-dot centroid
    (:func:`_coarse_assign`) and recomputes each cell's centroid as the
    floored integer-grid mean of its members (:func:`_floored_mean`), so
    a SQL oracle can replay every iteration.

    Plan per iteration: one broadcast-scored max_by assignment (no
    window) + the two bounded-key aggregations of the mean — at 100 TB
    each iteration is map-side-combinable aggregations only.

    Returns (cell_id, cv) like the ``cents`` frame of :func:`ivf_assign`;
    empty cells drop out (their members re-home next iteration)."""
    cents = _seed_cells(emb, centroid_mod, id_col, vec_col)
    vecs = emb.select(F.col(id_col), quantized(F.col(vec_col)).alias("v"))
    for _ in range(iters):
        cents = _floored_mean(
            _coarse_assign(vecs, cents, id_col), ["cell_id"], "v"
        )
    return cents


def _probe_cells(q: DataFrame, cents: DataFrame, nprobe: int,
                 residual: bool = False) -> DataFrame:
    """Each query's ``nprobe`` best cells by (dot desc, cell_id asc)
    against the broadcast centroid table: one window partitioned per
    query over |q| x cells rows, whose row number is the cell's probe
    rank.  Returns (query_id, cell_id, cell_rank, qv); with ``residual``
    (the PQ codec) ``qv`` is the query minus the cell's centroid, the
    vector its lookup table is built from."""
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "qv", "cell_id", *(["cv"] if residual else []),
        int_dot(F.col("qv"), F.col("cv")).alias("dot_c"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot_c"), F.asc("cell_id")
    )
    qv = (F.zip_with("qv", "cv", lambda x, y: x - y) if residual
          else F.col("qv"))
    return (
        qc.withColumn("cell_rank", F.row_number().over(w))
        .filter(F.col("cell_rank") <= nprobe)
        .select("query_id", "cell_id", "cell_rank", qv.alias("qv"))
    )


def _score(probes: DataFrame, rows: DataFrame, id_col: str,
           codebook: DataFrame | None = None, m: int = 8,
           keys: tuple[str, ...] = ("cell_id",),
           with_rank: bool = False) -> DataFrame:
    """Score every (query, candidate) pair sharing ``keys`` — the one
    scorer behind every IVF / PQ search, curve and at-rest probe.

    ``probes`` is (query_id, *keys, qv[, cell_rank]) and ``rows`` the
    candidates (id, *keys, v | codes); queries never score themselves.

    - raw (``codebook`` None): the exact quantized dot ``dot_q`` — the
      bounded probes broadcast onto the candidate stream;
    - PQ: asymmetric distance ``adist_q`` (ADC) — ``qv`` splits into
      ``m`` subvectors, each (query, subspace, code) gets one int64 L2
      lookup-table entry, and a candidate's distance is the SUM of its
      codes' entries.  The LUT broadcasts onto the exploded code
      stream; the per-pair sum partial-aggregates before its exchange.

    ``with_rank`` carries the probe's ``cell_rank`` (single-valued per
    pair: a candidate lives in exactly one cell).  Returns (query_id,
    neighbor_id[, cell_rank], dot_q | adist_q)."""
    rank = ["cell_rank"] if with_rank else []
    if codebook is None:
        return (
            F.broadcast(probes).join(rows, list(keys))
            .filter(F.col(id_col) != F.col("query_id"))
            .select(
                "query_id", F.col(id_col).alias("neighbor_id"), *rank,
                int_dot(F.col("qv"), F.col("v")).alias("dot_q"),
            )
        )
    lut = _subvec_rows(
        probes, F.col("qv"), m, ["query_id", *keys, *rank], "qsv"
    ).join(F.broadcast(codebook), "sub").select(
        "query_id", *keys, *rank, "sub", "code",
        int_l2(F.col("qsv"), F.col("cv")).alias("d2"),
    )
    code_rows = rows.select(
        F.col(id_col).alias("neighbor_id"), *keys,
        F.posexplode("codes").alias("sub", "code"),
    ).withColumn("sub", F.col("sub").cast("int"))
    aggs = [F.sum("d2").alias("adist_q")]
    if with_rank:
        aggs.append(F.min("cell_rank").alias("cell_rank"))
    return (
        code_rows.join(F.broadcast(lut), [*keys, "sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(*aggs)
    )


def knn_ivf(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 2,
    centroid_mod: int | None = None,
    n_cells_target: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate kNN: probe the nprobe nearest cells per query,
    exact quantized rescoring inside probed cells only.

    ``centroid_mod=None`` (default, late r10) sizes the sampling stride
    from one metadata-cheap count so the CELL COUNT stays ~
    ``n_cells_target`` as the corpus grows: ``max(97, n div target)``.
    The 97 floor keeps every oracle-replayed SF on the historical
    ``mod 97`` sampling bit-for-bit; without the sizing, cells grow as
    n/97 and the broadcast assignment crossJoin does n x n/97 work —
    the quadratic the ann_ivf_recall second-decade measurement exposed
    (alpha 2.23 sf1->sf3).  The at-rest build has held cells fixed since
    r7 (n_cells_target); this brings the one-shot searcher onto the
    same posture.

    ORACLE COUPLING (ADVICE r10): the SQL oracle (ORACLE_KNN_IVF)
    hardcodes ``vec_id % 97`` — bit-equal to this default only while
    the oracle-replayed corpus holds <= 97 * n_cells_target rows (6208
    at the default); see the note at ORACLE_KNN_IVF."""
    if centroid_mod is None:
        centroid_mod = max(97, emb.count() // n_cells_target)
    cents, assign = ivf_assign(emb, centroid_mod, id_col, vec_col)
    probes = _probe_cells(
        _query_vecs(emb, id_col, vec_col, query_ids), cents, nprobe
    )
    return _top_k(_score(probes, assign, id_col), k, "dot_q")


def _nprobe_curve(scored: DataFrame, exact: DataFrame,
                  nprobes: tuple[int, ...], k: int, score: str, asc: bool,
                  probes: DataFrame | None = None) -> DataFrame:
    """One operating-point row per ``nprobe`` from ONE scoring pass at
    the largest nprobe: ``scored`` is (query_id, neighbor_id,
    cell_rank, score) and ``exact`` the brute-force truth.

    Candidate sets are NESTED in nprobe and every config ranks by the
    same (score, neighbor_id) order, so one running-count window pass
    yields each row's rank within every config's subset at once, and
    one conditional aggregate replaces all per-config counts (r14: the
    per-config loop unioned |nprobes| legs of count/window/semi-join
    subtrees re-reading the scored checkpoint).  Values are identical:
    rank_i of a qualifying row == row_number over the cell_rank<=np_i
    filter, and sum(when(qual,1)) == filter+count.

    Row: (nprobe, n_truth, n_cand, n_hit, recall).  Given the probed
    ``probes`` (the at-rest curve), each row adds the cost axes
    ``n_cells`` (query, cell) partition reads and ``n_cand_hit`` /
    ``cand_recall`` — true neighbors whose cell was scanned at all."""
    def count(cond):
        return F.coalesce(F.sum(F.when(cond, F.lit(1)).cast("long")),
                          F.lit(0).cast("long"))

    at_rest = probes is not None
    wrun = (
        Window.partitionBy("query_id")
        .orderBy(F.asc(score) if asc else F.desc(score),
                 F.asc("neighbor_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scored.join(
        F.broadcast(exact.select(
            "query_id", "neighbor_id", F.lit(1).alias("is_truth")
        )),
        ["query_id", "neighbor_id"], "left",
    ).select(
        "cell_rank", "is_truth",
        *[
            F.sum(F.when(F.col("cell_rank") <= np_, 1).otherwise(0))
            .over(wrun).alias(f"rank_{i}")
            for i, np_ in enumerate(nprobes)
        ],
    )
    truth = F.col("is_truth") == 1
    aggs = []
    for i, np_ in enumerate(nprobes):
        qual = F.col("cell_rank") <= np_
        aggs.append(count(qual).alias(f"n_cand_{i}"))
        if at_rest:
            aggs.append(count(qual & truth).alias(f"n_cand_hit_{i}"))
        aggs.append(count(qual & truth & (F.col(f"rank_{i}") <= k))
                    .alias(f"n_hit_{i}"))
    merged = ranked.agg(*aggs)
    if at_rest:
        merged = merged.crossJoin(probes.agg(*[
            count(F.col("cell_rank") <= np_).alias(f"n_cells_{i}")
            for i, np_ in enumerate(nprobes)
        ]))
    merged = merged.crossJoin(
        exact.agg(F.count(F.lit(1)).alias("n_truth"))
    )

    def row(i, np_):
        def c(name):
            return F.col(f"{name}_{i}")
        fields = [F.lit(np_).cast("long").alias("nprobe")]
        if at_rest:
            fields.append(c("n_cells").alias("n_cells"))
        fields += [F.col("n_truth").alias("n_truth"),
                   c("n_cand").alias("n_cand")]
        if at_rest:
            fields += [c("n_cand_hit").alias("n_cand_hit"),
                       (c("n_cand_hit") / F.col("n_truth"))
                       .alias("cand_recall")]
        return F.struct(*fields, c("n_hit").alias("n_hit"),
                        (c("n_hit") / F.col("n_truth")).alias("recall"))

    return merged.select(
        F.explode(F.array(*[row(i, np_) for i, np_ in enumerate(nprobes)]))
        .alias("r")
    ).select("r.*")


def ivf_nprobe_tuning(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobes: tuple[int, ...] = (1, 2, 4),
    centroid_mod: int | None = None,
    n_cells_target: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF operating-point curve (r12, VERDICT r11 task 5): measured
    recall AND scan cost at each ``nprobe`` against ONE shared exact
    brute-force truth — the ANN sibling of :func:`dedup.lsh_tuning`,
    and the number a deployment picks its nprobe from.  One row per
    config: (nprobe, n_truth, n_cand, n_hit, recall); ``n_cand`` is the
    candidate rows actually scored (the probe's IO/compute bill),
    ``recall`` the fraction of true top-k recovered.

    SHARED WORK, like lsh_tuning: the truth relation, the coarse
    assignment, and the candidate scoring run ONCE — each query's cells
    carry their probe rank, every candidate is scored at the LARGEST
    nprobe, and each config is a ``cell_rank <= nprobe`` filter over the
    already-scored rows (:func:`_nprobe_curve`).  Because cells are
    rescanned with the EXACT ranking metric, candidate sets are nested
    in nprobe and recall is provably non-decreasing (pytest-pinned).

    Plan (100 TB): one corpus pass for the truth (queries broadcast),
    one for the assignment, probed-cell-bounded scoring; the per-config
    windows partition per query, never globally."""
    if centroid_mod is None:
        centroid_mod = max(97, emb.count() // n_cells_target)
    exact = knn_bruteforce(emb, query_ids, k, id_col, vec_col) \
        .localCheckpoint(eager=False)
    cents, assign = ivf_assign(emb, centroid_mod, id_col, vec_col)
    probes = _probe_cells(
        _query_vecs(emb, id_col, vec_col, query_ids), cents, max(nprobes)
    )
    scored = _score(probes, assign, id_col, with_rank=True) \
        .localCheckpoint(eager=False)
    return _nprobe_curve(scored, exact, nprobes, k, "dot_q", asc=False)


def _quantize_np(vec_series):
    """pandas Series of float arrays -> exact int64 matrix (same grid as
    :func:`quantized`; numpy and the JVM round identically here because
    inputs are float32-exact and the scale is a power of 10)."""
    import numpy as np

    m = np.stack(vec_series.to_numpy()).astype("float64")
    # match Spark's ROUND (HALF_UP): rint is half-even, so shift by copysign
    return np.floor(np.abs(m) * QUANT + 0.5).astype("int64") * np.sign(m).astype("int64")


def embedding_near_dup_pairs_blocked(
    emb: DataFrame,
    min_dot_q: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
) -> DataFrame:
    """Grid-blocked variant of :func:`embedding_near_dup_pairs` — the
    shape that scales, with NO driver-side collect and NO full-corpus
    broadcast.

    Rows hash into ``B`` blocks; every unordered block pair ``(i <= j)``
    is one grid cell.  Each row is replicated to its B cells (an explode,
    factor B), the cells are shuffled together (``groupBy(ci, cj)``), and
    one task multiplies the two blocks with a single int64 numpy matmul
    (Arrow-batched applyInPandas).  A task holds at most two blocks of
    ~N/B rows — at 100 TB pick ``B ~ sqrt(2 x cores)`` and every
    executor stays at a bounded, tunable memory footprint while the
    driver never sees a vector.  Each unordered pair lands in exactly one
    cell, so results are bitwise-identical to the all-pairs baseline
    (same quantization grid)."""
    import numpy as np
    import pandas as pd

    sc = emb.sparkSession.sparkContext
    B = num_blocks or max(2, int(round((2 * sc.defaultParallelism) ** 0.5)))

    base = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"),
    )
    cells = base.select(
        "vid",
        "vec",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("other"),
    ).select(
        "vid",
        "vec",
        "blk",
        F.least("blk", "other").alias("ci"),
        F.greatest("blk", "other").alias("cj"),
    )

    def cell_fn(key, pdf):
        ci, cj = key
        ids = pdf["vid"].to_numpy().astype("int64")
        M = _quantize_np(pdf["vec"])
        if ci == cj:
            D = M @ M.T
            ai, bi = np.where(D >= min_dot_q)
            keep = ids[ai] < ids[bi]
            return pd.DataFrame(
                {
                    "a_id": ids[ai[keep]],
                    "b_id": ids[bi[keep]],
                    "dot_q": D[ai[keep], bi[keep]],
                }
            )
        left = pdf["blk"].to_numpy() == ci
        ids_l, ids_r = ids[left], ids[~left]
        if len(ids_l) == 0 or len(ids_r) == 0:
            return pd.DataFrame({"a_id": [], "b_id": [], "dot_q": []}).astype(
                {"a_id": "int64", "b_id": "int64", "dot_q": "int64"}
            )
        D = M[left] @ M[~left].T
        li, ri = np.where(D >= min_dot_q)
        l_id, r_id = ids_l[li], ids_r[ri]
        return pd.DataFrame(
            {
                "a_id": np.minimum(l_id, r_id),
                "b_id": np.maximum(l_id, r_id),
                "dot_q": D[li, ri],
            }
        )

    return cells.groupBy("ci", "cj").applyInPandas(
        cell_fn, "a_id long, b_id long, dot_q long"
    )


def knn_bruteforce_blocked(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_corpus_rows: int = 20_000,
) -> DataFrame:
    """Blocked exact kNN: queries broadcast (queries ONLY — the corpus
    streams through executors), each corpus block emits its LOCAL top-k
    per query, the final window ranks only queries x k x blocks rows.
    Same results as :func:`knn_bruteforce`.

    Adaptive crossover (same idea as ``dedup.jaccard_pairs``): below
    ``min_corpus_rows`` the Python-worker + Arrow fan-out overhead of
    mapInPandas dominates the Catalyst expression path, so small corpora
    route to :func:`knn_bruteforce`; the probe is a bounded
    ``limit(n).count()``.  Pass ``min_corpus_rows=0`` to force the
    blocked kernel (tests do)."""
    import numpy as np
    import pandas as pd

    if min_corpus_rows > 0:
        probe = emb.select(id_col).limit(min_corpus_rows).count()
        if probe < min_corpus_rows:
            return knn_bruteforce(emb, query_ids, k, id_col, vec_col)

    q = emb.filter(F.col(id_col).isin(query_ids)).select(id_col, vec_col).toPandas()
    q_ids = q[id_col].to_numpy().astype("int64")
    q_mat = _quantize_np(q[vec_col])
    bc = emb.sparkSession.sparkContext.broadcast((q_ids, q_mat))

    def fn(batches):
        ids_q, Q = bc.value
        for pdf in batches:
            n_ids = pdf[id_col].to_numpy().astype("int64")
            V = _quantize_np(pdf[vec_col])
            D = Q @ V.T  # queries x block
            out = {"query_id": [], "neighbor_id": [], "dot_q": []}
            for qi in range(len(ids_q)):
                d = D[qi]
                mask = n_ids != ids_q[qi]
                idx = np.nonzero(mask)[0]
                if len(idx) == 0:
                    continue
                # block-local prune must use the GLOBAL tiebreak
                # ((-dot, neighbor_id) — lexsort keys are last-first) or
                # ties at the local k boundary could drop the neighbor
                # the final window would keep
                order = np.lexsort((n_ids[idx], -d[idx]))
                top = idx[order[:k]]
                out["query_id"].extend([ids_q[qi]] * len(top))
                out["neighbor_id"].extend(n_ids[top])
                out["dot_q"].extend(d[top])
            yield pd.DataFrame(out)

    blocks = emb.select(id_col, vec_col).repartition(
        emb.sparkSession.sparkContext.defaultParallelism
    )
    local = blocks.mapInPandas(fn, "query_id long, neighbor_id long, dot_q long")
    return _top_k(local, k, "dot_q")


def lsh_bucket(vec, planes: list[list[float]]):
    """Sign-of-projection bucket id for a list of hyperplanes.

    With all-integer planes the projection is computed on the quantized
    integer grid — exact int64 arithmetic, so the sign bit (and therefore
    every bucket id) is reproducible by any engine, making the LSH chain
    SQL-oracle replayable.  Float planes keep the double path (cheaper to
    generate, but sums near zero are engine-rounding sensitive)."""
    exact = all(isinstance(x, int) for p in planes for x in p)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        if exact:
            proj = F.aggregate(
                F.zip_with(
                    quantized(vec),
                    F.array(*[F.lit(x).cast("long") for x in p]),
                    lambda x, y: x * y,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        else:
            proj = F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(x)) for x in p]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        bucket = bucket.bitwiseOR(
            F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bucket


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    min_dot_q: int,
    planes: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed near-dup pairs — the SUB-QUADRATIC scale path for
    semantic dedup (r7): candidates are only same-bucket pairs (one
    equi-join on the hyperplane sign bucket), each verified with the
    exact quantized dot.  The exact blocked form
    (:func:`embedding_near_dup_pairs_blocked`) multiplies every pair
    once — O(N^2) compute by declared semantics, measured alpha 1.38
    over sf1->sf3 (PERF.md) — while this one's work is bounded by the
    bucket occupancy (tunable via plane count; high-cosine pairs
    collide with high probability).  Approximate by design: pairs whose
    members land in different buckets are missed — exactly the
    SemDeDup recall/cost trade; with integer planes the whole chain is
    SQL-oracle replayable."""
    b = emb.select(
        F.col(id_col),
        quantized(F.col(vec_col)).alias("v"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    a = b.select(
        F.col(id_col).alias("a_id"), F.col("v").alias("av"), "bucket"
    )
    c = b.select(
        F.col(id_col).alias("b_id"), F.col("v").alias("bv"), "bucket"
    )
    return (
        a.join(c, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id", int_dot(F.col("av"), F.col("bv")).alias("dot_q")
        )
        .filter(F.col("dot_q") >= min_dot_q)
    )


def knn_lsh(
    emb: DataFrame,
    query_ids: list[int],
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: random-hyperplane bucket equi-join, exact
    quantized rescoring inside buckets.  At scale the corpus is
    pre-bucketed (one extra column, partition key), so a query touches
    only its bucket's partitions.

    ``multiprobe=True`` additionally probes every Hamming-1 neighbor of
    the query's bucket (flip each plane's sign bit): recall approaches
    the union of n_planes+1 independent tables at the cost of replicating
    only the QUERY side (still an equi-join; the corpus is hashed
    once)."""
    bucketed = emb.select(
        F.col(id_col),
        quantized(F.col(vec_col)).alias("v"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    q = bucketed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket"),
    )
    if multiprobe:
        flips = F.array(
            F.lit(0), *[F.lit(1 << i) for i in range(len(planes))]
        )
        q = q.select(
            "query_id", "qv",
            F.explode(
                F.transform(flips, lambda m: F.col("bucket").bitwiseXOR(m))
            ).alias("bucket"),
        )
    c = bucketed.select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"), F.col("bucket")
    )
    pairs = F.broadcast(q).join(c, "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id", "neighbor_id", int_dot(F.col("qv"), F.col("cv")).alias("dot_q")
    )
    if multiprobe:
        # a pair can collide in several probed buckets; dot_q is
        # deterministic so the distinct collapses exact duplicates
        scored = scored.distinct()
    return _top_k(scored, k, "dot_q")


def embedding_outliers(
    emb: DataFrame,
    k: int = 5,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding outlier audit: the ``k`` vectors of each
    label FARTHEST from their own label centroid (lowest quantized dot)
    — the standard screen for mislabeled rows, noisy embeddings, and
    poisoned/contaminated clusters before the corpus ships.

    All arithmetic follows :func:`ivf_refine`'s exact-integer
    convention: centroids are dimension-wise floored means ON THE
    QUANTIZED GRID (:func:`_floored_mean` — int64 sums,
    order-independent, engine-portable), distances are exact int64
    dots, so the SQL oracle replays everything including ties (id
    tie-break).

    Plan shape: the mean's two map-side-combinable aggregations
    reassemble each centroid; the centroid dim is label-bounded and
    **broadcast**; the final pick is a window partitioned by label
    (bounded fan-in), never a global sort."""
    vecs = emb.select(
        F.col(label_col), F.col(id_col), quantized(F.col(vec_col)).alias("v")
    )
    cents = _floored_mean(vecs, [label_col], "v")
    scored = vecs.join(F.broadcast(cents), label_col).select(
        label_col, id_col, int_dot(F.col("v"), F.col("cv")).alias("dot_c")
    )
    w = Window.partitionBy(label_col).orderBy(
        F.asc("dot_c"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_decontaminate(
    corpus: DataFrame,
    eval_emb: DataFrame,
    min_dot_q: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC benchmark decontamination (r8) — fourth member of the
    decontam family (exact n-grams, Bloom-gated exact, fuzzy MinHash):
    flag every corpus item whose embedding cosine against ANY held-out
    evaluation item reaches the threshold.  Catches rewrites and
    translations that share no surface n-grams at all — the leak class
    the text-based passes cannot see (Phi/GPT-4 technical-report
    methodology).

    One row per contaminated corpus item: (id, eval_id, dot_q) for its
    best-matching eval item (ties -> smallest eval id).  Exact
    quantized-integer dots (:func:`quantized`/:func:`int_dot`), so the
    SQL oracle replays the verdict bit-for-bit.

    Plan (100 TB): the eval set — thousands of rows next to the corpus
    — is **broadcast**; scoring is map-side against the corpus stream,
    and the per-corpus-id ``max_by`` pick is a partial-aggregation
    collapse (~one row per contaminated doc crosses the wire).  No
    window, no corpus-side shuffle before the collapse.  The LSH/IVF
    machinery above applies unchanged if the eval side ever outgrows a
    broadcast."""
    c = corpus.select(
        F.col(id_col), quantized(F.col(vec_col)).alias("cv")
    )
    e = eval_emb.select(
        F.col(id_col).alias("eval_id"),
        quantized(F.col(vec_col)).alias("ev"),
    )
    scored = (
        c.crossJoin(F.broadcast(e))
        .select(
            id_col, "eval_id",
            int_dot(F.col("cv"), F.col("ev")).alias("dot_q"),
        )
        .filter(F.col("dot_q") >= min_dot_q)
    )
    best = F.max_by(
        F.struct(F.col("eval_id"), F.col("dot_q")),
        F.struct(F.col("dot_q"), (-F.col("eval_id")).alias("neg")),
    ).alias("best")
    return (
        scored.groupBy(id_col)
        .agg(best)
        .select(id_col, "best.eval_id", "best.dot_q")
    )


def hard_negatives(
    emb: DataFrame,
    k: int = 5,
    query_pred: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training data (DPR / SimCSE
    / E5 lineage): for every query item, the top-``k`` most-similar
    corpus items carrying a DIFFERENT label — the near-boundary
    negatives that make contrastive batches informative (random
    negatives are trivially separable; same-label neighbors are
    positives, not negatives).  ``query_pred`` selects the query slice
    (default: every vector queries, classic in-corpus mining).  Exact
    quantized-integer dots (:func:`quantized` / :func:`int_dot`), ties
    broken on the smaller neighbor id, so the SQL oracle replays the
    ranking bit-for-bit.

    Plan (100 TB): the query slice is **broadcast** onto the corpus
    stream (map-side scoring, no corpus shuffle); the per-query top-k
    is a window partitioned by query_id — never global.  When the
    query slice outgrows a broadcast, mine in label-blocked batches or
    route through :func:`knn_lsh` / :meth:`IvfIndex.probe` with a
    post-filter on the label — the candidate generation machinery is
    shared."""
    q = emb
    if query_pred is not None:
        q = emb.filter(query_pred)
    q = q.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        quantized(F.col(vec_col)).alias("qv"),
    )
    c = emb.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        quantized(F.col(vec_col)).alias("cv"),
    )
    scored = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("neg_label") != F.col("query_label"))
        .select(
            "query_id", "neg_id", "neg_label",
            int_dot(F.col("qv"), F.col("cv")).alias("dot_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot_q"), F.asc("neg_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neg_id", "neg_label", "dot_q", "rank")
    )


def _pq_subvecs(vcol: Column, m: int) -> Column:
    """Split a quantized vector into ``m`` equal subvectors:
    array<struct<sub:int, sv:array<long>>>.  The subspace width comes
    from the data (size/m), so regenerated embeddings of any divisible
    dimensionality keep working."""
    dm = (F.size(vcol) / m).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.struct(
            s.cast("int").alias("sub"),
            F.slice(vcol, s * dm + 1, dm).alias("sv"),
        ),
    )


def _subvec_rows(df: DataFrame, vcol: Column, m: int, keep: list[str],
                 sv: str = "sv") -> DataFrame:
    """One row per (``keep``..., subspace) of ``vcol``'s ``m``
    subvectors: (keep..., sub, <sv>)."""
    return df.select(
        *keep, F.explode(_pq_subvecs(vcol, m)).alias("p")
    ).select(*keep, F.col("p.sub").alias("sub"), F.col("p.sv").alias(sv))


def _nearest_code(rows: DataFrame, codebook: DataFrame, keys: list[str],
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """Per (keys, sub) subvector row ``sv``: the (sub, code, cv)
    codebook entry of least exact int64 L2, ties to the lower code —
    the PQ assignment metric (dot ranking is only distance-equivalent
    for whole unit vectors; SUBvector norms vary).  Map-side against the
    broadcast codebook; the ``min_by`` partial-aggregates before its
    exchange.  Returns (keys..., sub, code, *carry)."""
    best = F.min_by(F.struct("code", *carry),
                    F.struct(F.col("d2"), F.col("code")))
    return (
        rows.join(F.broadcast(codebook), "sub")
        .select(*keys, "sub", "code", *carry,
                int_l2(F.col("sv"), F.col("cv")).alias("d2"))
        .groupBy(*keys, "sub")
        .agg(best.alias("best"))
        .select(*keys, "sub", "best.*")
    )


def _pq_codes(rows: DataFrame, vcol: Column, codebook: DataFrame, m: int,
              keys: list[str]) -> DataFrame:
    """Encode each row's ``vcol`` as its ``m`` nearest codes, ordered by
    subspace: (keys..., codes array<long>) — the compressed index rows."""
    best = _nearest_code(_subvec_rows(rows, vcol, m, keys), codebook, keys)
    return best.groupBy(*keys).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("sub"), F.col("code")))
            ),
            lambda s: s.getField("code"),
        ).alias("codes")
    )


def pq_train(
    emb: DataFrame,
    m: int = 8,
    centroid_mod: int = 97,
    n_codes_target: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = True,
) -> DataFrame:
    """Product-quantization codebook training (Jégou et al. 2011) — the
    ANN MEMORY story at 100 TB: a 64-dim float vector compresses to
    ``m`` one-byte-ish codes (here 8 codes, 32x), which is what lets a
    corpus-scale index live in executor memory while the raw vectors
    stay on disk.  Per subspace, centroids seed from the deterministic
    id-mod slice (``ivf_refine``'s discipline) and take ONE Lloyd round
    ON THE QUANTIZED INTEGER GRID: int64 L2 assignment
    (:func:`_nearest_code`, ties -> lower code), floored integer means
    (:func:`_floored_mean`) — order-independent, so a SQL oracle
    replays training to the bit.

    SIZING (the sized IVF build / k-scaled-LSH lesson, PERF.md): pass
    ``n_codes_target`` to derive ``centroid_mod = ceil(N / target)``
    from the corpus count, holding the codebook — and therefore the
    per-vector encode cost — CONSTANT as the corpus grows; a fixed mod
    makes the codebook linear in N and encoding quadratic.  The count
    is one bounded aggregate job; the oracle replays the same mod via
    a scalar COUNT(*) subquery.

    Returns (sub, code, cv): the codebook dim, bounded at
    m x (seeds) rows — always broadcastable.

    Plan (100 TB): seed slice is a filter; assignment explodes each
    vector into m subvector rows and scores against the broadcast
    per-subspace seed dim (map-side); the recompute is one
    (sub, code, dim) SUM/COUNT groupBy (map-side combinable) + one
    bounded reassembly groupBy.  No windows, no corpus self-join."""
    if n_codes_target is not None:
        centroid_mod = _ceil_mod(emb.count(), n_codes_target)
    # quantize=False: vec_col is already on the integer grid (e.g. the
    # RESIDUAL vectors of the IVF-PQ training)
    v = quantized(F.col(vec_col)) if quantize else F.col(vec_col)
    sv = _subvec_rows(_spread(emb, id_col), v, m, [id_col])
    seeds = sv.filter(F.col(id_col) % centroid_mod == 0).select(
        "sub", F.col(id_col).alias("code"), F.col("sv").alias("cv")
    )
    assigned = _nearest_code(sv, seeds, [id_col], carry=("sv",))
    return _floored_mean(assigned, ["sub", "code"], "sv")


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = True,
) -> DataFrame:
    """Encode every vector as its ``m`` nearest-centroid codes (exact
    int64 L2, ties -> lower code): (id, codes array<long>) — the
    compressed index rows.  Map-side against the broadcast codebook;
    the per-(id, sub) argmin partial-aggregates before the single
    per-id exchange; codes reassemble ordered by subspace."""
    v = quantized(F.col(vec_col)) if quantize else F.col(vec_col)
    return _pq_codes(_spread(emb, id_col), v, codebook, m, [id_col])


def pq_search(
    emb: DataFrame,
    codebook: DataFrame,
    encoded: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance PQ search (ADC, :func:`_score` with no cell
    key): top-``k`` per query by ascending summed lookup-table
    distance, ties -> lower neighbor id; queries never compare against
    themselves.  The raw vectors are only read for the QUERY side: the
    corpus pays the codes table alone (the 32x-compressed
    representation)."""
    q = _query_vecs(emb, id_col, vec_col, query_ids)
    return _top_k(_score(q, encoded, id_col, codebook, m, keys=()),
                  k, "adist_q", asc=True)


def _train(
    emb: DataFrame,
    pq: bool,
    centroid_mod: int = 97,
    n_cells_target: int | None = None,
    refine_iters: int = 0,
    m: int = 8,
    n_codes_target: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame | None]:
    """Train an IVF index's quantizers: (cents, codebook).

    The coarse cells are the sampled slice (stride ``centroid_mod``, or
    ceil(N / ``n_cells_target``) from one count), Lloyd-refined
    ``refine_iters`` times.  The PQ codec (``pq``) adds the FAISS
    IVFADC residual codebook: each vector's RESIDUAL (v - its cell
    centroid) concentrates near the origin, so the same code budget
    quantizes it far more precisely than the raw vector; the codebook
    is sized to ~``n_codes_target`` codes per subspace off the same
    count.  Everything stays on the exact integer grid, so the whole
    training replays in SQL.  ``codebook`` is None for the raw codec.

    The centroid dim is bounded and lazily checkpointed (it feeds the
    assignment broadcast, the residuals and the caller's write); the
    codebook is checkpointed eagerly so the encode and the caller's
    write reuse ONE training execution."""
    n = emb.count() if pq or n_cells_target is not None else 0
    if n_cells_target is not None:
        centroid_mod = _ceil_mod(n, n_cells_target)
    cents = (
        ivf_refine(emb, refine_iters, centroid_mod, id_col, vec_col)
        if refine_iters > 0
        else _seed_cells(emb, centroid_mod, id_col, vec_col)
    ).localCheckpoint(eager=False)
    if not pq:
        return cents, None
    vecs = _spread(emb, id_col).select(
        F.col(id_col), quantized(F.col(vec_col)).alias("v")
    )
    # pass the SIZING MOD, not n_codes_target (r13): the residual frame
    # has exactly n rows, so pq_train's own sizing count would re-run
    # the whole coarse-assign + residual lineage to re-derive it
    codebook = pq_train(
        _residuals(_coarse_assign(vecs, cents, id_col), cents, id_col),
        m=m, centroid_mod=_ceil_mod(n, n_codes_target),
        id_col=id_col, vec_col="rv", quantize=False,
    ).localCheckpoint(eager=True)
    return cents, codebook


def _residuals(assign: DataFrame, cents: DataFrame,
               id_col: str) -> DataFrame:
    """(id, cell_id, rv): each assigned (id, cell_id, v) row minus its
    cell centroid — exact integer subtraction after one broadcast join."""
    return assign.join(F.broadcast(cents), "cell_id").select(
        id_col, "cell_id",
        F.zip_with("v", "cv", lambda x, y: x - y).alias("rv"),
    )


def ivf_encode(
    emb: DataFrame,
    cents: DataFrame,
    codebook: DataFrame | None = None,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode a batch against FROZEN quantizers: (id, cell_id, v) for
    the raw codec (``codebook`` None — the quantized vector itself),
    (id, cell_id, codes) for the PQ codec (the residual's codes).  The
    same integer argmax/argmin arithmetic and tie rules as a build, so
    an upsert is indistinguishable from a rebuild at probe time.

    Plan (100 TB): coarse assignment is the broadcast max_by (no
    window); residuals are a map-side zip_with; the per-(id, sub) code
    argmin partial-aggregates before the single per-id exchange.  The
    PQ codec's subspace fan-out is CPU-heavy, so its scan is spread to
    cluster parallelism first."""
    if codebook is not None:
        emb = _spread(emb, id_col)
    vecs = emb.select(F.col(id_col), quantized(F.col(vec_col)).alias("v"))
    assign = _coarse_assign(vecs, cents, id_col)
    if codebook is None:
        return assign
    return _pq_codes(_residuals(assign, cents, id_col), F.col("rv"),
                     codebook, m, [id_col, "cell_id"])


def ivfpq_build(
    emb: DataFrame,
    m: int = 8,
    n_cells_target: int = 8,
    n_codes_target: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """In-memory IVF-PQ index (the FAISS IVFADC recipe — the
    billion-scale standard): the sized coarse quantizer and residual
    codebook of :func:`_train`, then every vector encoded by
    :func:`ivf_encode` — the same encoder an at-rest upsert uses, so
    upsert==rebuild equivalence holds by construction.

    Returns (cents, codebook, index):
    - cents (cell_id, cv) — the coarse dim, n_cells_target-bounded;
    - codebook (sub, code, cv) — the residual PQ dim,
      m x n_codes_target-bounded;
    - index (vec_id, cell_id, codes) — one compressed row per vector
      (the only corpus-sized output; at rest it partitions by cell_id,
      :class:`IvfIndex`)."""
    cents, codebook = _train(
        emb, pq=True, n_cells_target=n_cells_target, m=m,
        n_codes_target=n_codes_target, id_col=id_col, vec_col=vec_col,
    )
    index = ivf_encode(emb, cents, codebook, m=m,
                       id_col=id_col, vec_col=vec_col)
    return cents, codebook, index


def ivfpq_search(
    emb: DataFrame,
    cents: DataFrame,
    codebook: DataFrame,
    index: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 2,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (ADC) search: each query probes its ``nprobe``
    best-coarse-dot cells (:func:`_probe_cells`), builds one residual
    lookup table per probed cell, and scores ONLY the probed cells'
    index rows (:func:`_score`).  Top-``k`` ascending, ties -> lower id.

    Plan (100 TB): coarse probing is window-ranked per query over
    |q| x cells broadcast-scored rows; the LUT (|q| x nprobe x m x codes
    rows) broadcasts onto the index's exploded code stream, whose scan
    at rest is PARTITION-PRUNED to the probed cells; final ranking
    windows per query."""
    probes = _probe_cells(
        _query_vecs(emb, id_col, vec_col, query_ids), cents, nprobe,
        residual=True,
    )
    return _top_k(_score(probes, index, id_col, codebook, m),
                  k, "adist_q", asc=True)


#: constant-size Bloom filter over every id ever inserted into an at-rest
#: index (r7): the upsert's replaced-id discovery — the one index-wide
#: scan — is skipped entirely when the filter proves a batch's ids are
#: all fresh (the common ingest case).  False positives only cost the
#: scan that would otherwise always run; bits are never cleared
#: (replaced ids stay set — harmless FPs) and a rebuild resets it.
ID_BLOOM_M_BITS = 1 << 22
ID_BLOOM_K = 4


def _bloom_word():
    return F.expr("shiftleft(CAST(1 AS BIGINT), bit)")


def _id_bloom_probes(ids: DataFrame, id_col: str) -> DataFrame:
    seeded = ids.select(
        F.col(id_col),
        F.explode(
            F.array(*[F.lit(i) for i in range(ID_BLOOM_K)])
        ).alias("seed"),
    )
    pos = F.pmod(
        F.xxhash64(F.col("seed"), F.col(id_col)), F.lit(ID_BLOOM_M_BITS)
    )
    return seeded.select(
        F.col(id_col),
        F.floor(pos / 32).cast("long").alias("word_idx"),
        F.pmod(pos, 32).cast("int").alias("bit"),
    )


def _id_bloom_words(ids: DataFrame, id_col: str) -> DataFrame:
    return (
        _id_bloom_probes(ids, id_col)
        .groupBy("word_idx")
        .agg(F.bit_or(_bloom_word()).alias("word"))
    )


@dataclass(frozen=True)
class IvfIndex:
    """An IVF index AT REST — the index a deployment serves — with a
    ``raw`` codec (quantized vectors, exact dot rescoring) or a ``pq``
    codec (residual PQ codes, ADC scoring; ~32x smaller rows).

    Layout, per index ``name`` (tables ``ann_<name>_<part>``):

    - ``cells``: (cell_id, id, v | codes) partitioned BY CELL, so a
      probe's scan prunes to its nprobe cells' files — the parquet
      analog of an inverted file;
    - ``centroids`` (and ``codebook`` for pq): the frozen quantizers;
    - ``delta``: LSM-style upsert runs (r7, VERDICT r6 task 4) — each
      upsert appends ONE flat file of rows sorted by cell_id instead of
      rewriting a file into every target cell's partition dir (the
      partitioned write's per-file committer overhead scaled with
      min(batch, n_cells): 2.2 s for 500 rows into 191 leaf dirs vs
      0.2 s flat).  Probes read base ∪ delta (the sort makes the
      delta's row-group stats prune by cell); :meth:`compact` folds
      grown deltas back into the base partitions;
    - ``id_bloom``: the id Bloom filter gating the upsert's replaced-id
      discovery (see ``ID_BLOOM_M_BITS``).

    Every write — build, upsert, compaction — commits through ONE
    ``txn.StagedPass`` manifest, so readers see the whole pre-write
    index or the whole post-write one.  Reference analog: the packed
    history's at-rest posture (powa--5.2.0.sql:2107-2123) with
    partition-pruned reads (powa--5.2.0.sql:7784-7786)."""

    name: str
    codec: str  # "raw" | "pq"

    def table(self, part: str) -> str:
        return f"ann_{self.name}_{part}"

    @property
    def tables(self) -> tuple[str, ...]:
        """Every table this index writes."""
        parts = ["cells", "centroids", "delta", "id_bloom"]
        if self.codec == "pq":
            parts.insert(2, "codebook")
        return tuple(self.table(p) for p in parts)

    @property
    def payload(self) -> str:
        return "codes" if self.codec == "pq" else "v"

    def _codebook(self, wh) -> DataFrame | None:
        return wh.read(self.table("codebook")) if self.codec == "pq" else None

    def _score_order(self) -> tuple[str, bool]:
        return ("adist_q", True) if self.codec == "pq" else ("dot_q", False)

    def cells(self, wh) -> DataFrame:
        """The index's logical rows: base partitions ∪ delta runs.  The
        upsert keeps the no-duplicate-id invariant across both, so
        readers just union."""
        base = wh.read(self.table("cells"))
        if wh.exists(self.table("delta")):
            base = base.select(
                "cell_id", *[c for c in base.columns if c != "cell_id"]
            ).unionByName(wh.read(self.table("delta")))
        return base

    def build(
        self,
        wh,
        emb: DataFrame,
        centroid_mod: int = 97,
        n_cells_target: int | None = None,
        refine_iters: int = 0,
        m: int = 8,
        n_codes_target: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """(Re)build the index from ``emb``: train the quantizers
        (:func:`_train` — ``refine_iters`` Lloyd rounds on the sampled
        cells; ``m`` / ``n_codes_target`` size the pq codebook), encode
        every vector, and commit cells, quantizers, a fresh id Bloom and
        the retirement of any pending delta runs through ONE staged
        manifest: a crash before the commit leaves readers and the next
        upsert on the complete previous index (never new cells beside
        old centroids, or an old Bloom missing ids the new cells hold).

        A FIXED ``centroid_mod`` means the cell count grows linearly
        with the corpus, making the assignment crossJoin O(N^2 / mod) —
        the sf1->sf3 bench measured exactly that cliff (alpha 1.41,
        PERF.md).  Pass ``n_cells_target`` to hold the cell count
        roughly constant (mod = ceil(N / target), one count job):
        assignment compute is then O(N x target) — the standard IVF
        sizing, and what a production build should always use.

        The build is a full-corpus job: it stages on the caller's
        session (analytics posture), not the per-batch engine one."""
        from ..txn import GLOBAL_LANE, StagedPass

        # an interrupted earlier write must not fold in after this one
        StagedPass.recover(wh, GLOBAL_LANE)
        StagedPass.sweep_stages(*map(wh.path, self.tables))
        cents, codebook = _train(
            emb, pq=self.codec == "pq", centroid_mod=centroid_mod,
            n_cells_target=n_cells_target, refine_iters=refine_iters,
            m=m, n_codes_target=n_codes_target, id_col=id_col,
            vec_col=vec_col,
        )
        rows = ivf_encode(emb, cents, codebook, m=m, id_col=id_col,
                          vec_col=vec_col)
        cells_dir = wh.path(self.table("cells"))
        old_cells = (sorted(os.listdir(cells_dir))
                     if os.path.isdir(cells_dir) else [])
        sp = StagedPass(wh, GLOBAL_LANE, engine=False)
        sp.stage_replace_tree(
            rows.select("cell_id", id_col, self.payload),
            self.table("cells"), partition_by=["cell_id"],
            drops=[d for d in old_cells if d.startswith("cell_id=")],
        )
        sp.stage_replace_tree(cents, self.table("centroids"))
        if codebook is not None:
            sp.stage_replace_tree(codebook, self.table("codebook"))
        sp.stage_replace_tree(
            _id_bloom_words(emb.select(id_col), id_col),
            self.table("id_bloom"),
        )
        sp.stage_retire_flat(self.table("delta"))
        sp.publish()

    # r14 (VERDICT r13 task 4, BENCH_STAGES_ANN_r14.json): the upsert is
    # batch-bounded BY DESIGN (run append + Bloom-gated touched-cell
    # rewrite), i.e. an engine maintenance pass, not an analytics query —
    # it runs on the engine session (narrow exchanges, no per-exchange
    # AQE stage jobs, single-job bounded probes); the full-corpus build
    # keeps the analytics posture.
    def upsert(
        self,
        wh,
        new_emb: DataFrame,
        m: int = 8,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        assume_new_ids: bool = False,
        compact_delta_runs: int = 16,
    ) -> None:
        """Incrementally maintain the index: encode a NEW batch against
        the FROZEN quantizers (:func:`ivf_encode`) and fold it in — the
        continuous-ingest path (rebuilding per batch is a full-corpus
        job; this touches only the batch and its target cells).

        Upsert semantics: a re-sent id replaces its old row (the vector
        may have been re-embedded), even when it lands in a DIFFERENT
        cell.  The LSM-style write (r7 — upsert IO is proportional to
        the BATCH, not to min(batch, n_cells) partition-dir rewrites):

        - the batch lands as ONE flat run appended to the delta, sorted
          by cell so probes prune its row groups;
        - only base cells HOLDING A REPLACED id rewrite
          (stage_replace_tree, partition-pruned, bounded by the batch);
          replaced ids already in the delta rewrite the (small) delta;
        - when the delta accumulates ``compact_delta_runs`` run files,
          :meth:`compact` folds it into the base partitions.

        All ops of one upsert commit through a single txn.StagedPass
        manifest: a crash at any point leaves readers on the intact
        pre-batch index or the complete post-batch one, never a replaced
        id present in two places.  Interrupted publishes are healed here
        (and by any reader) before the next batch.

        Quantizers stay FIXED — standard IVF practice (drift re-training
        is a periodic :meth:`build`); the encode is exact w.r.t. the
        current quantizers, so a probe after N upserts returns exactly
        what a rebuild with the same quantizers would.

        ``assume_new_ids=True`` is the append-only ingest fast path: the
        replaced-id discovery is a semi-join SCAN of the whole index's
        narrow (cell_id, id) columns (ids spread across every cell, so
        partition pruning can't help), and a caller that KNOWS its ids
        are fresh (monotonic ingest keys) skips it — the upsert is then
        just the run append."""
        from ..txn import GLOBAL_LANE, StagedPass

        wh = wh.engine()
        new_emb = adopt(wh.spark, new_emb)
        # complete any interrupted index publish first (idempotent,
        # cheap — readers would self-heal anyway via the manifest), then
        # reclaim the index's dead stages
        StagedPass.recover(wh, GLOBAL_LANE)
        StagedPass.sweep_stages(*map(wh.path, self.tables))
        cells_t, delta_t, bloom_t = (
            self.table("cells"), self.table("delta"), self.table("id_bloom")
        )
        cols = ["cell_id", id_col, self.payload]
        assign = ivf_encode(
            new_emb, wh.read(self.table("centroids")), self._codebook(wh),
            m=m, id_col=id_col, vec_col=vec_col,
        ).select(*cols).persist()
        run = assign.coalesce(1).sortWithinPartitions("cell_id")
        try:
            batch_ids = assign.select(id_col)
            # maintain the id Bloom in the SAME pass: new filter = old
            # words OR the batch's words (constant m_bits/32 rows either
            # way).  Missing filter (pre-r7 index): seed it from the full
            # id set once — a narrow scan the filter then amortizes away.
            if wh.exists(bloom_t):
                old_bloom = wh.read(bloom_t)
            else:
                old_bloom = _id_bloom_words(
                    self.cells(wh).select(id_col), id_col
                )
            new_bloom = (
                old_bloom.unionByName(_id_bloom_words(batch_ids, id_col))
                .groupBy("word_idx")
                .agg(F.bit_or("word").alias("word"))
            )
            sp = StagedPass(wh, GLOBAL_LANE)
            # Bloom gate for the replaced-id discovery: when every batch
            # id probes NEGATIVE (all-fresh ingest, the common case), the
            # index-wide discovery scan is skipped outright.  A positive
            # — real or false — falls through to the scan, which is the
            # correctness authority either way.
            maybe_present = not assume_new_ids
            if maybe_present and wh.exists(bloom_t):
                hit = (
                    F.col("word").isNotNull()
                    & (F.col("word").bitwiseAND(_bloom_word()) != 0)
                )
                maybe_present = (
                    _id_bloom_probes(batch_ids, id_col)
                    .join(F.broadcast(wh.read(bloom_t)), "word_idx", "left")
                    .groupBy(id_col)
                    .agg(F.bool_and(hit).alias("in_bloom"))
                    .filter("in_bloom")
                    .limit(1).count() > 0
                )
            stale_ids: set = set()
            if maybe_present:
                # base cells holding a replaced id rewrite (bounded by
                # the batch, partition-pruned via a literal IN-filter);
                # the discovery is the one index-wide pass, column-pruned
                # to the narrow (cell_id, id) columns — payloads are not
                # read
                base = wh.read(cells_t)
                stale_cells = (
                    base.join(F.broadcast(batch_ids), id_col, "left_semi")
                    .select("cell_id").distinct()
                )
                stale_ids = {r.cell_id for r in stale_cells.collect()}
            if stale_ids:
                kept = (
                    base.filter(
                        F.col("cell_id").isin([int(c) for c in stale_ids])
                    )
                    .join(F.broadcast(batch_ids), id_col, "left_anti")
                    .select(*cols)
                    .persist()
                )
                try:
                    # a stale cell whose members were ALL replaced emits
                    # no rewrite rows — record it as an explicit drop so
                    # its old files retire atomically with everything else
                    kept_cells = {
                        r.cell_id
                        for r in kept.select("cell_id").distinct().collect()
                    }
                    sp.stage_replace_tree(
                        kept, cells_t, partition_by=["cell_id"],
                        drops=[f"cell_id={c}"
                               for c in sorted(stale_ids - kept_cells)],
                    )
                finally:
                    kept.unpersist()
            # replaced ids sitting in the delta rewrite the (small)
            # delta; gated by the same Bloom verdict — all-fresh batches
            # skip it
            if maybe_present and wh.exists(delta_t):
                delta = wh.read(delta_t)
                has_stale_delta = (
                    delta.join(F.broadcast(batch_ids), id_col, "left_semi")
                    .limit(1).count() > 0
                )
                if has_stale_delta:
                    sp.stage_replace_tree(
                        delta.join(F.broadcast(batch_ids), id_col,
                                   "left_anti")
                        .coalesce(1).sortWithinPartitions("cell_id"),
                        delta_t,
                    )
            sp.stage_append_tree(run, delta_t)
            sp.stage_replace_tree(new_bloom, bloom_t)
            sp.publish()
            self.compact(wh, compact_delta_runs)
        finally:
            assign.unpersist()

    def compact(self, wh, min_runs: int = 16) -> bool:
        """Fold the delta's run files back into the base cell partitions
        when ``min_runs`` or more have accumulated (0 forces a fold).
        ONE staged pass: an append-tree of the delta rows into their
        cells (one file per touched cell via a repartition on the cell
        key) plus a flat replace of the delta with empty — committed
        atomically, so readers never see a row in both places.

        The run-count probe goes through the READER path (r13, VERDICT
        r12 task 5): ``wh.read`` resolves pending StagedPass manifests
        first and builds its file index through the Hadoop FS
        abstraction, so the probe counts the manifest-resolved run files
        on ANY filesystem the warehouse sits on (each upsert appends
        exactly one sorted run file).  ``inputFiles()`` is driver-side
        metadata off the already-built index — no Spark job."""
        from ..txn import GLOBAL_LANE, StagedPass

        delta_t = self.table("delta")
        if not wh.exists(delta_t):
            return False
        delta = wh.read(delta_t)
        if len(delta.inputFiles()) < max(1, min_runs):
            return False
        sp = StagedPass(wh, GLOBAL_LANE)
        sp.stage_append_tree(
            delta.repartition(F.col("cell_id")),
            self.table("cells"),
            partition_by=["cell_id"],
        )
        sp.stage_replace_tree(
            local_frame(wh.spark, [], delta.schema), delta_t
        )
        sp.publish()
        return True

    def _probed(self, wh, queries: DataFrame, nprobe: int, m: int,
                id_col: str, vec_col: str,
                with_rank: bool = False) -> tuple[DataFrame, DataFrame]:
        """(probes, scored): each query's ``nprobe`` best cells against
        the (tiny, broadcast) centroid table, then :func:`_score` over
        ONLY those cells' rows.  The probed cell ids are collected to
        build the partition predicate — bounded by queries x nprobe,
        never by the corpus: base partitions prune to the probed cells,
        the delta's sorted runs prune by row-group stats on the same
        filter.

        Snapshot discipline (r13, ADVICE r12): the base∪delta union is
        taken ONCE, up front, before the cell-pick job runs —
        ``wh.read`` resolves the file listing at DataFrame creation, so
        an upsert that commits a new delta run DURING the cell-pick
        collect does not split the probe's view.  Residual assumption,
        documented: a COMPACTION that deletes delta files while a probe
        is still executing can fail the scan — deployments that compact
        concurrently with serving must serialize compaction against
        in-flight probes (the single-compactor rule every LSM serve path
        carries)."""
        cells = self.cells(wh)
        probes = _probe_cells(
            _query_vecs(queries, id_col, vec_col),
            wh.read(self.table("centroids")), nprobe,
            residual=self.codec == "pq",
        ).localCheckpoint(eager=False)
        cell_ids = sorted(
            {r.cell_id for r in probes.select("cell_id").distinct().collect()}
        )
        scored = _score(
            probes, cells.filter(F.col("cell_id").isin(cell_ids)), id_col,
            self._codebook(wh), m, with_rank=with_rank,
        )
        return probes, scored

    def probe(
        self,
        wh,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 2,
        m: int = 8,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Query the index: top-``k`` per query over its ``nprobe``
        probed cells (:meth:`_probed`) — exact ``dot_q`` for the raw
        codec, ADC ``adist_q`` for pq; the same arithmetic as the
        in-memory :func:`knn_ivf` / :func:`ivfpq_search`, so a probe
        replays them bit-for-bit."""
        _, scored = self._probed(wh, queries, nprobe, m, id_col, vec_col)
        return _top_k(scored, k, *self._score_order())

    def probe_tuning(
        self,
        wh,
        emb: DataFrame,
        query_ids: list[int],
        k: int = 10,
        nprobes: tuple[int, ...] = (1, 2, 4),
        m: int = 8,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        plan_out: dict | None = None,
    ) -> DataFrame:
        """The nprobe operating-point curve over the index AT REST (r13,
        VERDICT r12 task 6): :func:`ivf_nprobe_tuning` measures the
        in-memory assignment, but a deployment tunes nprobe against the
        index it SERVES — where the real cost axis is pruned partitions
        read and candidate rows scored per config.  One row per nprobe:
        (nprobe, n_cells, n_truth, n_cand, n_cand_hit, cand_recall,
        n_hit, recall) — see :func:`_nprobe_curve`.

        SHARED WORK: truth, cell ranking, and scoring run ONCE at the
        largest nprobe; each config is a ``cell_rank`` filter over the
        already-scored rows.  Candidate sets are therefore nested, so
        ``n_cells``/``n_cand``/``cand_recall`` are provably
        non-decreasing in nprobe (pytest-pinned) — ``cand_recall`` is
        also the ceiling an exact re-rank of the probe's shortlist could
        reach.  The pq codec's end-to-end ``recall`` ranks by the
        approximate ADC distance, so a closer-by-ADC non-neighbor
        entering at higher nprobe can in principle displace a hit — the
        measured number is reported, not assumed monotone.

        Plan (100 TB): the probe machinery is :meth:`_probed` verbatim —
        pruned partitions, broadcast LUT, no corpus-sized exchange;
        per-config windows partition per query.  ``plan_out["scored"]``
        receives the once-executed scoring subtree for plan pins."""
        exact = knn_bruteforce(emb, list(query_ids), k, id_col, vec_col) \
            .localCheckpoint(eager=False)
        probes, scored = self._probed(
            wh, emb.filter(F.col(id_col).isin(list(query_ids))),
            max(nprobes), m, id_col, vec_col, with_rank=True,
        )
        if plan_out is not None:
            # wrapped in a no-op filter so the seam owns a FRESH
            # QueryExecution: localCheckpoint(eager=False) finalizes the
            # parent's adaptive plan (measured on PySpark 4.1), which
            # strips the per-scan detail a pin inspects
            plan_out["scored"] = scored.filter(F.lit(True))
        return _nprobe_curve(
            scored.localCheckpoint(eager=False), exact, nprobes, k,
            *self._score_order(), probes=probes,
        )


#: the two at-rest indexes; their on-disk names predate the codec split
IVF = IvfIndex("ivf", "raw")
IVFPQ = IvfIndex("ivfpq", "pq")


def ann_recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Recall@k of an approximate ANN result against the exact ground
    truth — the measure-don't-guess loop every ANN deployment runs
    when tuning nprobe / code budget / plane count: per query,
    ``hits`` = |approx top-k ∩ exact top-k| and ``recall`` = hits / k.
    Both inputs are (query_id, neighbor_id, ..., rank) frames as
    produced by :func:`knn_bruteforce` / :func:`pq_search` /
    :func:`ivfpq_search`; queries the approximate index missed
    entirely report recall 0, not an absent row.

    Plan: two rank filters + one keyed semi-join on (query, neighbor)
    + a per-query count — all bounded by |queries| x k rows, noise
    next to producing either input.  Both bounded frames are lazily
    localCheckpointed (late r10): ``e`` is referenced twice (the hit
    semi-join and the per-query anchor) and without the cut each
    reference re-executes its ENTIRE producer — the ann_ivf_recall
    second-decade measurement showed the composed DAG costing ~3x the
    sum of its parts at sf3."""
    e = (
        exact.filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    a = (
        approx.filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    hits = (
        e.join(a, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        e.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.lit(int(k)).cast("long").alias("k"),
            (F.coalesce("hits", F.lit(0)) / F.lit(int(k)))
            .cast("double").alias("recall"),
        )
    )


def diversity_select(
    emb: DataFrame,
    n_cells_target: int = 8,
    drop_top_frac_num: int = 1,
    drop_top_frac_den: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-based diversification (D4 lineage — Tirumala et al.
    2023, "D4: Improving LLM Pretraining via Document De-Duplication
    and Diversification"): after near-dup removal, the remaining
    redundancy is PROTOTYPICALITY — many documents crowding each
    semantic cluster's center add little signal.  Assign every vector
    to a sized coarse cell (the ivf discipline), rank members by dot
    against their cell centroid (high dot = prototypical, ties -> id),
    and DROP the top ``drop_top_frac_num/drop_top_frac_den`` fraction
    of each cell — keeping the cluster's diverse rim plus all of the
    small cells.  The cut count is exact integer arithmetic
    (``n_dropped = (n_members * num) div den``), so the verdict
    replays in SQL.

    Returns one row per vector: (id, cell_id, dot_c, cell_rank,
    cell_n, keep).

    Plan (100 TB): assignment is the audited broadcast max_by (no
    window, no corpus self-join); ranking is ONE window partitioned by
    cell_id (bounded per-cell fan-in by the sized cells); the member
    count rides the same partitioning, so Catalyst reuses one exchange
    for both."""
    cents = _seed_cells(
        emb, _ceil_mod(emb.count(), n_cells_target), id_col, vec_col
    )
    vecs = emb.select(F.col(id_col), quantized(F.col(vec_col)).alias("v"))
    assign = _coarse_assign(vecs, cents, id_col, carry=("dot_c",))
    w = Window.partitionBy("cell_id").orderBy(
        F.desc("dot_c"), F.asc(id_col)
    )
    wc = Window.partitionBy("cell_id")
    ranked = assign.select(
        F.col(id_col), "cell_id", "dot_c",
        F.row_number().over(w).alias("cell_rank"),
        F.count(F.lit(1)).over(wc).alias("cell_n"),
    )
    dropped = F.expr(
        f"(cell_n * {int(drop_top_frac_num)}) div {int(drop_top_frac_den)}"
    )
    return ranked.select(
        id_col, "cell_id", "dot_c", "cell_rank",
        F.col("cell_n").cast("long").alias("cell_n"),
        (F.col("cell_rank") > dropped).alias("keep"),
    )


def sq_train(
    emb: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantization stats: per-dimension min/max of the corpus on
    the exact integer grid, returned as ONE row of bounded arrays
    (mins, steps) where step_i = (max_i - min_i) div 255 is the int8
    dequantization step.

    Plan (100 TB): ``posexplode`` is map-only and the per-dim min/max
    aggregate combines map-side, so the shuffle is dims x partitions
    rows — the corpus is read once and never re-shuffled.  The one-row
    result broadcasts to every downstream encode/search."""
    v = emb.select(quantized(F.col(vec_col)).alias("v"))
    dims = v.select(F.posexplode("v").alias("dim", "x"))
    stats = dims.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    return (
        stats.groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "mn", "mx"))
            ).alias("s")
        )
        .select(
            F.transform("s", lambda r: r["mn"]).alias("mins"),
            F.transform(
                "s", lambda r: F.floor((r["mx"] - r["mn"]) / 255).cast("long")
            ).alias("steps"),
        )
    )


def sq_encode(
    emb: DataFrame,
    stats: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """int8 codes: q_i = clamp(((v_i - mn_i)) div step_i, 0, 255) on the
    exact integer grid (q_i = 0 on a degenerate dimension).  Map-only:
    the corpus never shuffles; the one-row stats frame is broadcast.
    This is the 4x-compressed index next to ``pq_encode``'s 32x — the
    standard first rung of the ANN memory/recall ladder."""
    e = emb.select(F.col(id_col), quantized(F.col(vec_col)).alias("v"))
    enc = e.crossJoin(F.broadcast(stats))
    q = F.transform(
        "v",
        lambda x, i: F.when(
            F.get("steps", i) > 0,
            F.least(
                F.lit(255).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor((x - F.get("mins", i)) / F.get("steps", i)).cast("long"),
                ),
            ),
        ).otherwise(F.lit(0).cast("long")),
    )
    return enc.select(F.col(id_col), q.alias("codes"))


def sq_search(
    enc: DataFrame,
    stats: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric scaled-L2 over int8 codes: the per-dimension distance
    term is ((q_d - q_q) * step_i)^2 — exactly the squared grid-space
    gap the codes can resolve, all in int64 (64 dims x (255 * step)^2
    ~ 2.6e14 for unit vectors: no overflow).  Bounded queries broadcast
    against the codes table (map-only scan); per-query top-k via ONE
    window partitioned by query_id with id tie-break — the same audited
    shape as ``knn_bruteforce``/``pq_search``."""
    q = enc.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("codes").alias("qc")
    )
    pairs = (
        enc.select(F.col(id_col).alias("neighbor_id"), "codes")
        .crossJoin(F.broadcast(q.crossJoin(F.broadcast(stats))))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    diff = F.zip_with("codes", "qc", lambda a, b: a - b)
    term = F.zip_with(diff, F.col("steps"), lambda d, s: d * d * s * s)
    scored = pairs.select(
        "query_id", "neighbor_id",
        F.aggregate(
            term, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sq_dist"),
    )
    return _top_k(scored, k, "sq_dist", asc=True)
