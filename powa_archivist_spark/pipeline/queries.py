"""Pipeline-operator query surface + DuckDB oracles.

Every declared query here carries a full DuckDB value-hash oracle —
including the hash-dependent operators (minhash, simhash, fingerprints),
whose oracles replay the same hash arithmetic in portable SQL. Property
tests in tests/ cover the algebraic invariants on top of that.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import t
from . import dedup, multimodal, similarity, textstats
from .spread import spread


@contextmanager
def scratch_warehouse(spark: SparkSession, prefix: str):
    """A Warehouse on a fresh temp dir, deleted on exit together with
    its replay-memo entries: a declared replay materializes its result
    (``localCheckpoint``) before the scratch goes."""
    from ..storage import Warehouse
    from ..streaming.fold import invalidate

    root = tempfile.mkdtemp(prefix=prefix)
    try:
        yield Warehouse(spark, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        invalidate(root)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(t(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = r"""
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')), '\s+', ' ', 'g'))
"""


def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # strategy="probe": the synthetic documents corpus has a tiny token
    # vocabulary, where PPJoin prefix filtering degenerates (every token
    # is high-frequency) and the bitmask encoding is ~50x faster.  The
    # probe is ONE bounded limit(64) job; the library DEFAULT stays
    # "prefix" (zero driver jobs — the right call for real corpora).
    return dedup.jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.8,
                               strategy="probe")


ORACLE_JACCARD = """
SELECT a_id, b_id, inter_size, union_size, jaccard
FROM (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         len(list_intersect(a.toks, b.toks)) AS inter_size,
         len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
           AS union_size,
         CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
           / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
           AS jaccard
  FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents) a
  JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents) b
    ON a.doc_id < b.doc_id
) p
WHERE jaccard >= 0.8
"""


def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    # see dedup_jaccard_pairs on strategy="probe"
    return dedup.near_dup_keep(t(spark, sf_dir, "documents"), threshold=0.8,
                               strategy="probe")


ORACLE_KEEP_LIST = """
SELECT doc_id FROM documents
WHERE doc_id NOT IN (
  SELECT b.doc_id
  FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents) a
  JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents) b
    ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        >= 0.8
)
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-canonical dedup: connected components over the jaccard
    near-dup graph; keep exactly the min-id doc per component.  The
    oracle replays the transitive closure with a recursive CTE.

    Declared route (r9, VERDICT r8 task 1): ``strategy="prefix"`` — the
    production PPJoin plan, so the measured scaling exponent is the
    ROUTE-FIXED one (r8 declared the count-probe route, and the sf1
    testdata vocabulary crossing the 63-token bitmask bound flipped it
    mid-decade: measured alpha 1.42 vs the route-fixed 0.26).  The
    components run over the DISTINCT-set graph (doc pairs are never
    materialized — ``dedup.near_dup_components``); the tiny-corpus
    probe/bitmask variant stays declared as
    ``dedup_components_smallvocab``."""
    docs = t(spark, sf_dir, "documents")
    comp = dedup.near_dup_components(docs, threshold=0.8,
                                     strategy="prefix")
    return comp.select(
        "doc_id", "component",
        (F.col("doc_id") == F.col("component")).alias("is_kept"),
    )


def dedup_components_smallvocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-probe variant of ``dedup_components``: one bounded
    ``limit(64)`` vocabulary probe picks the int64-bitmask encoding when
    the vocabulary fits (enum-like columns, tiny corpora) and falls back
    to PPJoin above it.  Kept OFF the scaling-measured route since the
    probe's mid-decade flip is a measured 5x step (PERF.md r8/r9);
    declared separately so the fast path stays driver-verified."""
    docs = t(spark, sf_dir, "documents")
    comp = dedup.near_dup_components(docs, threshold=0.8,
                                     strategy="probe")
    return comp.select(
        "doc_id", "component",
        (F.col("doc_id") == F.col("component")).alias("is_kept"),
    )


ORACLE_COMPONENTS = """
WITH RECURSIVE toksets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM toksets a JOIN toksets b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        >= 0.8
), edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION SELECT b_id, a_id FROM pairs
), walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node AS doc_id, MIN(label) AS component,
       node = MIN(label) AS is_kept
FROM walk GROUP BY node
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH chain in the cross-engine md5 hash family
    (dedup.cross_engine_hash64), so the DuckDB oracle replays the ENTIRE
    pipeline — shingles, 32 seeded permutations, 8-band buckets,
    candidate join, exact-jaccard verify — not just a rows-only check.
    Production keeps hash_fn='xxhash64' (same plan, cheaper hash)."""
    return dedup.minhash_dedup_pairs(
        t(spark, sf_dir, "documents"), threshold=0.8, hash_fn="md5"
    ).orderBy("a_id", "b_id")


# the md5 twin of every stage, CTE by CTE (num_perm=32, bands=8, r=4,
# shingle_n=3, threshold=0.8); permutations are the universal-hash family
# over ONE md5 digest per shingle (dedup.permuted_hash)
_PERMS = dedup._perm_constants(32)
ORACLE_MINHASH_LSH = f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) >= 3 THEN
           list_distinct([
             array_to_string(string_split(text, ' ')[i:i+2], ' ')
             for i in generate_series(1, len(string_split(text, ' ')) - 2)
           ])
         ELSE [] END AS sh
  FROM documents
), exploded AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
  FROM sh
), seeds(seed, a1, a2, b) AS (
  VALUES {", ".join(f"({i}, {a1}, {a2}, {b})"
                    for i, (a1, a2, b) in enumerate(_PERMS))}
), mins AS (
  SELECT doc_id, seed,
         MIN((a1 * (h >> 30) + a2 * (h & 1073741823) + b)
             % {dedup.MINHASH_P}) AS h
  FROM exploded CROSS JOIN seeds
  GROUP BY doc_id, seed
), sigs AS (
  SELECT doc_id, list(h ORDER BY seed) AS sig FROM mins GROUP BY doc_id
), bands AS (
  SELECT unnest(generate_series(0, 7)) AS band
), banded AS (
  SELECT doc_id, band,
         ('0x' || substring(
            md5(array_to_string(sig[band*4+1 : band*4+4], '|')), 1, 15)
         )::BIGINT AS bucket
  FROM sigs CROSS JOIN bands
), cands AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
)
SELECT a_id, b_id,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
         AS jaccard
FROM cands
JOIN sh sa ON sa.doc_id = a_id
JOIN sh sb ON sb.doc_id = b_id
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
ORDER BY a_id, b_id
"""


def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash-LSH candidate recall/precision against exact
    shingle-Jaccard truth (dedup.minhash_lsh_recall) — the dedup
    family's analog of the ANN recall evals.  Truth reuses the
    production PPJoin exact-pair machinery over glued shingles; the
    oracle replays both relations and the count joins."""
    return dedup.minhash_lsh_recall(
        t(spark, sf_dir, "documents"), threshold=0.8, hash_fn="md5"
    )


def _oracle_minhash_recall() -> str:
    return f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) >= 3 THEN
           list_distinct([
             array_to_string(string_split(text, ' ')[i:i+2], ' ')
             for i in generate_series(1, len(string_split(text, ' ')) - 2)
           ])
         ELSE [] END AS sh
  FROM documents
), ne AS (
  SELECT doc_id, sh FROM sh WHERE len(sh) > 0
), truth AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= 0.8
), exploded AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
  FROM sh
), seeds(seed, a1, a2, b) AS (
  VALUES {", ".join(f"({i}, {a1}, {a2}, {b})"
                    for i, (a1, a2, b) in enumerate(_PERMS))}
), mins AS (
  SELECT doc_id, seed,
         MIN((a1 * (h >> 30) + a2 * (h & 1073741823) + b)
             % {dedup.MINHASH_P}) AS h
  FROM exploded CROSS JOIN seeds
  GROUP BY doc_id, seed
), sigs AS (
  SELECT doc_id, list(h ORDER BY seed) AS sig FROM mins GROUP BY doc_id
), bands AS (
  SELECT unnest(generate_series(0, 7)) AS band
), banded AS (
  SELECT doc_id, band,
         ('0x' || substring(
            md5(array_to_string(sig[band*4+1 : band*4+4], '|')), 1, 15)
         )::BIGINT AS bucket
  FROM sigs CROSS JOIN bands
), cands AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
), counts AS (
  SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
         (SELECT COUNT(*) FROM cands) AS n_cand,
         (SELECT COUNT(*) FROM truth t JOIN cands c
            ON t.a_id = c.a_id AND t.b_id = c.b_id) AS n_hit
)
SELECT n_truth, n_cand, n_hit,
       CASE WHEN n_truth > 0 THEN
         CAST(n_hit AS DOUBLE) / n_truth END AS recall,
       CASE WHEN n_cand > 0 THEN
         CAST(n_hit AS DOUBLE) / n_cand END AS precision
FROM counts
"""


def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH tuning curve (dedup.lsh_tuning): measured
    recall/precision at bands = 4 / 8 / 16 over num_perm=32 against ONE
    shared exact-truth relation — the curve a deployment reads to pick
    its collision-probability point.  One row per config."""
    return dedup.lsh_tuning(
        t(spark, sf_dir, "documents"), threshold=0.8, hash_fn="md5"
    )


def _oracle_lsh_tuning() -> str:
    per_config = []
    for bands in (4, 8, 16):
        r = 32 // bands
        per_config.append(f"""banded{bands} AS (
  SELECT doc_id, band,
         ('0x' || substring(
            md5(array_to_string(sig[band*{r}+1 : band*{r}+{r}], '|')),
            1, 15))::BIGINT AS bucket
  FROM sigs CROSS JOIN (
    SELECT unnest(generate_series(0, {bands - 1})) AS band)
), cands{bands} AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded{bands} a JOIN banded{bands} b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
), row{bands} AS (
  SELECT CAST(32 AS BIGINT) AS num_perm,
         CAST({bands} AS BIGINT) AS bands,
         (SELECT COUNT(*) FROM truth) AS n_truth,
         (SELECT COUNT(*) FROM cands{bands}) AS n_cand,
         (SELECT COUNT(*) FROM truth t JOIN cands{bands} c
            ON t.a_id = c.a_id AND t.b_id = c.b_id) AS n_hit
)""")
    rows = "\nUNION ALL\n".join(
        f"SELECT * FROM row{b}" for b in (4, 8, 16)
    )
    return f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) >= 3 THEN
           list_distinct([
             array_to_string(string_split(text, ' ')[i:i+2], ' ')
             for i in generate_series(1, len(string_split(text, ' ')) - 2)
           ])
         ELSE [] END AS sh
  FROM documents
), ne AS (
  SELECT doc_id, sh FROM sh WHERE len(sh) > 0
), truth AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= 0.8
), exploded AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
  FROM sh
), seeds(seed, a1, a2, b) AS (
  VALUES {", ".join(f"({i}, {a1}, {a2}, {b})"
                    for i, (a1, a2, b) in enumerate(_PERMS))}
), mins AS (
  SELECT doc_id, seed,
         MIN((a1 * (h >> 30) + a2 * (h & 1073741823) + b)
             % {dedup.MINHASH_P}) AS h
  FROM exploded CROSS JOIN seeds
  GROUP BY doc_id, seed
), sigs AS (
  SELECT doc_id, list(h ORDER BY seed) AS sig FROM mins GROUP BY doc_id
), {", ".join(per_config)}
SELECT num_perm, bands, n_truth, n_cand, n_hit,
       CASE WHEN n_truth > 0 THEN
         CAST(n_hit AS DOUBLE) / n_truth END AS recall,
       CASE WHEN n_cand > 0 THEN
         CAST(n_hit AS DOUBLE) / n_cand END AS precision
FROM ({rows})
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs in the cross-engine 60-bit md5 family —
    the DuckDB oracle replays token hashes, the per-bit majority vote,
    the pigeonhole banding, and the hamming verify exactly.  Production
    keeps hash_fn='xxhash64' (64-bit, cheaper)."""
    return dedup.simhash_near_dup_pairs(
        t(spark, sf_dir, "documents"), max_hamming=3, hash_fn="md5"
    ).orderBy("a_id", "b_id")


# 60-bit md5 simhash, 4 bands x 15 bits, hamming <= 3
ORACLE_SIMHASH = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
  FROM toks
), ks AS (
  SELECT unnest(generate_series(0, 59)) AS k
), votes AS (
  SELECT doc_id, k,
         SUM(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed CROSS JOIN ks GROUP BY doc_id, k
), fps AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::BIGINT << k) ELSE 0::BIGINT END) AS fp
  FROM votes GROUP BY doc_id
), bands AS (
  SELECT unnest(generate_series(0, 3)) AS band
), banded AS (
  SELECT doc_id, fp, band, (fp >> (band * 15)) & 32767 AS val
  FROM fps CROSS JOIN bands
), cands AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                  a.fp AS a_fp, b.fp AS b_fp
  FROM banded a JOIN banded b USING (band, val)
  WHERE a.doc_id < b.doc_id
)
SELECT a_id, b_id, CAST(bit_count(xor(a_fp, b_fp)) AS INT) AS hamming
FROM cands
WHERE bit_count(xor(a_fp, b_fp)) <= 3
ORDER BY a_id, b_id
"""


def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.knn_bruteforce(
        t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10
    )


ORACLE_KNN = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
)
SELECT query_id, neighbor_id, dot_q, rank
FROM (
  SELECT query_id, neighbor_id, dot_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(list_zip(q.v, c.v),
             x -> x[1] * x[2])) AS BIGINT) AS dot_q
    FROM e q, e c
    WHERE q.vec_id IN (0, 1, 2, 3, 4) AND c.vec_id != q.vec_id
  ) s
) r
WHERE rank <= 10
"""


def _int_planes(n_planes: int = 4, dim: int = 64,
                scale: int = 1000) -> list[list[int]]:
    """Seeded gaussian hyperplanes quantized to integers: the projection
    of a quantized vector onto them is exact int64 arithmetic, so the
    bucket sign bits — and the whole LSH result — are replayable by the
    DuckDB oracle.  Sign distribution is unchanged by the scaling."""
    import random

    rng = random.Random(42)
    return [
        [int(round(rng.gauss(0, 1) * scale)) for _ in range(dim)]
        for _ in range(n_planes)
    ]


LSH_PLANES = _int_planes()
# Prefix-stable: _int_planes generates plane-by-plane from one seeded
# rng, so LSH_PLANES_16[:4] == LSH_PLANES — the k-scaled dedup's bucket
# is a strict prefix extension of the fixed-k queries' bucket.
LSH_PLANES_16 = _int_planes(16)


def knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN with integer planes: the oracle replays bucket
    assignment (exact integer projections), the bucket equi-join, and the
    quantized rescoring bit-for-bit."""
    return similarity.knn_lsh(
        t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4],
        planes=LSH_PLANES, k=10,
    )


def _plane_sql(p: list[int]) -> str:
    return "[" + ", ".join(str(x) for x in p) + "]"


ORACLE_KNN_LSH = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), bucketed AS (
  SELECT vec_id, v,
    {" + ".join(
        f'''(CASE WHEN list_sum(list_transform(list_zip(v, {_plane_sql(p)}),
             x -> x[1] * CAST(x[2] AS BIGINT))) >= 0
           THEN {1 << i} ELSE 0 END)'''
        for i, p in enumerate(LSH_PLANES)
    )} AS bucket
  FROM e
)
SELECT query_id, neighbor_id, dot_q, rank
FROM (
  SELECT query_id, neighbor_id, dot_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(list_zip(q.v, c.v),
             x -> x[1] * x[2])) AS BIGINT) AS dot_q
    FROM bucketed q JOIN bucketed c ON q.bucket = c.bucket
    WHERE q.vec_id IN (0, 1, 2, 3, 4) AND c.vec_id != q.vec_id
  ) s
) r
WHERE rank <= 10
"""


def knn_cosine_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane LSH: the query also probes every Hamming-1
    bucket (flip one plane's sign), replicating only the query side.
    Integer planes keep every probed bucket exact, so the oracle replays
    probe generation, the bucket join, and the rescoring."""
    return similarity.knn_lsh(
        t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4],
        planes=LSH_PLANES, k=10, multiprobe=True,
    )


ORACLE_KNN_LSH_MULTIPROBE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), bucketed AS (
  SELECT vec_id, v,
    {" + ".join(
        f'''(CASE WHEN list_sum(list_transform(list_zip(v, {_plane_sql(p)}),
             x -> x[1] * CAST(x[2] AS BIGINT))) >= 0
           THEN {1 << i} ELSE 0 END)'''
        for i, p in enumerate(LSH_PLANES)
    )} AS bucket
  FROM e
), probes AS (
  SELECT vec_id AS query_id, v AS qv, xor(bucket, flip) AS bucket
  FROM bucketed, (SELECT unnest([0, 1, 2, 4, 8]) AS flip)
  WHERE vec_id IN (0, 1, 2, 3, 4)
)
SELECT query_id, neighbor_id, dot_q, rank
FROM (
  SELECT query_id, neighbor_id, dot_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM (
    SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(list_zip(q.qv, c.v),
             x -> x[1] * x[2])) AS BIGINT) AS dot_q
    FROM probes q JOIN bucketed c ON q.bucket = c.bucket
    WHERE c.vec_id != q.query_id
  ) s
) r
WHERE rank <= 10
"""


MIN_DOT_Q = 350_000_000_000  # cosine 0.35 x QUANT^2 on unit vectors

#: Count-probe bound for the EXACT embedding pair relation (r9, VERDICT
#: r8 task 3): at or under this many vectors the declared queries run
#: the exact O(N^2) form (allpairs <= 1024, blocked matmul above); past
#: it they take the count-sized LSH-bucketed graph — the same
#: recall/cost trade SemDeDup ships, and the route every other
#: quadratic form in this module already guards with.  16384 keeps the
#: oracle gate (sf0.01, 500 vectors) and the sf0.1 bench exact while
#: sf1+ measures the sub-quadratic path.
EXACT_EMB_PAIRS_MAX_ROWS = 16_384


def _routed_emb_pairs(emb: DataFrame,
                      exact_max_rows: int = EXACT_EMB_PAIRS_MAX_ROWS,
                      route_out: dict | None = None) -> DataFrame:
    """Embedding near-dup pair relation with count-probe routing.

    One bounded ``limit(exact_max_rows + 1)`` probe decides the route
    (never a full scan); the LSH route additionally pays the (metadata
    -cheap) full count to size its plane prefix via
    :func:`lsh_planes_for_count`, exactly like the declared
    ``emb_semantic_dedup_lsh``.  The decision is logged and written to
    ``route_out`` (same observability contract as
    ``dedup.jaccard_pairs``)."""
    import logging

    n = emb.select("vec_id").limit(exact_max_rows + 1).count()
    if n <= exact_max_rows:
        route = "allpairs" if n <= 1024 else "blocked"
        pairs = similarity.embedding_near_dup_pairs(
            emb, min_dot_q=MIN_DOT_Q, strategy=route
        )
    else:
        route = "lsh"
        k = lsh_planes_for_count(emb.count())
        pairs = similarity.embedding_near_dup_pairs_lsh(
            emb, min_dot_q=MIN_DOT_Q, planes=LSH_PLANES_16[:k]
        )
    logging.getLogger(__name__).info(
        "embedding near-dup route: %s (n<=%d probe)", route, exact_max_rows
    )
    if route_out is not None:
        route_out["route"] = route
    return pairs


def emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive entry: the count probe picks allpairs at sf0.01 (500
    vectors — the oracle gate exercises the Catalyst baseline), the
    blocked matmul through sf0.1 (the bench exercises the exact scale
    path; outputs bitwise-identical either way), and the LSH-bucketed
    graph past EXACT_EMB_PAIRS_MAX_ROWS (r9: the exact relation is
    O(N^2) BY SEMANTICS — measured alpha 1.38 sf1->sf3 — so the
    declared query now routes off it the way every other quadratic
    form here does)."""
    return _routed_emb_pairs(t(spark, sf_dir, "embeddings"))


ORACLE_EMB_NEAR_DUP = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       CAST(list_sum(list_transform(list_zip(a.v, b.v),
         x -> x[1] * x[2])) AS BIGINT) AS dot_q
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE CAST(list_sum(list_transform(list_zip(a.v, b.v),
  x -> x[1] * x[2])) AS BIGINT) >= {MIN_DOT_Q}
"""


def emb_near_dup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked numpy-matmul variant — identical output, the scale path."""
    return similarity.embedding_near_dup_pairs_blocked(
        t(spark, sf_dir, "embeddings"), min_dot_q=MIN_DOT_Q
    )


def knn_cosine_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact kNN (per-block local top-k, tiny final rank)."""
    return similarity.knn_bruteforce_blocked(
        t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10
    )


def knn_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — every stage is exact integer arithmetic (deterministic
    centroid sampling, quantized dots, argmax with (dot desc, cell asc)
    tiebreak), so the DuckDB oracle replays assignment, cell probing and
    rescoring exactly."""
    return similarity.knn_ivf(
        t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10
    ).orderBy("query_id", "rank")


# centroid_mod=97, nprobe=2, k=10 — the knn_ivf defaults.
# COUPLING NOTE (ADVICE r10): knn_ivf's default centroid_mod resolves to
# max(97, n div 64), so this oracle's hardcoded `vec_id % 97` sampling
# matches ONLY while the oracle-replayed corpus stays <= 97*64 = 6208
# vectors (driver gate + test_oracle_full run at sf<=0.01: 500/2000 rows
# today).  A larger oracle-gated embeddings table must update BOTH
# sides: pass an explicit centroid_mod in knn_ivf_topk/ann_ivf_recall
# and mirror it here — tests/test_oracle_full would hash-mismatch loudly
# if one side moves alone.
ORACLE_KNN_IVF = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), cents AS (
  SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id % 97 = 0
), scored AS (
  SELECT e.vec_id, e.v, c.cell_id,
         CAST(list_sum(list_transform(list_zip(e.v, c.cv),
           x -> x[1] * x[2])) AS BIGINT) AS dot_c,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY CAST(list_sum(list_transform(
                              list_zip(e.v, c.cv), x -> x[1] * x[2]))
                              AS BIGINT) DESC, c.cell_id ASC) AS rn
  FROM e CROSS JOIN cents c
), assign AS (
  SELECT vec_id, v, cell_id FROM scored WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, v AS qv, cell_id
  FROM scored WHERE rn <= 2 AND vec_id IN (0, 1, 2, 3, 4)
), rescored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(list_zip(p.qv, a.v),
           x -> x[1] * x[2])) AS BIGINT) AS dot_q
  FROM probes p JOIN assign a ON a.cell_id = p.cell_id
  WHERE a.vec_id != p.query_id
)
SELECT query_id, neighbor_id, dot_q, rank
FROM (
  SELECT query_id, neighbor_id, dot_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM rescored
) r
WHERE rank <= 10
ORDER BY query_id, rank
"""


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata extraction through the Arrow/mapInPandas
    seam; the deterministic fake decode keeps it oracle-checkable.

    The decode stage is CPU-bound Python — repartition the (single-file)
    input so every core gets a batch; at scale the landing table is
    already many files and this is a no-op choice.  Only (id, payload)
    cross the Arrow seam: shipping the text/lang/source columns through
    Python would double the batch bytes for nothing (column pruning must
    be applied BEFORE a python stage — Catalyst can't prune through
    mapInPandas)."""
    docs = multimodal.with_payload(t(spark, sf_dir, "documents"))
    return multimodal.extract_meta(
        docs.select("doc_id", "payload").repartition(
            spark.sparkContext.defaultParallelism
        )
    )


ORACLE_MULTIMODAL_META = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CASE WHEN length(text) = 0 THEN 0
            ELSE ascii(text[1]) * 256 + ascii(text[-1]) END AS checksum,
       CAST(320 + octet_length(encode(text)) % 320 AS INT) AS width,
       CAST(240 + octet_length(encode(text)) % 240 AS INT) AS height,
       CASE octet_length(encode(text)) % 3
         WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS fmt
FROM documents
"""


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: multi-row-per-payload mapInPandas expansion.
    Same manual pruning as multimodal_meta: only (id, payload) enter
    the python stage."""
    docs = multimodal.with_payload(t(spark, sf_dir, "documents"))
    return multimodal.sample_frames(
        docs.select("doc_id", "payload").repartition(
            spark.sparkContext.defaultParallelism
        )
    )


ORACLE_MULTIMODAL_FRAMES = """
WITH meta AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         CASE WHEN length(text) = 0 THEN 0
              ELSE ascii(text[1]) * 256 + ascii(text[-1]) END AS checksum
  FROM documents
)
SELECT doc_id, CAST(f AS INT) AS frame_idx,
       checksum + f AS frame_checksum
FROM meta, unnest(range(n_bytes % 4 + 1)) AS u(f)
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage through the Arrow seam (fake decode: codepoint
    truncation to w*h); same manual pruning as multimodal_meta."""
    docs = multimodal.with_payload(t(spark, sf_dir, "documents"))
    return multimodal.resize_images(
        docs.select("doc_id", "payload").repartition(
            spark.sparkContext.defaultParallelism
        ),
        target_w=16, target_h=16,
    )


ORACLE_MULTIMODAL_RESIZE = """
SELECT doc_id,
       CAST(16 AS INT) AS out_w,
       CAST(16 AS INT) AS out_h,
       CAST(LEAST(length(text), 256) AS INT) AS resized_len,
       CASE WHEN length(text) = 0 THEN 0
            ELSE ascii(text[1]) * 256
                 + ascii(substr(text, LEAST(length(text), 256), 1))
       END AS resized_checksum
FROM documents
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction stage through the Arrow seam (fake model:
    16-wide strided codepoint sample, stride 7)."""
    docs = multimodal.with_payload(t(spark, sf_dir, "documents"))
    return multimodal.extract_features(
        docs.select("doc_id", "payload").repartition(
            spark.sparkContext.defaultParallelism
        )
    )


ORACLE_MULTIMODAL_FEATURES = f"""
WITH f AS (
  SELECT doc_id,
         CASE WHEN length(text) = 0
              THEN list_transform(range({multimodal.FEATURE_DIM}), k -> 0)
              ELSE list_transform(
                range({multimodal.FEATURE_DIM}),
                k -> ascii(substr(
                       text,
                       1 + (k * {multimodal.FEATURE_STRIDE})
                           % length(text),
                       1)))
         END AS feats
  FROM documents
)
SELECT doc_id,
       array_to_string(feats, ',') AS feat_csv,
       CAST(list_sum(feats) AS BIGINT) AS feat_sum
FROM f
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.text_stats(t(spark, sf_dir, "documents"))


ORACLE_TEXT_QUALITY = r"""
SELECT doc_id,
       length(text) AS n_chars_calc,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       len(list_distinct(string_split_regex(trim(text), '\s+')))
         AS n_distinct_tokens,
       length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
       CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         / len(string_split_regex(trim(text), '\s+')) AS mean_token_len,
       CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
         / len(string_split_regex(trim(text), '\s+')) AS distinct_ratio
FROM documents
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_count_bpe_ish(t(spark, sf_dir, "documents"))


ORACLE_TOKEN_COUNTS = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
         AS n_subword_pieces
FROM documents
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(t(spark, sf_dir, "documents"))


def _marker_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in textstats.LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split(text, ' '), x -> x IN ({markers})))"
        f" AS n_{lang}"
    )


ORACLE_LANG_ID = f"""
SELECT doc_id, lang, n_en, n_de, n_fr, n_es,
       CASE WHEN greatest(n_en, n_de, n_fr, n_es) = 0 THEN 'unknown'
            WHEN n_en = greatest(n_en, n_de, n_fr, n_es) THEN 'en'
            WHEN n_de = greatest(n_en, n_de, n_fr, n_es) THEN 'de'
            WHEN n_fr = greatest(n_en, n_de, n_fr, n_es) THEN 'fr'
            ELSE 'es' END AS pred_lang
FROM (
  SELECT doc_id, lang,
         {_marker_sql('en')},
         {_marker_sql('de')},
         {_marker_sql('fr')},
         {_marker_sql('es')}
  FROM documents
) c
"""


def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over documents (patterns confined to
    the Java-regex/RE2 common subset so the oracle matches them
    identically)."""
    return textstats.pii_scrub(t(spark, sf_dir, "documents"))


ORACLE_PII_SCRUB = r"""
SELECT doc_id,
       len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
       len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_url,
       len(regexp_extract_all(text,
         '\+?[0-9][0-9()\-. ]{7,}[0-9]')) AS n_phone,
       regexp_replace(regexp_replace(regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         'https?://[^\s]+', '<URL>', 'g'),
         '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed
FROM documents
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints in the cross-engine md5 family — min/max
    rolling shingle hash + whole-text hash, replayed exactly by the
    DuckDB oracle.  Production keeps hash_fn='xxhash64'."""
    return textstats.doc_fingerprint(
        t(spark, sf_dir, "documents"), hash_fn="md5"
    )


# rolling 5-word shingle hashes + whole-text hash, md5 60-bit family
ORACLE_FINGERPRINTS = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), e AS (
  SELECT doc_id,
         unnest(generate_series(0, greatest(len(toks) - 5, 0))) AS i
  FROM t
), h AS (
  SELECT e.doc_id,
         ('0x' || substring(
            md5(array_to_string(t.toks[e.i+1 : e.i+5], ' ')), 1, 15)
         )::BIGINT AS h
  FROM e JOIN t ON e.doc_id = t.doc_id
)
SELECT h.doc_id, MIN(h.h) AS fp_min, MAX(h.h) AS fp_max,
       ('0x' || substring(md5(array_to_string(t.toks, ' ')), 1, 15))::BIGINT
         AS fp_full
FROM h JOIN t ON h.doc_id = t.doc_id
GROUP BY h.doc_id, fp_full
"""


def ivf_refined_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of IVF centroid refinement on the quantized
    integer grid — iterative k-means expressed as exact DataFrame
    aggregations, replayed bit-for-bit by the oracle (int64 sums are
    order-independent; the per-dimension mean divides two exact ints in
    IEEE double on both engines)."""
    return similarity.ivf_refine(
        t(spark, sf_dir, "embeddings"), iters=1
    ).select(
        "cell_id", F.posexplode("cv").alias("dim", "cx")
    )


ORACLE_IVF_REFINE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), cents0 AS (
  SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id % 97 = 0
), scored AS (
  SELECT e.vec_id, e.v, c.cell_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY CAST(list_sum(list_transform(
                              list_zip(e.v, c.cv), x -> x[1] * x[2]))
                              AS BIGINT) DESC, c.cell_id ASC) AS rn
  FROM e CROSS JOIN cents0 c
), assign AS (
  SELECT vec_id, v, cell_id FROM scored WHERE rn = 1
)
SELECT cell_id, i - 1 AS dim,
       CAST(floor(CAST(SUM(v[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
FROM assign,
     -- dimensionality from the DATA, like the Spark side's posexplode —
     -- a hardcoded width breaks the moment embeddings regenerate wider
     -- or narrower
     (SELECT unnest(generate_series(1,
        (SELECT MAX(len(embedding)) FROM embeddings))) AS i)
GROUP BY cell_id, i
"""


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed full-Lloyd k-means to convergence with sized
    batched-farthest-point (k-means||-shape) initialization on the exact
    integer grid (r10, VERDICT r9 task 6 — similarity.kmeans).  The
    oracle statically unrolls max_rounds Lloyd rounds (the
    corpus_bpe_merges precedent); converged rounds are integer
    fixed-point no-ops, so the unrolling matches whichever round the
    engine's convergence probe stopped at."""
    return similarity.kmeans(
        t(spark, sf_dir, "embeddings"), k=8, init_rounds=3, max_rounds=40
    )


def _oracle_kmeans(k: int = 8, init_rounds: int = 3,
                   max_rounds: int = 10, where: str = "",
                   final: str = "assign") -> str:
    """Static unrolling of the k-means training loop: init rounds chain
    (min-d2 score, top-batch select) CTE pairs; Lloyd rounds chain
    (argmin assign, dim-wise floored mean, empty-cluster carry) CTE
    triples — the SQL twin of similarity.kmeans.  Batch sizes come from
    the same ``_init_batches`` the engine uses.

    ``where`` filters the training corpus (r11 — the streaming ledger
    trains on the epochs ingested before its refresh); ``final`` picks
    the emitted relation: the per-vector ``"assign"`` (default) or the
    ``"centers"`` table itself (what the ledger freezes)."""
    d2 = ("CAST(list_sum(list_transform(list_zip({a}, {b}), "
          "x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT)")
    parts = [f"""e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT})
                AS BIGINT)) AS v
  FROM embeddings {where}
), c0 AS MATERIALIZED (
  SELECT CAST(0 AS BIGINT) AS cluster, v AS cv
  FROM e ORDER BY vec_id LIMIT 1
)"""]
    offset = 1
    ci = 0
    for batch in similarity._init_batches(k, init_rounds):
        if batch <= 0:
            continue
        prev, ci = f"c{ci}", ci + 1
        dd = d2.format(a="e.v", b="c.cv")
        parts.append(f"""s{ci} AS MATERIALIZED (
  SELECT e.vec_id, e.v, MIN({dd}) AS md
  FROM e CROSS JOIN {prev} c GROUP BY e.vec_id, e.v
), c{ci} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT CAST({offset} + ROW_NUMBER() OVER (ORDER BY md DESC, vec_id)
              - 1 AS BIGINT) AS cluster, v AS cv
  FROM (SELECT vec_id, v, md FROM s{ci}
        ORDER BY md DESC, vec_id LIMIT {batch})
)""")
        offset += batch
    parts.append(f"g0 AS MATERIALIZED (SELECT * FROM c{ci})")
    for r in range(1, max_rounds + 1):
        dd = d2.format(a="e.v", b="c.cv")
        parts.append(f"""a{r} AS MATERIALIZED (
  SELECT vec_id, v, cluster FROM (
    SELECT e.vec_id, e.v, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {dd} ASC, c.cluster ASC) AS rn
    FROM e CROSS JOIN g{r - 1} c
  ) WHERE rn = 1
), n{r} AS MATERIALIZED (
  SELECT cluster, list(cx ORDER BY dim) AS cv FROM (
    SELECT cluster, i AS dim,
           CAST(floor(CAST(SUM(v[i]) AS DOUBLE) / COUNT(*))
                AS BIGINT) AS cx
    FROM a{r},
         (SELECT unnest(generate_series(1,
            (SELECT MAX(len(embedding)) FROM embeddings))) AS i)
    GROUP BY cluster, i
  ) GROUP BY cluster
), g{r} AS MATERIALIZED (
  SELECT * FROM n{r}
  UNION ALL
  SELECT p.cluster, p.cv FROM g{r - 1} p
  WHERE p.cluster NOT IN (SELECT cluster FROM n{r})
)""")
    dd = d2.format(a="e.v", b="c.cv")
    if final == "centers":
        return f"""
WITH {",".join(parts)}
SELECT cluster, cv FROM g{max_rounds}
"""
    return f"""
WITH {",".join(parts)}
SELECT vec_id, cluster, d2 AS d2_q FROM (
  SELECT vec_id, cluster, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2 ASC, cluster ASC) AS rn
  FROM (SELECT e.vec_id, c.cluster, {dd} AS d2
        FROM e CROSS JOIN g{max_rounds} c)
) WHERE rn = 1
"""


def emb_kmeans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster size / inertia / radius over the Lloyd assignment
    (similarity.kmeans_profile) — the balance report read before
    trusting a clustering for SemDeDup pruning or IVF cell sizing.  One
    bounded-key groupBy over the assignment; the oracle wraps the
    unrolled k-means replay in the same rollup."""
    return similarity.kmeans_profile(
        t(spark, sf_dir, "embeddings"), k=8, init_rounds=3, max_rounds=12
    )


def _oracle_kmeans_profile() -> str:
    return f"""
SELECT cluster, COUNT(*) AS n_vecs,
       CAST(SUM(d2_q) AS BIGINT) AS inertia_q,
       MAX(d2_q) AS radius_q
FROM ({_oracle_kmeans(8, 3, 12)}) t
GROUP BY cluster
"""


def emb_kmeans_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup as published (similarity.kmeans_semdedup): k-means the
    space, dedup WITHIN clusters only, keep the earliest id of each
    semantic clump.  k is a fixed quality knob (assignment stays
    linear); the threshold-pair relation routes through
    :func:`_routed_emb_pairs` — exact under the count-probe bound
    (bit-identical to naive within-cluster all-pairs, what the oracle
    replays), LSH-bucketed above it (the linear 100 TB route, the
    emb_near_dup posture) — and cluster scoping is one same-cluster
    filter on it."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.kmeans_semdedup(
        emb, min_dot_q=MIN_DOT_Q, k=8, init_rounds=3, max_rounds=10,
        pairs=_routed_emb_pairs(emb),
    )


def _oracle_kmeans_semdedup() -> str:
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT})
                AS BIGINT)) AS v
  FROM embeddings
), asg AS (
  SELECT t.vec_id, t.cluster FROM ({_oracle_kmeans(8, 3, 10)}) t
), j AS (
  SELECT a.vec_id, a.cluster, e.v
  FROM asg a JOIN e ON a.vec_id = e.vec_id
)
SELECT x.vec_id, x.cluster,
       NOT EXISTS (
         SELECT 1 FROM j y
         WHERE y.cluster = x.cluster AND y.vec_id < x.vec_id
           AND CAST(list_sum(list_transform(list_zip(x.v, y.v),
                 z -> z[1] * z[2])) AS BIGINT) >= {MIN_DOT_Q}
       ) AS is_kept
FROM j x
"""


def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers (r7): the 5 vectors farthest from
    their own label centroid on the exact-integer grid
    (pipeline/similarity.py ``embedding_outliers``); the oracle replays
    quantization, floored centroid means, int dots, and the tie-broken
    bottom-k pick."""
    return similarity.embedding_outliers(
        t(spark, sf_dir, "embeddings"), k=5
    ).orderBy("label", "rank")


ORACLE_EMB_OUTLIERS = f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), cent_dims AS (
  SELECT label, i AS dim,
         CAST(floor(CAST(SUM(v[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
  FROM e,
       (SELECT unnest(generate_series(1,
          (SELECT MAX(len(embedding)) FROM embeddings))) AS i)
  GROUP BY label, i
), cents AS (
  SELECT label, list(cx ORDER BY dim) AS cv FROM cent_dims GROUP BY label
), scored AS (
  SELECT e.label, e.vec_id,
         CAST(list_sum(list_transform(list_zip(e.v, c.cv),
           x -> x[1] * x[2])) AS BIGINT) AS dot_c
  FROM e JOIN cents c USING (label)
)
SELECT label, vec_id, dot_c, CAST(rank AS INT) AS rank
FROM (
  SELECT label, vec_id, dot_c,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dot_c ASC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY label, rank
"""


def corpus_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus prep: lang gate -> quality gate -> exact dedup
    -> near-dup dedup, as one composed plan (pipeline/corpus.py)."""
    from . import corpus

    return corpus.corpus_prep(
        t(spark, sf_dir, "documents"),
        langs=("en",), min_tokens=25, min_distinct_ratio=0.3, threshold=0.8,
    )


ORACLE_CORPUS_PREP = r"""
WITH gated AS (
  SELECT doc_id, lang, text,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
              AS DOUBLE)
           / len(regexp_split_to_array(trim(text), '\s+')) AS distinct_ratio
  FROM documents
  WHERE lang = 'en'
), q AS (
  SELECT * FROM gated WHERE n_tokens >= 25 AND distinct_ratio >= 0.3
), reps AS (
  SELECT MIN(doc_id) AS doc_id FROM q
  GROUP BY md5(regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')), '\s+', ' ', 'g'))
), uniq AS (
  SELECT q.* FROM q JOIN reps USING (doc_id)
), toksets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM uniq
), dropped AS (
  SELECT DISTINCT b.doc_id
  FROM toksets a JOIN toksets b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        >= 0.8
)
SELECT doc_id, lang, n_tokens, distinct_ratio FROM uniq
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
"""


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing manifest (per-lang shards,
    1024-token bins)."""
    from . import corpus

    return corpus.pack_sequences(
        t(spark, sf_dir, "documents"), seq_len=1024
    )


ORACLE_PACK_SEQUENCES = r"""
WITH t AS (
  SELECT lang AS shard, doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
), off AS (
  SELECT shard, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
           - n_tokens AS start_off
  FROM t
)
SELECT shard, CAST(floor(start_off / 1024.0) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM off GROUP BY shard, bin_id
"""


def corpus_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing per lang shard, 256-token bins
    (r11, VERDICT r10 task 5 — corpus.pack_sequences_binned): the
    deterministic greedy is a pure function of (token length, id), so
    the DuckDB oracle replays the exact per-doc placement as a
    recursive CTE; the output row carries the FFD padding next to the
    concat-and-chunk baseline's, quantifying the waste the packer
    saves."""
    from . import corpus

    return corpus.pack_sequences_binned(
        t(spark, sf_dir, "documents"), seq_len=256
    )


ORACLE_PACK_FFD = r"""
WITH RECURSIVE lens AS (
  SELECT lang AS shard, doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+'))
              AS BIGINT) AS need,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY len(regexp_split_to_array(trim(text), '\s+')) DESC,
                    doc_id ASC) AS r
  FROM documents
), fit AS (
  SELECT shard, r, doc_id, need,
         CAST(0 AS BIGINT) AS bin_id,
         [CAST(256 - need AS BIGINT)] AS rems
  FROM lens WHERE r = 1
  UNION ALL
  SELECT shard, r, doc_id, need,
         fi - 1 AS bin_id,
         CASE WHEN fi <= len(rems0)
              THEN list_transform(generate_series(1, len(rems0)),
                     i -> CASE WHEN i = fi THEN rems0[i] - need
                               ELSE rems0[i] END)
              ELSE list_append(rems0, CAST(256 - need AS BIGINT))
         END AS rems
  FROM (
    SELECT l.shard, l.r, l.doc_id, l.need, f.rems AS rems0,
           CAST(COALESCE(
             list_filter(generate_series(1, len(f.rems)),
                         i -> f.rems[i] >= l.need)[1],
             len(f.rems) + 1) AS BIGINT) AS fi
    FROM fit f JOIN lens l ON l.shard = f.shard AND l.r = f.r + 1
  )
), final_rems AS (
  SELECT shard, arg_max(rems, r) AS rems FROM fit GROUP BY shard
)
SELECT f.shard,
       COUNT(*) AS n_docs,
       CAST(SUM(f.need) AS BIGINT) AS total_tokens,
       CAST(len(MIN(fr.rems)) AS BIGINT) AS n_bins,
       CAST(list_sum(list_transform(MIN(fr.rems),
              x -> greatest(x, 0))) AS BIGINT) AS padding_tokens,
       CAST(SUM((f.doc_id + 1) * (f.bin_id + 1)) AS BIGINT) AS assign_checksum,
       CAST((SUM(f.need) + 255) // 256 AS BIGINT) AS bins_chunked,
       CAST(((SUM(f.need) + 255) // 256) * 256 - SUM(f.need)
            AS BIGINT) AS padding_chunked
FROM fit f JOIN final_rems fr ON fr.shard = f.shard
GROUP BY f.shard
"""


MIX_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1}


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based data-mixing sample (zh rate 0 -> dropped);
    the md5 hash makes the kept set engine-independent."""
    from . import corpus

    return corpus.stratified_sample(
        t(spark, sf_dir, "documents"), rates=MIX_RATES
    ).select("doc_id", "lang")


ORACLE_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE lang IN ({", ".join(repr(k) for k in sorted(MIX_RATES))})
  AND (('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000)
      < (CASE lang {" ".join(
          f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_RATES.items())
      )} END) * 1000000
"""


def corpus_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-32 deterministic per-source sample (pipeline/sketches.
    group_sample): bottom-k by the cross-engine doc-id hash — the
    mergeable exact-size eval-slice primitive, vs the rate-based
    ``corpus_stratified_sample`` whose slice size floats with the
    corpus.  The per-partition bottom-k buffer bounds the shuffle to
    partitions x k rows per source."""
    from . import sketches

    return sketches.group_sample(
        t(spark, sf_dir, "documents"), ["source"], "doc_id", k=32
    )


ORACLE_GROUP_SAMPLE = """
SELECT source, rank, doc_id FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                       1, 15))::BIGINT ASC,
                    doc_id ASC
         ) AS rank
  FROM documents
) WHERE rank <= 32
"""


def corpus_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (chunk_len=32, overlap=8 —
    RAG/embedding prep); map-only, no shuffle."""
    from . import corpus

    return corpus.chunk_documents(
        t(spark, sf_dir, "documents"), chunk_len=32, overlap=8
    )


ORACLE_CHUNKS = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
         len(regexp_split_to_array(trim(text), '\s+')) AS n
  FROM documents
), e AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(
           0, greatest(CAST(ceil((n - 32) / 24.0) AS BIGINT), 0) * 24, 24
         )) AS start_tok
  FROM t
)
SELECT doc_id, CAST(start_tok // 24 AS INT) AS chunk_id,
       CAST(start_tok AS INT) AS start_tok,
       CAST(least(n - start_tok, 32) AS INT) AS n_tokens,
       array_to_string(toks[start_tok + 1 : start_tok + 32], ' ')
         AS chunk_text
FROM e
"""


def corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length distribution with exact interpolated
    percentiles (the oracle path; exact=False is the 100 TB t-digest
    path)."""
    from . import corpus

    return corpus.token_length_stats(t(spark, sf_dir, "documents"))


ORACLE_TOKEN_STATS = r"""
SELECT lang AS grp, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens,
       AVG(CAST(n AS DOUBLE)) AS mean_tokens,
       quantile_cont(n, 0.5) AS p50,
       quantile_cont(n, 0.9) AS p90,
       quantile_cont(n, 0.99) AS p99
FROM (
  SELECT lang, len(regexp_split_to_array(trim(text), '\s+')) AS n
  FROM documents
) GROUP BY lang
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate 2/3-gram fractions
    (map-only expressions) + top-token fraction (explode + two map-side
    combinable aggs)."""
    return textstats.repetition_stats(t(spark, sf_dir, "documents"))


ORACLE_REPETITION = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 2 THEN
           list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
         ELSE [] END AS g2,
         CASE WHEN len(tk) >= 3 THEN
           list_transform(range(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         ELSE [] END AS g3
  FROM toks
), fracs AS (
  SELECT doc_id,
         CASE WHEN len(g2) > 0 THEN
           1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
         ELSE 0.0 END AS dup_2gram_frac,
         CASE WHEN len(g3) > 0 THEN
           1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
         ELSE 0.0 END AS dup_3gram_frac
  FROM grams
), top AS (
  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
  FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM toks, UNNEST(tk) AS u(tok)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
)
SELECT f.doc_id, dup_2gram_frac, dup_3gram_frac, top_token_frac
FROM fracs f JOIN top USING (doc_id)
"""


def corpus_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 20th doc plays the held-out eval
    set; the rest of the corpus is probed for exact 3-gram overlap via a
    broadcast of the eval gram dictionary (pipeline/corpus.py)."""
    from . import corpus

    docs = t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    corp = docs.filter(F.col("doc_id") % 20 != 0)
    return corpus.ngram_decontaminate(corp, ev, n=3)


ORACLE_DECONTAM = """
WITH ev AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE doc_id % 20 = 0
), corp AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE doc_id % 20 <> 0
), evg AS (
  SELECT DISTINCT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
  FROM ev, UNNEST(range(1, len(tk) - 1)) AS r(i)
  WHERE len(tk) >= 3
), cg AS (
  SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
  FROM corp, UNNEST(range(1, len(tk) - 1)) AS r(i)
  WHERE len(tk) >= 3
), hits AS (
  SELECT doc_id, COUNT(DISTINCT gram) AS n_hit_ngrams
  FROM cg JOIN evg USING (gram) GROUP BY doc_id
)
SELECT c.doc_id,
       COALESCE(h.n_hit_ngrams, 0) AS n_hit_ngrams,
       COALESCE(h.n_hit_ngrams, 0) > 0 AS is_contaminated
FROM corp c LEFT JOIN hits h USING (doc_id)
"""


def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty profile (corpus.ngram_novelty): the
    share of each source's distinct trigrams appearing nowhere earlier
    in the corpus — the novelty/duplication diagnostic of the Lee et
    al. dedup analyses, feeding source-cap decisions."""
    from . import corpus

    return corpus.ngram_novelty(t(spark, sf_dir, "documents"), n=3)


ORACLE_NGRAM_NOVELTY = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
  FROM toks, UNNEST(range(1, len(tk) - 1)) AS r(i)
  WHERE len(tk) >= 3
), first AS (
  SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
), ds AS (
  SELECT g.doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
           AS n_novel
  FROM grams g JOIN first f USING (gram) GROUP BY g.doc_id
)
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(COALESCE(ds.n_grams, 0)) AS BIGINT) AS n_grams,
       CAST(SUM(COALESCE(ds.n_novel, 0)) AS BIGINT) AS n_novel,
       CASE WHEN SUM(COALESCE(ds.n_grams, 0)) > 0 THEN
         CAST(SUM(COALESCE(ds.n_novel, 0)) AS DOUBLE)
           / CAST(SUM(COALESCE(ds.n_grams, 0)) AS DOUBLE)
       END AS novelty
FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id
GROUP BY d.source
"""


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: seeded-hash (shard, pos) assignment
    in the cross-engine md5 family (pipeline/corpus.py) — per-shard
    row_number, never a global sort."""
    from . import corpus

    return corpus.shuffle_shards(
        t(spark, sf_dir, "documents"), n_shards=16, hash_fn="md5"
    )


ORACLE_SHUFFLE_SHARDS = """
WITH h AS (
  SELECT doc_id,
         ('0x' || substring(
            md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM documents
)
SELECT doc_id, hv % 16 AS shard,
       ROW_NUMBER() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id) AS pos
FROM h
"""


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 keywords per doc, rational-idf variant so the score
    arithmetic is engine-portable (pipeline/textstats.py)."""
    return textstats.tfidf_topk(t(spark, sf_dir, "documents"), k=3)


def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-10 documents for each of 5 corpus-derived
    queries (pipeline/textstats.bm25_search) — rational Robertson idf
    in one fixed IEEE expression tree, per-term contributions quantized
    to 2^20 fixed point so the cross-term sum is an integer and the
    oracle replays every score exactly."""
    return textstats.bm25_search(t(spark, sf_dir, "documents"))


ORACLE_BM25 = """
WITH term AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dlen, tok, COUNT(*) AS c
  FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
  GROUP BY doc_id, dlen, tok
), qterms AS (
  SELECT CAST(floor(CAST(vrank - 1 AS DOUBLE) / 4) AS BIGINT) AS query_id,
         tok
  FROM (
    SELECT tok, row_number() OVER (ORDER BY vc DESC, tok) AS vrank
    FROM (
      SELECT tok, sum(c) AS vc FROM term GROUP BY tok
      ORDER BY vc DESC, tok LIMIT 20
    )
  )
), stats AS (
  SELECT COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS sum_dlen
  FROM documents
), matched AS (
  SELECT t.doc_id, t.dlen, t.tok, t.c, q.query_id
  FROM term t JOIN qterms q USING (tok)
), dftok AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM matched GROUP BY tok
), contrib AS (
  SELECT m.query_id, m.doc_id,
         CAST(floor(
           ((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5))
           * ((CAST(m.c AS DOUBLE) * 2.2)
                / (CAST(m.c AS DOUBLE)
                   + 1.2 * (0.25 + 0.75 * (CAST(m.dlen AS DOUBLE)
                       / (CAST(s.sum_dlen AS DOUBLE)
                          / CAST(s.n_docs AS DOUBLE))))))
           * 1048576.0) AS BIGINT) AS c_fp
  FROM matched m JOIN dftok d USING (tok) CROSS JOIN stats s
)
SELECT query_id, rank, doc_id, score_fp FROM (
  SELECT query_id, doc_id, CAST(sum(c_fp) AS BIGINT) AS score_fp,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sum(c_fp) DESC, doc_id) AS rank
  FROM contrib GROUP BY query_id, doc_id
) WHERE rank <= 10
"""


def docs_bm25_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval through the block-max WAND serving path
    (pipeline/textstats.bm25_wand): impact-ordered postings (geometric
    impact buckets, map-only — no per-term global sort), a broadcast
    block-max zone map, and an anytime prefix loop that stops as soon
    as the unread impact mass provably cannot reach the top-k
    threshold.  The workload is the serving-shaped STRATIFIED mix (one
    term per frequency stratum of the top-1024 vocabulary — real point
    queries mix rare high-idf terms with common ones); scores are the
    same 2^20 fixed-point integers as ``docs_bm25_topk``, so the oracle
    replays every score exactly and is plan-independent (the pruning
    loop only decides how much gets READ, never what is returned)."""
    return textstats.bm25_wand(t(spark, sf_dir, "documents"))


ORACLE_BM25_WAND = """
WITH term AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dlen, tok, COUNT(*) AS c
  FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
  GROUP BY doc_id, dlen, tok
), qv AS (
  SELECT tok, row_number() OVER (ORDER BY vc DESC, tok) AS vrank
  FROM (
    SELECT tok, sum(c) AS vc FROM term GROUP BY tok
    ORDER BY vc DESC, tok LIMIT 1024
  )
), qn AS (
  SELECT COUNT(*) AS v FROM qv
), qterms AS (
  SELECT q.query_id, qv.tok
  FROM qv, qn, range(0, 5) q(query_id), range(0, 4) s(j)
  WHERE qv.vrank = 1 + q.query_id + s.j * greatest(1, qn.v // 4)
), stats AS (
  SELECT COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS sum_dlen
  FROM documents
), matched AS (
  SELECT t.doc_id, t.dlen, t.tok, t.c, q.query_id
  FROM term t JOIN qterms q USING (tok)
), dftok AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM matched GROUP BY tok
), contrib AS (
  SELECT m.query_id, m.doc_id,
         CAST(floor(
           ((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5))
           * ((CAST(m.c AS DOUBLE) * 2.2)
                / (CAST(m.c AS DOUBLE)
                   + 1.2 * (0.25 + 0.75 * (CAST(m.dlen AS DOUBLE)
                       / (CAST(s.sum_dlen AS DOUBLE)
                          / CAST(s.n_docs AS DOUBLE))))))
           * 1048576.0) AS BIGINT) AS c_fp
  FROM matched m JOIN dftok d USING (tok) CROSS JOIN stats s
)
SELECT query_id, rank, doc_id, score_fp FROM (
  SELECT query_id, doc_id, CAST(sum(c_fp) AS BIGINT) AS score_fp,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sum(c_fp) DESC, doc_id) AS rank
  FROM contrib GROUP BY query_id, doc_id
) WHERE rank <= 10
"""


# Shared SQL pieces of the BM25 oracle family (r10): the postings /
# workload / corpus-stats CTE prefix and the quantized per-posting
# contribution, parameterized by CTE names so the composed oracles
# (RRF fusion, RM3 expansion) replay the exact chain ORACLE_BM25 pins.
_BM25_PREFIX_SQL = """term AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dlen, tok, COUNT(*) AS c
  FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
  GROUP BY doc_id, dlen, tok
), qterms AS (
  SELECT CAST(floor(CAST(vrank - 1 AS DOUBLE) / 4) AS BIGINT) AS query_id,
         tok
  FROM (
    SELECT tok, row_number() OVER (ORDER BY vc DESC, tok) AS vrank
    FROM (
      SELECT tok, sum(c) AS vc FROM term GROUP BY tok
      ORDER BY vc DESC, tok LIMIT 20
    )
  )
), stats AS (
  SELECT COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS sum_dlen
  FROM documents
)"""


def _bm25_contrib_sql(matched: str, dftok: str) -> str:
    """The fixed IEEE contribution expression of ORACLE_BM25 over the
    given matched/df CTE names (quantized to 2^20 fixed point)."""
    return f"""
  SELECT m.query_id, m.doc_id,
         CAST(floor(
           ((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5))
           * ((CAST(m.c AS DOUBLE) * 2.2)
                / (CAST(m.c AS DOUBLE)
                   + 1.2 * (0.25 + 0.75 * (CAST(m.dlen AS DOUBLE)
                       / (CAST(s.sum_dlen AS DOUBLE)
                          / CAST(s.n_docs AS DOUBLE))))))
           * 1048576.0) AS BIGINT) AS c_fp
  FROM {matched} m JOIN {dftok} d USING (tok) CROSS JOIN stats s"""


def docs_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion (textstats.rrf_fuse):
    the BM25 lexical channel and the embedding-cosine semantic channel
    each contribute their top-20 per query (doc and vec ids share the
    0..N-1 space, so query q is the canonical term set q lexically and
    vector q semantically); fused score = SUM over channels of
    ``2^20 div (60 + rank)`` — exact integers, so the oracle replays
    both channels and the fusion bit-for-bit.  The fusion itself never
    touches the corpus: it ranks a <= channels x 20 row frame per
    query.

    r11 (VERDICT r10 task 4): the lexical channel routes through the
    block-max WAND pruned serving path — row-identical to the unpruned
    pass (the pruning only bounds what gets READ), so the oracle is
    unchanged."""
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    lex = textstats.bm25_search(docs, k=20, path="wand").select(
        "query_id", "doc_id", "rank"
    )
    sem = similarity.knn_bruteforce(
        emb, query_ids=[0, 1, 2, 3, 4], k=20
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return textstats.rrf_fuse([lex, sem], k=10)


def _oracle_rrf() -> str:
    return f"""
WITH {_BM25_PREFIX_SQL}, matched AS (
  SELECT t.doc_id, t.dlen, t.tok, t.c, q.query_id
  FROM term t JOIN qterms q USING (tok)
), dftok AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM matched GROUP BY tok
), contrib AS ({_bm25_contrib_sql("matched", "dftok")}
), lex AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sum(c_fp) DESC, doc_id) AS rank
    FROM contrib GROUP BY query_id, doc_id
  ) WHERE rank <= 20
), e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT})
                AS BIGINT)) AS v
  FROM embeddings
), sem AS (
  SELECT query_id, neighbor_id AS doc_id, rank FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot_q DESC, neighbor_id) AS rank
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(list_zip(q.v, c.v),
               x -> x[1] * x[2])) AS BIGINT) AS dot_q
      FROM e q, e c
      WHERE q.vec_id IN (0, 1, 2, 3, 4) AND c.vec_id != q.vec_id
    ) s
  ) r WHERE rank <= 20
), fused AS (
  SELECT query_id, doc_id,
         CAST(SUM(1048576 // (60 + rank)) AS BIGINT) AS rrf_fp,
         COUNT(*) AS n_channels
  FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem)
  GROUP BY query_id, doc_id
)
SELECT query_id, rank, doc_id, rrf_fp, n_channels FROM (
  SELECT query_id, doc_id, rrf_fp, n_channels,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_fp DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= 10
"""


def docs_bm25_rm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance-feedback retrieval (textstats.bm25_rm3):
    BM25 round one picks 5 feedback docs per query, the top-3 new
    expansion terms by summed in-feedback term frequency join the query,
    round two re-scores with the expanded set.  Every step is integer /
    total-ordered, so the oracle replays the full two-round chain.

    r11 (VERDICT r10 task 4): both scoring rounds route through the
    block-max WAND pruned serving path (textstats.bm25_rm3 default) —
    row-identical to the unpruned pass, oracle unchanged."""
    return textstats.bm25_rm3(t(spark, sf_dir, "documents"))


def _oracle_bm25_rm3() -> str:
    return f"""
WITH {_BM25_PREFIX_SQL}, m1 AS (
  SELECT t.doc_id, t.dlen, t.tok, t.c, q.query_id
  FROM term t JOIN qterms q USING (tok)
), df1 AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM m1 GROUP BY tok
), c1 AS ({_bm25_contrib_sql("m1", "df1")}
), fb AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sum(c_fp) DESC, doc_id) AS rank
    FROM c1 GROUP BY query_id, doc_id
  ) WHERE rank <= 5
), cand AS (
  SELECT f.query_id, t.tok, CAST(SUM(t.c) AS BIGINT) AS w
  FROM term t JOIN fb f ON t.doc_id = f.doc_id
  WHERE NOT EXISTS (
    SELECT 1 FROM qterms q
    WHERE q.query_id = f.query_id AND q.tok = t.tok
  )
  GROUP BY f.query_id, t.tok
), expn AS (
  SELECT query_id, tok FROM (
    SELECT query_id, tok,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY w DESC, tok) AS r
    FROM cand
  ) WHERE r <= 3
), q2 AS (
  SELECT query_id, tok FROM qterms
  UNION ALL
  SELECT query_id, tok FROM expn
), m2 AS (
  SELECT t.doc_id, t.dlen, t.tok, t.c, q.query_id
  FROM term t JOIN q2 q ON t.tok = q.tok
), df2 AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM m2 GROUP BY tok
), c2 AS ({_bm25_contrib_sql("m2", "df2")}
)
SELECT query_id, rank, doc_id, score_fp FROM (
  SELECT query_id, doc_id, CAST(sum(c_fp) AS BIGINT) AS score_fp,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sum(c_fp) DESC, doc_id) AS rank
  FROM c2 GROUP BY query_id, doc_id
) WHERE rank <= 10
"""


ORACLE_TFIDF = """
WITH term AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dlen, tok, COUNT(*) AS c
  FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
  GROUP BY doc_id, dlen, tok
), docfreq AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM term GROUP BY tok
), totals AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, tok,
         (CAST(c AS DOUBLE) / dlen)
           * ((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
           AS score
  FROM term JOIN docfreq USING (tok) CROSS JOIN totals
)
SELECT doc_id, rank, tok, score FROM (
  SELECT doc_id, tok, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


def docs_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (> 1/30 of all tokens) via Misra-Gries
    candidates + exact recount (pipeline/sketches.py): the oracle is the
    naive exact SQL, the Spark plan never shuffles the full vocabulary."""
    from . import sketches

    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    return sketches.heavy_hitters(toks, "tok", 1, 30)


ORACLE_HEAVY_TOKENS = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), tot AS (
  SELECT count(*) AS total FROM toks
)
SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(*) AS DOUBLE) / any_value(t.total) AS frac
FROM toks, tot t
GROUP BY tok
HAVING count(*) * 30 > any_value(t.total) * 1
"""


def docs_heavy_tokens_by_source(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Exact PER-GROUP heavy hitters (late r9): tokens exceeding 1/25
    of their own source's token stream — per-source vocabulary skew,
    the grouped form of docs_heavy_tokens (pipeline/sketches.
    heavy_hitters_grouped).  The oracle is the naive exact SQL; the
    Spark plan shuffles only per-group Misra-Gries candidates, never
    the full (source, token) distribution."""
    from . import sketches

    toks = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
    )
    return sketches.heavy_hitters_grouped(toks, "tok", ["source"], 1, 25)


ORACLE_HEAVY_TOKENS_BY_SOURCE = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), tot AS (
  SELECT source, count(*) AS total FROM toks GROUP BY source
)
SELECT t.source, t.tok, CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(*) AS DOUBLE) / any_value(o.total) AS frac
FROM toks t JOIN tot o ON o.source = t.source
GROUP BY t.source, t.tok
HAVING count(*) * 25 > any_value(o.total) * 1
"""


def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user estimate per event_type in the cross-engine
    hash family (pipeline/sketches.py); the oracle replays the k-th
    minimum hash and the estimate arithmetic exactly."""
    from . import sketches

    return sketches.kmv_distinct(
        t(spark, sf_dir, "events"), "user_id", ["event_type"], k=64
    )


ORACLE_KMV_DISTINCT = """
WITH hashed AS (
  SELECT DISTINCT event_type,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM hashed
)
SELECT event_type,
       CAST(m AS BIGINT) AS n_exact,
       CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
            ELSE 1152921504606846976.0 * 63 / CAST(h AS DOUBLE)
       END AS est_distinct
FROM ranked
WHERE rn = least(m, 64)
"""


def events_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates per (event_type, watchlist user)
    next to their exact recounts (r9) — the mergeable FREQUENCY member
    of the sketch family (pipeline/sketches.cms_counts; distinct
    counts: KMV/HLL, quantiles: KLL, set ops: KMV overlap).  The
    sketch build touches the corpus once map-side (d hash copies per
    row, one partially-aggregated groupBy into groups x d x w
    registers); the probe side is a bounded watchlist — here the 20
    smallest user ids stand in for the given flag-list a production
    deployment would supply — so no full per-user GROUP BY ever runs.
    The md5 hash family makes every register and therefore every
    estimate replay exactly in the DuckDB oracle; est_cnt >= exact_cnt
    is the CMS one-sided guarantee, visible per row."""
    from . import sketches

    ev = t(spark, sf_dir, "events")
    probes = ev.select("user_id").distinct().orderBy("user_id").limit(20)
    return sketches.cms_counts(
        ev, "user_id", ["event_type"], probes, d=4, w=256
    )


ORACLE_CMS_COUNTS = """
WITH probes AS (
  SELECT user_id FROM (SELECT DISTINCT user_id FROM events)
  ORDER BY user_id LIMIT 20
), seeds AS (
  SELECT * FROM (VALUES (0), (1), (2), (3)) AS s(seed)
), sketch AS (
  SELECT event_type, seed,
         ('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' ||
                                CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           % 256 AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events CROSS JOIN seeds
  GROUP BY 1, 2, 3
), grid AS (
  SELECT event_type, user_id
  FROM (SELECT DISTINCT event_type FROM events) CROSS JOIN probes
), est AS (
  SELECT g.event_type, g.user_id,
         CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_cnt
  FROM grid g
  CROSS JOIN seeds s
  LEFT JOIN sketch sk
    ON sk.event_type = g.event_type AND sk.seed = s.seed
   AND sk.bucket = ('0x' || substring(md5(CAST(s.seed AS VARCHAR) || ':' ||
                                          CAST(g.user_id AS VARCHAR)),
                                      1, 15))::BIGINT % 256
  GROUP BY 1, 2
), exact AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM events
  WHERE user_id IN (SELECT user_id FROM probes)
  GROUP BY 1, 2
)
SELECT e.event_type, e.user_id,
       CAST(coalesce(x.exact_cnt, 0) AS BIGINT) AS exact_cnt,
       e.est_cnt
FROM est e
LEFT JOIN exact x
  ON x.event_type = e.event_type AND x.user_id = e.user_id
"""


def events_cms_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed Count-Min (late r9): watchlist frequency estimates
    per (event_type, day) — the tumbling-window form of the sketch,
    mirroring events_hll_windowed; at scale each day's registers
    persist independently and roll up to weeks/months by register
    ADDITION without rescanning history."""
    from . import sketches

    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    probes = ev.select("user_id").distinct().orderBy("user_id").limit(10)
    return sketches.cms_counts(
        ev, "user_id", ["event_type", "day"], probes, d=4, w=64
    )


ORACLE_CMS_WINDOWED = """
WITH ev AS (
  SELECT *, date_trunc('day', ts) AS day FROM events
), probes AS (
  SELECT user_id FROM (SELECT DISTINCT user_id FROM ev)
  ORDER BY user_id LIMIT 10
), seeds AS (
  SELECT * FROM (VALUES (0), (1), (2), (3)) AS s(seed)
), sketch AS (
  SELECT event_type, day, seed,
         ('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' ||
                                CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           % 64 AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM ev CROSS JOIN seeds
  GROUP BY 1, 2, 3, 4
), grid AS (
  SELECT event_type, day, user_id
  FROM (SELECT DISTINCT event_type, day FROM ev) CROSS JOIN probes
), est AS (
  SELECT g.event_type, g.day, g.user_id,
         CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_cnt
  FROM grid g
  CROSS JOIN seeds s
  LEFT JOIN sketch sk
    ON sk.event_type = g.event_type AND sk.day = g.day
   AND sk.seed = s.seed
   AND sk.bucket = ('0x' || substring(md5(CAST(s.seed AS VARCHAR) || ':' ||
                                          CAST(g.user_id AS VARCHAR)),
                                      1, 15))::BIGINT % 64
  GROUP BY 1, 2, 3
), exact AS (
  SELECT event_type, day, user_id, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM ev
  WHERE user_id IN (SELECT user_id FROM probes)
  GROUP BY 1, 2, 3
)
SELECT e.event_type, e.day, e.user_id,
       CAST(coalesce(x.exact_cnt, 0) AS BIGINT) AS exact_cnt,
       e.est_cnt
FROM est e
LEFT JOIN exact x
  ON x.event_type = e.event_type AND x.day = e.day
 AND x.user_id = e.user_id
"""


def stream_cms_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-batch replay of the STREAMING at-rest Count-Min
    ledger (streaming/cms.py): events arrive in four fixed
    micro-batches (event_id % 4, in order), each appending its register
    frame through one manifest; the final watchlist estimates read the
    ledger alone.  SUM over a disjoint partition of the rows is the
    same total register by register, so the profile EQUALS the one-shot
    batch sketch and the oracle is the batch CMS oracle minus the exact
    recount (the ledger never stores raw keys — the same deliberate
    trade as stream_hll_profile)."""
    from ..streaming.cms import cms_profile, process_cms_batch

    ev = t(spark, sf_dir, "events")
    probes = ev.select("user_id").distinct().orderBy("user_id").limit(20)
    with scratch_warehouse(spark, "cms_profile_") as wh:
        for b in range(4):
            process_cms_batch(
                wh, ev.filter(F.col("event_id") % 4 == b), b,
                "user_id", ["event_type"], d=4, w=256,
            )
        return (
            cms_profile(wh, probes, "user_id", ["event_type"], d=4, w=256)
            .orderBy("event_type", "user_id")
            .localCheckpoint()
        )


ORACLE_STREAM_CMS_PROFILE = """
WITH probes AS (
  SELECT user_id FROM (SELECT DISTINCT user_id FROM events)
  ORDER BY user_id LIMIT 20
), seeds AS (
  SELECT * FROM (VALUES (0), (1), (2), (3)) AS s(seed)
), sketch AS (
  SELECT event_type, seed,
         ('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' ||
                                CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           % 256 AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events CROSS JOIN seeds
  GROUP BY 1, 2, 3
), grid AS (
  SELECT event_type, user_id
  FROM (SELECT DISTINCT event_type FROM events) CROSS JOIN probes
)
SELECT g.event_type, g.user_id,
       CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_cnt
FROM grid g
CROSS JOIN seeds s
LEFT JOIN sketch sk
  ON sk.event_type = g.event_type AND sk.seed = s.seed
 AND sk.bucket = ('0x' || substring(md5(CAST(s.seed AS VARCHAR) || ':' ||
                                        CAST(g.user_id AS VARCHAR)),
                                    1, 15))::BIGINT % 256
GROUP BY 1, 2
"""


def events_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile profile per event_type (r9, VERDICT r8 task
    7): the deterministic level-sampling sketch — a KLL-lineage
    compactor whose promotion levels come from the cross-engine md5
    row hash instead of coin flips (``h mod 2^c == 0`` keeps a row at
    level c; nested survivor sets, compaction = raise c and
    re-filter), so the ENTIRE chain — population count, cut level,
    survivor selection, nearest-rank picks — replays exactly in the
    DuckDB oracle.  Closes the sketch-family gap named in VERDICT r8:
    distinct counts had mergeable forms (KMV, HLL) but quantiles were
    exact-only (``events_grouped_quantiles``)."""
    from . import sketches

    sk = sketches.level_sample_sketch(
        t(spark, sf_dir, "events"), "value", "event_id",
        ["event_type"], k=256,
    )
    return sketches.level_sample_quantiles(sk, ["event_type"])


ORACLE_KLL_QUANTILES = """
WITH vals AS (
  SELECT event_type, value,
         ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM events WHERE value IS NOT NULL
), cuts AS (
  SELECT event_type, COUNT(*) AS n,
         CASE WHEN (COUNT(*) - 1) // 256 = 0 THEN 0
              ELSE length(bin((COUNT(*) - 1) // 256)) END AS cut
  FROM vals GROUP BY event_type
), surv AS (
  SELECT v.event_type, v.value, v.h, c.n, c.cut
  FROM vals v JOIN cuts c USING (event_type)
  WHERE v.h % (1::BIGINT << c.cut) = 0
), ranked AS (
  SELECT event_type, n, cut, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, h) AS rn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM surv
)
SELECT event_type,
       MAX(n) AS n_values,
       CAST(MAX(cut) AS INT) AS cut_level,
       CAST(MAX(m) AS BIGINT) AS m_survivors,
       MAX(CASE WHEN rn = (m * 50 + 99) // 100 THEN value END) AS p50,
       MAX(CASE WHEN rn = (m * 90 + 99) // 100 THEN value END) AS p90,
       MAX(CASE WHEN rn = (m * 95 + 99) // 100 THEN value END) AS p95,
       MAX(CASE WHEN rn = (m * 99 + 99) // 100 THEN value END) AS p99
FROM ranked
GROUP BY event_type
"""


def events_kll_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed mergeable quantiles (late r10): the level-sampling
    sketch per (event_type, day) — the tumbling-window form that
    completes the windowed sketch triple (HLL distinct / CMS frequency
    / now quantiles).  At scale each day's survivor set persists
    independently and rolls up to weeks/months by the associative
    union+raise-cut merge (streaming/quantiles._merged_survivors)
    without rescanning history."""
    from . import sketches

    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    sk = sketches.level_sample_sketch(
        ev, "value", "event_id", ["event_type", "day"], k=64
    )
    return sketches.level_sample_quantiles(sk, ["event_type", "day"])


ORACLE_KLL_WINDOWED = """
WITH vals AS (
  SELECT event_type, date_trunc('day', ts) AS day, value,
         ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM events WHERE value IS NOT NULL
), cuts AS (
  SELECT event_type, day, COUNT(*) AS n,
         CASE WHEN (COUNT(*) - 1) // 64 = 0 THEN 0
              ELSE length(bin((COUNT(*) - 1) // 64)) END AS cut
  FROM vals GROUP BY event_type, day
), surv AS (
  SELECT v.event_type, v.day, v.value, v.h, c.n, c.cut
  FROM vals v JOIN cuts c USING (event_type, day)
  WHERE v.h % (1::BIGINT << c.cut) = 0
), ranked AS (
  SELECT event_type, day, n, cut, value,
         row_number() OVER (PARTITION BY event_type, day
                            ORDER BY value, h) AS rn,
         count(*) OVER (PARTITION BY event_type, day) AS m
  FROM surv
)
SELECT event_type, day,
       MAX(n) AS n_values,
       CAST(MAX(cut) AS INT) AS cut_level,
       CAST(MAX(m) AS BIGINT) AS m_survivors,
       MAX(CASE WHEN rn = (m * 50 + 99) // 100 THEN value END) AS p50,
       MAX(CASE WHEN rn = (m * 90 + 99) // 100 THEN value END) AS p90,
       MAX(CASE WHEN rn = (m * 95 + 99) // 100 THEN value END) AS p95,
       MAX(CASE WHEN rn = (m * 99 + 99) // 100 THEN value END) AS p99
FROM ranked
GROUP BY event_type, day
"""


def stream_hll_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-batch replay of the STREAMING at-rest HLL
    profile (streaming/profile.py): events arrive in four fixed
    micro-batches (event_id % 4, in order), each folding its registers
    into the at-rest table; the final estimate reads the table alone.
    MAX-merge associativity makes the result EQUAL to the one-pass
    batch sketch, so the oracle is the batch HLL oracle (no n_exact —
    the at-rest sketch deliberately never stores raw keys)."""
    from ..streaming.profile import hll_profile, process_hll_batch

    ev = t(spark, sf_dir, "events")
    with scratch_warehouse(spark, "hll_profile_") as wh:
        for b in range(4):
            process_hll_batch(
                wh, ev.filter(F.col("event_id") % 4 == b),
                "user_id", ["event_type"],
            )
        return (
            hll_profile(wh, ["event_type"])
            .orderBy("event_type")
            .localCheckpoint()
        )


def stream_novelty_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-batch replay of the STREAMING first-owner
    novelty ledger (streaming/novelty.py): documents arrive in four
    ASCENDING doc_id ranges (quarters of [0, max_id] — the landing
    tables' ingestion order), each appending its new-gram owners and
    per-doc stats through one manifest; the final profile reads the
    stat table alone.  With ascending arrival, first-arrival ownership
    equals min-id ownership, so the oracle is the batch novelty oracle
    (ORACLE_NGRAM_NOVELTY)."""
    from ..streaming.novelty import novelty_profile, process_novelty_batch

    docs = t(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("m")).collect()[0].m
    step = (int(mx) + 4) // 4
    with scratch_warehouse(spark, "novelty_ledger_") as wh:
        for b in range(4):
            process_novelty_batch(
                wh,
                docs.filter(
                    (F.col("doc_id") >= b * step)
                    & (F.col("doc_id") < (b + 1) * step)
                ),
                epoch_id=b,
            )
        return (
            novelty_profile(wh, docs)
            .orderBy("source")
            .localCheckpoint()
        )


def stream_kmeans_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-batch replay of the STREAMING incremental
    k-means ledger (streaming/clustering.py — r11, VERDICT r10 task 7):
    vectors arrive in four micro-batches (vec_id % 4, in order); epochs
    0 and 2 REFRESH (full integer-Lloyd over everything at rest; epoch
    0 has no centers to freeze against), epochs 1 and 3 FROZEN-ASSIGN
    against the current centers — the mini-batch posture of SemDeDup /
    IVF-cell maintenance over a growing corpus.  The profile reads the
    assignment view alone: after the epoch-2 refresh, centers equal the
    one-shot batch kmeans over epochs 0-2 (vec_id % 4 <= 2), history is
    re-assigned against them, and epoch 3 frozen-assigns with the
    byte-identical argmin plan — so the oracle replays the chain as
    unrolled-Lloyd CENTERS on the 3-epoch subset + one argmin over ALL
    vectors + the rollup, with n_frozen counting epoch-3 rows (the
    staleness the operator watches to schedule the next refresh)."""
    from ..streaming.clustering import (
        kmeans_ledger_profile,
        process_kmeans_batch,
    )

    emb = t(spark, sf_dir, "embeddings")
    with scratch_warehouse(spark, "kmeans_ledger_") as wh:
        for b in range(4):
            process_kmeans_batch(
                wh, emb.filter(F.col("vec_id") % 4 == b), b,
                k=8, init_rounds=3, max_rounds=12,
                refresh=(b % 2 == 0),
            )
        return (
            kmeans_ledger_profile(wh)
            .orderBy("cluster")
            .localCheckpoint()
        )


def _oracle_kmeans_ledger() -> str:
    d2 = ("CAST(list_sum(list_transform(list_zip(e.v, c.cv), "
          "x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT)")
    centers = _oracle_kmeans(8, 3, 12, where="WHERE vec_id % 4 <= 2",
                             final="centers")
    return f"""
WITH cents AS ({centers}
), eall AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT})
                AS BIGINT)) AS v
  FROM embeddings
), a AS (
  SELECT vec_id, cluster, d2 FROM (
    SELECT e.vec_id, c.cluster, {d2} AS d2,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2} ASC, c.cluster ASC) AS rn
    FROM eall e CROSS JOIN cents c
  ) WHERE rn = 1
)
SELECT cluster, COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN vec_id % 4 = 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_frozen,
       CAST(SUM(d2) AS BIGINT) AS inertia_q,
       MAX(d2) AS radius_q
FROM a GROUP BY cluster
"""


def stream_kmeans_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clustering ledger's refresh-due signal (r12, VERDICT r11
    task 6): the same deterministic 4-batch replay as
    ``stream_kmeans_ledger`` (refresh at epochs 0 and 2, frozen-assign
    at 1 and 3), then ``kmeans_staleness`` — the ONE-row report an
    operator polls: frozen fraction vs the refresh threshold, epochs
    since the last refresh, total integer inertia.  The oracle replays
    the epoch-2 Lloyd centers + the global argmin, then rolls the
    assignment view up to the same row: frozen rows are exactly epoch
    3's (vec_id % 4 = 3), trained_epoch 2, latest_epoch 3."""
    from ..streaming.clustering import (
        kmeans_staleness,
        process_kmeans_batch,
    )

    emb = t(spark, sf_dir, "embeddings")
    with scratch_warehouse(spark, "kmeans_stale_") as wh:
        for b in range(4):
            process_kmeans_batch(
                wh, emb.filter(F.col("vec_id") % 4 == b), b,
                k=8, init_rounds=3, max_rounds=12,
                refresh=(b % 2 == 0),
            )
        return kmeans_staleness(wh).localCheckpoint()


def _oracle_kmeans_staleness(threshold: float = 0.2) -> str:
    d2 = ("CAST(list_sum(list_transform(list_zip(e.v, c.cv), "
          "x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT)")
    centers = _oracle_kmeans(8, 3, 12, where="WHERE vec_id % 4 <= 2",
                             final="centers")
    return f"""
WITH cents AS ({centers}
), eall AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT})
                AS BIGINT)) AS v
  FROM embeddings
), a AS (
  SELECT vec_id, d2 FROM (
    SELECT e.vec_id, {d2} AS d2,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2} ASC, c.cluster ASC) AS rn
    FROM eall e CROSS JOIN cents c
  ) WHERE rn = 1
)
SELECT COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN vec_id % 4 = 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_frozen,
       CAST(SUM(CASE WHEN vec_id % 4 = 3 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS frozen_frac,
       CAST(SUM(d2) AS BIGINT) AS inertia_q,
       CAST(2 AS BIGINT) AS trained_epoch,
       CAST(3 AS BIGINT) AS latest_epoch,
       CAST(1 AS BIGINT) AS epochs_since_refresh,
       CAST(SUM(CASE WHEN vec_id % 4 = 3 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) >= {threshold} AS refresh_due
FROM a
"""


def stream_kll_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-batch replay of the STREAMING at-rest quantile
    profile (streaming/quantiles.py): events arrive in four fixed
    micro-batches (event_id % 4, in order), each appending its
    level-sampling sketch epoch through one manifest; the final
    profile reads the ledger alone.  Disjoint-merge determinism makes
    the result EQUAL to the one-shot batch sketch, so the oracle is
    the batch quantile oracle — the same relationship
    stream_hll_profile has to its batch HLL."""
    from ..streaming.quantiles import process_quantile_batch, quantile_profile

    ev = t(spark, sf_dir, "events")
    with scratch_warehouse(spark, "kll_profile_") as wh:
        for b in range(4):
            process_quantile_batch(
                wh, ev.filter(F.col("event_id") % 4 == b), b,
                "value", "event_id", ["event_type"],
            )
        return (
            quantile_profile(wh, ["event_type"])
            .orderBy("event_type")
            .localCheckpoint()
        )


ORACLE_STREAM_HLL_PROFILE = """
WITH hashed AS (
  SELECT event_type,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
), regs AS (
  SELECT event_type, h % 512 AS j,
         MAX(CASE WHEN h // 512 > 0 THEN 52 - length(bin(h // 512))
                  ELSE 52 END) AS mj
  FROM hashed GROUP BY event_type, h % 512
), agg AS (
  SELECT event_type,
         SUM(1::BIGINT << CAST(52 - mj AS INT)) AS s_present,
         COUNT(*) AS n_regs
  FROM regs GROUP BY event_type
), est AS (
  SELECT event_type,
         0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0
           * 4503599627370496.0
           / CAST(s_present + (512 - n_regs) * (1::BIGINT << 52)
                  AS DOUBLE) AS raw,
         512 - n_regs AS zeros
  FROM agg
)
SELECT event_type,
       ROUND(CASE WHEN raw <= 1280.0 AND zeros > 0
                  THEN 512.0 * ln(512.0 / CAST(zeros AS DOUBLE))
                  ELSE raw END, 4) AS est_distinct
FROM est
ORDER BY event_type
"""


def events_hll_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed HLL (r7): distinct users per (event_type, day) —
    the tumbling-window form of the sketch; at scale each day's
    registers persist independently and roll up to weeks/months by
    MAX-merge (sketches.hll_merge) without rescanning history."""
    from . import sketches

    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    return sketches.hll_distinct(
        ev, "user_id", ["event_type", "day"], p=9
    ).orderBy("event_type", "day")


ORACLE_HLL_WINDOWED = """
WITH hashed AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
), regs AS (
  SELECT event_type, day, h % 512 AS j,
         MAX(CASE WHEN h // 512 > 0 THEN 52 - length(bin(h // 512))
                  ELSE 52 END) AS mj
  FROM hashed GROUP BY event_type, day, h % 512
), agg AS (
  SELECT event_type, day,
         SUM(1::BIGINT << CAST(52 - mj AS INT)) AS s_present,
         COUNT(*) AS n_regs
  FROM regs GROUP BY event_type, day
), ex AS (
  SELECT event_type, day, COUNT(DISTINCT h) AS n_exact
  FROM hashed GROUP BY event_type, day
), est AS (
  SELECT event_type, day,
         0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0
           * 4503599627370496.0
           / CAST(s_present + (512 - n_regs) * (1::BIGINT << 52)
                  AS DOUBLE) AS raw,
         512 - n_regs AS zeros
  FROM agg
)
SELECT e.event_type, e.day, ex.n_exact,
       ROUND(CASE WHEN e.raw <= 1280.0 AND e.zeros > 0
                  THEN 512.0 * ln(512.0 / CAST(e.zeros AS DOUBLE))
                  ELSE e.raw END, 4) AS est_distinct
FROM est e JOIN ex USING (event_type, day)
ORDER BY e.event_type, e.day
"""


def multimodal_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup accounting (r7) over the opaque
    binary payload (pipeline/multimodal.py ``cdc_dedup_stats``):
    rolling-boundary chunks (8-byte window, divisor 64), md5 chunk
    digests, per-blob shared-chunk/byte counts.  The oracle replays
    boundaries, chunk slicing, digests, and reference counting."""
    docs = t(spark, sf_dir, "documents")
    # spread before the per-byte rolling-hash expressions (r13, guide
    # §2.5/§6): the boundary md5 per byte position is the operator's
    # hot loop and otherwise runs in the one-split scan stage
    return multimodal.cdc_dedup_stats(
        spread(multimodal.with_payload(docs), "doc_id"),
        window_bytes=8, divisor=64,
    ).orderBy("doc_id")


ORACLE_CDC_DEDUP = """
WITH hx AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS INT) AS nb
  FROM documents
), cut AS (
  SELECT doc_id, hx, nb,
         CASE WHEN nb > 8 THEN
           list_filter(range(8, nb),
             i -> ('0x' || substring(md5(substring(hx, CAST((i-8)*2+1 AS INT), 16)),
                   1, 15))::BIGINT % 64 = 0)
         ELSE [] END AS cuts
  FROM hx
), bounds AS (
  SELECT doc_id, hx, list_prepend(0, cuts) AS starts,
         list_append(cuts, nb) AS ends
  FROM cut
), chunk AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(starts) + 1), k ->
           struct_pack(
             cb := ends[k] - starts[k],
             dg := md5(substring(hx, CAST(starts[k]*2 + 1 AS INT),
                                 CAST((ends[k] - starts[k])*2 AS INT)))
           ))) AS c
  FROM bounds
), chunks AS (
  SELECT doc_id, c.cb AS chunk_bytes, c.dg AS digest FROM chunk
), refs AS (
  SELECT digest, COUNT(DISTINCT doc_id) AS n_blobs
  FROM chunks GROUP BY digest
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(c.chunk_bytes) AS BIGINT) AS n_bytes,
       CAST(SUM(CASE WHEN r.n_blobs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks,
       CAST(SUM(CASE WHEN r.n_blobs > 1 THEN c.chunk_bytes ELSE 0 END)
            AS BIGINT) AS n_shared_bytes
FROM chunks c JOIN refs r USING (digest)
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event_type (p=9, 512
    registers) in the cross-engine hash family (pipeline/sketches.py
    ``hll_distinct``); the oracle replays bucket split, register ranks,
    the exact-integer harmonic sum, and the small-range correction."""
    from . import sketches

    return sketches.hll_distinct(
        t(spark, sf_dir, "events"), "user_id", ["event_type"], p=9
    )


ORACLE_HLL_DISTINCT = """
WITH hashed AS (
  SELECT event_type,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
), regs AS (
  SELECT event_type, h % 512 AS j,
         MAX(CASE WHEN h // 512 > 0 THEN 52 - length(bin(h // 512))
                  ELSE 52 END) AS mj
  FROM hashed GROUP BY event_type, h % 512
), agg AS (
  SELECT event_type,
         SUM(1::BIGINT << CAST(52 - mj AS INT)) AS s_present,
         COUNT(*) AS n_regs
  FROM regs GROUP BY event_type
), ex AS (
  SELECT event_type, COUNT(DISTINCT h) AS n_exact
  FROM hashed GROUP BY event_type
), est AS (
  SELECT event_type,
         0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0
           * 4503599627370496.0
           / CAST(s_present + (512 - n_regs) * (1::BIGINT << 52)
                  AS DOUBLE) AS raw,
         512 - n_regs AS zeros
  FROM agg
)
SELECT e.event_type, ex.n_exact,
       ROUND(CASE WHEN e.raw <= 1280.0 AND e.zeros > 0
                  THEN 512.0 * ln(512.0 / CAST(e.zeros AS DOUBLE))
                  ELSE e.raw END, 4) AS est_distinct
FROM est e JOIN ex USING (event_type)
"""


def multimodal_binary_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-level near-dup over the opaque BINARY payload column:
    byte-shingle sets (8-byte windows every 4 bytes, hex-encoded) feed
    the SAME MinHash/LSH machinery as text dedup — the standard
    content-defined dedup for image/audio corpora where no text exists
    to tokenize.  md5 cross-engine family so the oracle replays shingle
    -> 32 permutations -> 8 bands -> candidate join -> exact verify."""
    docs = t(spark, sf_dir, "documents")
    # spread before the hex/window shingle expressions and the minhash
    # aggregate they feed (r13, guide §2.5/§6) — the byte-shingle path
    # passes shingle_df explicitly, so dedup's own scan floor never
    # fires for it
    wp = spread(multimodal.with_payload(docs), "doc_id")
    sh = multimodal.binary_shingles(wp)
    return dedup.minhash_dedup_pairs(
        wp, threshold=0.8, hash_fn="md5", shingle_df=sh
    )


ORACLE_BINARY_NEAR_DUP = f"""
WITH hx AS (
  SELECT doc_id, hex(encode(text)) AS h FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(h) >= 16 THEN
           list_distinct([
             substring(h, (i-1)*8+1, 16)
             for i in generate_series(
               1, CAST(floor((len(h)/2 - 8)/4 + 1) AS INT))
           ])
         ELSE [] END AS sh
  FROM hx
), exploded AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS hv
  FROM sh
), seeds(seed, a1, a2, b) AS (
  VALUES {", ".join(f"({i}, {a1}, {a2}, {b})"
                    for i, (a1, a2, b) in enumerate(_PERMS))}
), mins AS (
  SELECT doc_id, seed,
         MIN((a1 * (hv >> 30) + a2 * (hv & 1073741823) + b)
             % {dedup.MINHASH_P}) AS hv
  FROM exploded CROSS JOIN seeds
  GROUP BY doc_id, seed
), sigs AS (
  SELECT doc_id, list(hv ORDER BY seed) AS sig FROM mins GROUP BY doc_id
), bandix AS (
  SELECT unnest(generate_series(0, 7)) AS band
), banded AS (
  SELECT doc_id, band,
         ('0x' || substring(
            md5(array_to_string(sig[band*4+1 : band*4+4], '|')), 1, 15)
         )::BIGINT AS bucket
  FROM sigs CROSS JOIN bandix
), cands AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
)
SELECT a_id, b_id,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
         AS jaccard
FROM cands
JOIN sh sa ON sa.doc_id = a_id
JOIN sh sb ON sb.doc_id = b_id
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
"""




def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup: cluster-canonical keep/drop over
    the embedding-cosine near-dup graph — the composition of the
    grid-blocked embedding pair join and connected components that a
    curation pipeline actually ships (text near-dup misses paraphrases;
    the embedding graph catches them).  Keep rule: min vec_id per
    component.  The oracle replays the quantized-int pair relation and
    the transitive closure with a recursive CTE.

    r9 (VERDICT r8 task 3): the pair relation routes through
    :func:`_routed_emb_pairs` — exact under
    ``EXACT_EMB_PAIRS_MAX_ROWS`` (what the oracle gate and the sf0.1
    bench see), the count-sized LSH graph above it (the 100 TB
    posture; the unguarded exact form measured alpha 1.38 sf1->sf3).
    The always-exact baseline remains available as
    ``similarity.embedding_near_dup_pairs_blocked`` for recall
    evaluation."""
    emb = t(spark, sf_dir, "embeddings")
    pairs = _routed_emb_pairs(emb).select(F.col("a_id"), F.col("b_id"))
    comp = dedup.connected_components(
        pairs, emb.select("vec_id"), id_col="vec_id"
    )
    return comp.select(
        "vec_id", "component",
        (F.col("vec_id") == F.col("component")).alias("is_kept"),
    )


ORACLE_EMB_SEMANTIC_DEDUP = f"""
WITH RECURSIVE e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(list_zip(a.v, b.v),
    x -> x[1] * x[2])) AS BIGINT) >= {MIN_DOT_Q}
), edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION SELECT b_id, a_id FROM pairs
), walk(node, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e2.dst, w.label FROM walk w JOIN edges e2 ON e2.src = w.node
)
SELECT node AS vec_id, MIN(label) AS component,
       node = MIN(label) AS is_kept
FROM walk GROUP BY node
"""


def lsh_planes_for_count(n: int, target_occupancy: int = 32,
                         min_k: int = 4, max_k: int = 16) -> int:
    """PRODUCTION LSH sizing (r8, VERDICT r7 task 3): plane count
    k = ceil(log2(N / target_occupancy)) clamped to [min_k, max_k], so
    expected bucket occupancy — and therefore candidate-pair work per
    row — stays constant as the corpus grows.  A FIXED k makes the
    candidate count ~N^2/2^k (measured alpha 2.66 over sf1->sf3 with
    k=4); the count-derived k measured alpha 0.28.  Pure arithmetic on
    the corpus count so the DuckDB oracle derives the SAME k from
    COUNT(*)."""
    import math

    return max(
        min_k,
        min(max_k, math.ceil(math.log2(max(2, n / target_occupancy)))),
    )


def emb_semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic semantic dedup (r7; k-scaled in r8): the
    LSH-bucketed candidate graph (integer hyperplanes, so the bucket
    assignment is exact cross-engine arithmetic) verified with the
    exact quantized dot, then the same connected-components keep rule
    as ``emb_semantic_dedup``.  The exact all-pairs form is O(N^2)
    compute by semantics (PERF.md sf1->sf3 alpha 1.38); this is the
    declared 100 TB route — 16 pregenerated planes, the used
    plane-prefix length derived from the corpus count
    (:func:`lsh_planes_for_count`) so bucket occupancy holds flat at
    any scale.  The oracle derives the same k from COUNT(*) and masks
    the same 16-bit bucket to k bits."""
    emb = t(spark, sf_dir, "embeddings")
    k = lsh_planes_for_count(emb.count())
    pairs = similarity.embedding_near_dup_pairs_lsh(
        emb, min_dot_q=MIN_DOT_Q, planes=LSH_PLANES_16[:k], id_col="vec_id"
    ).select("a_id", "b_id")
    comp = dedup.connected_components(
        pairs, emb.select("vec_id"), id_col="vec_id"
    )
    return comp.select(
        "vec_id", "component",
        (F.col("vec_id") == F.col("component")).alias("is_kept"),
    )


def _oracle_emb_semantic_dedup_lsh() -> str:
    # All 16 pregenerated sign bits; the prefix mask `% (1 << k)` with
    # k = ceil(log2(COUNT(*)/32)) clamped to [4,16] (scalar subquery)
    # replays exactly the Spark side's planes[:k] bucket.
    plane_sum = " + ".join(
        f"""(CASE WHEN list_sum(list_transform(list_zip(v, {_plane_sql(p)}),
             x -> x[1] * CAST(x[2] AS BIGINT))) >= 0
           THEN {1 << i} ELSE 0 END)"""
        for i, p in enumerate(LSH_PLANES_16)
    )
    return f"""
WITH RECURSIVE kk AS (
  SELECT GREATEST(4, LEAST(16,
           CAST(CEIL(LOG2(GREATEST(2, COUNT(*) / 32.0))) AS INT))) AS k
  FROM embeddings
), e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), bucketed AS (
  SELECT vec_id, v,
         ({plane_sum}) % (1 << (SELECT k FROM kk)) AS bucket
  FROM e
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(list_zip(a.v, b.v),
    x -> x[1] * x[2])) AS BIGINT) >= {MIN_DOT_Q}
), edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION SELECT b_id, a_id FROM pairs
), walk(node, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e2.dst, w.label FROM walk w JOIN edges e2 ON e2.src = w.node
)
SELECT node AS vec_id, MIN(label) AS component,
       node = MIN(label) AS is_kept
FROM walk GROUP BY node
"""


def corpus_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus segment-level boilerplate removal (r8, FineWeb/CCNet
    line-dedup lineage): 4-token segments appearing in >= 2 documents
    are stripped; docs return with surviving segments rejoined in
    order plus removal counts.  ONE segment-DF groupBy, broadcast
    boilerplate set, partial-agg-collapsed reassembly; zero windows
    (pipeline/corpus.py ``segment_dedup``)."""
    from . import corpus

    return corpus.segment_dedup(
        t(spark, sf_dir, "documents"), df_threshold=2, segment_tokens=4
    )


ORACLE_SEGMENT_DEDUP = r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL
), sg AS (
  -- struct list built HERE: duckdb cannot bind lateral columns inside
  -- a struct_pack under UNNEST, but a plain column unnests fine
  SELECT doc_id,
         list_transform(
           range(0, CAST(ceil(len(toks) / 4.0) AS INT)),
           i -> struct_pack(
             idx := i,
             seg := array_to_string(toks[i*4+1:i*4+4], ' '))) AS segs
  FROM tk
), segd AS (
  SELECT doc_id, UNNEST(segs).idx AS idx, UNNEST(segs).seg AS seg
  FROM sg
), fr AS (
  SELECT seg FROM segd GROUP BY seg
  HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN f.seg IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_removed,
       COALESCE(string_agg(CASE WHEN f.seg IS NULL THEN s.seg END, ' '
                           ORDER BY s.idx), '') AS clean_text
FROM segd s LEFT JOIN fr f ON s.seg = f.seg
GROUP BY s.doc_id
"""


def emb_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination (r8; eval slice FIXED in r9) — fourth
    member of the decontam family (exact grams / Bloom-gated exact /
    fuzzy MinHash): corpus vectors (vec_id %% 20 != 0) whose exact
    quantized dot against any eval vector reaches MIN_DOT_Q, with the
    best-matching eval id per contaminated item.  Broadcast eval side,
    map-side integer dots, max_by collapse — no window
    (pipeline/similarity.py ``embedding_decontaminate``).

    r9: the eval set is the FIXED-SIZE slice ``vec_id %% 20 == 0 AND
    vec_id < 10000`` (<= 500 items at any scale) — a benchmark suite
    does not grow with the crawl, and the r8 form's corpus-
    proportional 5%% slice was the %%-of-corpus quadratic trap
    (measured alpha 2.01 sf1->sf3; the same trap emb_hard_negatives'
    fixed query slice avoids).  At the oracle-gate scales the bound is
    not binding, so the declared result there is unchanged."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.embedding_decontaminate(
        emb.filter(F.col("vec_id") % 20 != 0),
        emb.filter((F.col("vec_id") % 20 == 0)
                   & (F.col("vec_id") < 10_000)),
        min_dot_q=MIN_DOT_Q,
    )


ORACLE_EMB_DECONTAM = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), scored AS (
  SELECT c.vec_id, e.vec_id AS eval_id,
         CAST(list_sum(list_transform(list_zip(c.v, e.v),
           x -> x[1] * x[2])) AS BIGINT) AS dot_q
  FROM q c JOIN q e
    ON c.vec_id % 20 <> 0 AND e.vec_id % 20 = 0 AND e.vec_id < 10000
  WHERE CAST(list_sum(list_transform(list_zip(c.v, e.v),
    x -> x[1] * x[2])) AS BIGINT) >= {MIN_DOT_Q}
), ranked AS (
  SELECT vec_id, eval_id, dot_q,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dot_q DESC, eval_id ASC) AS rn
  FROM scored
)
SELECT vec_id, eval_id, dot_q FROM ranked WHERE rn = 1
"""


def corpus_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted-hash train/val/test split with per-(lang,
    split) counts — the assignment itself is value-hash-checked through
    the counts AND the per-doc min/max ids so a systematic skew or an
    off-by-one at the threshold cannot hide in aggregate."""
    from . import corpus

    docs = t(spark, sf_dir, "documents")
    return (
        corpus.dataset_split(docs)  # pass-through columns: no self-join
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


ORACLE_DATASET_SPLIT = """
WITH h AS (
  SELECT doc_id, lang,
         ('0x' || substring(
            md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS hv
  FROM documents
)
SELECT lang,
       CASE WHEN doc_id IS NULL THEN NULL
            WHEN hv < 900000 THEN 'train'
            WHEN hv < 950000 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id
FROM h
GROUP BY 1, 2
"""



def stream_near_dup_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-batch replay of the STREAMING near-dup ledger
    (streaming/dedup.py process_near_dup_batch): the corpus arrives in
    four fixed micro-batches (doc_id % 4, in order), each batch dedups
    in-batch (min-id pair rule) and against the bands+shingle ledgers of
    everything KEPT so far, survivors append to the sink.  The oracle
    replays the exact greedy semantics in SQL: the verified md5-minhash
    pair relation is batch-independent (band buckets are doc-global), so
    four chained CTEs apply the in-batch rule then the kept-ledger rule
    per batch.  This is the CORRECTNESS entry VERDICT r4 item 7 asked
    for — streaming parity enforced by value hash, not just pytest."""
    from ..streaming.dedup import NearDupLedger, process_near_dup_batch

    docs = t(spark, sf_dir, "documents")
    ledger = NearDupLedger()
    with scratch_warehouse(spark, "ndledger_") as wh:
        for b in range(4):
            process_near_dup_batch(
                wh, docs.filter(F.col("doc_id") % 4 == b), "kept_docs",
                threshold=0.8, hash_fn="md5", ledger=ledger,
            )
        # materialize off the scratch files (localCheckpoint) so the
        # ledger directory can be deleted NOW instead of leaking one
        # tempdir per bench rep / oracle run (r5 code review)
        return wh.read("kept_docs").select("doc_id").localCheckpoint()


ORACLE_STREAM_NEAR_DUP = f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) >= 3 THEN
           list_distinct([
             array_to_string(string_split(text, ' ')[i:i+2], ' ')
             for i in generate_series(1, len(string_split(text, ' ')) - 2)
           ])
         ELSE [] END AS sh
  FROM documents
), exploded AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
  FROM sh
), seeds(seed, a1, a2, b) AS (
  VALUES {", ".join(f"({i}, {a1}, {a2}, {b})"
                    for i, (a1, a2, b) in enumerate(_PERMS))}
), mins AS (
  SELECT doc_id, seed,
         MIN((a1 * (h >> 30) + a2 * (h & 1073741823) + b)
             % {dedup.MINHASH_P}) AS h
  FROM exploded CROSS JOIN seeds
  GROUP BY doc_id, seed
), sigs AS (
  SELECT doc_id, list(h ORDER BY seed) AS sig FROM mins GROUP BY doc_id
), bandix AS (
  SELECT unnest(generate_series(0, 7)) AS band
), banded AS (
  SELECT doc_id, band,
         ('0x' || substring(
            md5(array_to_string(sig[band*4+1 : band*4+4], '|')), 1, 15)
         )::BIGINT AS bucket
  FROM sigs CROSS JOIN bandix
), cands AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
), pairs AS (
  SELECT a_id, b_id
  FROM cands
  JOIN sh sa ON sa.doc_id = a_id
  JOIN sh sb ON sb.doc_id = b_id
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
        >= 0.8
), sym AS (
  SELECT a_id AS x, b_id AS y FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
), docs_b AS (
  SELECT doc_id, doc_id % 4 AS bi FROM documents
), s0 AS (
  SELECT d.doc_id FROM docs_b d WHERE d.bi = 0 AND NOT EXISTS (
    SELECT 1 FROM pairs p JOIN docs_b a ON a.doc_id = p.a_id
    WHERE p.b_id = d.doc_id AND a.bi = 0)
), k0 AS (SELECT doc_id FROM s0
), s1 AS (
  SELECT d.doc_id FROM docs_b d WHERE d.bi = 1 AND NOT EXISTS (
    SELECT 1 FROM pairs p JOIN docs_b a ON a.doc_id = p.a_id
    WHERE p.b_id = d.doc_id AND a.bi = 1)
), k1 AS (
  SELECT doc_id FROM k0
  UNION ALL
  SELECT d.doc_id FROM s1 d WHERE NOT EXISTS (
    SELECT 1 FROM sym j JOIN k0 ON k0.doc_id = j.x WHERE j.y = d.doc_id)
), s2 AS (
  SELECT d.doc_id FROM docs_b d WHERE d.bi = 2 AND NOT EXISTS (
    SELECT 1 FROM pairs p JOIN docs_b a ON a.doc_id = p.a_id
    WHERE p.b_id = d.doc_id AND a.bi = 2)
), k2 AS (
  SELECT doc_id FROM k1
  UNION ALL
  SELECT d.doc_id FROM s2 d WHERE NOT EXISTS (
    SELECT 1 FROM sym j JOIN k1 ON k1.doc_id = j.x WHERE j.y = d.doc_id)
), s3 AS (
  SELECT d.doc_id FROM docs_b d WHERE d.bi = 3 AND NOT EXISTS (
    SELECT 1 FROM pairs p JOIN docs_b a ON a.doc_id = p.a_id
    WHERE p.b_id = d.doc_id AND a.bi = 3)
), k3 AS (
  SELECT doc_id FROM k2
  UNION ALL
  SELECT d.doc_id FROM s3 d WHERE NOT EXISTS (
    SELECT 1 FROM sym j JOIN k2 ON k2.doc_id = j.x WHERE j.y = d.doc_id)
)
SELECT doc_id FROM k3
"""


def stream_components_ledger_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-batch replay of the AT-REST connected-
    components ledger (r13, VERDICT r12 task 4 —
    streaming/components.py): the corpus arrives in four fixed
    micro-batches (doc_id % 4, in order); each batch discovers its
    verified near-dup edges in-batch AND against the all-ingested
    bands+shingle ledger, contracts them through the current component
    view, and folds the bounded label-merge into the immutable-assign +
    remap pair — no per-batch full CC, no assign rewrites.  Because the
    banded candidate relation is content-deterministic, the edge union
    over batches EQUALS the one-shot pair relation, so the oracle is the
    batch-independent recursive-CTE closure over the md5-minhash pair
    graph — the same min-label semantics ``dedup_components`` pins for
    the token-jaccard graph."""
    from ..streaming.components import (ComponentsState,
                                        components_assignment,
                                        process_components_batch)

    docs = t(spark, sf_dir, "documents")
    # ComponentsState (r14): the NearDupLedger bands+shingles cache
    # plus in-memory assign/remap views — no per-fold state-table
    # re-read/re-listing on the hot path
    ledger = ComponentsState()
    with scratch_warehouse(spark, "ccledger_") as wh:
        for b in range(4):
            process_components_batch(
                wh, docs.filter(F.col("doc_id") % 4 == b), b,
                threshold=0.8, hash_fn="md5", ledger=ledger,
            )
        return components_assignment(wh).select(
            "doc_id", "component",
            (F.col("doc_id") == F.col("component")).alias("is_kept"),
        ).localCheckpoint()


ORACLE_STREAM_COMPONENTS = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) >= 3 THEN
           list_distinct([
             array_to_string(string_split(text, ' ')[i:i+2], ' ')
             for i in generate_series(1, len(string_split(text, ' ')) - 2)
           ])
         ELSE [] END AS sh
  FROM documents
), exploded AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
  FROM sh
), seeds(seed, a1, a2, b) AS (
  VALUES {", ".join(f"({i}, {a1}, {a2}, {b})"
                    for i, (a1, a2, b) in enumerate(_PERMS))}
), mins AS (
  SELECT doc_id, seed,
         MIN((a1 * (h >> 30) + a2 * (h & 1073741823) + b)
             % {dedup.MINHASH_P}) AS h
  FROM exploded CROSS JOIN seeds
  GROUP BY doc_id, seed
), sigs AS (
  SELECT doc_id, list(h ORDER BY seed) AS sig FROM mins GROUP BY doc_id
), bandix AS (
  SELECT unnest(generate_series(0, 7)) AS band
), banded AS (
  SELECT doc_id, band,
         ('0x' || substring(
            md5(array_to_string(sig[band*4+1 : band*4+4], '|')), 1, 15)
         )::BIGINT AS bucket
  FROM sigs CROSS JOIN bandix
), cands AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
), pairs AS (
  SELECT a_id, b_id
  FROM cands
  JOIN sh sa ON sa.doc_id = a_id
  JOIN sh sb ON sb.doc_id = b_id
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
        >= 0.8
), edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION SELECT b_id, a_id FROM pairs
), walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node AS doc_id, MIN(label) AS component,
       node = MIN(label) AS is_kept
FROM walk GROUP BY node
"""


def corpus_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size Bloom-filter decontamination (r6): the eval set's
    3-grams build a 2^18-bit / k=3 filter stored as an int64 word
    table; corpus docs are flagged when any gram probes all-set bits.
    Unlike corpus_decontam's gram-dictionary broadcast (which grows
    with the eval corpus), the filter is a few hundred KB forever —
    the 100 TB first stage, with the exact pass as stage two on the
    flagged slice.  The md5-based probe positions make the filter —
    INCLUDING its false positives — bit-identical in the SQL oracle."""
    from . import corpus

    docs = t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    corp = docs.filter(F.col("doc_id") % 20 != 0)
    bloom = corpus.bloom_build(ev, n=3, m_bits=1 << 18, k=3)
    return corpus.bloom_decontaminate(corp, bloom, n=3, m_bits=1 << 18, k=3)


ORACLE_BLOOM_DECONTAM = """
WITH ev AS (
  SELECT string_split(text, ' ') AS tk FROM documents WHERE doc_id % 20 = 0
), evg AS (
  SELECT DISTINCT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
  FROM ev, UNNEST(range(1, len(tk) - 1)) AS r(i)
  WHERE len(tk) >= 3
), seeds AS (
  SELECT UNNEST(range(0, 3)) AS seed
), build_probes AS (
  SELECT ('0x' || substring(md5(seed::VARCHAR || ':' || gram), 1, 15))::BIGINT
           % 262144 AS pos
  FROM evg CROSS JOIN seeds
), bloom AS (
  SELECT pos // 32 AS word_idx,
         bit_or((1::BIGINT) << (pos % 32)) AS word
  FROM build_probes GROUP BY 1
), corp AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE doc_id % 20 <> 0
), cg AS (
  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
  FROM corp, UNNEST(range(1, len(tk) - 1)) AS r(i)
  WHERE len(tk) >= 3
), probe AS (
  SELECT doc_id, gram, seed,
         ('0x' || substring(md5(seed::VARCHAR || ':' || gram), 1, 15))::BIGINT
           % 262144 AS pos
  FROM cg CROSS JOIN seeds
), gram_hits AS (
  SELECT p.doc_id, p.gram,
         bool_and(b.word IS NOT NULL
                  AND (b.word & ((1::BIGINT) << (p.pos % 32))) <> 0)
           AS in_bloom
  FROM probe p LEFT JOIN bloom b ON b.word_idx = p.pos // 32
  GROUP BY p.doc_id, p.gram
), flagged AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN in_bloom THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flagged_grams
  FROM gram_hits GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(COALESCE(f.n_flagged_grams, 0) AS BIGINT) AS n_flagged_grams,
       COALESCE(f.n_flagged_grams, 0) > 0 AS is_flagged
FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) c
LEFT JOIN flagged f USING (doc_id)
"""


def corpus_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination (r7) — third member of the decontam family
    (exact grams: corpus_decontam; Bloom-gated exact: corpus_bloom_
    decontam): corpus docs whose 3-shingle Jaccard against any eval doc
    (doc_id %% 20 == 0) reaches 0.5, found by cross-corpus MinHash
    banded LSH with the eval side broadcast
    (pipeline/corpus.py ``fuzzy_decontaminate``).  md5 hash family so
    the oracle replays signatures, bands, candidate probe (misses
    included), exact verify, and the per-doc best-match pick."""
    from . import corpus

    docs = t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    corp = docs.filter(F.col("doc_id") % 20 != 0)
    return corpus.fuzzy_decontaminate(
        corp, ev, threshold=0.5, hash_fn="md5"
    ).orderBy("doc_id")


ORACLE_FUZZY_DECONTAM = f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) >= 3 THEN
           list_distinct([
             array_to_string(string_split(text, ' ')[i:i+2], ' ')
             for i in generate_series(1, len(string_split(text, ' ')) - 2)
           ])
         ELSE [] END AS sh
  FROM documents
), exploded AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
  FROM sh
), seeds(seed, a1, a2, b) AS (
  VALUES {", ".join(f"({i}, {a1}, {a2}, {b})"
                    for i, (a1, a2, b) in enumerate(_PERMS))}
), mins AS (
  SELECT doc_id, seed,
         MIN((a1 * (h >> 30) + a2 * (h & 1073741823) + b)
             % {dedup.MINHASH_P}) AS h
  FROM exploded CROSS JOIN seeds
  GROUP BY doc_id, seed
), sigs AS (
  SELECT doc_id, list(h ORDER BY seed) AS sig FROM mins GROUP BY doc_id
), bands AS (
  SELECT unnest(generate_series(0, 7)) AS band
), banded AS (
  SELECT doc_id, band,
         ('0x' || substring(
            md5(array_to_string(sig[band*4+1 : band*4+4], '|')), 1, 15)
         )::BIGINT AS bucket
  FROM sigs CROSS JOIN bands
), cands AS (
  SELECT DISTINCT c.doc_id, e.doc_id AS eval_id
  FROM banded c JOIN banded e USING (band, bucket)
  WHERE c.doc_id % 20 <> 0 AND e.doc_id % 20 = 0
), scored AS (
  SELECT c.doc_id, c.eval_id,
         CAST(len(list_intersect(sc.sh, se.sh)) AS DOUBLE)
           / (len(sc.sh) + len(se.sh) - len(list_intersect(sc.sh, se.sh)))
           AS jaccard
  FROM cands c
  JOIN sh sc ON sc.doc_id = c.doc_id
  JOIN sh se ON se.doc_id = c.eval_id
)
SELECT doc_id, eval_id, jaccard
FROM (
  SELECT doc_id, eval_id, jaccard,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY jaccard DESC, eval_id) AS rn
  FROM scored WHERE jaccard >= 0.5
)
WHERE rn = 1
ORDER BY doc_id
"""


def corpus_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps (r7): keep the 10 highest-quality docs
    per source (pipeline/corpus.py ``source_caps``) — the domain-cap
    curation step; one partitioned window, never a global sort."""
    from . import corpus

    return corpus.source_caps(
        t(spark, sf_dir, "documents"), cap=10
    ).orderBy("source", "src_rank")


ORACLE_SOURCE_CAPS = r"""
WITH q AS (
  SELECT doc_id, source,
         COALESCE(
           CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
                AS DOUBLE)
             / len(string_split_regex(trim(text), '\s+')), 0.0) AS quality
  FROM documents
)
SELECT doc_id, source, quality, CAST(rn AS INT) AS src_rank
FROM (
  SELECT doc_id, source, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id) AS rn
  FROM q
)
WHERE rn <= 10
ORDER BY source, src_rank
"""


def corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing (r7): 4 difficulty tiers split at exact
    global token-count quartiles, computed histogram-style (no global
    sort; pipeline/corpus.py ``curriculum_buckets``)."""
    from . import corpus

    return corpus.curriculum_buckets(
        t(spark, sf_dir, "documents"), n_buckets=4
    ).orderBy("doc_id")


ORACLE_CURRICULUM = r"""
WITH d AS (
  SELECT doc_id,
         COALESCE(len(string_split_regex(trim(text), '\s+')), 0)
           AS difficulty
  FROM documents
), freq AS (
  SELECT difficulty, count(*) AS c FROM d GROUP BY difficulty
), cum AS (
  SELECT difficulty,
         SUM(c) OVER (ORDER BY difficulty) AS cum,
         SUM(c) OVER () AS n
  FROM freq
), cuts AS (
  SELECT
    MIN(CASE WHEN cum >= (n * 25 + 99) // 100 THEN difficulty END) AS c25,
    MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN difficulty END) AS c50,
    MIN(CASE WHEN cum >= (n * 75 + 99) // 100 THEN difficulty END) AS c75
  FROM cum
)
SELECT doc_id, CAST(difficulty AS INT) AS difficulty,
       CAST(1 + CAST(difficulty > c25 AS INT)
              + CAST(difficulty > c50 AS INT)
              + CAST(difficulty > c75 AS INT) AS INT) AS bucket
FROM d CROSS JOIN cuts
ORDER BY doc_id
"""


def corpus_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (r7): top-50 adjacent-pair collocations by
    rational PMI (pipeline/textstats.py ``pmi_bigrams``); broadcast
    unigram dims, TakeOrdered final ranking."""
    from . import textstats

    return textstats.pmi_bigrams(
        t(spark, sf_dir, "documents"), top_k=50, min_count=2
    )


ORACLE_PMI_BIGRAMS = r"""
WITH tk AS (
  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
), uni AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest(t) AS tok FROM tk) GROUP BY tok
), tot AS (
  SELECT SUM(c) AS n FROM uni
), pairs AS (
  SELECT string_split(pair, ' ')[1] AS tok_a,
         string_split(pair, ' ')[2] AS tok_b,
         count(*) AS n_pair
  FROM (
    SELECT unnest(CASE WHEN len(t) >= 2 THEN
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
           ELSE [] END) AS pair
    FROM tk
  ) GROUP BY pair
  HAVING count(*) >= 2
)
SELECT p.tok_a, p.tok_b, p.n_pair,
       CAST(p.n_pair AS DOUBLE) * CAST(tot.n AS DOUBLE)
         / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS pmi_ratio
FROM pairs p
JOIN uni ca ON ca.tok = p.tok_a
JOIN uni cb ON cb.tok = p.tok_b
CROSS JOIN tot
ORDER BY pmi_ratio DESC, p.tok_a, p.tok_b
LIMIT 50
"""


def corpus_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (r7): fasttext-style hashed
    bag-of-words linear classifier inference
    (pipeline/textstats.py ``classifier_score``) with the deterministic
    512-bucket weight table standing in for a trained model.  Broadcast
    model join onto the token stream, integer cross-multiplied verdict:
    keep iff the per-token average weight >= -534/2 (the corpus median,
    so the gate actually discriminates — a production deployment
    calibrates this cut on a labeled sample exactly the same way)."""
    from . import textstats

    docs = t(spark, sf_dir, "documents")
    w = textstats.classifier_weights(spark, n_buckets=512, seed=7)
    return textstats.classifier_score(
        docs, w, n_buckets=512, threshold_num=-534, threshold_den=2
    )


def corpus_ngram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram LM perplexity scoring (r8, VERDICT r7 task 8 — CCNet
    lineage): add-one-smoothed bigram model trained on the held-out
    clean slice (doc_id % 5 != 0), every document scored with two
    exact-integer aggregates — whole-bit log2 surprisal (bits/token)
    and fixed-point mean inverse probability — plus their derived
    per-token doubles (single exactly-rounded divisions).  Broadcast
    model joins, zero windows; see textstats.ngram_perplexity for the
    exact-integer discipline and the 100 TB plan shape."""
    from . import textstats

    docs = t(spark, sf_dir, "documents")
    return textstats.ngram_perplexity(
        docs, train_docs=docs.filter(F.col("doc_id") % 5 != 0),
        min_count=2, scale=1000,
    )


ORACLE_NGRAM_PPL = r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL
), train AS (
  SELECT toks FROM tk WHERE doc_id % 5 <> 0
), uni AS (
  SELECT ctx, COUNT(*) AS c_a
  FROM (SELECT UNNEST(toks) AS ctx FROM train) GROUP BY ctx
), vocab AS (
  SELECT COUNT(*) + 1 AS v FROM uni
), bi AS (
  SELECT pair, COUNT(*) AS c_ab
  FROM (
    SELECT UNNEST(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i+1])) AS pair
    FROM train WHERE len(toks) >= 2
  ) GROUP BY pair HAVING COUNT(*) >= 2
), occ AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS pair,
         UNNEST(list_transform(range(1, len(toks)), i -> toks[i])) AS ctx
  FROM tk WHERE len(toks) >= 2
), scored AS (
  SELECT o.doc_id,
         COALESCE(b.c_ab, 0) + 1 AS num,
         COALESCE(u.c_a, 0) + (SELECT v FROM vocab) AS den
  FROM occ o
  LEFT JOIN bi b ON o.pair = b.pair
  LEFT JOIN uni u ON o.ctx = u.ctx
), agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM((den * 1000) // num) AS BIGINT) AS sum_inv_p_q,
         -- floor(log2(den/num)) without logs: bitlen(den div num) - 1
         -- (exact; den >= num always since c_ab <= c_a and V >= 1)
         CAST(SUM(length(bin(den // num)) - 1) AS BIGINT) AS sum_bits
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, sum_inv_p_q, sum_bits,
       CAST(sum_bits AS DOUBLE) / n_bigrams AS bits_per_token,
       CAST(sum_inv_p_q AS DOUBLE) / (n_bigrams * 1000)
         AS avg_inv_p
FROM agg
"""


ORACLE_CLASSIFIER_FILTER = r"""
WITH w AS (
  SELECT CAST(range AS INT) AS bucket,
         CAST(((range * 1103515245 + 12352) % 2001) - 1000 AS BIGINT)
           AS weight
  FROM range(512)
), tk AS (
  SELECT doc_id,
         UNNEST(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
), feats AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(token), 1, 15))::BIGINT % 512
              AS INT) AS bucket
  FROM tk
)
SELECT f.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(w.weight) AS BIGINT) AS score,
       (CAST(SUM(w.weight) AS BIGINT) * 2 >= -534 * COUNT(*))
         AS quality_pass
FROM feats f JOIN w ON w.bucket = f.bucket
GROUP BY f.doc_id
"""


def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary construction (r6): top-100 tokens by frequency
    with occurrence + document counts and a deterministic global rank
    — the tokenizer-building pre-pass; TakeOrdered, never a full sort."""
    from . import corpus

    return corpus.vocab_topk(t(spark, sf_dir, "documents"), top_n=100)


ORACLE_VOCAB_TOPK = r"""
WITH tk AS (
  SELECT doc_id,
         UNNEST(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
), agg AS (
  SELECT token, COUNT(*) AS n_occurrences,
         COUNT(DISTINCT doc_id) AS n_docs
  FROM tk GROUP BY token
)
SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token)
            AS INT) AS rank,
       token, n_occurrences, n_docs
FROM agg
ORDER BY n_occurrences DESC, token
LIMIT 100
"""


def corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed keep/drop curation verdict (r6): Gopher-style bounds on
    token count, lexical diversity, and the repetition fractions, with
    a sorted reasons array naming every violated rule — ONE map-only
    select (the repetition metrics thread the text through, no join).

    The declared form CSV-serializes ``reasons`` for a representation-
    stable compare (same pattern as ``constvalues_history_pack``): the
    driver's pandas canonicalizer cannot sort unhashable list cells.
    Library callers keep the typed array via
    :func:`textstats.quality_gate`."""
    gated = textstats.quality_gate(
        t(spark, sf_dir, "documents"),
        thresholds={
            "min_tokens": 20,
            "max_tokens": 100_000,
            "min_distinct_ratio": 0.35,
            "max_dup_2gram_frac": 0.55,
            "max_top_token_frac": 0.45,
        },
    )
    return gated.withColumn("reasons", F.array_join("reasons", ","))


ORACLE_QUALITY_GATE = r"""
WITH b AS (
  SELECT doc_id, text,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
           AS n_tokens,
         CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
              AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS distinct_ratio,
         string_split(text, ' ') AS rtk
  FROM documents
), fr AS (
  SELECT doc_id, text, n_tokens, distinct_ratio,
         CASE WHEN rtk IS NULL THEN NULL
              WHEN len(rtk) >= 2 THEN
           1.0 - CAST(len(list_distinct(
             list_transform(range(1, len(rtk)),
                            i -> rtk[i] || ' ' || rtk[i+1]))) AS DOUBLE)
                 / (len(rtk) - 1)
         ELSE 0.0 END AS dup_2gram_frac,
         rtk
  FROM b
), top AS (
  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
  FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM fr, UNNEST(rtk) AS u(tok)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
), m AS (
  -- LEFT join: a NULL-text doc has no token rows but keeps its row
  -- with NULL metrics (the operator's documented NULL contract)
  SELECT f.doc_id, f.text, f.n_tokens, f.distinct_ratio, f.dup_2gram_frac,
         t.top_token_frac
  FROM fr f LEFT JOIN top t USING (doc_id)
), judged AS (
  SELECT *,
         list_sort(list_filter([
           CASE WHEN text IS NULL THEN 'null_text' END,
           CASE WHEN n_tokens < 20 THEN 'too_short' END,
           CASE WHEN n_tokens > 100000 THEN 'too_long' END,
           CASE WHEN distinct_ratio < 0.35 THEN 'low_diversity' END,
           CASE WHEN dup_2gram_frac > 0.55 THEN 'repetitive_2gram' END,
           CASE WHEN top_token_frac > 0.45 THEN 'dominant_token' END
         ], x -> x IS NOT NULL)) AS reasons
  FROM m
)
SELECT doc_id, n_tokens, distinct_ratio, dup_2gram_frac, top_token_frac,
       -- CSV-serialized for a representation-stable compare (the
       -- declared Spark query array_joins identically)
       -- COALESCE: duckdb's array_to_string is string_agg underneath,
       -- so an empty list yields NULL where Spark's array_join yields ''
       COALESCE(array_to_string(reasons, ','), '') AS reasons,
       len(reasons) = 0 AS keep
FROM judged
"""




def ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (r6): build the at-rest IVF
    index on 80% of the corpus, then upsert one batch carrying BOTH
    new vectors (vec_id % 5 == 4) and re-embedded existing ones
    (vec_id % 50 == 0, vector reversed) — the replaced ids must move to
    their new argmax cell and the untouched cells keep their files.
    The per-cell summary (counts, id sums, first-component sums) value-
    hashes the final assignment; the oracle replays the sized-centroid
    argmax over the post-upsert vector set.

    r8 (VERDICT r7 task 4): the build is SIZED — ``n_cells_target``
    holds the cell count ~constant (mod = ceil(N/target)) so assignment
    compute is O(N x target), not the fixed-mod O(N^2/97) cliff
    (measured alpha 1.41 -> -0.04 for the fixed-batch upsert).  The
    oracle derives the same mod from the build-set COUNT(*)."""
    emb = t(spark, sf_dir, "embeddings")
    with scratch_warehouse(spark, "annupsert_") as wh:
        build = emb.filter(F.col("vec_id") % 5 != 4)
        similarity.IVF.build(wh, build, n_cells_target=ANN_CELLS_TARGET)
        batch = emb.filter(F.col("vec_id") % 5 == 4).unionByName(
            emb.filter(F.col("vec_id") % 50 == 0)
            .withColumn("embedding", F.reverse("embedding"))
        )
        similarity.IVF.upsert(wh, batch)
        out = (
            similarity.IVF.cells(wh)
            .groupBy(F.col("cell_id").cast("long").alias("cell_id"))
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum("vec_id").alias("sum_ids"),
                F.sum(F.element_at("v", 1)).alias("sum_v0"),
            )
        )
        return out.localCheckpoint()


ANN_CELLS_TARGET = 64

ORACLE_ANN_UPSERT = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), m AS (
  -- sized build: mod = ceil(N_build / target), same arithmetic as
  -- IVF.build(n_cells_target={ANN_CELLS_TARGET})
  SELECT GREATEST(1, CAST(CEIL(COUNT(*) / {ANN_CELLS_TARGET}.0) AS BIGINT))
           AS cmod
  FROM embeddings WHERE vec_id % 5 <> 4
), cents AS (
  SELECT vec_id AS cell_id, v AS cv
  FROM q WHERE vec_id % (SELECT cmod FROM m) = 0 AND vec_id % 5 <> 4
), final AS (
  SELECT vec_id,
         CASE WHEN vec_id % 50 = 0 THEN list_reverse(v) ELSE v END AS v
  FROM q
), scored AS (
  SELECT f.vec_id, f.v, c.cell_id,
         ROW_NUMBER() OVER (PARTITION BY f.vec_id
                            ORDER BY CAST(list_sum(list_transform(
                              list_zip(f.v, c.cv), x -> x[1] * x[2]))
                              AS BIGINT) DESC, c.cell_id ASC) AS rn
  FROM final f CROSS JOIN cents c
)
SELECT cell_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(vec_id) AS BIGINT) AS sum_ids,
       CAST(SUM(v[1]) AS BIGINT) AS sum_v0
FROM scored WHERE rn = 1
GROUP BY cell_id
"""




def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture sampling (r6): src0 upsampled
    2.5x, src1 quartered, src2 dropped, everything else kept — one row
    per (doc, copy), exactly replayable (salted md5 coin, no RNG)."""
    from . import corpus

    return corpus.mixture_sample(
        t(spark, sf_dir, "documents"),
        rates={"src0": 2.5, "src1": 0.25, "src2": 0.0},
    )


ORACLE_MIXTURE_SAMPLE = """
WITH r AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25
                     WHEN 'src2' THEN 0.0 ELSE 1.0 END AS rate,
         ('0x' || substring(
            md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS h
  FROM documents
), n AS (
  SELECT doc_id, source,
         CAST(floor(rate) AS INT)
           + CASE WHEN h < CAST(round((rate - floor(rate)) * 1000000)
                             AS BIGINT)
                  THEN 1 ELSE 0 END AS n_copies
  FROM r
)
SELECT doc_id, source, CAST(UNNEST(range(0, n_copies)) AS INT) AS copy
FROM n WHERE n_copies > 0
"""


def corpus_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first selection under a per-language token budget (r6):
    rank by lexical diversity inside each lang, keep the prefix whose
    cumulative tokens fit 2000 — partitioned window, no global sort."""
    from . import corpus

    return corpus.token_budget_select(
        t(spark, sf_dir, "documents"), budget_tokens=2000
    )


ORACLE_TOKEN_BUDGET = r"""
WITH b AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
              AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS quality
  FROM documents
)
SELECT doc_id, lang, n_tokens, quality,
       CAST(SUM(n_tokens) OVER (
         PARTITION BY lang ORDER BY quality DESC, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_tokens,
       CAST(SUM(n_tokens) OVER (
         PARTITION BY lang ORDER BY quality DESC, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) <= 2000 AS selected
FROM b
"""




def corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one DAG (r6) — what a user
    actually ships: quality gate -> exact dedup (min-id keeps) ->
    deterministic train/val/test split, summarized per (lang, split)
    with doc/token counts and id bounds.  Every stage is an existing
    oracle-checked operator; this entry value-hash-checks their
    COMPOSITION (stage boundaries are where silent contract drift
    hides — e.g. a gate emitting dropped rows, a dedup key diverging
    from the split's id domain)."""
    from . import corpus

    docs = t(spark, sf_dir, "documents")
    gate = textstats.quality_gate(
        docs,
        thresholds={
            "min_tokens": 20,
            "max_tokens": 100_000,
            "min_distinct_ratio": 0.35,
            "max_dup_2gram_frac": 0.55,
            "max_top_token_frac": 0.45,
        },
    )
    kept = docs.join(
        gate.filter("keep").select("doc_id"), "doc_id", "left_semi"
    )
    reps = dedup.exact_dedup(kept).select("doc_id")
    surv = kept.join(reps, "doc_id", "left_semi")
    split = corpus.dataset_split(surv)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return split.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).alias("n_tokens"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


ORACLE_CURATION_E2E = r"""
WITH b AS (
  SELECT doc_id, lang, text,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
              AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS distinct_ratio,
         string_split(text, ' ') AS rtk
  FROM documents
), fr AS (
  SELECT doc_id, lang, text, n_tokens, distinct_ratio,
         CASE WHEN len(rtk) >= 2 THEN
           1.0 - CAST(len(list_distinct(
             list_transform(range(1, len(rtk)),
                            i -> rtk[i] || ' ' || rtk[i+1]))) AS DOUBLE)
                 / (len(rtk) - 1)
         ELSE 0.0 END AS dup_2gram_frac,
         rtk
  FROM b
), top AS (
  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
  FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM fr, UNNEST(rtk) AS u(tok)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
), kept AS (
  SELECT f.doc_id, f.lang, f.text, f.n_tokens
  FROM fr f JOIN top t USING (doc_id)
  WHERE f.n_tokens >= 20 AND f.n_tokens <= 100000
    AND f.distinct_ratio >= 0.35 AND f.dup_2gram_frac <= 0.55
    AND t.top_token_frac <= 0.45
), reps AS (
  SELECT MIN(doc_id) AS doc_id
  FROM kept
  GROUP BY md5(regexp_replace(trim(translate(text,
    'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')),
    '\s+', ' ', 'g'))
), surv AS (
  SELECT k.* FROM kept k JOIN reps USING (doc_id)
), labeled AS (
  SELECT *,
         CASE WHEN ('0x' || substring(
                 md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 1000000 < 900000 THEN 'train'
              WHEN ('0x' || substring(
                 md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 1000000 < 950000 THEN 'val'
              ELSE 'test' END AS split
  FROM surv
)
SELECT lang, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id
FROM labeled
GROUP BY lang, split
"""




def stream_curation_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-batch replay of the STREAMING curation
    pipeline (streaming/curation.py): the corpus arrives in four fixed
    micro-batches (doc_id % 4, in order); each batch gates on quality,
    dedups exactly against the cross-batch digest ledger (first
    arrival wins per normalized text, min id in-batch), splits
    deterministically, and appends to the sink.  The oracle replays the
    greedy batch semantics with one window: keeper = min (batch, id)
    per normalized-text digest among gate survivors."""
    from ..streaming.curation import process_curation_batch

    docs = t(spark, sf_dir, "documents")
    thresholds = {
        "min_tokens": 20,
        "max_tokens": 100_000,
        "min_distinct_ratio": 0.35,
        "max_dup_2gram_frac": 0.55,
        "max_top_token_frac": 0.45,
    }
    with scratch_warehouse(spark, "curation_") as wh:
        for b in range(4):
            process_curation_batch(
                wh, docs.filter(F.col("doc_id") % 4 == b), "curated",
                thresholds=thresholds,
            )
        return (
            wh.read("curated").select("doc_id", "lang", "split")
            .localCheckpoint()
        )


ORACLE_STREAM_CURATION = r"""
WITH b AS (
  SELECT doc_id, lang, text,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
              AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS distinct_ratio,
         string_split(text, ' ') AS rtk
  FROM documents
), fr AS (
  SELECT doc_id, lang, text, n_tokens, distinct_ratio,
         CASE WHEN rtk IS NULL THEN NULL
              WHEN len(rtk) >= 2 THEN
           1.0 - CAST(len(list_distinct(
             list_transform(range(1, len(rtk)),
                            i -> rtk[i] || ' ' || rtk[i+1]))) AS DOUBLE)
                 / (len(rtk) - 1)
         ELSE 0.0 END AS dup_2gram_frac,
         rtk
  FROM b
), top AS (
  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
  FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM fr, UNNEST(rtk) AS u(tok)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
), kept AS (
  SELECT f.doc_id, f.lang, f.text
  FROM fr f JOIN top t USING (doc_id)
  WHERE f.n_tokens >= 20 AND f.n_tokens <= 100000
    AND f.distinct_ratio >= 0.35 AND f.dup_2gram_frac <= 0.55
    AND t.top_token_frac <= 0.45
), dd AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY md5(regexp_replace(trim(translate(text,
             'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
             'abcdefghijklmnopqrstuvwxyz')), '\s+', ' ', 'g'))
           ORDER BY (doc_id % 4), doc_id
         ) AS rn
  FROM kept
)
SELECT doc_id, lang,
       CASE WHEN ('0x' || substring(
               md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 < 900000 THEN 'train'
            WHEN ('0x' || substring(
               md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM dd WHERE rn = 1
"""




def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style fingerprint-overlap near-dup pairs (r6): true
    winnowing selection (per-window minima of the rolling 5-shingle
    hash stream, window 4) inverted into a fingerprint index; pairs
    sharing >= 2 fingerprints with the shared count.  md5 family so
    the oracle replays selection and overlap exactly."""
    return textstats.winnow_dedup_pairs(
        t(spark, sf_dir, "documents"), min_shared=2, max_fp_docs=25,
        hash_fn="md5",
    )


ORACLE_WINNOW_PAIRS = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), hs AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5 THEN
           [('0x' || substring(
               md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT
            for i in generate_series(1, len(toks) - 4)]
         ELSE [] END AS hs
  FROM t
), fps AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4 THEN
           list_distinct([list_min(hs[i:i+3])
                          for i in generate_series(1, len(hs) - 3)])
         ELSE [] END AS fps
  FROM hs
), inv0 AS (
  SELECT doc_id, unnest(fps) AS fp FROM fps
), keep_fp AS (
  -- stop-fingerprint cutoff: > 25 docs = boilerplate, not signal
  SELECT fp FROM inv0 GROUP BY fp HAVING COUNT(*) <= 25
), inv AS (
  SELECT i.doc_id, i.fp FROM inv0 i JOIN keep_fp USING (fp)
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM inv a JOIN inv b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection (r8 — Xie et al. 2023 lineage):
    hashed unigram+bigram importance weights estimated between the
    clean target slice (doc_id % 5 == 0) and the raw corpus, then
    every document scored + gated on its per-feature average weight.
    The fourth leg of the quality stack (heuristic gate /
    discriminative classifier / generative perplexity /
    distribution-matching importance weights); see
    textstats.dsir_model + dsir_select for the overflow-free
    whole-bit log-ratio discipline and the 100 TB broadcast plan."""
    docs = t(spark, sf_dir, "documents")
    # fused model build + selection (r13, guide §1.2): target is
    # IN-corpus, so ONE explode + one per-(doc,bucket) count table
    # computes both distributions AND every document's score — one
    # corpus pass instead of two, bit-identical integer arithmetic
    # (textstats.dsir_model_select).
    # keep threshold -1/5 (avg weight >= -0.2): the whole-bit log-ratio
    # composition biases a homogeneous corpus ~0.2 bits negative (the
    # target slice is statistically identical to raw here), so the
    # informative fence sits just below zero; integer cross-multiplied
    # like every verdict
    return textstats.dsir_model_select(
        docs, target_pred=F.col("doc_id") % 5 == 0,
        threshold_num=-1, threshold_den=5)


ORACLE_DSIR_SELECT = r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT doc_id,
         UNNEST(list_concat(
           toks,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i+1])
                ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM tk
), feats AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(gram), 1, 15))::BIGINT % 512
              AS INT) AS bucket
  FROM grams
), tc AS (
  SELECT bucket, COUNT(*) AS c_t FROM feats
  WHERE doc_id % 5 = 0 GROUP BY bucket
), rc AS (
  SELECT bucket, COUNT(*) AS c_r FROM feats GROUP BY bucket
), tot AS (
  SELECT (SELECT COALESCE(SUM(c_t), 0) FROM tc) AS t_tot,
         (SELECT COALESCE(SUM(c_r), 0) FROM rc) AS r_tot
), model AS (
  -- term-wise whole-bit log2 ratio; every blog argument is >= 1 so
  -- blog(x) = length(bin(x)) exactly (no zero indicator needed)
  SELECT b.range AS bucket,
         CAST(length(bin(COALESCE(tc.c_t, 0) + 1))
              - length(bin(COALESCE(rc.c_r, 0) + 1))
              + length(bin((SELECT r_tot FROM tot) + 512))
              - length(bin((SELECT t_tot FROM tot) + 512))
           AS BIGINT) AS weight
  FROM range(512) b
  LEFT JOIN tc ON tc.bucket = b.range
  LEFT JOIN rc ON rc.bucket = b.range
)
SELECT f.doc_id,
       COUNT(*) AS n_feats,
       CAST(SUM(m.weight) AS BIGINT) AS dsir_weight,
       (CAST(SUM(m.weight) AS BIGINT) * 5 >= -1 * COUNT(*)) AS keep
FROM feats f JOIN model m ON m.bucket = f.bucket
GROUP BY f.doc_id
"""


def docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span stats (r8 — Lee et al. 2022
    suffix-array dedup lineage, distributed as a hashed k-gram
    inverted index): 5-gram occurrences shared by >= 2 documents,
    merged into maximal per-document spans with coverage fractions.
    See dedup.duplicate_spans for the 100 TB plan shape (one
    wordcount groupBy + keyed join-back + per-doc-partitioned
    window)."""
    return dedup.duplicate_spans(t(spark, sf_dir, "documents"),
                                 k=5, min_docs=2)


def docs_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal exact-substring dedup by excision (r9, Lee et
    al. 2022 ExactSubstr): spans covered by a 5-gram occurring in >= 2
    distinct docs survive only in the gram's canonical owner (min doc
    id) and are cut everywhere else; docs return with survivors
    rejoined in order (pipeline/corpus.py ``substring_dedup_excise``).
    Completes the substring family: ``docs_dup_spans`` detects,
    ``corpus_decontam_excise`` cuts against an EXTERNAL eval set, this
    cuts corpus-internally."""
    from . import corpus

    return corpus.substring_dedup_excise(
        t(spark, sf_dir, "documents"), k=5, min_docs=2
    )


ORACLE_SUBSTRING_DEDUP = r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL
), g AS (
  SELECT doc_id,
         UNNEST(range(0, len(toks) - 4)) AS pos,
         UNNEST(list_transform(range(0, len(toks) - 4),
           i -> ('0x' || substring(
                   md5(array_to_string(toks[i+1:i+5], ' ')),
                   1, 15))::BIGINT)) AS gh
  FROM tk WHERE len(toks) >= 5
), dup AS (
  SELECT gh, MIN(doc_id) AS owner
  FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
), cut_hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)
  WHERE g.doc_id <> dup.owner
), covered AS (
  SELECT DISTINCT doc_id, UNNEST(range(pos, pos + 5)) AS cpos
  FROM cut_hits
), tok_rows AS (
  SELECT doc_id,
         UNNEST(range(0, len(toks))) AS pos,
         UNNEST(toks) AS tok
  FROM tk
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE c.cpos IS NOT NULL) AS BIGINT)
         AS removed_tokens,
       COALESCE(string_agg(CASE WHEN c.cpos IS NULL THEN t.tok END, ' '
                           ORDER BY t.pos), '') AS clean_text
FROM tok_rows t
LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.cpos = t.pos
GROUP BY t.doc_id
"""


ORACLE_DUP_SPANS = r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL
), g AS (
  SELECT doc_id,
         UNNEST(range(0, len(toks) - 4)) AS pos,
         UNNEST(list_transform(range(0, len(toks) - 4),
           i -> ('0x' || substring(
                   md5(array_to_string(toks[i+1:i+5], ' ')),
                   1, 15))::BIGINT)) AS gh
  FROM tk WHERE len(toks) >= 5
), dup AS (
  SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)
), per_doc_hits AS (
  SELECT doc_id, COUNT(*) AS n_dup_grams FROM hits GROUP BY doc_id
), covered AS (
  SELECT DISTINCT doc_id, UNNEST(range(pos, pos + 5)) AS cpos FROM hits
), marked AS (
  SELECT doc_id, cpos,
         CASE WHEN lag(cpos) OVER (PARTITION BY doc_id ORDER BY cpos)
                     IS NULL
                   OR lag(cpos) OVER (PARTITION BY doc_id ORDER BY cpos)
                     <> cpos - 1
              THEN 1 ELSE 0 END AS span_start
  FROM covered
), spans AS (
  SELECT doc_id, COUNT(*) AS covered_tokens,
         CAST(SUM(span_start) AS BIGINT) AS n_spans
  FROM marked GROUP BY doc_id
), base AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
  FROM tk WHERE len(toks) >= 5
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(h.n_dup_grams, 0) AS n_dup_grams,
       COALESCE(s.covered_tokens, 0) AS covered_tokens,
       COALESCE(s.n_spans, 0) AS n_spans,
       CAST(COALESCE(s.covered_tokens, 0) AS DOUBLE) / b.n_tokens
         AS dup_fraction
FROM base b
LEFT JOIN per_doc_hits h ON h.doc_id = b.doc_id
LEFT JOIN spans s ON s.doc_id = b.doc_id
"""


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training pairs (r8 — DPR /
    SimCSE lineage): every 25th vector queries for its top-5
    most-similar DIFFERENT-label corpus items on the exact quantized
    integer grid.  The query slice is a FIXED 100-id workload (vec_id
    < 100), not a corpus fraction — mining cost stays linear in the
    corpus as it grows (a %-of-corpus slice would re-create the
    quadratic shape the k-scaled LSH dedup exists to avoid); see
    similarity.hard_negatives for the broadcast / per-query-window
    100 TB plan."""
    return similarity.hard_negatives(
        t(spark, sf_dir, "embeddings"), k=5,
        query_pred=F.col("vec_id") < 100,
    )


ORACLE_HARD_NEGATIVES = f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
)
SELECT query_id, neg_id, neg_label, dot_q, rank
FROM (
  SELECT query_id, neg_id, neg_label, dot_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, neg_id) AS rank
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
           c.label AS neg_label,
           CAST(list_sum(list_transform(list_zip(q.v, c.v),
             x -> x[1] * x[2])) AS BIGINT) AS dot_q
    FROM e q, e c
    WHERE q.vec_id < 100 AND c.label != q.label
  ) s
) r
WHERE rank <= 5
"""


def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training merge induction (r8 — Sennrich et al.
    2016): six merge rounds learned from the documents word-frequency
    table.  The corpus pays ONE wordcount groupBy; the merge loop
    iterates on the vocabulary-bounded word table with one argmax row
    crossing the driver per round.  See corpus.bpe_merges for the
    serialized-segmentation literal-replace discipline that makes the
    whole training loop SQL-replayable."""
    from . import corpus

    return corpus.bpe_merges(t(spark, sf_dir, "documents"), n_merges=6)


def _oracle_bpe_merges(n_merges: int = 6, mode: str = "merges") -> str:
    """Static unrolling of the BPE training loop: each round is a
    (pair-count, argmax, literal-replace) CTE triple chained off the
    previous round's word table — the SQL twin of corpus.bpe_merges.
    ``mode="apply"`` emits the tokenizer-APPLICATION query instead:
    the final round's word table IS every word's segmentation, so
    per-doc subword accounting is one join + sum (corpus.bpe_apply's
    SQL twin)."""
    rounds = []
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        rounds.append(f"""
p{r} AS MATERIALIZED (
  SELECT pr[1] AS l, pr[2] AS r_, SUM(cnt) AS c
  FROM (
    SELECT cnt,
           UNNEST(list_transform(range(1, len(syms)),
                                 i -> [syms[i], syms[i+1]])) AS pr
    FROM (SELECT cnt,
                 list_filter(string_split(s, chr(1)), x -> x <> '') AS syms
          FROM {prev})
  ) GROUP BY 1, 2
), b{r} AS MATERIALIZED (
  SELECT l, r_, c FROM p{r} ORDER BY c DESC, l, r_ LIMIT 1
), w{r} AS MATERIALIZED (
  SELECT word, cnt,
         replace(s,
                 chr(1) || (SELECT l FROM b{r}) || chr(1)
                   || (SELECT r_ FROM b{r}) || chr(1),
                 chr(1) || (SELECT l FROM b{r})
                   || (SELECT r_ FROM b{r}) || chr(1)) AS s
  FROM {prev}
)""")
        # w{n_merges} is never consumed, but keeping every round the
        # same shape keeps the generator trivial to audit
    finals = "\n  UNION ALL\n".join(
        f'  SELECT CAST({r} AS BIGINT) AS "rank", l AS "left",'
        f' r_ AS "right", CAST(c AS BIGINT) AS pair_count FROM b{r}'
        for r in range(1, n_merges + 1)
    )
    if mode == "apply":
        return f"""
WITH words AS (
  SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents WHERE text IS NOT NULL
), w0 AS (
  SELECT word, COUNT(*) AS cnt,
         chr(1) || array_to_string(
           list_transform(range(1, len(word) + 1), i -> word[i:i]),
           chr(1)) || chr(1) AS s
  FROM words WHERE word <> '' GROUP BY word
),{",".join(rounds)},
segd AS MATERIALIZED (
  SELECT word,
         CAST(len(list_filter(string_split(s, chr(1)), x -> x <> ''))
              AS BIGINT) AS n_syms
  FROM w{n_merges}
), dtok AS (
  SELECT doc_id,
         UNNEST(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, COUNT(*) AS n_words,
       CAST(SUM(n_syms) AS BIGINT) AS n_subwords,
       CAST(SUM(n_syms) AS DOUBLE) / COUNT(*) AS subwords_per_word
FROM (SELECT doc_id, word FROM dtok WHERE word <> '') t
JOIN segd USING (word)
GROUP BY doc_id
"""
    return f"""
WITH words AS (
  SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents WHERE text IS NOT NULL
), w0 AS (
  SELECT word, COUNT(*) AS cnt,
         chr(1) || array_to_string(
           list_transform(range(1, len(word) + 1), i -> word[i:i]),
           chr(1)) || chr(1) AS s
  FROM words WHERE word <> '' GROUP BY word
),{",".join(rounds)}
SELECT * FROM (
{finals}
)
"""


def knn_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (r8 — Jégou et al. 2011): train an 8-
    subspace integer-Lloyd codebook, encode the corpus to 8 codes per
    vector (the 32x-compressed index), and answer 5 queries by
    asymmetric lookup-table distance.  The oracle replays TRAIN,
    ENCODE and SEARCH end-to-end on the exact integer grid; see
    similarity.pq_train/pq_encode/pq_search for the 100 TB broadcast
    plan shapes."""
    emb = t(spark, sf_dir, "embeddings")
    # SIZED codebook (the sized IVF build lesson): ~64 codes per subspace
    # regardless of corpus size, so per-vector encode cost is constant;
    # the oracle derives the same mod from COUNT(*)
    # the codebook (bounded dim) and the codes table (the INDEX —
    # production writes it to the warehouse like the IVF index cells) are
    # lazily checkpointed: search references each twice, and without a
    # materialization barrier the train subtree re-executes per
    # reference (measured alpha 1.73 at sf3 un-checkpointed vs flat
    # stage-by-stage)
    cb = similarity.pq_train(emb, m=8, n_codes_target=64) \
        .localCheckpoint(eager=False)
    enc = similarity.pq_encode(emb, cb, m=8).localCheckpoint(eager=False)
    return similarity.pq_search(
        emb, cb, enc, query_ids=[0, 1, 2, 3, 4], k=10, m=8
    )


ORACLE_PQ_TOPK = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), dm AS MATERIALIZED (
  SELECT CAST(MAX(len(v)) / 8 AS INT) AS w FROM e
), sv AS MATERIALIZED (
  SELECT vec_id, s AS sub,
         v[s * (SELECT w FROM dm) + 1 : (s + 1) * (SELECT w FROM dm)] AS sv
  FROM e, (SELECT unnest(generate_series(0, 7)) AS s)
), mo AS MATERIALIZED (
  -- sized seeding: mod = ceil(N / 64) in exact integer arithmetic,
  -- mirroring pq_train(n_codes_target=64)
  SELECT GREATEST(1, (COUNT(*) + 63) // 64) AS md FROM embeddings
), seeds AS MATERIALIZED (
  SELECT sub, vec_id AS code, sv AS cv0 FROM sv
  WHERE vec_id % (SELECT md FROM mo) = 0
), assign AS MATERIALIZED (
  SELECT sub, code, sv FROM (
    SELECT v.sub, s.code, v.sv,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
             ORDER BY CAST(list_sum(list_transform(list_zip(v.sv, s.cv0),
                         x -> (x[1] - x[2]) * (x[1] - x[2])))
                      AS BIGINT) ASC, s.code ASC) AS rn
    FROM sv v JOIN seeds s USING (sub)
  ) WHERE rn = 1
), cb_dims AS MATERIALIZED (
  SELECT sub, code, i AS dim,
         CAST(floor(CAST(SUM(sv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
  FROM assign,
       (SELECT unnest(generate_series(1, (SELECT w FROM dm))) AS i)
  GROUP BY sub, code, i
), cb AS MATERIALIZED (
  SELECT sub, code, list(cx ORDER BY dim) AS cv
  FROM cb_dims GROUP BY sub, code
), enc AS MATERIALIZED (
  SELECT vec_id, sub, code FROM (
    SELECT v.vec_id, v.sub, c.code,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
             ORDER BY CAST(list_sum(list_transform(list_zip(v.sv, c.cv),
                         x -> (x[1] - x[2]) * (x[1] - x[2])))
                      AS BIGINT) ASC, c.code ASC) AS rn
    FROM sv v JOIN cb c USING (sub)
  ) WHERE rn = 1
), lut AS MATERIALIZED (
  SELECT q.vec_id AS query_id, q.sub, c.code,
         CAST(list_sum(list_transform(list_zip(q.sv, c.cv),
              x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS d2
  FROM sv q JOIN cb c USING (sub)
  WHERE q.vec_id IN (0, 1, 2, 3, 4)
), scored AS MATERIALIZED (
  SELECT l.query_id, n.vec_id AS neighbor_id,
         CAST(SUM(l.d2) AS BIGINT) AS adist_q
  FROM enc n JOIN lut l ON l.sub = n.sub AND l.code = n.code
  WHERE n.vec_id != l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adist_q, rank FROM (
  SELECT query_id, neighbor_id, adist_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adist_q ASC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def stream_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-batch replay of the STREAMING PQ index loop
    (streaming/pq_ingest.py): the codebook trains ONCE on the
    bootstrap slice (vec_id % 4 == 0, sized seeding) and freezes;
    batches 1-3 arrive as micro-batches, each encoding map-side
    against the frozen broadcast codebook and appending through a
    staged manifest.  Because encoding is deterministic and the
    codebook frozen, the at-rest codes table EQUALS the batch
    pq_encode of the union — which is exactly what the oracle replays
    (the stream_hll_profile associativity argument, PQ form).  Codes
    serialize to CSV for the driver's canonical compare
    (constvalues_history_pack discipline)."""
    from ..streaming.pq_ingest import (
        pq_bootstrap, pq_codes, process_pq_batch,
    )

    emb = t(spark, sf_dir, "embeddings")
    with scratch_warehouse(spark, "pq_ingest_") as wh:
        pq_bootstrap(wh, emb.filter(F.col("vec_id") % 4 == 0),
                     m=8, n_codes_target=64)
        for b in (1, 2, 3):
            process_pq_batch(
                wh, emb.filter(F.col("vec_id") % 4 == b),
                m=8, epoch_id=b, stream_gen="replay",
            )
        return (
            pq_codes(wh)
            .select(
                "vec_id",
                F.array_join("codes", ",").alias("codes_csv"),
                "epoch",
            )
            .orderBy("vec_id")
            .localCheckpoint()
        )


ORACLE_STREAM_PQ = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), dm AS MATERIALIZED (
  SELECT CAST(MAX(len(v)) / 8 AS INT) AS w FROM e
), sv AS MATERIALIZED (
  SELECT vec_id, s AS sub,
         v[s * (SELECT w FROM dm) + 1 : (s + 1) * (SELECT w FROM dm)] AS sv
  FROM e, (SELECT unnest(generate_series(0, 7)) AS s)
), boot AS MATERIALIZED (
  SELECT * FROM sv WHERE vec_id % 4 = 0
), mo AS MATERIALIZED (
  SELECT GREATEST(1, (COUNT(*) + 63) // 64) AS md
  FROM embeddings WHERE vec_id % 4 = 0
), seeds AS MATERIALIZED (
  SELECT sub, vec_id AS code, sv AS cv0 FROM boot
  WHERE vec_id % (SELECT md FROM mo) = 0
), assign AS MATERIALIZED (
  SELECT sub, code, sv FROM (
    SELECT v.sub, s.code, v.sv,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
             ORDER BY CAST(list_sum(list_transform(list_zip(v.sv, s.cv0),
                         x -> (x[1] - x[2]) * (x[1] - x[2])))
                      AS BIGINT) ASC, s.code ASC) AS rn
    FROM boot v JOIN seeds s USING (sub)
  ) WHERE rn = 1
), cb_dims AS MATERIALIZED (
  SELECT sub, code, i AS dim,
         CAST(floor(CAST(SUM(sv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
  FROM assign,
       (SELECT unnest(generate_series(1, (SELECT w FROM dm))) AS i)
  GROUP BY sub, code, i
), cb AS MATERIALIZED (
  SELECT sub, code, list(cx ORDER BY dim) AS cv
  FROM cb_dims GROUP BY sub, code
), enc AS MATERIALIZED (
  SELECT vec_id, sub, code FROM (
    SELECT v.vec_id, v.sub, c.code,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
             ORDER BY CAST(list_sum(list_transform(list_zip(v.sv, c.cv),
                         x -> (x[1] - x[2]) * (x[1] - x[2])))
                      AS BIGINT) ASC, c.code ASC) AS rn
    FROM sv v JOIN cb c USING (sub)
  ) WHERE rn = 1
)
SELECT vec_id,
       array_to_string(list(code ORDER BY sub), ',') AS codes_csv,
       CAST(CASE WHEN vec_id % 4 = 0 THEN -1 ELSE vec_id % 4 END
            AS BIGINT) AS epoch
FROM enc
GROUP BY vec_id
"""


def knn_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (r8 — the FAISS IVFADC recipe): sized coarse cells,
    sized residual product quantizer, asymmetric search over the
    probed cells' compressed rows only.  Every stage is exact integer
    arithmetic, so the oracle replays coarse assignment, residual PQ
    training, encoding, probing and ADC scoring end-to-end.  The three
    index artifacts are lazily checkpointed (the knn_pq_topk
    materialization lesson); see similarity.ivfpq_build/ivfpq_search
    for the partition-pruned 100 TB plan."""
    emb = t(spark, sf_dir, "embeddings")
    cents, cb, index = similarity.ivfpq_build(
        emb, m=8, n_cells_target=8, n_codes_target=64
    )
    cents = cents.localCheckpoint(eager=False)
    cb = cb.localCheckpoint(eager=False)
    index = index.localCheckpoint(eager=False)
    return similarity.ivfpq_search(
        emb, cents, cb, index, query_ids=[0, 1, 2, 3, 4], k=10, m=8,
        nprobe=2,
    )


def _oracle_ivfpq_chain(train: str = "TRUE") -> str:
    """The shared IVF-PQ replay chain through ``enc`` (r13 refactor:
    one source of truth for the topk, at-rest, and probe-tuning
    oracles), parameterized by a TRAINING-subset predicate (r12):
    coarse centroids, codebook seeds, and the Lloyd codebook round
    derive from rows satisfying ``train``; encoding still covers the
    whole table — exactly the at-rest index's posture (build on
    history, upsert the rest against frozen quantizers)."""
    return f"""e AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), mc AS MATERIALIZED (
  SELECT GREATEST(1, (COUNT(*) + 7) // 8) AS md FROM embeddings
  WHERE {train}
), cents AS MATERIALIZED (
  SELECT vec_id AS cell_id, v AS cv FROM e
  WHERE vec_id % (SELECT md FROM mc) = 0 AND ({train})
), cscored AS MATERIALIZED (
  SELECT e.vec_id, e.v, c.cell_id, c.cv,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY CAST(list_sum(list_transform(list_zip(e.v, c.cv),
                       x -> x[1] * x[2])) AS BIGINT) DESC,
                    c.cell_id ASC) AS rn
  FROM e CROSS JOIN cents c
), resid AS MATERIALIZED (
  SELECT vec_id, cell_id,
         list_transform(list_zip(v, cv), x -> x[1] - x[2]) AS rv
  FROM cscored WHERE rn = 1
), dm AS MATERIALIZED (
  SELECT CAST(MAX(len(rv)) / 8 AS INT) AS w FROM resid
), rsv AS MATERIALIZED (
  SELECT vec_id, cell_id, s AS sub,
         rv[s * (SELECT w FROM dm) + 1 : (s + 1) * (SELECT w FROM dm)] AS sv
  FROM resid, (SELECT unnest(generate_series(0, 7)) AS s)
), mo AS MATERIALIZED (
  SELECT GREATEST(1, (COUNT(*) + 63) // 64) AS md FROM embeddings
  WHERE {train}
), seeds AS MATERIALIZED (
  SELECT sub, vec_id AS code, sv AS cv0 FROM rsv
  WHERE vec_id % (SELECT md FROM mo) = 0 AND ({train})
), passign AS MATERIALIZED (
  SELECT sub, code, sv FROM (
    SELECT v.sub, s.code, v.sv,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
             ORDER BY CAST(list_sum(list_transform(list_zip(v.sv, s.cv0),
                         x -> (x[1] - x[2]) * (x[1] - x[2])))
                      AS BIGINT) ASC, s.code ASC) AS rn
    FROM rsv v JOIN seeds s USING (sub)
    WHERE ({train})
  ) WHERE rn = 1
), cb_dims AS MATERIALIZED (
  SELECT sub, code, i AS dim,
         CAST(floor(CAST(SUM(sv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
  FROM passign,
       (SELECT unnest(generate_series(1, (SELECT w FROM dm))) AS i)
  GROUP BY sub, code, i
), cb AS MATERIALIZED (
  SELECT sub, code, list(cx ORDER BY dim) AS cv
  FROM cb_dims GROUP BY sub, code
), enc AS MATERIALIZED (
  SELECT vec_id, cell_id, sub, code FROM (
    SELECT v.vec_id, v.cell_id, v.sub, c.code,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
             ORDER BY CAST(list_sum(list_transform(list_zip(v.sv, c.cv),
                         x -> (x[1] - x[2]) * (x[1] - x[2])))
                      AS BIGINT) ASC, c.code ASC) AS rn
    FROM rsv v JOIN cb c USING (sub)
  ) WHERE rn = 1
)"""


def _oracle_ivfpq_topk(train: str = "TRUE") -> str:
    """``_oracle_ivfpq_chain`` + the nprobe=2 probe/ADC-scoring tail.
    ``train="TRUE"`` reproduces the original full-corpus
    ORACLE_IVFPQ_TOPK byte-for-byte in semantics."""
    return f"""
WITH {_oracle_ivfpq_chain(train)}, probes AS MATERIALIZED (
  SELECT vec_id AS query_id, cell_id,
         list_transform(list_zip(v, cv), x -> x[1] - x[2]) AS qr
  FROM cscored WHERE rn <= 2 AND vec_id IN (0, 1, 2, 3, 4)
), qsub AS MATERIALIZED (
  SELECT query_id, cell_id, s AS sub,
         qr[s * (SELECT w FROM dm) + 1 : (s + 1) * (SELECT w FROM dm)]
           AS qsv
  FROM probes, (SELECT unnest(generate_series(0, 7)) AS s)
), lut AS MATERIALIZED (
  SELECT q.query_id, q.cell_id, q.sub, c.code,
         CAST(list_sum(list_transform(list_zip(q.qsv, c.cv),
              x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS d2
  FROM qsub q JOIN cb c USING (sub)
), scored AS MATERIALIZED (
  SELECT l.query_id, n.vec_id AS neighbor_id,
         CAST(SUM(l.d2) AS BIGINT) AS adist_q
  FROM enc n
  JOIN lut l ON l.cell_id = n.cell_id AND l.sub = n.sub
            AND l.code = n.code
  WHERE n.vec_id != l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adist_q, rank FROM (
  SELECT query_id, neighbor_id, adist_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adist_q ASC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


ORACLE_IVFPQ_TOPK = _oracle_ivfpq_topk()


def ann_ivfpq_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-rest IVF-PQ index lifecycle (r12, VERDICT r11 task 4 —
    the index a deployment actually serves): build on 80% of the corpus
    (``IVFPQ.build`` — code rows partitioned by cell, frozen
    centroid + codebook dims, id Bloom), ``IVFPQ.upsert`` the remaining
    20% as a fresh-id batch against the FROZEN quantizers (sorted LSM
    delta run, Bloom-gated), then ``IVFPQ.probe`` 5 queries — the scan
    prunes to the probed cells' partitions (plan-pinned in
    tests/test_plans.py) and reads ~32x-compressed codes, never raw
    vectors.  Frozen-quantizer determinism makes the probe an exact
    replay: the oracle is the proven IVF-PQ chain with training
    restricted to the build subset and encoding over everything —
    byte-identical to a full rebuild with the same quantizers (the
    equivalence pytest in tests/test_pipeline.py).  Reference analog:
    packed-history at-rest posture, powa--5.2.0.sql:2107-2123 +
    partition-pruned reads 7784-7786."""
    emb = t(spark, sf_dir, "embeddings")
    with scratch_warehouse(spark, "ivfpqidx_") as wh:
        similarity.IVFPQ.build(
            wh, emb.filter(F.col("vec_id") % 5 != 4),
            m=8, n_cells_target=8, n_codes_target=64,
        )
        similarity.IVFPQ.upsert(wh, emb.filter(F.col("vec_id") % 5 == 4))
        q = emb.filter(F.col("vec_id").isin([0, 1, 2, 3, 4]))
        return similarity.IVFPQ.probe(
            wh, q, k=10, nprobe=2
        ).localCheckpoint()


ORACLE_IVFPQ_AT_REST = _oracle_ivfpq_topk(train="vec_id % 5 <> 4")


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PURE product-quantized index (no coarse cells —
    the knn_pq_topk path: pq_train / pq_encode / pq_search) against the
    exact brute-force ground truth on the same 5 queries.

    Changed form in r11 (VERDICT r10 task 3): this row measured the
    IVF-PQ composition since r8 while carrying the PQ name — the pure-PQ
    rung had no recall row and the IVF-PQ one hid under this label.  Now
    each ladder rung's recall row matches its name: SQ / PQ / IVF / MRL /
    IVF-PQ (``ann_ivfpq_recall``) — quantization error alone here,
    cell-miss x quantization interaction in the IVF-PQ row."""
    emb = t(spark, sf_dir, "embeddings")
    exact = similarity.knn_bruteforce(emb, query_ids=[0, 1, 2, 3, 4], k=10)
    cb = similarity.pq_train(emb, m=8, n_codes_target=64) \
        .localCheckpoint(eager=False)
    enc = similarity.pq_encode(emb, cb, m=8).localCheckpoint(eager=False)
    approx = similarity.pq_search(
        emb, cb, enc, query_ids=[0, 1, 2, 3, 4], k=10, m=8
    )
    return similarity.ann_recall_at_k(exact, approx, k=10)


def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF-PQ index (r11, VERDICT r10 task 3 — the
    production-shaped rung: cell pruning x 32x compression) against the
    exact brute-force ground truth on the same 5 queries.  IVF recall x
    PQ recall does NOT predict this number — a cell miss hides a
    neighbor no quantization accuracy can recover, and residual
    quantization error reorders within probed cells — which is why the
    composed row closes the matrix rather than being derived from the
    per-rung rows.  The oracle composes the two already-proven replay
    oracles and counts the intersection."""
    emb = t(spark, sf_dir, "embeddings")
    exact = similarity.knn_bruteforce(emb, query_ids=[0, 1, 2, 3, 4], k=10)
    cents, cb, index = similarity.ivfpq_build(
        emb, m=8, n_cells_target=8, n_codes_target=64
    )
    cents = cents.localCheckpoint(eager=False)
    cb = cb.localCheckpoint(eager=False)
    index = index.localCheckpoint(eager=False)
    approx = similarity.ivfpq_search(
        emb, cents, cb, index, query_ids=[0, 1, 2, 3, 4], k=10, m=8,
        nprobe=2,
    )
    return similarity.ann_recall_at_k(exact, approx, k=10)


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the plain IVF index (nprobe=2) against the exact
    brute-force ground truth on the same 5 queries (late r10) — closes
    the recall matrix: every index in the ladder (SQ / PQ / IVF-PQ /
    MRL / now IVF itself) carries a measured recall query."""
    emb = t(spark, sf_dir, "embeddings")
    exact = similarity.knn_bruteforce(emb, query_ids=[0, 1, 2, 3, 4], k=10)
    approx = similarity.knn_ivf(emb, query_ids=[0, 1, 2, 3, 4], k=10)
    return similarity.ann_recall_at_k(exact, approx, k=10)


def ann_nprobe_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF nprobe operating-point curve (similarity.
    ivf_nprobe_tuning): recall@10 AND candidate-scan cost at nprobe =
    1 / 2 / 4 against ONE shared brute-force truth on the same 5
    queries — the ANN ladder's analog of ``dedup_lsh_tuning``, closing
    VERDICT r11 task 5.  One row per config; recall is monotone in
    nprobe by construction (exact rescoring over nested candidate
    sets), pinned by pytest."""
    return similarity.ivf_nprobe_tuning(
        t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4],
        k=10, nprobes=(1, 2, 4),
    )


def _oracle_nprobe_tuning(nprobes=(1, 2, 4), k: int = 10) -> str:
    per_config = []
    for np_ in nprobes:
        per_config.append(f"""row{np_} AS (
  SELECT CAST({np_} AS BIGINT) AS nprobe,
         (SELECT COUNT(*) FROM exact) AS n_truth,
         (SELECT COUNT(*) FROM cand WHERE cell_rank <= {np_}) AS n_cand,
         (SELECT COUNT(*)
          FROM (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY dot_q DESC, neighbor_id ASC) AS r
                  FROM cand WHERE cell_rank <= {np_})
                WHERE r <= {k}) t
          JOIN exact x ON x.query_id = t.query_id
                      AND x.neighbor_id = t.neighbor_id) AS n_hit
)""")
    rows = "\nUNION ALL\n".join(f"SELECT * FROM row{n}" for n in nprobes)
    max_np = max(nprobes)
    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), m AS (
  -- sized sampling stride: max(97, N // 64), same as the engine default
  SELECT GREATEST(97, COUNT(*) // 64) AS md FROM embeddings
), cents AS MATERIALIZED (
  SELECT vec_id AS cell_id, v AS cv FROM e
  WHERE vec_id % (SELECT md FROM m) = 0
), scored AS MATERIALIZED (
  SELECT e.vec_id, e.v, c.cell_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY CAST(list_sum(list_transform(
                              list_zip(e.v, c.cv), x -> x[1] * x[2]))
                              AS BIGINT) DESC, c.cell_id ASC) AS rn
  FROM e CROSS JOIN cents c
), assign AS MATERIALIZED (
  SELECT vec_id, v, cell_id FROM scored WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, v AS qv, cell_id, rn AS cell_rank
  FROM scored WHERE rn <= {max_np} AND vec_id IN (0, 1, 2, 3, 4)
), cand AS MATERIALIZED (
  SELECT p.query_id, a.vec_id AS neighbor_id, p.cell_rank,
         CAST(list_sum(list_transform(list_zip(p.qv, a.v),
           x -> x[1] * x[2])) AS BIGINT) AS dot_q
  FROM probes p JOIN assign a USING (cell_id)
  WHERE a.vec_id != p.query_id
), exact AS MATERIALIZED (
  -- ORACLE_KNN inlined against the shared e (a nested WITH shadowing
  -- the outer MATERIALIZED e trips a DuckDB internal error)
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(q.v, c.v),
               x -> x[1] * x[2])) AS BIGINT) DESC, c.vec_id) AS rank
    FROM e q, e c
    WHERE q.vec_id IN (0, 1, 2, 3, 4) AND c.vec_id != q.vec_id
  ) WHERE rank <= {k}
), {", ".join(per_config)}
SELECT nprobe, n_truth, n_cand, n_hit,
       CAST(n_hit AS DOUBLE) / n_truth AS recall
FROM ({rows})
"""


ORACLE_NPROBE_TUNING = _oracle_nprobe_tuning()


def ann_ivfpq_probe_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe operating-point curve over the AT-REST IVF-PQ index
    (r13, VERDICT r12 task 6 — similarity.IvfIndex.probe_tuning):
    ``ann_nprobe_tuning`` measures the in-memory assignment; a
    deployment tunes against the index it SERVES, where the cost axes
    are pruned partitions read (``n_cells``) and compressed code rows
    ADC-scored (``n_cand``) per config.  The curve reports BOTH
    ``cand_recall`` (true neighbor's cell scanned at all — provably
    monotone over the nested candidate sets, and the ceiling for any
    exact re-rank) and end-to-end ADC ``recall`` (measured, not
    assumed monotone: the approximate distance can let a closer-by-ADC
    non-neighbor displace a hit at higher nprobe).  ONE shared
    brute-force truth + one ADC scoring pass at max nprobe; each
    config is a cell_rank filter."""
    emb = t(spark, sf_dir, "embeddings")
    with scratch_warehouse(spark, "ivfpqtune_") as wh:
        similarity.IVFPQ.build(
            wh, emb, m=8, n_cells_target=8, n_codes_target=64,
        )
        return similarity.IVFPQ.probe_tuning(
            wh, emb, query_ids=[0, 1, 2, 3, 4], k=10,
            nprobes=(1, 2, 4), m=8,
        ).localCheckpoint()


def _oracle_ivfpq_probe_tuning(nprobes=(1, 2, 4), k: int = 10) -> str:
    """The at-rest probe-tuning oracle: the shared IVF-PQ chain
    (``_oracle_ivfpq_chain``, full-corpus training — matching the
    declared build) + cell_rank-carrying probes/LUT/ADC scoring + one
    metrics row per config over the SAME scored relation."""
    max_np = max(nprobes)
    per_config = []
    for np_ in nprobes:
        per_config.append(f"""row{np_} AS (
  SELECT CAST({np_} AS BIGINT) AS nprobe,
         (SELECT COUNT(*) FROM probes WHERE cell_rank <= {np_})
           AS n_cells,
         (SELECT COUNT(*) FROM exact) AS n_truth,
         (SELECT COUNT(*) FROM scored WHERE cell_rank <= {np_})
           AS n_cand,
         (SELECT COUNT(*) FROM scored s
          JOIN exact x ON x.query_id = s.query_id
                      AND x.neighbor_id = s.neighbor_id
          WHERE s.cell_rank <= {np_}) AS n_cand_hit,
         (SELECT COUNT(*)
          FROM (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY adist_q ASC, neighbor_id ASC) AS r
                  FROM scored WHERE cell_rank <= {np_})
                WHERE r <= {k}) t
          JOIN exact x ON x.query_id = t.query_id
                      AND x.neighbor_id = t.neighbor_id) AS n_hit
)""")
    rows = "\nUNION ALL\n".join(f"SELECT * FROM row{n}" for n in nprobes)
    return f"""
WITH {_oracle_ivfpq_chain()}, probes AS MATERIALIZED (
  SELECT vec_id AS query_id, cell_id, rn AS cell_rank,
         list_transform(list_zip(v, cv), x -> x[1] - x[2]) AS qr
  FROM cscored WHERE rn <= {max_np} AND vec_id IN (0, 1, 2, 3, 4)
), qsub AS MATERIALIZED (
  SELECT query_id, cell_id, cell_rank, s AS sub,
         qr[s * (SELECT w FROM dm) + 1 : (s + 1) * (SELECT w FROM dm)]
           AS qsv
  FROM probes, (SELECT unnest(generate_series(0, 7)) AS s)
), lut AS MATERIALIZED (
  SELECT q.query_id, q.cell_id, q.cell_rank, q.sub, c.code,
         CAST(list_sum(list_transform(list_zip(q.qsv, c.cv),
              x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS d2
  FROM qsub q JOIN cb c USING (sub)
), scored AS MATERIALIZED (
  SELECT l.query_id, n.vec_id AS neighbor_id,
         CAST(SUM(l.d2) AS BIGINT) AS adist_q,
         MIN(l.cell_rank) AS cell_rank
  FROM enc n
  JOIN lut l ON l.cell_id = n.cell_id AND l.sub = n.sub
            AND l.code = n.code
  WHERE n.vec_id != l.query_id
  GROUP BY 1, 2
), exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(q.v, c.v),
               x -> x[1] * x[2])) AS BIGINT) DESC, c.vec_id) AS rank
    FROM e q, e c
    WHERE q.vec_id IN (0, 1, 2, 3, 4) AND c.vec_id != q.vec_id
  ) WHERE rank <= {k}
), {", ".join(per_config)}
SELECT nprobe, n_cells, n_truth, n_cand, n_cand_hit,
       CAST(n_cand_hit AS DOUBLE) / n_truth AS cand_recall,
       n_hit,
       CAST(n_hit AS DOUBLE) / n_truth AS recall
FROM ({rows})
"""


ORACLE_IVFPQ_PROBE_TUNING = _oracle_ivfpq_probe_tuning()


ORACLE_IVF_RECALL = f"""
WITH approx AS (
{ORACLE_KNN_IVF}
), exact AS (
{ORACLE_KNN}
), hits AS (
  SELECT e.query_id, COUNT(*) AS hits
  FROM exact e
  JOIN approx a ON a.query_id = e.query_id
              AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT q.query_id,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(10 AS BIGINT) AS k,
       CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10 AS recall
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits h ON h.query_id = q.query_id
"""


def _oracle_recall_vs_exact(approx_sql: str) -> str:
    """Compose a recall@10 oracle from an already-proven approx-top-k
    replay oracle and the exact brute-force oracle (r11 — the shared
    shape of the ANN recall matrix rows)."""
    return f"""
WITH approx AS (
{approx_sql}
), exact AS (
{ORACLE_KNN}
), hits AS (
  SELECT e.query_id, COUNT(*) AS hits
  FROM exact e
  JOIN approx a ON a.query_id = e.query_id
              AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT q.query_id,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(10 AS BIGINT) AS k,
       CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10 AS recall
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits h ON h.query_id = q.query_id
"""


# changed form r11: pure PQ under the PQ name (see ann_pq_recall)
ORACLE_PQ_RECALL = _oracle_recall_vs_exact(ORACLE_PQ_TOPK)
ORACLE_IVFPQ_RECALL = _oracle_recall_vs_exact(ORACLE_IVFPQ_TOPK)


def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned 6-round BPE merges back to the corpus (r8):
    per-document subword accounting — the real token budget a trainer
    consumes (whitespace counts under-estimate it).  The segmentation
    dim is vocabulary-bounded and broadcast; see corpus.bpe_apply."""
    from . import corpus

    return corpus.bpe_apply(t(spark, sf_dir, "documents"), n_merges=6)


def corpus_decontam_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by excision (r8): the eval slice's 3-gram spans
    are CUT OUT of every corpus doc (not the whole doc dropped),
    survivors rejoined in order — the remediation step after
    corpus_decontam's flagging.  See corpus.decontaminate_excise for
    the broadcast-eval / single-join 100 TB plan."""
    from . import corpus

    docs = t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    corp = docs.filter(F.col("doc_id") % 20 != 0)
    return corpus.decontaminate_excise(corp, ev, n=3)


ORACLE_DECONTAM_EXCISE = r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL
), ev AS (
  SELECT DISTINCT
         ('0x' || substring(
            md5(array_to_string(toks[i+1:i+3], ' ')), 1, 15))::BIGINT AS gh
  FROM (SELECT toks FROM tk WHERE doc_id % 20 = 0),
       UNNEST(range(0, len(toks) - 2)) AS u(i)
  WHERE len(toks) >= 3
), g AS (
  SELECT doc_id,
         UNNEST(range(0, len(toks) - 2)) AS pos,
         UNNEST(list_transform(range(0, len(toks) - 2),
           i -> ('0x' || substring(
                   md5(array_to_string(toks[i+1:i+3], ' ')),
                   1, 15))::BIGINT)) AS gh
  FROM tk WHERE doc_id % 20 <> 0 AND len(toks) >= 3
), cov AS (
  SELECT DISTINCT doc_id, UNNEST(range(pos, pos + 3)) AS cpos
  FROM g JOIN ev USING (gh)
), tok AS (
  SELECT doc_id,
         UNNEST(toks) AS tok,
         UNNEST(range(0, len(toks))) AS pos
  FROM tk WHERE doc_id % 20 <> 0
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE c.cpos IS NOT NULL) AS BIGINT)
         AS removed_tokens,
       COALESCE(string_agg(t.tok, ' ' ORDER BY t.pos)
                  FILTER (WHERE c.cpos IS NULL), '') AS clean_text
FROM tok t
LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.cpos = t.pos
GROUP BY t.doc_id
"""


def corpus_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full four-filter quality stack voted per document (r8):
    heuristic gate (Gopher bounds), discriminative classifier
    (hashed linear model), generative perplexity (bigram LM,
    whole-bit <= 4.5 bits/token by integer cross-multiplication), and
    distribution-matching DSIR — the standard layered curation verdict
    (CCNet -> DCLM lineage).  The gate is the spine (it scores EVERY
    doc, including NULL text); filters that produced no row for a doc
    (no tokens / no bigrams) vote False.  All four filters share the
    same broadcast-dim plan shapes already pinned individually; the
    ensemble adds three keyed left joins on doc_id."""
    docs = t(spark, sf_dir, "documents")
    # same thresholds as the declared corpus_quality_gate (whose oracle
    # this ensemble's qg CTE reuses verbatim); r13: the four legs run
    # through textstats.quality_ensemble — bit-identical verdicts
    # (oracle replays the unfused SQL) from 3 corpus passes instead of
    # 6 and one per-doc exchange instead of three
    return textstats.quality_ensemble(
        docs,
        weights=textstats.classifier_weights(spark, n_buckets=512),
        target_pred=F.col("doc_id") % 5 == 0,
        thresholds={
            "min_tokens": 20,
            "max_tokens": 100_000,
            "min_distinct_ratio": 0.35,
            "max_dup_2gram_frac": 0.55,
            "max_top_token_frac": 0.45,
        },
        cls_threshold_num=-534, cls_threshold_den=2,
        dsir_threshold_num=-1, dsir_threshold_den=5,
    )


def _oracle_quality_ensemble() -> str:
    """Composes the four filters' PROVEN replay oracles as nested CTEs
    (the ann_pq_recall composition pattern) and votes them."""
    return f"""
WITH qg AS (
  SELECT doc_id, keep FROM (
{ORACLE_QUALITY_GATE}
  ) q
), cls AS (
  SELECT doc_id, quality_pass FROM (
{ORACLE_CLASSIFIER_FILTER}
  ) c
), ppl AS (
  SELECT doc_id, (sum_bits * 2 <= 9 * n_bigrams) AS ppl_pass FROM (
{ORACLE_NGRAM_PPL}
  ) p
), ds AS (
  SELECT doc_id, keep FROM (
{ORACLE_DSIR_SELECT}
  ) d
), votes AS (
  SELECT qg.doc_id,
         qg.keep AS heuristic_pass,
         COALESCE(cls.quality_pass, FALSE) AS classifier_pass,
         COALESCE(ppl.ppl_pass, FALSE) AS ppl_pass,
         COALESCE(ds.keep, FALSE) AS dsir_pass
  FROM qg
  LEFT JOIN cls ON cls.doc_id = qg.doc_id
  LEFT JOIN ppl ON ppl.doc_id = qg.doc_id
  LEFT JOIN ds ON ds.doc_id = qg.doc_id
)
SELECT *,
       CAST(CAST(heuristic_pass AS INT) + CAST(classifier_pass AS INT)
            + CAST(ppl_pass AS INT) + CAST(dsir_pass AS INT) AS BIGINT)
         AS n_passed,
       (CAST(heuristic_pass AS INT) + CAST(classifier_pass AS INT)
        + CAST(ppl_pass AS INT) + CAST(dsir_pass AS INT) = 4)
         AS keep_all
FROM votes
"""


def emb_diversity_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-style cluster diversification (r8 — Tirumala et al. 2023):
    sized coarse cells, per-cell prototypicality ranking by centroid
    dot, top quarter of every cell dropped.  See
    similarity.diversity_select for the one-window 100 TB plan."""
    return similarity.diversity_select(
        t(spark, sf_dir, "embeddings"),
        n_cells_target=8, drop_top_frac_num=1, drop_top_frac_den=4,
    )


ORACLE_DIVERSITY_SELECT = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), mc AS MATERIALIZED (
  SELECT GREATEST(1, (COUNT(*) + 7) // 8) AS md FROM embeddings
), cents AS MATERIALIZED (
  SELECT vec_id AS cell_id, v AS cv FROM e
  WHERE vec_id % (SELECT md FROM mc) = 0
), assign AS MATERIALIZED (
  SELECT vec_id, cell_id, dot_c FROM (
    SELECT e.vec_id, c.cell_id,
           CAST(list_sum(list_transform(list_zip(e.v, c.cv),
             x -> x[1] * x[2])) AS BIGINT) AS dot_c,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(e.v, c.cv),
                         x -> x[1] * x[2])) AS BIGINT) DESC,
                      c.cell_id ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
), ranked AS (
  SELECT vec_id, cell_id, dot_c,
         ROW_NUMBER() OVER (PARTITION BY cell_id
                            ORDER BY dot_c DESC, vec_id ASC) AS cell_rank,
         COUNT(*) OVER (PARTITION BY cell_id) AS cell_n
  FROM assign
)
SELECT vec_id, cell_id, dot_c, cell_rank,
       CAST(cell_n AS BIGINT) AS cell_n,
       (cell_rank > (cell_n * 1) // 4) AS keep
FROM ranked
"""


def corpus_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard (r8): the rollup an operator
    actually watches while a crawl ingests — per source: doc and
    NULL-text counts, token volume, quality-gate pass rate (declared
    thresholds), and the exact-duplicate rate (docs whose normalized
    text occurs more than once CORPUS-wide, attributed back to their
    source).  All ingredients are the already-audited shapes: one
    map-only gate pass, one digest groupBy for dup multiplicity, one
    KEYED dup-set join back on the digest, one final source rollup.

    The dup set is corpus-PROPORTIONAL at web dup rates (20-50% of
    docs), so it joins as a plain shuffle join on ``th`` (r9, VERDICT
    r8 task 2) — it co-partitions with the digest groupBy that produced
    it, so the exchange is shared; the r8 form broadcast it, which
    works at sf-bench sizes and detonates past the broadcast threshold
    at 100 TB.  Plan-pinned: tests/test_plans.py asserts no
    BroadcastExchange feeds the dup-set join."""
    from .dedup import normalized_text

    docs = t(spark, sf_dir, "documents")
    gate = textstats.quality_gate(docs, thresholds={
        "min_tokens": 20,
        "max_tokens": 100_000,
        "min_distinct_ratio": 0.35,
        "max_dup_2gram_frac": 0.55,
        "max_top_token_frac": 0.45,
    }).select("doc_id", "keep")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(
        "doc_id", "source",
        F.col("text").isNull().alias("null_text"),
        F.when(F.col("text").isNotNull(), F.size(toks))
        .otherwise(F.lit(0)).cast("long").alias("n_tokens"),
        F.md5(normalized_text(F.col("text"))).alias("th"),
    )
    dup_keys = (
        base.filter(~F.col("null_text"))
        .groupBy("th").agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select("th")
    )
    flagged = base.join(
        dup_keys.select("th", F.lit(True).alias("is_dup")).hint("shuffle_hash"),
        "th", "left",
    ).join(gate, "doc_id", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("null_text").cast("int")).cast("long")
            .alias("n_null_text"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.coalesce(F.col("keep"), F.lit(False)).cast("int"))
            .cast("long").alias("n_gate_pass"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(False)).cast("int"))
            .cast("long").alias("n_exact_dups"),
        )
        .select(
            "*",
            (F.col("n_gate_pass").cast("double") / F.col("n_docs"))
            .alias("gate_pass_rate"),
            (F.col("n_exact_dups").cast("double") / F.col("n_docs"))
            .alias("dup_rate"),
        )
    )


def _oracle_source_profile() -> str:
    """Composes the proven gate oracle with a dup-multiplicity CTE and
    rolls both up by source."""
    return f"""
WITH qg AS (
  SELECT doc_id, keep FROM (
{ORACLE_QUALITY_GATE}
  ) q
), base AS (
  SELECT doc_id, source,
         (text IS NULL) AS null_text,
         CASE WHEN text IS NOT NULL
              THEN CAST(len(string_split_regex(trim(text), '\\s+'))
                        AS BIGINT)
              ELSE 0 END AS n_tokens,
         md5(regexp_replace(trim(translate(text,
             'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
             'abcdefghijklmnopqrstuvwxyz')), '\\s+', ' ', 'g')) AS th
  FROM documents
), dups AS (
  SELECT th FROM base WHERE NOT null_text
  GROUP BY th HAVING COUNT(*) > 1
)
SELECT b.source,
       COUNT(*) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE b.null_text) AS BIGINT)
         AS n_null_text,
       CAST(SUM(b.n_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) FILTER (WHERE COALESCE(g.keep, FALSE)) AS BIGINT)
         AS n_gate_pass,
       CAST(COUNT(*) FILTER (WHERE d.th IS NOT NULL) AS BIGINT)
         AS n_exact_dups,
       CAST(COUNT(*) FILTER (WHERE COALESCE(g.keep, FALSE)) AS DOUBLE)
         / COUNT(*) AS gate_pass_rate,
       CAST(COUNT(*) FILTER (WHERE d.th IS NOT NULL) AS DOUBLE)
         / COUNT(*) AS dup_rate
FROM base b
LEFT JOIN qg g ON g.doc_id = b.doc_id
LEFT JOIN dups d ON d.th = b.th
GROUP BY b.source
"""




def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source content-overlap estimates from bounded KMV
    sketches (pipeline/sketches.kmv_set_overlap): estimated union /
    intersection cardinality and Jaccard of each source pair's distinct
    text-digest sets.  The curation question this answers at 100 TB —
    "how much of source B is already in source A?" — without ever
    joining the corpus against itself: one map-side sketch pass, then
    G^2 bounded sketch rows.  The oracle replays the k-min sketch and
    the estimator arithmetic exactly in the md5 hash family."""
    from . import sketches

    return sketches.kmv_set_overlap(
        t(spark, sf_dir, "documents"), "text", "source", k=256
    )


ORACLE_SOURCE_OVERLAP = """
WITH hashed AS MATERIALIZED (
  SELECT DISTINCT source AS g,
         ('0x' || substring(md5(text), 1, 15))::BIGINT AS h
  FROM documents WHERE text IS NOT NULL
), ranked AS (
  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
  FROM hashed
), sk AS MATERIALIZED (
  SELECT g, list(h ORDER BY h) AS mins
  FROM ranked WHERE rn <= 256 GROUP BY g
), pairs AS (
  SELECT a.g AS ga, b.g AS gb, a.mins AS ma, b.mins AS mb
  FROM sk a JOIN sk b ON a.g < b.g
), calc AS (
  SELECT ga, gb,
         list_sort(list_distinct(list_concat(ma, mb))) AS uall,
         list_sort(list_intersect(ma, mb)) AS boths
  FROM pairs
), c2 AS (
  SELECT ga, gb, len(uall) AS m_all, uall[1:256] AS u, boths FROM calc
), c3 AS (
  SELECT ga, gb, m_all, boths,
         len(list_intersect(u, boths)) AS rho_n,
         u[least(len(u), 256)] AS kth
  FROM c2
)
SELECT ga AS group_a, gb AS group_b,
       CASE WHEN m_all < 256 THEN CAST(m_all AS DOUBLE)
            ELSE 1152921504606846976.0 * 255 / CAST(kth AS DOUBLE)
       END AS est_union,
       CASE WHEN m_all < 256 THEN CAST(len(boths) AS DOUBLE)
            ELSE CAST(rho_n AS DOUBLE) / 256
                 * (1152921504606846976.0 * 255 / CAST(kth AS DOUBLE))
       END AS est_inter,
       CASE WHEN m_all < 256
            THEN CAST(len(boths) AS DOUBLE) / CAST(m_all AS DOUBLE)
            ELSE CAST(rho_n AS DOUBLE) / 256
       END AS est_jaccard
FROM c3
"""


def knn_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized ANN (the standard first rung of the ANN
    memory ladder, next to PQ's 32x): per-dimension min/max train on
    the exact integer grid, 4x-compressed codes, symmetric scaled-L2
    search over 5 probe queries.  The oracle replays TRAIN, ENCODE and
    SEARCH end-to-end in exact integer arithmetic; see
    similarity.sq_train/sq_encode/sq_search for the broadcast plan
    shapes (stats and codes are lazily checkpointed for the same
    re-execution reason as knn_pq_topk)."""
    emb = t(spark, sf_dir, "embeddings")
    stats = similarity.sq_train(emb).localCheckpoint(eager=False)
    enc = similarity.sq_encode(emb, stats).localCheckpoint(eager=False)
    return similarity.sq_search(enc, stats, query_ids=[0, 1, 2, 3, 4], k=10)


ORACLE_SQ_TOPK = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
), dm AS MATERIALIZED (SELECT MAX(len(v)) AS d FROM e),
st AS MATERIALIZED (
  SELECT i, MIN(v[i]) AS mn, (MAX(v[i]) - MIN(v[i])) // 255 AS stp
  FROM e, (SELECT unnest(generate_series(1, (SELECT d FROM dm))) AS i)
  GROUP BY i
), sl AS MATERIALIZED (
  SELECT list(mn ORDER BY i) AS mins, list(stp ORDER BY i) AS steps FROM st
), enc AS MATERIALIZED (
  -- sl/dm are cross-joined single rows: DuckDB lambdas may reference
  -- row columns but not subqueries
  SELECT vec_id,
         list_transform(range(1, d + 1),
           i -> CASE WHEN steps[i] > 0
                THEN least(255, greatest(0, (v[i] - mins[i]) // steps[i]))
                ELSE 0 END) AS codes
  FROM e, sl, dm
), scored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, dm.d + 1),
           i -> (n.codes[i] - q.codes[i]) * (n.codes[i] - q.codes[i])
                * s.steps[i] * s.steps[i]))
           AS BIGINT) AS sq_dist
  FROM enc n, enc q, sl s, dm
  WHERE q.vec_id IN (0, 1, 2, 3, 4) AND n.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, sq_dist, rank FROM (
  SELECT query_id, neighbor_id, sq_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sq_dist ASC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""




def ann_sq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the int8 scalar-quantized index against the exact
    brute-force ground truth on the same 5 queries — together with
    ann_pq_recall this quantifies the ANN memory ladder's recall cost
    (4x SQ vs 32x PQ) the way a deployment tunes it.  The oracle
    composes the two already-proven replay oracles and counts the
    intersection; the measurement itself is a bounded |q| x k
    semi-join."""
    emb = t(spark, sf_dir, "embeddings")
    exact = similarity.knn_bruteforce(emb, query_ids=[0, 1, 2, 3, 4], k=10)
    stats = similarity.sq_train(emb).localCheckpoint(eager=False)
    enc = similarity.sq_encode(emb, stats).localCheckpoint(eager=False)
    approx = similarity.sq_search(enc, stats, query_ids=[0, 1, 2, 3, 4], k=10)
    return similarity.ann_recall_at_k(exact, approx, k=10)


def stream_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-batch replay of the STREAMING at-rest BM25
    postings ledger (streaming/retrieval.py): documents arrive in four
    fixed micro-batches (doc_id % 4, in order), each appending its
    postings + corpus-stats rows through one manifest; the final top-k
    retrieval reads the ledger alone.  Disjoint-doc union (and summed
    integer stats) make the profile EQUAL to the one-shot batch BM25,
    so the oracle is the batch BM25 oracle."""
    from ..streaming.retrieval import bm25_profile, process_postings_batch

    docs = t(spark, sf_dir, "documents")
    with scratch_warehouse(spark, "bm25_ledger_") as wh:
        for bch in range(4):
            process_postings_batch(
                wh, docs.filter(F.col("doc_id") % 4 == bch), bch,
            )
        return (
            bm25_profile(wh)
            .orderBy("query_id", "rank")
            .localCheckpoint()
        )


def ann_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PREFIX-TRUNCATED embeddings (Matryoshka-style: keep
    the first 16 of 64 dims, rank by the truncated quantized dot)
    against the full-dimension exact ground truth on the same 5
    queries.  Completes the ANN memory ladder's measured recall axis:
    PQ (32x, ann_pq_recall), int8 SQ (4x, ann_sq_recall), and now
    dimension truncation (4x, zero decode cost) — the three compression
    families a deployment actually chooses between.  Truncated vectors
    are deliberately NOT renormalized: per-candidate norms would put a
    sqrt into the ranking and break exact cross-engine replay; the
    prefix-dot ranking is the documented metric and the oracle replays
    it bit-for-bit."""
    emb = t(spark, sf_dir, "embeddings")
    exact = similarity.knn_bruteforce(emb, query_ids=[0, 1, 2, 3, 4], k=10)
    trunc = emb.withColumn("embedding", F.slice("embedding", 1, 16))
    approx = similarity.knn_bruteforce(
        trunc, query_ids=[0, 1, 2, 3, 4], k=10
    )
    return similarity.ann_recall_at_k(exact, approx, k=10)


ORACLE_MRL_TOPK = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding[1:16],
           x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS v
  FROM embeddings
)
SELECT query_id, neighbor_id, dot_q, rank
FROM (
  SELECT query_id, neighbor_id, dot_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(list_zip(q.v, c.v),
             x -> x[1] * x[2])) AS BIGINT) AS dot_q
    FROM e q, e c
    WHERE q.vec_id IN (0, 1, 2, 3, 4) AND c.vec_id != q.vec_id
  ) s
) r
WHERE rank <= 10
"""

ORACLE_MRL_RECALL = f"""
WITH approx AS (
{ORACLE_MRL_TOPK}
), exact AS (
{ORACLE_KNN}
), hits AS (
  SELECT e.query_id, COUNT(*) AS hits
  FROM exact e
  JOIN approx a ON a.query_id = e.query_id
              AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT q.query_id,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(10 AS BIGINT) AS k,
       CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10 AS recall
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits h ON h.query_id = q.query_id
"""


ORACLE_SQ_RECALL = f"""
WITH approx AS (
{ORACLE_SQ_TOPK}
), exact AS (
{ORACLE_KNN}
), hits AS (
  SELECT e.query_id, COUNT(*) AS hits
  FROM exact e
  JOIN approx a ON a.query_id = e.query_id
              AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT q.query_id,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(10 AS BIGINT) AS k,
       CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10 AS recall
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits h ON h.query_id = q.query_id
"""




def corpus_ngram_ppl_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity under the interpolated absolute-discount bigram LM
    (textstats.ngram_perplexity_interpolated) — the production-shaped
    filter next to corpus_ngram_ppl's add-one baseline, trained CCNet-
    style on a small clean slice (20% of the corpus) and scoring the
    whole corpus.  The oracle replays TRAIN (fused counts, pruning,
    continuation counts) and SCORE (discount + interpolation on the
    exact common denominator, whole-bit surprisal) end-to-end."""
    from . import textstats

    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    train = docs.filter(F.col("doc_id") % 5 == 0)
    return textstats.ngram_perplexity_interpolated(docs, train_docs=train)


ORACLE_NGRAM_PPL_INTERP = r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL
), train AS (
  SELECT toks FROM tk WHERE doc_id % 5 = 0
), uni AS (
  SELECT ctx, COUNT(*) AS c_a
  FROM (SELECT UNNEST(toks) AS ctx FROM train) GROUP BY ctx
), bi AS (
  SELECT pair, COUNT(*) AS c_ab
  FROM (
    SELECT UNNEST(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i+1])) AS pair
    FROM train WHERE len(toks) >= 2
  ) GROUP BY pair HAVING COUNT(*) >= 2
), n1p AS (
  SELECT string_split(pair, ' ')[1] AS ctx, COUNT(*) AS n1
  FROM bi GROUP BY 1
), scal AS (
  SELECT SUM(c_a) AS n, COUNT(*) + 1 AS v FROM uni
), occ AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS pair,
         UNNEST(list_transform(range(1, len(toks)), i -> toks[i])) AS ctx,
         UNNEST(list_transform(range(1, len(toks)), i -> toks[i+1])) AS tok_b
  FROM tk WHERE len(toks) >= 2
), scored AS (
  SELECT o.doc_id,
         CASE WHEN u.c_a IS NOT NULL AND p.n1 IS NOT NULL
              THEN GREATEST(4 * COALESCE(b.c_ab, 0) - 3, 0)
                     * (s.n + s.v)
                   + 3 * p.n1 * (COALESCE(ub.c_a, 0) + 1)
              ELSE COALESCE(ub.c_a, 0) + 1 END AS num,
         CASE WHEN u.c_a IS NOT NULL AND p.n1 IS NOT NULL
              THEN 4 * u.c_a * (s.n + s.v)
              ELSE s.n + s.v END AS den
  FROM occ o
  LEFT JOIN bi b ON o.pair = b.pair
  LEFT JOIN uni u ON o.ctx = u.ctx
  LEFT JOIN n1p p ON o.ctx = p.ctx
  LEFT JOIN uni ub ON o.tok_b = ub.ctx
  CROSS JOIN scal s
), agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(length(bin(den // num)) - 1) AS BIGINT) AS sum_bits
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, sum_bits,
       CAST(sum_bits AS DOUBLE) / n_bigrams AS bits_per_token
FROM agg
"""


PIPELINE_QUERIES = {
    "docs_heavy_tokens": (docs_heavy_tokens, ORACLE_HEAVY_TOKENS),
    "docs_heavy_tokens_by_source": (docs_heavy_tokens_by_source,
                                    ORACLE_HEAVY_TOKENS_BY_SOURCE),
    "events_kmv_distinct": (events_kmv_distinct, ORACLE_KMV_DISTINCT),
    "events_cms_counts": (events_cms_counts, ORACLE_CMS_COUNTS),
    "stream_cms_profile": (stream_cms_profile, ORACLE_STREAM_CMS_PROFILE),
    "events_cms_windowed": (events_cms_windowed, ORACLE_CMS_WINDOWED),
    "events_kll_quantiles": (events_kll_quantiles, ORACLE_KLL_QUANTILES),
    "stream_kll_profile": (stream_kll_profile, ORACLE_KLL_QUANTILES),
    "events_hll_distinct": (events_hll_distinct, ORACLE_HLL_DISTINCT),
    "events_hll_windowed": (events_hll_windowed, ORACLE_HLL_WINDOWED),
    "dedup_exact": (dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_jaccard_pairs": (dedup_jaccard_pairs, ORACLE_JACCARD),
    "dedup_keep_list": (dedup_keep_list, ORACLE_KEEP_LIST),
    "dedup_components": (dedup_components, ORACLE_COMPONENTS),
    "dedup_components_smallvocab": (
        dedup_components_smallvocab, ORACLE_COMPONENTS),
    "dedup_minhash_lsh": (dedup_minhash_lsh, ORACLE_MINHASH_LSH),
    "dedup_simhash": (dedup_simhash, ORACLE_SIMHASH),
    "knn_cosine_topk": (knn_cosine_topk, ORACLE_KNN),
    "knn_cosine_lsh": (knn_cosine_lsh, ORACLE_KNN_LSH),
    "knn_cosine_lsh_multiprobe": (knn_cosine_lsh_multiprobe,
                                  ORACLE_KNN_LSH_MULTIPROBE),
    "knn_ivf_topk": (knn_ivf_topk, ORACLE_KNN_IVF),
    "emb_near_dup": (emb_near_dup, ORACLE_EMB_NEAR_DUP),
    "emb_near_dup_blocked": (emb_near_dup_blocked, ORACLE_EMB_NEAR_DUP),
    "knn_cosine_blocked": (knn_cosine_blocked, ORACLE_KNN),
    "multimodal_meta": (multimodal_meta, ORACLE_MULTIMODAL_META),
    "multimodal_frames": (multimodal_frames, ORACLE_MULTIMODAL_FRAMES),
    "multimodal_resize": (multimodal_resize, ORACLE_MULTIMODAL_RESIZE),
    "multimodal_features": (multimodal_features, ORACLE_MULTIMODAL_FEATURES),
    "text_quality": (text_quality, ORACLE_TEXT_QUALITY),
    "token_counts": (token_counts, ORACLE_TOKEN_COUNTS),
    "lang_id": (lang_id_heuristic, ORACLE_LANG_ID),
    "doc_fingerprints": (doc_fingerprints, ORACLE_FINGERPRINTS),
    "pii_scrub_stats": (pii_scrub_stats, ORACLE_PII_SCRUB),
    "corpus_prep_funnel": (corpus_prep_funnel, ORACLE_CORPUS_PREP),
    "corpus_pack_sequences": (corpus_pack_sequences, ORACLE_PACK_SEQUENCES),
    "corpus_group_sample": (corpus_group_sample, ORACLE_GROUP_SAMPLE),
    "corpus_stratified_sample": (corpus_stratified_sample,
                                 ORACLE_STRATIFIED_SAMPLE),
    "corpus_token_stats": (corpus_token_stats, ORACLE_TOKEN_STATS),
    "text_repetition": (text_repetition, ORACLE_REPETITION),
    "corpus_decontam": (corpus_decontam, ORACLE_DECONTAM),
    "corpus_shuffle_shards": (corpus_shuffle_shards, ORACLE_SHUFFLE_SHARDS),
    "text_tfidf_topk": (text_tfidf_topk, ORACLE_TFIDF),
    "docs_bm25_topk": (docs_bm25_topk, ORACLE_BM25),
    "docs_bm25_wand": (docs_bm25_wand, ORACLE_BM25_WAND),
    "stream_bm25_index": (stream_bm25_index, ORACLE_BM25),
    "corpus_chunks": (corpus_chunks, ORACLE_CHUNKS),
    "ivf_refined_centroids": (ivf_refined_centroids, ORACLE_IVF_REFINE),
    "stream_near_dup_ledger": (stream_near_dup_ledger,
                               ORACLE_STREAM_NEAR_DUP),
    "stream_components_ledger": (stream_components_ledger_q,
                                 ORACLE_STREAM_COMPONENTS),
    "multimodal_binary_near_dup": (multimodal_binary_near_dup,
                                   ORACLE_BINARY_NEAR_DUP),
    "emb_semantic_dedup": (emb_semantic_dedup, ORACLE_EMB_SEMANTIC_DEDUP),
    "emb_semantic_dedup_lsh": (
        emb_semantic_dedup_lsh, _oracle_emb_semantic_dedup_lsh()
    ),
    "corpus_dataset_split": (corpus_dataset_split, ORACLE_DATASET_SPLIT),
    "corpus_bloom_decontam": (corpus_bloom_decontam, ORACLE_BLOOM_DECONTAM),
    "corpus_fuzzy_decontam": (corpus_fuzzy_decontam, ORACLE_FUZZY_DECONTAM),
    "corpus_source_caps": (corpus_source_caps, ORACLE_SOURCE_CAPS),
    "corpus_curriculum": (corpus_curriculum, ORACLE_CURRICULUM),
    "corpus_pmi_bigrams": (corpus_pmi_bigrams, ORACLE_PMI_BIGRAMS),
    "corpus_classifier_filter": (corpus_classifier_filter,
                                 ORACLE_CLASSIFIER_FILTER),
    "corpus_ngram_ppl": (corpus_ngram_ppl, ORACLE_NGRAM_PPL),
    "corpus_dsir_select": (corpus_dsir_select, ORACLE_DSIR_SELECT),
    "docs_dup_spans": (docs_dup_spans, ORACLE_DUP_SPANS),
    "docs_substring_dedup": (docs_substring_dedup, ORACLE_SUBSTRING_DEDUP),
    "emb_hard_negatives": (emb_hard_negatives, ORACLE_HARD_NEGATIVES),
    "corpus_bpe_merges": (corpus_bpe_merges, _oracle_bpe_merges()),
    "corpus_bpe_encode": (corpus_bpe_encode,
                          _oracle_bpe_merges(mode="apply")),
    "corpus_decontam_excise": (corpus_decontam_excise,
                               ORACLE_DECONTAM_EXCISE),
    "corpus_quality_ensemble": (corpus_quality_ensemble,
                                _oracle_quality_ensemble()),
    "emb_diversity_select": (emb_diversity_select,
                             ORACLE_DIVERSITY_SELECT),
    "corpus_source_profile": (corpus_source_profile,
                              _oracle_source_profile()),
    "knn_pq_topk": (knn_pq_topk, ORACLE_PQ_TOPK),
    "stream_pq_index": (stream_pq_index, ORACLE_STREAM_PQ),
    "knn_ivfpq_topk": (knn_ivfpq_topk, ORACLE_IVFPQ_TOPK),
    "ann_ivfpq_at_rest": (ann_ivfpq_at_rest, ORACLE_IVFPQ_AT_REST),
    "ann_nprobe_tuning": (ann_nprobe_tuning, ORACLE_NPROBE_TUNING),
    "ann_ivfpq_probe_tuning": (ann_ivfpq_probe_tuning,
                               ORACLE_IVFPQ_PROBE_TUNING),
    "ann_pq_recall": (ann_pq_recall, ORACLE_PQ_RECALL),
    "corpus_segment_dedup": (corpus_segment_dedup, ORACLE_SEGMENT_DEDUP),
    "emb_decontam": (emb_decontam, ORACLE_EMB_DECONTAM),
    "multimodal_cdc_dedup": (multimodal_cdc_dedup, ORACLE_CDC_DEDUP),
    "stream_hll_profile": (stream_hll_profile, ORACLE_STREAM_HLL_PROFILE),
    "emb_kmeans": (emb_kmeans, _oracle_kmeans(8, 3, 40)),
    "emb_outliers": (emb_outliers, ORACLE_EMB_OUTLIERS),
    "corpus_vocab_topk": (corpus_vocab_topk, ORACLE_VOCAB_TOPK),
    "corpus_quality_gate": (corpus_quality_gate, ORACLE_QUALITY_GATE),
    "ann_index_upsert": (ann_index_upsert, ORACLE_ANN_UPSERT),
    "corpus_mixture_sample": (corpus_mixture_sample, ORACLE_MIXTURE_SAMPLE),
    "corpus_token_budget_select": (corpus_token_budget_select,
                                   ORACLE_TOKEN_BUDGET),
    "corpus_curation_e2e": (corpus_curation_e2e, ORACLE_CURATION_E2E),
    "stream_curation_corpus": (stream_curation_corpus,
                               ORACLE_STREAM_CURATION),
    "dedup_winnow_pairs": (dedup_winnow_pairs, ORACLE_WINNOW_PAIRS),
    "source_overlap_kmv": (source_overlap_kmv, ORACLE_SOURCE_OVERLAP),
    "knn_sq_topk": (knn_sq_topk, ORACLE_SQ_TOPK),
    "ann_sq_recall": (ann_sq_recall, ORACLE_SQ_RECALL),
    "ann_mrl_recall": (ann_mrl_recall, ORACLE_MRL_RECALL),
    "corpus_ngram_ppl_interp": (corpus_ngram_ppl_interp,
                                ORACLE_NGRAM_PPL_INTERP),
    "docs_rrf_hybrid": (docs_rrf_hybrid, _oracle_rrf()),
    "docs_bm25_rm3": (docs_bm25_rm3, _oracle_bm25_rm3()),
    "docs_ngram_novelty": (docs_ngram_novelty, ORACLE_NGRAM_NOVELTY),
    "emb_kmeans_profile": (emb_kmeans_profile, _oracle_kmeans_profile()),
    "emb_kmeans_semdedup": (emb_kmeans_semdedup,
                            _oracle_kmeans_semdedup()),
    "dedup_minhash_recall": (dedup_minhash_recall,
                             _oracle_minhash_recall()),
    "stream_novelty_ledger": (stream_novelty_ledger,
                              ORACLE_NGRAM_NOVELTY),
    "dedup_lsh_tuning": (dedup_lsh_tuning, _oracle_lsh_tuning()),
    "ann_ivf_recall": (ann_ivf_recall, ORACLE_IVF_RECALL),
    "events_kll_windowed": (events_kll_windowed, ORACLE_KLL_WINDOWED),
    # --- round 11 ---
    "ann_ivfpq_recall": (ann_ivfpq_recall, ORACLE_IVFPQ_RECALL),
    "corpus_pack_ffd": (corpus_pack_ffd, ORACLE_PACK_FFD),
    "stream_kmeans_ledger": (stream_kmeans_ledger,
                             _oracle_kmeans_ledger()),
    "stream_kmeans_staleness": (stream_kmeans_staleness,
                                _oracle_kmeans_staleness()),
}
