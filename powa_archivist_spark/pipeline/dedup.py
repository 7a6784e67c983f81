"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame/Catalyst plans (no Python UDFs):

- exact dedup: hash-groupBy on normalized text;
- n-gram Jaccard: shingle sets + self-join + set arithmetic;
- MinHash + LSH: k permutations via seeded xxhash64, banded bucket join —
  the scale path: candidate generation is an equi-join on (band, bucket),
  never an all-pairs cross join;
- SimHash: 64-bit-vote fingerprint + banded hamming candidate join.

Scale notes (100 TB): exact dedup is one shuffle on a 64/128-bit digest;
MinHash-LSH candidate pairs shuffle on band buckets whose cardinality is
tunable via (bands, rows-per-band); the verify step only touches candidate
pairs.  The brute-force Jaccard self-join exists as the small-data oracle
path and for verification of LSH recall.
"""

from __future__ import annotations

import logging
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

# scan-parallelism floor before the shingle/gram explode stages (r13,
# guide §2.5/§6): a one-row-group corpus is ONE split, so without it
# the tokenize/shingle/minhash map work runs on a single core; no-op
# at scale (see pipeline/spread.py).  Batch paths only — streaming
# folds pass pre-checkpointed micro-frames and skip it.
from .spread import spread

_LOG = logging.getLogger(__name__)


#: ASCII case-fold pair for normalized_text — full-Unicode lower() is
#: engine-specific (the JVM's full case mapping emits final sigma and
#: dotted-I expansions that utf8proc-based engines like DuckDB don't),
#: so a cross-engine dedup KEY must stick to the fold every engine
#: agrees on.  Production corpora wanting ICU case folding should fold
#: upstream (one pass) and feed the folded text here.
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def normalized_text(col: Column) -> Column:
    """Dedup key normalization: ASCII case-fold + whitespace collapse —
    deterministic across engines on any (incl. non-ASCII) corpus; see
    the fold-table note above."""
    return F.regexp_replace(
        F.trim(F.translate(col, _UPPER, _LOWER)), r"\s+", " "
    )


def cross_engine_hash64(*cols: Column) -> Column:
    """Deterministic 60-bit hash with an exact DuckDB twin:

        Spark:  conv(substring(md5(concat_ws(':', cols)), 1, 15), 16, 10)
        DuckDB: ('0x' || substring(md5(a || ':' || b), 1, 15))::BIGINT

    Costlier than ``xxhash64`` (cryptographic digest vs 64-bit mix), so
    the hash family of every sketch operator is pluggable: production
    defaults to ``xxhash64``; the declared query surface uses this one so
    the ENTIRE minhash/simhash/winnowing chain is replayable by the SQL
    oracle instead of rows-only checked."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", *cols)), 1, 15), 16, 10
    ).cast("long")


def _hash64(fn: str, *cols: Column) -> Column:
    """Seeded 64-bit hash in the chosen family (`xxhash64` | `md5`)."""
    if fn == "xxhash64":
        return F.xxhash64(*cols)
    if fn == "md5":
        return cross_engine_hash64(*cols)
    raise ValueError(f"unknown hash family: {fn!r}")


# universal-hash permutation family for cross-engine minhash: ONE md5 per
# shingle, then h_i = (a1*hi + a2*lo + b) mod P over its 30-bit halves —
# pure int64 arithmetic (products < 2^60, sum < 2^62, no overflow),
# identical in Spark and any SQL engine.  P is the Mersenne prime 2^61-1.
MINHASH_P = (1 << 61) - 1
_HALF_MASK = (1 << 30) - 1


def _perm_constants(num_perm: int) -> list[tuple[int, int, int]]:
    import random

    rng = random.Random(0x9E3779B9)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(1, 1 << 30),
         rng.randrange(0, MINHASH_P))
        for _ in range(num_perm)
    ]


def permuted_hash(h: Column, a1: int, a2: int, b: int) -> Column:
    """(a1 * (h >> 30) + a2 * (h & 2^30-1) + b) mod P — SQL twin:
    ``(a1*(h>>30) + a2*(h&1073741823) + b) % 2305843009213693951``."""
    hi = F.shiftrightunsigned(h, 30)
    lo = h.bitwiseAND(F.lit(_HALF_MASK))
    return (
        (F.lit(a1).cast("long") * hi + F.lit(a2).cast("long") * lo
         + F.lit(b).cast("long")) % F.lit(MINHASH_P)
    )


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized text: representative id (min) +
    multiplicity.  Single hash-groupBy shuffle on the md5 digest."""
    return (
        docs.select(
            F.md5(normalized_text(F.col(text_col))).alias("text_hash"),
            F.col(id_col),
        )
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
    )


def token_sets(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    return docs.select(
        F.col(id_col), F.array_distinct(F.split(F.col(text_col), " ")).alias("toks")
    )


def jaccard_pairs(docs: DataFrame, threshold: float = 0.8,
                  text_col: str = "text", id_col: str = "doc_id",
                  strategy: str = "prefix",
                  route_out: dict | None = None) -> DataFrame:
    """Token-set Jaccard >= threshold — two physical strategies.

    Both strategies run over DISTINCT token sets (r9): docs collapse to
    one row per distinct set (md5 of the sorted token array) before any
    pair work, every candidate/verify step touches set pairs, and doc
    pairs are expanded at the very end — same-set docs pair at jaccard
    1.0 with zero verification.  Web corpora carry heavy exact-set
    duplication (boilerplate), so the pair workload tracks distinct
    CONTENT, not crawl multiplicity.

    - **``"prefix"`` (default)**: AllPairs/PPJoin prefix filtering with
      the positional upper-bound filter — no driver-side PROBE job
      (unlike ``"probe"``), though since r13 the route eagerly
      localCheckpoints its collapse/encode frames at construction time
      (the spread seams), so building the DataFrame does launch
      checkpoint jobs.  Right for any real corpus, and the only sane
      default at 100 TB where even a bounded probe is a wasted
      full-ish scan job.
    - **``"bitmask"``**: small-vocabulary (<= 63 distinct tokens) int64
      bitmask encoding; pair verification collapses to
      ``bit_count(a & b) / bit_count(a | b)`` — O(1) per pair.
      Prefix filtering is useless there (every token is high-frequency).
      Opt-in only: callers must KNOW the vocabulary is tiny (e.g. enum
      columns); the strategy raises if the probe finds > 63 tokens.
    - **``"probe"``**: run a bounded ``limit(64)`` vocabulary probe job
      and pick between the two.  Explicit opt-in because the probe is a
      driver-blocking job (round-5: previously the ``"auto"`` default,
      inverted per VERDICT r4 so the default path launches zero collect
      jobs).  ``"auto"`` is kept as an alias of ``"probe"``.

    The probe's decision is OBSERVABLE (r7, VERDICT r6 task 5): it is
    logged — at WARNING when the probe falls off the bitmask fast path
    to PPJoin — and written into ``route_out['route']`` when the caller
    passes a dict, so growing corpora can alert when the route flips
    between runs instead of silently absorbing the step.  Declared
    queries that must hold ONE scaling exponent across decades pin
    ``strategy="prefix"`` (VERDICT r8 task 1: the probe's mid-decade
    flip measured as alpha 1.42 for ``dedup_components`` sf0.1->sf1).

    Only the prefix route pays the explicit collapse groupBy: the
    bitmask route's mask grouping IS a distinct-set collapse already
    (equal masks == equal sets), so a second digest pass there is pure
    overhead (r9 A/B: +25% on the probe-declared queries)."""
    # spread before tokenize/collapse (r13): the split +
    # array_distinct + set-digest partial agg otherwise runs in
    # the one-split scan stage (see pipeline/spread.py)
    toks = token_sets(spread(docs, id_col), text_col, id_col)
    if strategy != "prefix":
        vocab = _probe_vocab(toks, strategy)
        if vocab is not None and _masks_fit_bitmask(toks, vocab, id_col,
                                                    strategy):
            if route_out is not None:
                route_out["route"] = "bitmask"
            return _jaccard_bitmask(toks, vocab, threshold, id_col)
    if route_out is not None:
        route_out["route"] = "prefix"
    # lazy localCheckpoint: groups feeds the set-pair build AND both
    # expansion sides — without it the token_sets+collapse groupBy
    # re-executes per reference (near_dup_components applies the same
    # cut for the same reason)
    # eager checkpoint + spread (r13): same single-partition cliff as
    # _jaccard_prefix_sets' encode — the collapse shuffle AQE-coalesces
    # to one partition at bench scale and the downstream member
    # explode / set reads serialize; no-op once the collapse yields
    # >= parallelism partitions
    groups = spread(_collapse_token_sets(toks, id_col).localCheckpoint(),
                    "set_id")
    return _expand_set_pairs(
        _jaccard_prefix_sets(groups.select(F.col("set_id"), "toks"),
                             threshold),
        groups,
    )


def _probe_vocab(toks: DataFrame, strategy: str) -> list | None:
    """Run the bounded ``limit(64)`` vocabulary probe; returns the
    vocabulary when the bitmask route applies, None for the PPJoin
    fall-through (logged at WARNING — the observable cliff)."""
    if strategy not in ("bitmask", "probe", "auto"):
        raise ValueError(f"unknown jaccard strategy: {strategy!r}")
    vocab = [
        r.tok
        for r in toks.select(F.explode("toks").alias("tok"))
        .distinct()
        .limit(64)
        .collect()
    ]
    if strategy == "bitmask" or len(vocab) <= 63:
        if len(vocab) > 63:
            raise ValueError("bitmask strategy needs a <=63-token vocabulary")
        if strategy in ("probe", "auto"):
            _LOG.info(
                "jaccard_pairs probe: vocabulary <=63 tokens -> bitmask "
                "fast path"
            )
        return vocab
    _LOG.warning(
        "jaccard_pairs probe: vocabulary exceeded 63 tokens -> falling "
        "off the bitmask fast path to PPJoin prefix filtering (expect a "
        "step change in runtime if earlier runs took the bitmask route; "
        "pin strategy='prefix' for growing corpora)"
    )
    return None


#: Bitmask route admission cap on DISTINCT MASKS (r10, VERDICT r9 task
#: 3): the mask-pair stage is ``crossJoin(broadcast(groups))`` —
#: quadratic in distinct masks, which a 50-token vocabulary corpus can
#: push to millions (2^50 possible masks) even though the 63-token
#: vocabulary probe passes.  4096 masks -> <=8.4M cheap bit-op pairs.
BITMASK_MAX_MASKS = 4096


def _masks_fit_bitmask(toks: DataFrame, vocab: list[str], id_col: str,
                       strategy: str) -> bool:
    """Second bitmask admission probe: bounded
    ``distinct().limit(cap+1).count()`` on the int64 masks themselves
    (the ``_routed_emb_pairs`` count-probe pattern).  The vocabulary
    probe alone is not a safe criterion — quadratic cost is in DISTINCT
    MASKS, not vocabulary size.  Explicit ``"bitmask"`` raises above the
    cap (the caller claimed to know the corpus); ``"probe"``/``"auto"``
    fall back to PPJoin with the same observable WARNING as the
    vocabulary cliff."""
    n = (
        _build_masks(toks, vocab, id_col)
        .select("mask")
        .distinct()
        .limit(BITMASK_MAX_MASKS + 1)
        .count()
    )
    if n <= BITMASK_MAX_MASKS:
        return True
    if strategy == "bitmask":
        raise ValueError(
            f"bitmask strategy needs <= {BITMASK_MAX_MASKS} distinct "
            "masks (the mask-pair stage is quadratic in them); corpus "
            f"has > {BITMASK_MAX_MASKS}"
        )
    _LOG.warning(
        "jaccard_pairs probe: distinct masks exceeded %d -> falling off "
        "the bitmask fast path to PPJoin prefix filtering (the mask-pair "
        "crossJoin is quadratic in distinct masks; pin strategy='prefix' "
        "for growing corpora)",
        BITMASK_MAX_MASKS,
    )
    return False


def _collapse_token_sets(toks: DataFrame, id_col: str) -> DataFrame:
    """Collapse docs to one row per DISTINCT token set.

    Key = md5 of the sorted token array under a length-prefixed
    element encoding (``len(tok) ':' tok`` joined on ``0x1f``) — an
    INJECTIVE serialization, so no two distinct sets share a key even
    when tokens contain the separator byte; md5's 128 bits leave no
    birthday risk at any corpus size (a 64-bit mix colliding would
    silently merge two different sets).  NULL token arrays (NULL text)
    key to a per-doc unique sentinel: such docs have never entered the
    pair relation (explode emits nothing for them; the SQL oracle's
    NULL jaccard fails every threshold), so they must stay singleton
    groups rather than pool into one pseudo-set.  Returns
    ``(set_key, set_id = min doc id, ids = member doc ids, toks)``.

    ``ids`` is a per-group collect_list: bounded by the exact-duplicate
    multiplicity of one distinct text, the same bound the pair OUTPUT
    is quadratic in — callers that don't need doc-level pairs
    (:func:`near_dup_components`) skip this expansion entirely."""
    canon = toks.select(
        F.col(id_col),
        F.sort_array("toks").alias("stoks"),
    ).withColumn(
        "set_key",
        F.when(
            F.col("stoks").isNull(),
            F.concat(F.lit("\x00null\x00"), F.col(id_col).cast("string")),
        ).otherwise(
            F.md5(F.concat_ws(
                "\x1f",
                F.transform(
                    "stoks",
                    lambda x: F.concat(
                        F.length(x).cast("string"), F.lit(":"), x
                    ),
                ),
            ))
        ),
    )
    return canon.groupBy("set_key").agg(
        F.min(id_col).alias("set_id"),
        F.collect_list(id_col).alias("ids"),
        F.first("stoks").alias("toks"),
    )


def _expand_set_pairs(spairs: DataFrame, groups: DataFrame) -> DataFrame:
    """Distinct-set pairs -> doc pairs: cross-set pairs explode both
    member lists (carrying the once-computed overlap stats); same-set
    groups emit their intra-group pairs at jaccard 1.0 directly —
    identical sets need no verification (empty/NULL token sets are
    excluded: jaccard over an empty union is undefined and the pair
    relation has never emitted them)."""
    ga = groups.select(F.col("set_id").alias("a_sid"),
                       F.col("ids").alias("ids_a"))
    gb = groups.select(F.col("set_id").alias("b_sid"),
                       F.col("ids").alias("ids_b"))
    cross_pairs = (
        spairs.join(ga, "a_sid")
        .join(gb, "b_sid")
        .select(
            F.explode("ids_a").alias("xa"), "ids_b",
            "inter_size", "union_size", "jaccard",
        )
        .select(
            "xa", F.explode("ids_b").alias("xb"),
            "inter_size", "union_size", "jaccard",
        )
    )
    same_pairs = (
        groups.filter((F.size("ids") > 1) & (F.size("toks") > 0))
        .select(
            F.size("toks").alias("n_set"),
            F.explode("ids").alias("xa"),
            F.col("ids"),
        )
        .select("n_set", "xa", F.explode("ids").alias("xb"))
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "xa", "xb",
            F.col("n_set").alias("inter_size"),
            F.col("n_set").alias("union_size"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    both = cross_pairs.unionByName(same_pairs)
    return both.select(
        F.least("xa", "xb").alias("a_id"),
        F.greatest("xa", "xb").alias("b_id"),
        "inter_size", "union_size", "jaccard",
    )


def near_dup_components(docs: DataFrame, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id",
                        strategy: str = "prefix",
                        route_out: dict | None = None,
                        max_iters: int = 25) -> DataFrame:
    """Cluster-canonical near-dup components WITHOUT materializing doc
    pairs (r9, VERDICT r8 task 1): connected components run over the
    DISTINCT-set graph — nodes are set representatives (min doc id per
    set), edges the set-level jaccard pairs — and docs join their set's
    final label at the end through the (doc -> set) membership table.

    Equivalent to ``connected_components(jaccard_pairs(docs), docs)``
    for any threshold <= 1.0: same-set docs are mutually jaccard-1.0
    connected, and a cross-set doc pair exists iff its set pair does,
    so contracting each set to one node preserves components exactly;
    labels are min-ids either way (a set's rep IS its min member).

    What it buys at scale: a corpus with duplicate-multiplicity m pays
    pair/CC work on N/m nodes and never expands the O(m^2)-per-group
    doc pairs — on the r8 bench corpus (24% of ALL doc pairs are true
    near-dups) this is the difference between ~3M doc edges and ~2M
    set edges at sf0.1, and the gap widens with crawl duplication.

    The bitmask route (probe-selected tiny vocabulary) runs CC over
    the doc-level pairs instead: its mask grouping already collapses
    identical sets during pair generation, and the tiny corpora it
    serves don't profit from a second digest pass (r9)."""
    # spread before tokenize/collapse (r13): the split +
    # array_distinct + set-digest partial agg otherwise runs in
    # the one-split scan stage (see pipeline/spread.py)
    toks = token_sets(spread(docs, id_col), text_col, id_col)
    if strategy != "prefix":
        vocab = _probe_vocab(toks, strategy)
        if vocab is not None and _masks_fit_bitmask(toks, vocab, id_col,
                                                    strategy):
            if route_out is not None:
                route_out["route"] = "bitmask"
            # r13: CC over the MASK-contracted graph, not doc pairs.
            # The doc-pair expansion is m^2 per same-mask group —
            # measured 2.97M doc-pair rows at sf0.1 (x2 orientations
            # through the CC hook) for a graph whose quotient has at
            # most BITMASK_MAX_MASKS nodes.  Equal masks = equal token
            # sets, so contracting each mask group to its min-id rep
            # preserves components exactly (same argument as the
            # prefix route's set contraction: in-group docs pair at
            # jaccard 1.0 with their rep, and a cross-group doc pair
            # exists iff its mask pair qualifies); labels stay min doc
            # id per component (every group's min IS its rep, so the
            # component min over reps equals the min over all docs).
            # Both joins broadcast dims bounded by the admission caps.
            masks = _build_masks(toks, vocab, id_col).localCheckpoint(
                eager=False
            )
            groups = masks.groupBy("mask").agg(F.min(id_col).alias("rep"))
            ga = groups.select(F.col("mask").alias("mask_a"),
                               F.col("rep").alias("a_id"))
            gb = groups.select(F.col("mask").alias("mask_b"),
                               F.col("rep").alias("b_id"))
            inter = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
            union = F.bit_count(F.col("mask_a").bitwiseOR(F.col("mask_b")))
            mpairs = (
                ga.crossJoin(F.broadcast(gb))
                .filter(F.col("mask_a") < F.col("mask_b"))
                .filter((inter.cast("double") / union) >= threshold)
                .select("a_id", "b_id")
            )
            comp = connected_components(
                mpairs, groups.select(F.col("rep").alias(id_col)),
                id_col=id_col, max_iters=max_iters,
            )
            labeled = (
                masks.join(F.broadcast(groups), "mask")
                .join(
                    F.broadcast(
                        comp.withColumnRenamed(id_col, "rep")
                    ),
                    "rep",
                )
                .select(id_col, "component")
            )
            # r14 (ADVICE r13): NULL-text docs emit no mask row
            # (_build_masks explodes toks, and a NULL token array
            # explodes to nothing), so the masks-join output dropped
            # them — breaking the documented equivalence to
            # connected_components(jaccard_pairs(docs), docs), where
            # the prefix route keeps them as singletons via the
            # _collapse_token_sets NULL sentinel.  Union them back as
            # singleton components (their own id — they have never
            # entered the pair relation in either route).
            nulls = toks.filter(F.col("toks").isNull()).select(
                F.col(id_col), F.col(id_col).alias("component")
            )
            return labeled.unionByName(nulls)
    if route_out is not None:
        route_out["route"] = "prefix"
    # eager checkpoint + spread (r13): same single-partition cliff as
    # _jaccard_prefix_sets' encode — the collapse shuffle AQE-coalesces
    # to one partition at bench scale and the downstream member
    # explode / set reads serialize; no-op once the collapse yields
    # >= parallelism partitions
    groups = spread(_collapse_token_sets(toks, id_col).localCheckpoint(),
                    "set_id")
    spairs = _jaccard_prefix_sets(
        groups.select(F.col("set_id"), "toks"), threshold
    )
    comp = connected_components(
        spairs.select(F.col("a_sid").alias("a_id"),
                      F.col("b_sid").alias("b_id")),
        groups.select(F.col("set_id")),
        id_col="set_id",
        max_iters=max_iters,
    )
    member = groups.select("set_key", "set_id",
                           F.explode("ids").alias(id_col))
    return member.join(
        comp.select("set_id", "component"), "set_id"
    ).select(id_col, "component")


def _build_masks(toks: DataFrame, vocab: list[str],
                 id_col: str) -> DataFrame:
    """(id, int64 mask) set encoding over a <=63-token vocabulary."""
    bit_for = F.create_map(
        *[x for i, tok in enumerate(vocab) for x in (F.lit(tok), F.lit(i))]
    )
    return (
        toks.select(F.col(id_col), F.explode("toks").alias("tok"))
        .select(
            F.col(id_col),
            F.element_at(bit_for, F.col("tok")).alias("bi"),
        )
        .select(
            F.col(id_col),
            F.expr("shiftleft(CAST(1 AS BIGINT), bi)").alias("bit"),
        )
        .groupBy(id_col)
        .agg(F.bit_or("bit").alias("mask"))
    )


def _jaccard_bitmask(toks: DataFrame, vocab: list[str], threshold: float,
                     id_col: str) -> DataFrame:
    """Small-vocabulary path: int64-bitmask set encoding.

    Distinct-mask pairs are verified (C x C / 2 cheap bit ops), then
    expanded to doc pairs via the mask -> ids grouping; same-mask groups
    expand directly with jaccard 1.0.  Admission is DOUBLE-probed by the
    callers (vocabulary <= 63 AND distinct masks <= BITMASK_MAX_MASKS)
    because the mask-pair stage below is quadratic in distinct masks."""
    masks = _build_masks(toks, vocab, id_col)
    groups = masks.groupBy("mask").agg(F.collect_list(id_col).alias("ids"))
    ga = groups.select(F.col("mask").alias("mask_a"), F.col("ids").alias("ids_a"))
    gb = groups.select(F.col("mask").alias("mask_b"), F.col("ids").alias("ids_b"))
    inter = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
    union = F.bit_count(F.col("mask_a").bitwiseOR(F.col("mask_b")))
    cross_pairs = (
        ga.crossJoin(F.broadcast(gb))
        .filter(F.col("mask_a") < F.col("mask_b"))
        .withColumn("inter_size", inter)
        .withColumn("union_size", union)
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.explode("ids_a").alias("xa"),
            F.col("ids_b"),
            "inter_size",
            "union_size",
            "jaccard",
        )
        .select(
            "xa",
            F.explode("ids_b").alias("xb"),
            "inter_size",
            "union_size",
            "jaccard",
        )
    )
    same_pairs = (
        groups.filter(F.size("ids") > 1)
        .select(
            F.bit_count("mask").alias("n_set"),
            F.explode("ids").alias("xa"),
            F.col("ids"),
        )
        .select("n_set", "xa", F.explode("ids").alias("xb"))
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "xa",
            "xb",
            F.col("n_set").alias("inter_size"),
            F.col("n_set").alias("union_size"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    both = cross_pairs.unionByName(same_pairs)
    return both.select(
        F.least("xa", "xb").alias("a_id"),
        F.greatest("xa", "xb").alias("b_id"),
        "inter_size",
        "union_size",
        "jaccard",
    )


def _jaccard_prefix_sets(sets: DataFrame, threshold: float,
                         stages_out: dict | None = None) -> DataFrame:
    """Large-vocabulary path: prefix-filtered inverted index
    (AllPairs/PPJoin family) over DISTINCT token sets.

    A naive token inverted-index join blows up quadratically on frequent
    tokens (every pair of sets sharing "the" becomes a joined row).  Prefix
    filtering bounds it: order each set's tokens by ascending global
    set frequency and keep only the first ``n - ceil(t*n) + 1``
    (the rarest); any pair with jaccard >= t MUST collide inside these
    prefixes, which for near-dup thresholds are short and rare — candidate
    volume tracks true near-dup pairs, not vocabulary skew.  Two further
    prunes run BEFORE the candidate-dedup shuffle (r9):

    - length filter: ``t*n_a <= n_b`` (and symmetric) is necessary for
      ``j >= t``;
    - PPJoin positional filter: a collision at sorted positions
      ``(pa, pb)`` bounds the overlap by ``min(n_a-pa, n_b-pb) + 1``
      (the smallest common token has only non-shared tokens before it
      in BOTH sets, so all shared tokens sit at ``>= pa`` / ``>= pb``);
      rows whose bound is under the required overlap
      ``ceil(t/(1+t) * (n_a+n_b))`` are dropped.  Sound at pair level:
      a true pair's FIRST common token passes (its bound >= the actual
      overlap >= the requirement) and lies inside both prefixes (for
      ``j >= t``, overlap >= ceil(t*n) on each side), so the pair
      survives as long as any one of its collision rows does.

    Every stage after the encode works on DICTIONARY-ENCODED sets
    (r13, VERDICT r12 task 1 — the named verify-stage lever): tokens
    map to unique int64 ids once, sets become int arrays sorted by the
    global (df, tid) order, and from there the collision join keys on
    a long instead of a string while the candidate/verify joins shuffle
    int arrays instead of token-string arrays (~2.5x fewer shuffle
    bytes at sf3, where those two stages were the one above-linear
    residual — BENCH_STAGES_r12.json).  The encode also RETIRES the
    per-set rank window: the global frequency order is baked into each
    array once, so prefixes are a map-side ``slice`` + ``posexplode``.

    Plan: explode → vocab groupBy (tok → unique tid, df) → encode join
    + per-set collect/sort (ONE set-keyed shuffle of int structs) →
    map-side prefix slice → prefix self-join on int token id →
    positional+length prune → distinct pairs → int-array verify (once
    per SET pair, not per doc pair)."""
    # eager checkpoint + spread (r13, guide §2.5): AQE coalesces the
    # encode's tiny set-keyed shuffle by SIZE, so at bench scale the
    # checkpoint lands as ONE partition and the prefix explode +
    # collision join + array-intersect verify all serialize on one core
    # (measured: a 3.8 s single-task job carrying the whole cands
    # pipeline).  spread() over the materialized checkpoint reads the
    # TRUE partition count, so a corpus-scale encode (>= parallelism
    # partitions) skips the exchange entirely.
    enc = spread(_encode_token_sets(
        sets.select(F.col("set_id"), "toks")
    ).localCheckpoint(), "set_id")
    prefix = _prefix_rows(enc, threshold)
    collisions = _prefix_collisions(prefix, threshold)
    cands = collisions.distinct()
    verified = _verify_set_pairs(cands, enc, threshold)
    if stages_out is not None:
        # diagnostic seams for tools/profile_components.py (r10, VERDICT
        # r9 task 2): the lazy per-stage frames, so the profiler can
        # time/count each stage without duplicating the plan here
        stages_out["encode"] = enc
        stages_out["prefix"] = prefix
        stages_out["collisions"] = collisions
        stages_out["cands"] = cands
        stages_out["verified"] = verified
    return verified


def _encode_token_sets(sets: DataFrame) -> DataFrame:
    """Dictionary-encode distinct token sets for the PPJoin stages:
    ``(set_id, n_toks, etoks)`` where ``etoks`` is the set's tokens as
    UNIQUE int64 ids, array-sorted by the global ``(df, tid)`` order —
    ascending set frequency with the id as tie-break, the exact total
    order PPJoin prefixes require (any global total order is sound;
    rarest-first is what keeps prefixes selective).

    Exactness: ids come from ``monotonically_increasing_id`` over the
    DISTINCT-token vocabulary — unique by construction, so int-array
    intersections equal string-array intersections bit-for-bit (no
    hash-collision risk at any vocabulary size, the same bar
    :func:`_collapse_token_sets` holds for set keys).  Callers
    localCheckpoint the result: both the prefix and verify stages read
    it, and the checkpoint also pins the generated ids to one
    materialization.

    Scale shape: the vocab groupBy is bounded by DISTINCT tokens; the
    encode join shuffles the exploded corpus once (the same volume the
    old setfreq join moved) and the per-set collect is the set-keyed
    shuffle the old rank window already paid — but it now carries
    (long, long) structs, not strings, and every downstream stage
    reuses the encoded arrays."""
    inv = sets.select("set_id", F.explode("toks").alias("tok"))
    vocab = inv.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df")
    ).select("tok", "df", F.monotonically_increasing_id().alias("tid"))
    return (
        inv.join(vocab, "tok")
        .groupBy("set_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("tid")))
            ).alias("dts")
        )
        .select(
            "set_id",
            F.size("dts").alias("n_toks"),
            F.transform("dts", lambda x: x.getField("tid")).alias("etoks"),
        )
    )


def _prefix_rows(enc: DataFrame, threshold: float) -> DataFrame:
    """Inverted index restricted to each set's PPJoin prefix: the
    encoded arrays (:func:`_encode_token_sets`) are already in the
    global rarest-first order, so the prefix is a map-side ``slice`` of
    the first ``n - ceil(t*n) + 1`` ids + ``posexplode`` — no window,
    no join (r13: the old per-set rank window and its setfreq join
    retired by the encode)."""
    # Every ceil() here is a LENGTH/BOUND whose float argument may land
    # an epsilon ABOVE an exact integer (0.8 * 5 == 4.000000000000001 ->
    # ceil 5, silently shortening a prefix by one and LOSING true
    # pairs); the 1e-9 backoff makes each ceil err only toward longer
    # prefixes / weaker prunes — superset-safe.
    eps = 1e-9
    prefix_len = (
        F.col("n_toks") - F.ceil(F.col("n_toks") * threshold - eps) + 1
    ).cast("int")
    # Indexed-side prefix (PPJoin asymmetry): when the pair is joined as
    # (larger probes, smaller indexed), the required overlap
    # o >= t/(1+t)*(n_a+n_b) >= 2t/(1+t)*n_b bounds the first common
    # token's position on the indexed side by
    # n_b - ceil(2t/(1+t)*n_b) + 1 — roughly HALF the probe prefix at
    # near-dup thresholds, and collision volume is the product of the
    # two prefix lengths per token.
    index_len = F.col("n_toks") - F.ceil(
        F.col("n_toks") * (2.0 * threshold / (1.0 + threshold)) - eps
    ) + 1
    return (
        enc.select(
            "set_id", "n_toks",
            F.posexplode(
                F.slice("etoks", F.lit(1), prefix_len)
            ).alias("pos", "tid"),
        )
        .select("set_id", "n_toks", "tid",
                (F.col("pos") + 1).alias("rn"))
        .select("set_id", "n_toks", "tid", "rn",
                (F.col("rn") <= index_len).alias("in_index"))
    )


def _prefix_collisions(prefix: DataFrame, threshold: float) -> DataFrame:
    """Prefix self-join + the three pre-shuffle prunes (orientation,
    length, PPJoin positional bound); output pairs are NOT yet
    deduplicated (a pair surfaces once per shared prefix token)."""
    eps = 1e-9
    a = prefix.select(
        F.col("set_id").alias("a_sid"), F.col("n_toks").alias("n_a"),
        "tid", F.col("rn").alias("pa"),
    )
    b = prefix.filter(F.col("in_index")).select(
        F.col("set_id").alias("b_sid"), F.col("n_toks").alias("n_b"),
        "tid", F.col("rn").alias("pb"),
    )
    required = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("n_a") + F.col("n_b")) - eps
    )
    overlap_bound = (
        F.least(F.col("n_a") - F.col("pa"), F.col("n_b") - F.col("pb")) + 1
    )
    return (
        a.join(b, "tid")
        # orientation: larger set probes, smaller is indexed; equal
        # sizes tie-break on set id so each pair joins exactly once
        .filter(
            (F.col("n_a") > F.col("n_b"))
            | ((F.col("n_a") == F.col("n_b"))
               & (F.col("a_sid") < F.col("b_sid")))
        )
        .filter(
            (F.col("n_b") >= F.col("n_a") * threshold)
            & (F.col("n_a") >= F.col("n_b") * threshold)
        )
        .filter(overlap_bound >= required)
        .select(
            F.least("a_sid", "b_sid").alias("a_sid"),
            F.greatest("a_sid", "b_sid").alias("b_sid"),
        )
    )


def _verify_set_pairs(cands: DataFrame, enc: DataFrame,
                      threshold: float) -> DataFrame:
    """Exact array-intersect jaccard verify, once per candidate SET
    pair — over the dictionary-ENCODED int arrays (r13): the unique
    token ids make int intersections equal string intersections
    exactly, at a fraction of the join's shuffle bytes."""
    av = enc.select(F.col("set_id").alias("a_sid"),
                    F.col("etoks").alias("a_toks"))
    bv = enc.select(F.col("set_id").alias("b_sid"),
                    F.col("etoks").alias("b_toks"))
    joined = cands.join(av, "a_sid").join(bv, "b_sid")
    inter = F.size(F.array_intersect("a_toks", "b_toks"))
    union = F.size("a_toks") + F.size("b_toks") - inter
    return joined.select(
        "a_sid",
        "b_sid",
        inter.alias("inter_size"),
        union.alias("union_size"),
        (inter / union).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a text column (distinct).

    Guarded for texts shorter than n tokens: sequence(0, negative) would
    silently produce a *descending* index array."""
    toks = F.split(col, " ")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingle_arrays(docs: DataFrame, shingle_n: int = 3,
                   text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingle array) — the shared input of the signature and verify
    stages; compute (and cache) it ONCE per dedup pass."""
    return docs.select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh")
    )


#: (hash_fn, num_perm) -> the num_perm MIN-aggregate Columns; see the
#: r14 note in minhash_signatures.  Column objects are unresolved
#: expression trees — safe to reuse across DataFrames and sessions.
_MIN_AGG_MEMO: dict[tuple[str, int], list[Column]] = {}


def _min_agg_columns(hash_fn: str, num_perm: int) -> list[Column]:
    key = (hash_fn, num_perm)
    mins = _MIN_AGG_MEMO.get(key)
    if mins is None:
        if hash_fn == "md5":
            # one digest per shingle (projected by the caller as `h`),
            # then num_perm universal-hash permutations over it —
            # int64-only, so the md5 cost does not scale with num_perm
            # and the SQL oracle replays it verbatim
            consts = _perm_constants(num_perm)
            mins = [
                F.expr(
                    f"min(({a1}L * shiftrightunsigned(h, 30)"
                    f" + {a2}L * (h & {_HALF_MASK}L) + {b}L) % {MINHASH_P}L)"
                ).alias(f"h{i}")
                for i, (a1, a2, b) in enumerate(consts)
            ]
        else:
            mins = [
                F.expr(f"min(xxhash64({i}, shingle))").alias(f"h{i}")
                for i in range(num_perm)
            ]
        _MIN_AGG_MEMO[key] = mins
    return mins


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_df: DataFrame | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """num_perm minhash values per doc via seeded hashes over shingles.

    h_i(doc) = min over shingles of hash(seed_i, shingle) — a standard
    tabulation-style permutation family, entirely JVM-side (no UDFs).
    ``hash_fn`` picks the family: ``xxhash64`` (prod default) or ``md5``
    (cross-engine, SQL-oracle replayable — :func:`cross_engine_hash64`).

    Plan shape: explode shingles → one groupBy with num_perm plain MIN
    aggregates (map-side partial agg, narrow codegen).  The tempting
    alternative — num_perm × array_min(transform(...)) nested expressions —
    generates pathologically large Janino code (~90 s for 500 docs) and
    would fall out of whole-stage codegen at scale.

    ``shingle_df`` lets the caller pass a (cached) :func:`shingle_arrays`
    frame so the shingling scan is shared with the verify stage."""
    sh_arr = (
        shingle_df
        if shingle_df is not None
        # scan-parallelism floor (r13, guide §2.5/§6): a one-row-group
        # corpus is ONE split, and the explode + num_perm MIN partial
        # aggs below run in the SCAN stage — serial without it.  Only
        # on the derive-our-own-shingles batch path: streaming folds
        # pass their (tiny, checkpointed) shingle_df and must not pay
        # a 32-way exchange per micro-batch.
        else shingle_arrays(spread(docs, id_col), shingle_n, text_col,
                            id_col)
    )
    sh = sh_arr.select(F.col(id_col), F.explode("sh").alias("shingle"))
    # r13 (guide §1.2 driver-side cost): the num_perm aggregate columns
    # are built as ONE F.expr SQL string each — the Column-DSL form made
    # ~6,200 py4j round-trips per construction (~1.5 s of driver time,
    # paid per streaming fold and per batch query; measured with
    # cProfile: permuted_hash alone 0.83 s).  The parsed expressions are
    # arithmetic-identical (same literals, same long ops), so results —
    # and the SQL oracle — are unchanged.
    # r14: the column LIST is additionally memoized per (hash_fn,
    # num_perm) — it is a pure function of the config (unresolved
    # expressions, reusable across frames), and the ~num_perm F.expr
    # py4j parses were still paid once per streaming fold.
    if hash_fn == "md5":
        sh = sh.select(
            F.col(id_col),
            F.expr(
                "cast(conv(substring(md5(shingle), 1, 15), 16, 10)"
                " as bigint)"
            ).alias("h"),
        )
    mins = _min_agg_columns(hash_fn, num_perm)
    return (
        sh.groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig"),
        )
    )


def minhash_bands(
    docs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_df: DataFrame | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, band, bucket) rows — the banded LSH key material, shared by
    the batch candidate join and the streaming near-dup ledger (which
    persists these rows per kept corpus doc).

    (num_perm, bands) is user-facing knob surface (``lsh_tuning`` sweeps
    it), so non-divisible configs raise instead of silently dropping the
    trailing ``num_perm % bands`` signature values — a (32, 5) sweep
    point would otherwise chart a 30-perm curve under a 32-perm label
    (ADVICE r10)."""
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}):"
            f" a non-divisible config silently ignores the trailing"
            f" {num_perm % bands} signature values"
        )
    sig = minhash_signatures(
        docs, num_perm, shingle_n, text_col, id_col,
        shingle_df=shingle_df, hash_fn=hash_fn,
    )
    return _band_rows(sig, num_perm, bands, hash_fn, id_col)


def _band_rows(sig: DataFrame, num_perm: int, bands: int,
               hash_fn: str = "xxhash64",
               id_col: str = "doc_id") -> DataFrame:
    """(id, band, bucket) rows from a signature frame — the banding
    stage of :func:`minhash_bands`, factored (r11) so the stage
    profiler (tools/profile_multimodal.py) times the SHIPPED plan over
    a materialized signature input instead of re-deriving it."""
    r = num_perm // bands

    # r13: one F.expr per banding generator instead of bands x (slice +
    # hash + struct) Column-DSL trees — same py4j-round-trip cut as
    # minhash_signatures (the construction is per fold / per sweep
    # config); parsed expressions are identical arithmetic, so buckets
    # and the SQL oracle are unchanged.
    def bucket_sql(b: int) -> str:
        sl = f"slice(sig, {b * r + 1}, {r})"
        if hash_fn == "xxhash64":
            return f"xxhash64({sl})"
        return (
            "cast(conv(substring(md5(concat_ws('|',"
            f" transform({sl}, x -> cast(x as string)))), 1, 15),"
            " 16, 10) as bigint)"
        )

    gen = "explode(array({})) as bb".format(",".join(
        f"named_struct('band', {b}, 'bucket', {bucket_sql(b)})"
        for b in range(bands)
    ))
    return sig.select(
        F.col(id_col), F.expr(gen),
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    docs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_df: DataFrame | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Banded LSH: equal band-slice -> candidate pair.

    rows-per-band r = num_perm/bands; collision probability for similarity
    s is 1-(1-s^r)^bands.  Shuffle key = (band, hash(slice)) — bounded
    bucket cardinality, no cross join anywhere."""
    banded = minhash_bands(
        docs, num_perm, bands, shingle_n, text_col, id_col,
        shingle_df=shingle_df, hash_fn=hash_fn,
    )
    return _band_collisions(banded, id_col).distinct()


def _band_collisions(banded: DataFrame,
                     id_col: str = "doc_id") -> DataFrame:
    """Pre-distinct candidate pairs from (id, band, bucket) rows — the
    bucket self-join stage of :func:`minhash_lsh_candidates`, factored
    (r11) for the stage profiler."""
    a = banded.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("a_id")
    )
    b = banded.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("b_id")
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )


def lsh_truth_pairs(docs: DataFrame, threshold: float = 0.8,
                    shingle_n: int = 3, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-Jaccard ground-truth pairs for the LSH evals: each
    shingle glued into a single token (space -> \\x01, injective on real
    token streams) so :func:`jaccard_pairs`'s distinct-set PPJoin
    computes exact SHINGLE jaccard with all its prefix/length prunes;
    shingle-less docs (< n tokens) are outside the relation, exactly as
    they are invisible to LSH."""
    # spread before shingling: the glue + downstream PPJoin token_sets
    # map work otherwise runs in the one-split scan stage (r13).  The
    # shingle-bearing filter is applied BELOW the spread as its exact
    # raw-column equivalent (size(sh) > 0 iff the doc has >= n tokens;
    # NULL text fails both forms), so it pushes to the scan as a cheap
    # split-length check instead of dragging the full shingle transform
    # down with it.
    eligible = docs.filter(
        F.size(F.split(F.col(text_col), " ")) >= shingle_n
    )
    sh = shingle_arrays(spread(eligible, id_col), shingle_n, text_col,
                        id_col)
    glued = sh.select(
        F.col(id_col),
        F.concat_ws(
            " ", F.transform("sh", lambda s: F.translate(s, " ", "\x01"))
        ).alias(text_col),
    )
    return jaccard_pairs(glued, threshold=threshold, text_col=text_col,
                         id_col=id_col, strategy="prefix")


def lsh_tuning(
    docs: DataFrame,
    band_configs: Sequence[tuple[int, int]] = ((32, 4), (32, 8), (32, 16)),
    threshold: float = 0.8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The LSH tuning curve: measured recall/precision per
    (num_perm, bands) configuration against ONE shared exact truth
    relation — more bands/fewer rows-per-band raises collision
    probability (recall up, precision down), and this sweep is how a
    deployment picks its point on that curve.  One row per config.

    The minhash SIGNATURE is computed once per distinct num_perm and
    shared across its band configs (r13, guide §1.2 remove-redundant-
    work): banding is a cheap slice+hash over the signature
    (:func:`_band_rows`), while the signature itself is the expensive
    shingle-explode + num_perm-MIN aggregate — the default sweep holds
    num_perm fixed at 32, so this cuts the signature work 3x with
    bit-identical candidates per config."""
    from functools import reduce

    truth = lsh_truth_pairs(docs, threshold, shingle_n, text_col,
                            id_col).localCheckpoint(eager=False)
    sigs: dict[int, DataFrame] = {}
    frames = []
    for num_perm, bands in band_configs:
        if num_perm % bands != 0:
            # keep minhash_bands' non-divisible-config contract
            raise ValueError(
                f"num_perm ({num_perm}) must be divisible by bands"
                f" ({bands}): a non-divisible config silently ignores"
                f" the trailing {num_perm % bands} signature values"
            )
        if num_perm not in sigs:
            sigs[num_perm] = minhash_signatures(
                docs, num_perm, shingle_n, text_col, id_col,
                hash_fn=hash_fn,
            ).localCheckpoint(eager=False)
        cands = _band_collisions(
            _band_rows(sigs[num_perm], num_perm, bands, hash_fn, id_col),
            id_col,
        ).distinct()
        r = minhash_lsh_recall(
            docs, threshold=threshold, num_perm=num_perm, bands=bands,
            shingle_n=shingle_n, text_col=text_col, id_col=id_col,
            hash_fn=hash_fn, truth=truth, cands=cands,
        )
        frames.append(r.select(
            F.lit(num_perm).cast("long").alias("num_perm"),
            F.lit(bands).cast("long").alias("bands"),
            "n_truth", "n_cand", "n_hit", "recall", "precision",
        ))
    return reduce(lambda a, b: a.unionByName(b), frames)


def minhash_lsh_recall(
    docs: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    truth: DataFrame | None = None,
    cands: DataFrame | None = None,
) -> DataFrame:
    """Measured candidate recall/precision of the banded MinHash-LSH
    against exact shingle-Jaccard ground truth — the dedup family's
    analog of the ANN family's recall@k evals (`ann_pq_recall`,
    `ann_sq_recall`): the knob sheet (num_perm, bands) is a
    probability-of-collision trade, and a deployment tunes it against a
    MEASURED number, not the 1-(1-s^r)^b formula.  ``truth`` lets a
    tuning sweep (`lsh_tuning`) compute the expensive exact relation
    ONCE and share it across band configurations.

    Ground truth reuses the production exact-pair machinery: each
    shingle is glued into a single token (space -> \\x01, injective on
    real token streams), so :func:`jaccard_pairs`'s distinct-set PPJoin
    computes exact SHINGLE jaccard — the quantity LSH approximates —
    with all its prefix/length prunes.  Shingle-less docs (< n tokens)
    are outside both relations, exactly as they are invisible to LSH.

    Output is ONE row: truth/candidate/hit counts + recall + precision.
    All three count aggregates are scalar; the joins are keyed on
    (a_id, b_id)."""
    if truth is None:
        truth = lsh_truth_pairs(docs, threshold, shingle_n,
                                text_col, id_col)
    truth = truth.select("a_id", "b_id").localCheckpoint(eager=False)
    if cands is None:
        # ``cands`` lets a tuning sweep (`lsh_tuning`) derive each
        # config's candidates from ONE shared signature frame (r13)
        cands = minhash_lsh_candidates(
            docs, num_perm, bands, shingle_n, text_col, id_col,
            hash_fn=hash_fn,
        )
    cands = cands.localCheckpoint(eager=False)
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cands.agg(F.count(F.lit(1)).alias("n_cand"))
    n_hit = truth.join(cands, ["a_id", "b_id"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_truth.crossJoin(n_cand).crossJoin(n_hit)
        .select(
            "n_truth", "n_cand", "n_hit",
            F.when(
                F.col("n_truth") > 0,
                F.col("n_hit").cast("double") / F.col("n_truth"),
            ).alias("recall"),
            F.when(
                F.col("n_cand") > 0,
                F.col("n_hit").cast("double") / F.col("n_cand"),
            ).alias("precision"),
        )
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard (two-phase:
    cheap candidate join, exact check only on candidates).

    The shingle frame is computed once, cached, and shared between the
    signature stage and the two verify sides — without the cache the
    shingling scan (split + transform + distinct per doc) runs three
    times and the verify joins recompute it under the shuffle.  The cache
    is scoped to this plan's first materialization and LRU-evicted; at
    100 TB the same role is played by materializing shingle arrays to a
    staging table once per corpus pass.

    Callers that already hold a (persisted) shingle frame pass it via
    ``shingle_df`` — repeated invocations (a streaming loop) would
    otherwise accumulate one internal persist per call."""
    sh = (
        shingle_df
        if shingle_df is not None
        # spread before shingling (r13): the persisted frame is built
        # by a one-split scan stage otherwise — see minhash_signatures
        else shingle_arrays(spread(docs, id_col), shingle_n, text_col,
                            id_col).persist()
    )
    cands = minhash_lsh_candidates(
        docs, num_perm, bands, shingle_n, text_col, id_col,
        shingle_df=sh, hash_fn=hash_fn,
    )
    return _verify_shingle_pairs(cands, sh, threshold, id_col)


def _verify_shingle_pairs(cands: DataFrame, sh: DataFrame,
                          threshold: float,
                          id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-Jaccard verify of candidate pairs — the verify
    stage of :func:`minhash_dedup_pairs`, factored (r11) for the stage
    profiler.

    LENGTH PRUNE FIRST (r11, VERDICT r10 task 1 — what the stage
    decomposition exposed): LSH candidate volume tracks cluster
    structure, not true pairs, and fetching BOTH full shingle arrays
    for every candidate made the verify join rows wide enough to spill
    (measured alpha 2.7 in time at alpha 1.0 in output rows, sf1->sf3).
    jaccard >= t requires min(|a|,|b|)/max(|a|,|b|) >= t, so candidates
    join the NARROW (id, set size) dim first and mismatched-size pairs
    drop before any array travels; the eps keeps boundary pairs (an
    IEEE product can land above the exact rational) — pruned pairs can
    never reach the threshold, so the output is unchanged.  The eps is
    SIZE-RELATIVE (r12): the rounding error of ``a_n * threshold``
    scales with the set size (~2.2e-16 * a_n), so a fixed 1e-9 would
    wrongly prune an exactly-at-boundary pair once sets pass ~4.5M
    shingles; 1e-9 * max(a_n, b_n) covers the float error at any size
    while still pruning every pair that is measurably below it."""
    sizes = sh.select(F.col(id_col), F.size("sh").alias("n"))
    a_sz = sizes.select(F.col(id_col).alias("a_id"), F.col("n").alias("a_n"))
    b_sz = sizes.select(F.col(id_col).alias("b_id"), F.col("n").alias("b_n"))
    eps = F.greatest("a_n", "b_n") * F.lit(1e-9)
    pruned = (
        cands.join(a_sz, "a_id").join(b_sz, "b_id")
        .filter(
            (F.col("b_n") >= F.col("a_n") * threshold - eps)
            & (F.col("a_n") >= F.col("b_n") * threshold - eps)
        )
        .select("a_id", "b_id")
    )
    a = sh.select(F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh"))
    b = sh.select(F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh"))
    joined = pruned.join(a, "a_id").join(b, "b_id")
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    return (
        joined.select(
            "a_id", "b_id", (inter / union).alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)
    )


def near_dup_keep(docs: DataFrame, threshold: float = 0.8,
                  text_col: str = "text", id_col: str = "doc_id",
                  strategy: str = "prefix") -> DataFrame:
    """The keep/drop decision a pipeline consumes: greedy min-id rule —
    a document is DROPPED iff it has a near-duplicate partner with a
    smaller id (so every near-dup pair keeps exactly its smaller member;
    cluster-transitive cases keep the component minimum or a superset).

    One anti-join from the pair list; the pair list itself comes from
    ``jaccard_pairs`` (``strategy`` passes through — ``"prefix"`` default
    launches no driver probe job; see jaccard_pairs)."""
    dropped = (
        jaccard_pairs(docs, threshold, text_col, id_col, strategy=strategy)
        .select(F.col("b_id").alias(id_col))
        .distinct()
    )
    return docs.select(id_col).join(dropped, id_col, "left_anti")


def min_label_union_find(edge_rows) -> dict[int, int]:
    """Exact min-label union-find over a DRIVER-side edge list: every
    endpoint maps to the smallest id reachable from it — the same fixed
    point the distributed min-label propagation loop converges to.
    Shared by :func:`connected_components`' count-probed driver route
    and the streaming components fold (which applies it to the
    contracted per-batch delta graph).  ``edge_rows`` is any iterable of
    objects with ``src``/``dst`` attributes; duplicate and self edges
    are tolerated.  Returns {node: label} for every endpoint (including
    identity labels)."""
    parent: dict[int, int] = {}

    def _find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    seen: set[int] = set()
    for r in edge_rows:
        a, b = r.src, r.dst
        seen.add(a)
        seen.add(b)
        ra, rb = _find(a), _find(b)
        if ra != rb:
            if ra > rb:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: _find(n) for n in seen}


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over the near-dup pair graph by iterative
    min-label propagation: every node's label converges to the smallest
    id reachable from it (the component's canonical representative).

    The greedy pair rule (:func:`near_dup_keep`) can over-keep on
    transitive chains (b~a dropped, c~b kept because c's only partner b
    is gone); component labeling makes dedup CLUSTER-canonical: keep
    exactly one doc (the min id) per component.

    Plan per iteration: (1) neighbor-min — symmetric-edge join against
    current labels + min-aggregation, (2) pointer jump — labels joined
    with themselves so every node adopts its label's own label.  The
    jump doubles propagation distance each round, so convergence is
    O(log diameter) iterations, not O(diameter).  Each round ends in
    ``localCheckpoint`` — mandatory for iterative DataFrame algorithms:
    without it the logical plan nests one full copy of itself per
    iteration and Catalyst planning alone blows the driver heap long
    before the data does.  All joins/aggs are keyed on node id (bounded
    shuffles); the driver holds only a one-value convergence probe.

    Two properties keep the loop lean:

    - The symmetric edge table is built with ONE scan of ``pairs`` (an
      explode of both orientations), not a self-union — a union scans
      the upstream pair plan twice, and when ``pairs`` is an expensive
      unmaterialized similarity join that doubles its cost.  Duplicate
      input pairs are tolerated (they only feed a min-agg), so no
      ``distinct`` shuffle is spent on them.
    - Labels are element-wise non-increasing (least() with neighbors,
      then adopting the label's own label — both bounded above by the
      current value), so sum(label) strictly decreases until the fixed
      point.  The convergence probe is therefore a plain aggregate scan
      of the just-checkpointed two-column label table — no join, one
      cheap job per round, and the loop still exits the first round
      after convergence.

    A hook/contract pre-pass (Shiloach-Vishkin hooking) runs before the
    loop: every node is merged into ``min(self, min neighbor)`` and the
    edge set is rewritten between those supernodes.  Identifying each
    node with an adjacent node preserves components exactly (the merged
    group is internally connected through the shared hook target, and
    every original edge survives as a supernode edge), and near-dup
    graphs are clique-heavy — a clique contracts to a single supernode
    with NO surviving edges — so the iteration usually runs on a graph
    orders of magnitude smaller than the input instead of paying
    O(log d) full-edge-set joins.  Two bounded-shuffle passes over the
    edges buy that: a min-neighbor aggregation and a double
    supernode-resolution join.

    Returns (id, component) for EVERY node in ``nodes`` (singletons map
    to themselves).

    Only nodes that appear in a pair enter the iteration — singletons
    (the overwhelming majority of a real corpus) are labeled by a single
    anti-join at the end and never touch the loop, so per-iteration
    shuffles are sized by the near-dup subgraph, not the corpus.

    r13: a count-probed driver route replaces the iteration when the
    hooked/contracted graph fits a bounded probe (hooking collapses
    cliques, so this is the overwhelmingly common case) — one collect +
    exact min-label union-find instead of O(log diameter) rounds of
    join + eager checkpoint + convergence probe; the distributed loop
    stays the route past the cap (SPARK_GRAFT_CC_DRIVER_EDGES)."""
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
                    ),
                    F.struct(
                        F.col("b_id").alias("src"), F.col("a_id").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint(eager=False)
    )
    # hook: node -> min(self, min neighbor); edges are symmetric so every
    # endpoint appears as src and gets a supernode
    sup = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nm"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("nm")).alias("sup"),
        )
        .localCheckpoint(eager=False)
    )
    cedges = (
        edges.join(
            sup.select(F.col("node").alias("src"), F.col("sup").alias("csrc")),
            "src",
        )
        .join(
            sup.select(F.col("node").alias("dst"), F.col("sup").alias("cdst")),
            "dst",
        )
        .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # r13 count-probed route (guide §2.4 / the repo's allpairs-vs-blocked
    # precedent): hooking contracts cliques away, so the surviving
    # contracted graph is usually TINY even when the input pair set is
    # large.  When it fits a bounded driver probe, one collect + exact
    # min-label union-find replaces the whole O(log diameter) sequence
    # of join+eager-checkpoint+convergence-probe rounds (4-6 Spark jobs
    # per round).  The distributed loop below stays the route for a
    # contracted graph that exceeds the probe — the 100 TB posture is
    # unchanged.  Labels are identical by construction: union-by-min
    # roots converge to the component's min id, exactly the loop's fixed
    # point.  Cap override: SPARK_GRAFT_CC_DRIVER_EDGES.
    import os as _os

    driver_cap = int(_os.environ.get("SPARK_GRAFT_CC_DRIVER_EDGES",
                                     "500000"))
    n_cedges = cedges.limit(driver_cap + 1).count()
    if n_cedges <= driver_cap:
        lab = min_label_union_find(cedges.collect())
        labels = local_frame(pairs.sparkSession, [
            (int(n), int(v)) for n, v in sorted(lab.items())],
            "node long, label long")
        return _cc_expand(labels, sup, nodes, id_col)

    labels = (
        cedges.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
        .localCheckpoint(eager=False)
    )
    prev_sum = None
    for _ in range(max_iters):
        neighbor_min = (
            cedges.join(labels, cedges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
        )
        updated = labels.join(
            neighbor_min, labels.node == neighbor_min.dst, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nmin", F.col("label"))
            ).alias("label"),
        )
        # pointer jump: adopt the label's own label (label values are
        # node ids, so the inner self-join always hits)
        jumped = (
            updated.alias("a")
            .join(
                updated.select(
                    F.col("node").alias("p_node"),
                    F.col("label").alias("p_label"),
                ),
                F.col("a.label") == F.col("p_node"),
            )
            .select(F.col("a.node").alias("node"),
                    F.col("p_label").alias("label"))
            .localCheckpoint(eager=True)
        )
        labels = jumped
        # decimal(38,0): no overflow for any realistic sum of int64 ids
        cur_sum = jumped.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return _cc_expand(labels, sup, nodes, id_col)


def _cc_expand(labels: DataFrame, sup: DataFrame, nodes: DataFrame,
               id_col: str) -> DataFrame:
    """Expand contracted-graph labels back over the original node set
    (shared tail of both :func:`connected_components` routes):
    supernodes whose edges all vanished in the contraction
    (fully-collapsed cliques) label themselves, hooked nodes adopt
    their supernode's component, and singletons never touched the loop
    at all.  The component id is the min ORIGINAL id (the component's
    min m hooks to itself, so m is a supernode and wins the min-label
    fixed point)."""
    c_single = (
        sup.select(F.col("sup").alias("node"))
        .distinct()
        .join(labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("label"))
    )
    comp_sup = labels.unionByName(c_single).select(
        F.col("node").alias("sup"), F.col("label")
    )
    hooked = sup.join(comp_sup, "sup").select("node", "label")
    singletons = nodes.select(F.col(id_col).alias("node")).join(
        hooked.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("label"))
    return hooked.unionByName(singletons).select(
        F.col("node").alias(id_col), F.col("label").alias("component")
    )


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = 64,
            hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash fingerprint: per-bit majority vote over token hashes.

    Vote for bit k = sum over tokens of (hash>>k & 1 ? +1 : -1); the
    fingerprint sets bit k if the vote is positive.

    Plan shape: explode distinct tokens → one groupBy with `bits` plain
    SUM aggregates over the shared token hash, then a single projection
    assembling the fingerprint.  (Nested F.aggregate array traversals per
    bit compile to enormous generated code — ~40 s for 500 docs.)
    Tokenless docs are kept via explode_outer with vote 0 → fingerprint 0.

    With ``hash_fn='md5'`` the token hash is the 60-bit cross-engine
    family (:func:`cross_engine_hash64`) — pass ``bits=60`` so every vote
    bit is hash-bearing and the SQL oracle can replay the fingerprint."""
    def mask(k: int) -> int:
        # bit 63 of a signed 64-bit mask is the sign bit
        return (1 << k) if k < 63 else -(1 << 63)

    toks = spread(docs, id_col).select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(F.split(F.col(text_col), " "))).alias(
            "tok"
        ),
    )
    # materialize the token hash ONCE in a projection: the `bits` vote
    # aggregates each reference it, and aggregate-expression CSE is not
    # guaranteed — inlining the digest re-computes it per bit (~2.5x)
    hashed = toks.select(
        F.col(id_col),
        F.col("tok").isNull().alias("isnull"),
        _hash64(hash_fn, F.col("tok")).alias("h"),
    )
    votes = [
        F.sum(
            F.when(F.col("isnull"), 0)
            .when(F.col("h").bitwiseAND(F.lit(mask(k))) != 0, 1)
            .otherwise(-1)
        ).alias(f"v{k}")
        for k in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    fp = F.lit(0).cast("long")
    for k in range(bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v{k}") > 0, F.lit(mask(k)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidate generation: split the fingerprint into (max_hamming + 1)
    bands — by pigeonhole, any pair within the distance budget collides
    on at least one full band; the join is equi on (band, band_value)."""
    n_bands = max_hamming + 1
    bits = 60 if hash_fn == "md5" else 64
    width = bits // n_bands
    fps = simhash(docs, text_col, id_col, bits=bits, hash_fn=hash_fn)
    banded = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(
                            F.col("simhash"), b * width
                        ).bitwiseAND(F.lit((1 << width) - 1)).alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.val")
    a = banded.select(
        "band", "val", F.col(id_col).alias("a_id"), F.col("simhash").alias("a_fp")
    )
    b = banded.select(
        "band", "val", F.col(id_col).alias("b_id"), F.col("simhash").alias("b_fp")
    )
    cands = (
        a.join(b, ["band", "val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_fp", "b_fp")
        .distinct()
    )
    hamming = F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp")))
    return cands.select(
        "a_id", "b_id", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def duplicate_spans(docs: DataFrame, k: int = 5, min_docs: int = 2,
                    text_col: str = "text", id_col: str = "doc_id",
                    hash_fn: str = "md5") -> DataFrame:
    """Cross-document duplicated-span detection (Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    lineage): instead of the paper's suffix array — inherently
    sequential — the same signal distributes as a hashed k-gram
    inverted index.  Every token position contributes its k-gram hash;
    a gram occurring in >= ``min_docs`` DISTINCT documents is a
    cross-document duplicate, and the token positions its occurrences
    cover are merged into maximal spans per document (two overlapping
    or adjacent duplicated grams fuse — exactly the repeated-substring
    regions the suffix-array pass marks, quantized to k-gram
    boundaries).  Output per document (docs with >= k tokens):
    ``n_dup_grams`` (duplicated k-gram occurrences), ``covered_tokens``
    (tokens inside some duplicated span), ``n_spans`` (maximal merged
    spans), ``n_tokens``, and the exact-division ``dup_fraction``.

    Plan (100 TB): the gram stream is map-only (one row per token
    position, hashed immediately — the k-token string never outlives
    its expression); duplicate discovery is ONE wordcount-shaped
    groupBy on the gram hash with a two-phase COUNT(DISTINCT doc);
    join-back is keyed on the same hash (sort-merge; AQE may broadcast
    when the duplicate set is small).  Span merge needs positions to
    meet per document — a window partitioned by ``id_col`` (never
    unpartitioned) over the k-bounded covered-position explode.
    ``hash_fn``: production default stays the declared-surface
    "md5" twin here ONLY because the oracle replays it; pass
    "xxhash64" in production like every other sketch operator."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # spread before the gram explode (r13): the per-position tokenize +
    # hash map work otherwise runs in the one-split scan stage
    grams = spread(docs, id_col).select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(toks) >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - k),
                    lambda i: F.struct(
                        i.alias("pos"),
                        _hash64(
                            hash_fn,
                            F.concat_ws(" ", F.slice(toks, i + 1, k)),
                        ).alias("gh"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<pos:int,gh:long>>")
            )
        ).alias("g"),
    ).select(F.col(id_col), F.col("g.pos").alias("pos"),
             F.col("g.gh").alias("gh"))

    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gh")
    )
    hits = grams.join(dup, "gh")

    per_doc_hits = hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_grams"))

    covered = (
        hits.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"),
                                 F.col("pos") + F.lit(k - 1))).alias("cpos"),
        ).distinct()
    )
    w = Window.partitionBy(id_col).orderBy("cpos")
    spans = (
        covered.withColumn(
            "span_start",
            (F.lag("cpos").over(w).isNull()
             | (F.lag("cpos").over(w) != F.col("cpos") - 1)).cast("long"),
        )
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("covered_tokens"),
             F.sum("span_start").alias("n_spans"))
    )

    base = docs.select(
        F.col(id_col), F.size(toks).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") >= k)
    return (
        base.join(per_doc_hits, id_col, "left")
        .join(spans, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            (F.coalesce("covered_tokens", F.lit(0)).cast("double")
             / F.col("n_tokens")).alias("dup_fraction"),
        )
    )
