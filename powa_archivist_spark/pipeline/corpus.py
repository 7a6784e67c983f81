"""Corpus-preparation operators — the end-to-end shapes an LLM
training-data pipeline runs over a document table at 100 TB:

- :func:`corpus_prep` — the canonical prep funnel: language gate ->
  quality gate -> exact dedup -> near-dup dedup, composed from the
  individually-tested operators so the whole funnel stays one Catalyst
  plan (filters push into the scan; each dedup stage only sees the
  survivors of the previous one);
- :func:`pack_sequences` — concat-and-chunk sequence packing: documents
  are concatenated in deterministic order per shard and cut into
  fixed-token-budget bins (the standard "group texts" step before
  tokenized training shards are written);
- :func:`stratified_sample` — deterministic hash-based per-group
  sampling for data mixing (rates per language/source), reproducible
  across engines and runs (no RNG state);
- :func:`chunk_documents` — overlapping token-window chunking
  (RAG/embedding prep), a map-only job;
- :func:`token_length_stats` — per-group token-length distribution
  (count/sum/mean + exact p50/p90/p99).

Scale notes: the funnel's gates are plain filters (pushed down);
packing windows partition by shard (never a global sort); sampling is a
stateless filter; the exact percentile is the oracle path — at 100 TB
swap ``exact=False`` for ``approx_percentile`` (t-digest, one pass,
map-side combinable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .dedup import cross_engine_hash64, exact_dedup, near_dup_keep
from .spread import spread


def corpus_prep(
    docs: DataFrame,
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 25,
    min_distinct_ratio: float = 0.3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """The prep funnel, cheapest gate first:

    1. language gate (metadata filter — prunes at the scan),
    2. quality gate (token count + distinct-token ratio),
    3. exact dedup (keep the min-id representative of each normalized
       text),
    4. near-dup dedup (token-Jaccard keep list over the survivors).

    Returns kept documents with their quality stats.  Every stage only
    processes the previous stage's survivors, so the expensive jaccard
    self-join runs on the smallest possible set."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    gated = (
        docs.filter(F.col(lang_col).isin(*langs))
        .withColumn("n_tokens", n_tokens)
        .withColumn("distinct_ratio", distinct_ratio)
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("distinct_ratio") >= min_distinct_ratio)
        )
    )
    reps = exact_dedup(gated, text_col, id_col).select(id_col)
    uniq = gated.join(reps, id_col, "left_semi")
    # strategy="probe": the bounded vocabulary probe picks bitmask for
    # small shared vocabularies (where prefix filtering degenerates —
    # every token is high-frequency) and the PPJoin prefix path
    # otherwise; the funnel has already shrunk the corpus, so the one
    # bounded probe job is cheap relative to the wrong-path cost
    kept = near_dup_keep(uniq, threshold, text_col, id_col,
                         strategy="probe")
    return (
        uniq.join(kept, id_col, "left_semi")
        .select(id_col, lang_col, "n_tokens", "distinct_ratio")
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    shard_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk packing: per shard, documents are concatenated in
    id order and cut into ``seq_len``-token bins; a document belongs to
    the bin its FIRST token lands in (the standard "group texts then
    chunk" approximation — straddling docs spill into the next bin's
    window, they are not split here).

    Output: one row per (shard, bin) with document count, token sum and
    the id range — the manifest a shard writer consumes.

    The window partitions by shard, so no global sort exists anywhere:
    each shard's running offset is an independent partition of the single
    shuffle, and shards scale out with the data (at 100 TB shard =
    (source, date-bucket), thousands of partitions)."""
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    w = Window.partitionBy("shard").orderBy(id_col)
    with_off = docs.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col),
        n_tok.alias("n_tokens"),
    ).withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    binned = with_off.withColumn(
        "bin_id", F.floor(F.col("start_off") / seq_len)
    )
    return binned.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def pack_sequences_binned(
    docs: DataFrame,
    seq_len: int = 256,
    shard_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """First-fit-decreasing (FFD) sequence packing per shard (r11,
    VERDICT r10 task 5) — the bin-packing sibling of
    :func:`pack_sequences`: instead of concatenating in id order and
    cutting fixed windows (which pads only the tail but makes every bin
    a multi-document window with cross-document attention waste), docs
    are sorted by (token length DESC, id ASC) and greedily placed into
    the FIRST existing bin with enough remaining capacity, else a new
    bin opens — the classic 11/9·OPT+6/9 guarantee, and the packing
    modern trainers run to cut padding without splitting documents.

    DETERMINISTIC: the greedy order is a pure function of (len, id) and
    first-fit is a pure function of the order, so the whole assignment
    replays exactly — the SQL oracle runs the same recursion as a
    recursive CTE.  Docs longer than ``seq_len`` open their own bin
    (never fit an existing one; remaining capacity goes negative and
    the bin accepts nothing more) — both engines share that arithmetic.

    Plan: ONE shard-keyed shuffle (`applyInPandas`), then the greedy
    loop runs per shard as vectorized numpy (first-fit probe is one
    ``rems >= need`` scan).  Per-shard work is O(n_docs x n_bins)
    locally and shards are the parallelism unit — at 100 TB shard =
    (source, date-bucket), thousands of independent partitions, same
    posture as :func:`pack_sequences`.

    Output: ONE row per shard — bin count, exact padding (sum of
    nonnegative remainders), an assignment checksum
    ``SUM((doc_id + 1) * (bin_id + 1))`` pinning the per-doc placement
    (the +1 on doc_id makes doc 0's placement contribute — r12), and
    the concat-and-chunk baseline's bin count + padding for the waste
    comparison the curation report reads."""
    import numpy as np
    import pandas as pd

    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    lens = docs.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col).alias("doc_id"),
        n_tok.cast("long").alias("n_tokens"),
    )
    schema = (
        "shard string, n_docs long, total_tokens long, n_bins long,"
        " padding_tokens long, assign_checksum long,"
        " bins_chunked long, padding_chunked long"
    )

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        need = pdf["n_tokens"].to_numpy(dtype=np.int64)
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        rems = np.empty(len(need), dtype=np.int64)
        bin_of = np.empty(len(need), dtype=np.int64)
        nb = 0
        for i in range(len(need)):
            fit = np.nonzero(rems[:nb] >= need[i])[0]
            if fit.size:
                j = int(fit[0])
            else:
                j = nb
                rems[j] = seq_len
                nb += 1
            rems[j] -= need[i]
            bin_of[i] = j
        total = int(need.sum())
        bins_chunked = -(-total // seq_len) if total else 0
        return pd.DataFrame(
            {
                "shard": [pdf["shard"].iloc[0]],
                "n_docs": [len(need)],
                "total_tokens": [total],
                "n_bins": [nb],
                "padding_tokens": [int(np.maximum(rems[:nb], 0).sum())],
                "assign_checksum": [int(((ids + 1) * (bin_of + 1)).sum())],
                "bins_chunked": [bins_chunked],
                "padding_chunked": [bins_chunked * seq_len - total],
            }
        )

    return lens.groupBy("shard").applyInPandas(ffd, schema)


def chunk_documents(
    docs: DataFrame,
    chunk_len: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking (the RAG/embedding-prep shape):
    chunks start every ``chunk_len - overlap`` tokens; the final window
    keeps its tail even when shorter.  One row per (doc, chunk) with the
    reconstructed chunk text.

    Pure per-row expression work (sequence -> explode -> slice/concat):
    embarrassingly parallel, no shuffle at all — chunking 100 TB is a
    map-only job whose output partitioning follows the input."""
    if overlap >= chunk_len:
        raise ValueError("overlap must be smaller than chunk_len")
    step = chunk_len - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    # start offsets 0, step, 2*step, ..., L where L is the smallest
    # stride multiple whose window reaches the doc end — every token is
    # covered and no chunk consists purely of overlap
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.ceil((n - chunk_len) / F.lit(step)).cast("int"), F.lit(0)
        ) * step,
        F.lit(step),
    )
    chunked = docs.select(
        F.col(id_col),
        toks.alias("_toks"),
        n.alias("_n"),
        F.posexplode(starts).alias("chunk_id", "start_tok"),
    )
    piece = F.slice(F.col("_toks"), F.col("start_tok") + 1, chunk_len)
    return chunked.select(
        F.col(id_col),
        "chunk_id",
        "start_tok",
        F.least(F.col("_n") - F.col("start_tok"), F.lit(chunk_len))
        .cast("int").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    denom: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-group subsampling for data mixing: keep a row
    iff ``hash(id) % denom < rate(group) * denom``, with the cross-engine
    md5 hash — the same ids are kept on every engine and every run, and
    the sample is a pure filter (no shuffle, no RNG, trivially
    re-runnable on appended data).  Groups absent from ``rates`` are
    dropped (rate 0)."""
    rate_map = F.create_map(
        *[x for g, r in sorted(rates.items())
          for x in (F.lit(g), F.lit(float(r)))]
    )
    h = F.pmod(cross_engine_hash64(F.col(id_col).cast("string")), F.lit(denom))
    return (
        docs.withColumn("_rate", rate_map[F.col(group_col)])
        .filter(F.col("_rate").isNotNull())
        .filter(h < F.col("_rate") * denom)
        .drop("_rate")
    )


def token_length_stats(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    exact: bool = True,
) -> DataFrame:
    """Per-group token-length distribution: count, token sum, mean, and
    p50/p90/p99.  ``exact=True`` uses the exact interpolated percentile
    (matches DuckDB ``quantile_cont`` — the oracle path; requires a
    per-group sort).  ``exact=False`` uses ``approx_percentile``
    (t-digest sketch, single pass, map-side combinable — the 100 TB
    path, where a per-group exact sort of billions of lengths is the
    wrong plan)."""
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    base = docs.select(F.col(group_col).alias("grp"), n_tok.alias("n"))
    pct = (
        F.percentile(F.col("n"), F.lit([0.5, 0.9, 0.99]))
        if exact
        else F.approx_percentile(F.col("n"), F.lit([0.5, 0.9, 0.99]), F.lit(10_000))
    )
    return base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("n_tokens"),
        F.avg(F.col("n").cast("double")).alias("mean_tokens"),
        pct.alias("pct"),
    ).select(
        "grp",
        "n_docs",
        "n_tokens",
        "mean_tokens",
        F.col("pct")[0].alias("p50"),
        F.col("pct")[1].alias("p90"),
        F.col("pct")[2].alias("p99"),
    )


def ngram_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag every corpus document sharing at
    least one exact word n-gram with a held-out evaluation set (the
    standard pre-training hygiene pass; n=13 is the commonly published
    window, any n works).

    Plan: both sides explode into (id, gram) rows; the eval side is
    distinct-ed and **broadcast** — eval benchmarks are tiny next to a
    100 TB corpus, so the contamination probe is a map-side hash join
    against the corpus gram stream (no corpus shuffle), followed by one
    aggregation keyed on doc id.  Returns one row per corpus doc:
    ``n_hit_ngrams`` (distinct eval grams it contains) and the
    ``is_contaminated`` flag."""

    def grams_of(df: DataFrame, out: str) -> DataFrame:
        toks = F.split(F.col(text_col), " ")
        g = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return df.select(F.col(id_col).alias(out), F.explode(g).alias("gram"))

    eval_grams = grams_of(eval_docs, "eval_id").select("gram").distinct()
    hits = (
        grams_of(docs, id_col)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.countDistinct("gram").alias("n_hit_ngrams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hit_ngrams", F.lit(0)).alias("n_hit_ngrams"),
            (F.coalesce("n_hit_ngrams", F.lit(0)) > 0).alias("is_contaminated"),
        )
    )


def shuffle_shards(
    docs: DataFrame,
    n_shards: int = 64,
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    seed: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle for training order: every doc gets a
    (shard, pos) from a seeded hash of its id — the standard "shuffle
    once, read shards sequentially" layout for training runs, fully
    reproducible across engines and re-runs (no RNG state).

    Plan: shard assignment is a map-only ``pmod(hash, n_shards)``; the
    within-shard position is a ``row_number`` partitioned BY SHARD — each
    shard sorts independently (bounded by corpus/n_shards), never a
    global total-order sort.  At 100 TB pick n_shards so a shard's
    (id, hash) pairs fit a task's sort buffer; the doc payload itself is
    never carried through the sort — join it back on id at write time."""
    from .dedup import _hash64

    h = _hash64(hash_fn, F.lit(seed), F.col(id_col).cast("string"))
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        docs.select(F.col(id_col), h.alias("h"))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)))
        .select(
            id_col,
            "shard",
            F.row_number().over(w).alias("pos"),
        )
    )


def dataset_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
    denom: int = 1_000_000,
) -> DataFrame:
    """Deterministic train/val/test assignment — the standard salted-hash
    split for training corpora: every doc gets exactly one split label
    from ``pmod(hash(salt, id), denom)`` against cumulative weight
    thresholds.  Properties a training pipeline needs, by construction:
    reproducible across engines/runs (cross-engine md5, no RNG state),
    stable under appends (a doc's split never changes when other docs
    arrive), disjoint and exhaustive (CASE over cumulative thresholds),
    and resalting gives an independent re-split.  Map-only — no shuffle,
    no sampling job."""
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    if not weights or any(w < 0 for w in weights.values()) or total <= 0:
        raise ValueError(f"invalid split weights: {weights}")
    h = F.pmod(
        cross_engine_hash64(F.lit(salt), F.col(id_col).cast("string")),
        F.lit(denom),
    )
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = h < int(round(acc * denom))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    # a NULL id has no stable hash on either engine -> NULL split (it
    # could never be joined back anyway); all input columns pass through
    # so consumers stay map-only instead of self-joining to recover them
    expr = F.when(F.col(id_col).isNull(), F.lit(None).cast("string")) \
        .otherwise(expr)
    return docs.withColumn("split", expr)


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (round 6)
# ---------------------------------------------------------------------------

#: bits per bloom word — 32 keeps every (1 << bit) positive in an int64,
#: so the bit arithmetic is identical (and overflow-free) on both engines
BLOOM_WORD_BITS = 32


def _word_ngrams(df: DataFrame, n: int, text_col: str,
                 id_col: str | None) -> DataFrame:
    """(id?, gram) rows of word n-grams; docs shorter than n emit none."""
    toks = F.split(F.col(text_col), " ")
    g = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    cols = [F.col(id_col)] if id_col else []
    return df.select(*cols, F.explode(g).alias("gram"))


def ngram_novelty(docs: DataFrame, n: int = 3,
                  text_col: str = "text", id_col: str = "doc_id",
                  group_col: str = "source") -> DataFrame:
    """Per-group n-gram novelty profile: what share of each source's
    distinct word n-grams appears NOWHERE earlier in the corpus
    (document order = ascending id — ingestion order in the landing
    tables).  The novelty/duplication split of the Lee et al.
    deduplication analyses, as a first-class curation diagnostic: a
    source whose novelty collapses is re-crawling content the corpus
    already holds, and its cap (``source_caps``) should tighten.

    An n-gram is NOVEL for the document with the smallest id containing
    it; every later document holding the same gram counts it as seen.
    Per-document counts are over DISTINCT grams (within-doc repetition
    is `text_repetition`'s subject, not novelty's).

    Plan: one explode -> per-doc distinct -> gram-keyed min(id) (partial
    agg — the first-owner table), one gram-keyed join back (big-big,
    both sides hash-partitioned on gram, no broadcast of corpus-sized
    state), then bounded-key rollups to docs and groups.  Docs shorter
    than n emit no grams and enter the group rollup with zero counts via
    the left join."""
    per_doc = _word_ngrams(docs, n, text_col, id_col).distinct()
    first = per_doc.groupBy("gram").agg(F.min(id_col).alias("first_doc"))
    doc_stats = (
        per_doc.join(first, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col(id_col)).cast("long")
            ).alias("n_novel"),
        )
    )
    return (
        docs.select(id_col, group_col)
        .join(doc_stats, id_col, "left")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("n_grams", F.lit(0))).alias("n_grams"),
            F.sum(F.coalesce("n_novel", F.lit(0))).alias("n_novel"),
        )
        .select(
            group_col, "n_docs", "n_grams", "n_novel",
            F.when(
                F.col("n_grams") > 0,
                F.col("n_novel").cast("double") / F.col("n_grams"),
            ).alias("novelty"),
        )
    )


def _bloom_probes(grams: DataFrame, m_bits: int, k: int) -> DataFrame:
    """Explode each gram into its k probe positions, split into
    (word_idx, bit) against 32-bit words.  Positions are the md5-based
    cross-engine hash, so the filter (INCLUDING its false positives) is
    bit-identical on Spark and the SQL oracle."""
    seeded = grams.select(
        "*",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("seed"),
    )
    pos = F.pmod(
        cross_engine_hash64(F.col("seed").cast("string"), F.col("gram")),
        F.lit(m_bits),
    )
    return seeded.select(
        "*",
        F.floor(pos / BLOOM_WORD_BITS).cast("long").alias("word_idx"),
        F.pmod(pos, BLOOM_WORD_BITS).cast("int").alias("bit"),
    )


def bloom_build(
    eval_docs: DataFrame,
    n: int = 3,
    m_bits: int = 1 << 18,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Build a FIXED-SIZE Bloom filter over the eval set's word n-grams
    as a (word_idx, word) table — at most ``m_bits / 32`` rows no matter
    how many benchmarks it absorbs.

    This is the 100 TB form of :func:`ngram_decontaminate`: the exact
    pass broadcasts the eval gram dictionary, which grows with the eval
    corpus; the bloom table is a few hundred KB forever, at the price of
    a deterministic, hash-defined false-positive rate (~(1-e^{-kn/m})^k
    — flagged docs get the exact pass as a second stage)."""
    grams = _word_ngrams(eval_docs, n, text_col, None).distinct()
    return (
        _bloom_probes(grams, m_bits, k)
        .groupBy("word_idx")
        .agg(
            F.bit_or(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), bit)")
            ).alias("word")
        )
    )


def bloom_decontaminate(
    docs: DataFrame,
    bloom_words: DataFrame,
    n: int = 3,
    m_bits: int = 1 << 18,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe every corpus doc's n-grams against the bloom word table:
    a gram is bloom-positive iff ALL k probed bits are set; a doc is
    flagged iff any of its grams is positive.

    Plan: corpus grams explode to k probes each, broadcast-join the
    (always-tiny) word table, AND the k hit bits per (doc, gram), then
    one count per doc.  The corpus side never shuffles on data size —
    only the per-doc aggregation keys on id."""
    per_doc_grams = _word_ngrams(docs, n, text_col, id_col).distinct()
    probes = _bloom_probes(per_doc_grams, m_bits, k)
    hit = (
        F.col("word").isNotNull()
        & (
            F.col("word").bitwiseAND(
                F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            )
            != 0
        )
    )
    gram_hits = (
        probes.join(F.broadcast(bloom_words), "word_idx", "left")
        .select(id_col, "gram", hit.alias("hit"))
        .groupBy(id_col, "gram")
        .agg(F.bool_and("hit").alias("in_bloom"))
    )
    flagged = gram_hits.groupBy(id_col).agg(
        F.sum(F.col("in_bloom").cast("int")).alias("n_flagged_grams")
    )
    return (
        docs.select(id_col)
        .join(flagged, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_flagged_grams", F.lit(0)).cast("long")
            .alias("n_flagged_grams"),
            (F.coalesce("n_flagged_grams", F.lit(0)) > 0).alias("is_flagged"),
        )
    )


def vocab_topk(
    docs: DataFrame,
    top_n: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary: the ``top_n`` most frequent whitespace tokens
    with occurrence and document frequencies plus a dense global rank —
    the BPE/vocab-construction pre-pass every tokenizer pipeline runs.

    Plan: one explode + one (token) aggregation (count is map-side
    combinable; the doc frequency rides the same shuffle via a
    count_distinct), then ``orderBy(...).limit(top_n)`` — Spark executes
    that as TakeOrdered (per-partition top-N + driver merge of N*P
    rows), never a global sort.  The row_number ranking runs AFTER the
    limit, over top_n rows only."""
    from pyspark.sql import Window

    toks = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token"),
        )
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(top_n)
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    return toks.select(
        F.row_number().over(w).alias("rank"),
        "token", "n_occurrences", "n_docs",
    )


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
    denom: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-source mixture sampling — the data-mixing pass
    that turns raw source proportions into a training mixture.  A rate
    ``r`` for a source emits ``floor(r)`` full copies of every doc plus
    one more iff ``hash(salt, id) % denom < frac(r) * denom`` — so
    r = 0.25 downsamples to a quarter, r = 2.5 upsamples to 2-3 copies,
    r = 0 drops the source.  Seedless and append-stable like
    :func:`dataset_split` (a doc's fate never changes as others arrive),
    and exactly replayable cross-engine.

    Plan: the rates dict becomes a tiny broadcast dimension (works for
    thousands of sources — no when-chain codegen blowup), the extra-copy
    coin is one map-side hash, and the copy fan-out is an explode of a
    per-row sequence.  Output: one row per (doc, copy) with ``copy`` in
    ``0..n_copies-1``."""
    if any(r < 0 for r in rates.values()) or default_rate < 0:
        raise ValueError("mixture rates must be >= 0")
    spark = docs.sparkSession
    rate_rows = [(s, float(r)) for s, r in rates.items()]
    dim = local_frame(spark, rate_rows, f"{source_col} string, _rate double")
    with_rate = docs.join(F.broadcast(dim), source_col, "left").withColumn(
        "_rate", F.coalesce("_rate", F.lit(float(default_rate)))
    )
    n_full = F.floor("_rate").cast("int")
    thr = F.round((F.col("_rate") - F.floor("_rate")) * denom).cast("long")
    h = F.pmod(
        cross_engine_hash64(F.lit(salt), F.col(id_col).cast("string")),
        F.lit(denom),
    )
    n_copies = n_full + (h < thr).cast("int")
    return (
        with_rate.withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .select(
            id_col, source_col,
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("copy"),
        )
    )


def token_budget_select(
    docs: DataFrame,
    budget_tokens: int,
    part_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-first corpus selection under a token budget: within each
    ``part_col`` group, rank docs by lexical diversity (descending, id
    tiebreak) and keep the prefix whose cumulative token count fits the
    budget — "spend the token budget on the best documents, per
    language".

    Plan: ONE window per group partition (cumulative SUM with an
    explicit ROWS frame) — never a global total-order sort; at 100 TB
    the partition key keeps each sort bounded by its group.  Emits every
    doc with its running total and the ``selected`` verdict so the
    rejected tail is auditable."""
    from pyspark.sql import Window

    text = F.col(text_col)
    toks = F.split(F.trim(text), r"\s+")
    n_tokens = F.size(toks)
    quality = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    base = docs.select(
        F.col(id_col), F.col(part_col),
        n_tokens.alias("n_tokens"), quality.alias("quality"),
    )
    w = (
        Window.partitionBy(part_col)
        .orderBy(F.col("quality").desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w).cast("long")
    return base.select(
        id_col, part_col, "n_tokens", "quality",
        cum.alias("cum_tokens"),
        (cum <= budget_tokens).alias("selected"),
    )


def fuzzy_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    broadcast_eval: bool = True,
) -> DataFrame:
    """FUZZY benchmark decontamination — the near-duplicate counterpart
    of :func:`ngram_decontaminate` (exact n-gram) and
    :func:`bloom_decontaminate` (approximate-membership exact): flag
    every corpus document whose shingle Jaccard against ANY held-out
    evaluation document reaches ``threshold``, via cross-corpus MinHash
    banded LSH.  Paraphrased or lightly-edited benchmark leaks that
    exact n-grams miss are exactly what this pass catches.

    Plan shape at 100 TB: the corpus side pays ONE explode+groupBy to
    build signatures (inherent); the eval side — thousands of docs next
    to a 100 TB corpus — has its band table AND its shingle arrays
    **broadcast** (``broadcast_eval``), so both the candidate probe and
    the verify join are map-side against the corpus stream; the only
    corpus shuffle after signatures is the candidate-bounded exchange on
    corpus doc id for the final per-doc top-match pick.  Collision
    recall at s=threshold is 1-(1-s^r)^bands (r = num_perm/bands) —
    deterministic given the hash family, so the SQL oracle replays the
    same candidate set, misses included.

    Returns one row per CONTAMINATED corpus doc: (id, eval_id, jaccard)
    for its best-matching eval doc (ties broken by smallest eval id).
    Shingle frames are cached for the duration of this plan's first
    materialization (same lifetime contract as minhash_dedup_pairs)."""
    from .dedup import minhash_bands, shingle_arrays

    tr_sh = shingle_arrays(docs, shingle_n, text_col, id_col).persist()
    ev_sh = shingle_arrays(eval_docs, shingle_n, text_col, id_col)
    tr_bands = minhash_bands(
        docs, num_perm, bands, shingle_n, text_col, id_col,
        shingle_df=tr_sh, hash_fn=hash_fn,
    )
    ev_bands = minhash_bands(
        eval_docs, num_perm, bands, shingle_n, text_col, id_col,
        shingle_df=ev_sh, hash_fn=hash_fn,
    ).select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("eval_id")
    )
    ev_sh_j = ev_sh.select(
        F.col(id_col).alias("eval_id"), F.col("sh").alias("ev_sh")
    )
    if broadcast_eval:
        ev_bands = F.broadcast(ev_bands)
        ev_sh_j = F.broadcast(ev_sh_j)
    cands = (
        tr_bands.join(ev_bands, ["band", "bucket"])
        .select(id_col, "eval_id")
        .distinct()
    )
    joined = cands.join(tr_sh, id_col).join(ev_sh_j, "eval_id")
    inter = F.size(F.array_intersect("sh", "ev_sh"))
    union = F.size("sh") + F.size("ev_sh") - inter
    scored = joined.select(
        F.col(id_col), F.col("eval_id"), (inter / union).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    w = Window.partitionBy(id_col).orderBy(
        F.desc("jaccard"), F.asc("eval_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def source_caps(
    docs: DataFrame,
    cap: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source document caps — the Common-Crawl-style domain cap: a
    handful of mega-domains would otherwise dominate the training mix,
    so within each source only the ``cap`` highest-quality documents
    survive.  Quality = distinct-token ratio (lexical diversity, the
    same signal quality_gate thresholds on), ties broken by smaller id
    so the cut is deterministic.

    Plan shape: ONE window partitioned by source with an explicit
    row_number — never a global sort; each source's rows meet on one
    reducer, bounded further at true scale by pre-aggregating a
    per-partition top-``cap`` (the TakeOrdered pattern) when single
    sources skew.  Returns the kept docs only:
    (id, source, quality, src_rank)."""
    text = F.col(text_col)
    toks = F.split(F.trim(text), r"\s+")
    n_tokens = F.when(
        text.isNull(), F.lit(None).cast("int")
    ).otherwise(F.size(toks))
    quality = (
        F.size(F.array_distinct(toks)).cast("double") / n_tokens
    )
    w = Window.partitionBy(source_col).orderBy(
        F.desc("quality"), F.asc(id_col)
    )
    return (
        docs.select(
            F.col(id_col), F.col(source_col),
            F.coalesce(quality, F.lit(0.0)).alias("quality"),
        )
        .withColumn("src_rank", F.row_number().over(w))
        .filter(F.col("src_rank") <= cap)
    )


def curriculum_buckets(
    docs: DataFrame,
    n_buckets: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum bucketing: assign every document to one of
    ``n_buckets`` difficulty tiers (difficulty = token count, the
    standard length proxy) split at exact global quantiles — the
    ordering pre-pass for curriculum-style training schedules.

    Exact global quantiles WITHOUT a global sort — and without ANY
    Window node (the whole-surface fence
    test_no_unbounded_global_window_anywhere stays strict): (1) one
    map-side-combinable ``groupBy(difficulty).count()`` collapses the
    corpus to its difficulty-value histogram — cardinality bounded by
    max doc length, NOT corpus size; (2) the histogram folds into ONE
    row via ``sort_array(collect_list(...))`` (bounded by the same
    value cardinality) and each nearest-rank cutoff falls out of a
    cumulative scan with the ``aggregate`` higher-order function
    (integer rank arithmetic, same convention as
    operators/quantiles.py); (3) the one-row cutoff frame is broadcast
    and bucket assignment is a map-only expression.  Ties share a
    bucket by construction (comparisons against cutoff VALUES), so the
    split is deterministic across engines and partitionings."""
    text = F.col(text_col)
    toks = F.split(F.trim(text), r"\s+")
    difficulty = F.coalesce(
        F.when(text.isNull(), F.lit(None).cast("int")).otherwise(
            F.size(toks)
        ),
        F.lit(0),
    )
    d = docs.select(F.col(id_col), difficulty.alias("difficulty"))
    freq = d.groupBy("difficulty").agg(F.count("*").alias("c"))
    hist = freq.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("difficulty").alias("d"), "c"))
        ).alias("h")
    ).select(
        "h",
        F.aggregate(
            "h", F.lit(0).cast("long"), lambda acc, x: acc + x["c"]
        ).alias("n"),
    )
    pcts = [i * 100 // n_buckets for i in range(1, n_buckets)]

    def cutoff(p: int):
        target = ((F.col("n") * p + 99) / 100).cast("long")
        init = F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(None).cast("int").alias("cut"),
        )
        return F.aggregate(
            "h",
            init,
            lambda acc, x: F.struct(
                (acc["cum"] + x["c"]).alias("cum"),
                F.coalesce(
                    acc["cut"],
                    F.when(acc["cum"] + x["c"] >= target, x["d"]),
                ).alias("cut"),
            ),
        )["cut"]

    cuts = hist.select(*[cutoff(p).alias(f"c{p}") for p in pcts])
    bucket = F.lit(1)
    for p in pcts:
        bucket = bucket + (F.col("difficulty") > F.col(f"c{p}")).cast(
            "int"
        )
    return (
        d.crossJoin(F.broadcast(cuts))
        .select(
            F.col(id_col),
            F.col("difficulty").cast("int").alias("difficulty"),
            bucket.cast("int").alias("bucket"),
        )
    )


def segment_dedup(
    docs: DataFrame,
    df_threshold: int = 2,
    segment_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus SEGMENT-level boilerplate removal (r8 — the
    FineWeb/CCNet "line dedup" pass): split every document into
    segments, count each distinct segment's document frequency across
    the WHOLE corpus, and strip segments appearing in ``df_threshold``
    or more documents — navigation chrome, cookie banners, license
    headers, template footers.  Whole-doc dedup never sees these (the
    surrounding text differs); this is the standard complement that
    removes the repeated fragment itself while keeping the document.

    Segmentation here is fixed ``segment_tokens``-token windows (the
    synthetic corpus has no newlines); a production corpus splits on
    newline boundaries instead — swap the segment expression, the rest
    of the plan is identical.

    Returns one row per non-NULL-text doc: (id, n_segments, n_removed,
    clean_text) with surviving segments rejoined in order.

    Plan (100 TB): segment DF counting is ONE wordcount-shaped groupBy
    (map-side combinable); the boilerplate set — bounded above by
    total_segments / df_threshold — joins back **broadcast** onto the
    posexploded segment stream, and the per-doc reassembly groupBy
    collapses inside each input partition (posexplode keeps a doc's
    segments co-partitioned), so ~one row per doc crosses the wire.
    ZERO windows, no self-join."""
    text = F.col(text_col)
    toks = F.split(F.trim(text), r"\s+")
    n_segs = F.ceil(F.size(toks) / F.lit(segment_tokens)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * segment_tokens + 1, segment_tokens)
        ),
    )
    segd = docs.filter(text.isNotNull()).select(
        F.col(id_col), F.posexplode(segs).alias("idx", "seg")
    )
    freq = (
        segd.groupBy("seg")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .filter(F.col("df") >= df_threshold)
        .select("seg", F.lit(True).alias("boiler"))
    )
    joined = segd.join(F.broadcast(freq), "seg", "left")
    kept_struct = F.when(
        F.col("boiler").isNull(),
        F.struct(F.col("idx"), F.col("seg")),
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("boiler").isNotNull().cast("int")).cast("long")
            .alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["seg"],
                ),
            ).alias("clean_text"),
        )
    )


#: BPE segmentation separator — a control char that cannot appear in
#: whitespace-split tokens; both engines treat it as a literal.
BPE_SEP = "\x01"


def bpe_word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The BPE trainer's working set: corpus -> (word, cnt, s) where
    ``s`` is the word's initial character segmentation serialized as
    ``SEP c1 SEP c2 SEP ... SEP``.  ONE wordcount-shaped groupBy — this
    is the only pass that touches the full corpus; everything after
    operates on the vocabulary-bounded word table (exactly how
    sentencepiece/subword-nmt train: on word frequencies, not raw
    text)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    words = docs.filter(F.col(text_col).isNotNull()).select(
        F.explode(toks).alias("word")
    ).filter(F.col("word") != "")
    counted = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    seg = F.concat(
        F.lit(BPE_SEP),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.expr("word").substr(i, F.lit(1)),
            ),
            BPE_SEP,
        ),
        F.lit(BPE_SEP),
    )
    return counted.select("word", "cnt", seg.alias("s"))


def bpe_merges(docs: DataFrame, n_merges: int = 6,
               text_col: str = "text") -> DataFrame:
    """Byte-pair-encoding merge induction (Sennrich et al. 2016) — the
    tokenizer-training pass of a pre-training pipeline, distributed the
    way industrial trainers actually run: the CORPUS contributes one
    wordcount groupBy (:func:`bpe_word_counts`, the 100 TB-scale part);
    the merge loop then iterates on the vocabulary-bounded word table.
    Each round counts adjacent symbol pairs weighted by word frequency
    (one map-side-combinable groupBy over the word table), picks the
    max-count pair (count desc, then lexicographic left/right — fully
    deterministic), and applies the merge to every word's segmentation.

    Segmentations are serialized as separator-joined strings and the
    merge is a LITERAL string replace of ``SEP l SEP r SEP`` with
    ``SEP lr SEP`` — left-to-right non-overlapping, byte-identical
    semantics in Spark and DuckDB (and the same greedy behavior as the
    classic per-word fold: 'aaa' under (a,a) -> [aa, a]), which is what
    makes the whole training loop SQL-oracle-replayable.

    Returns the learned merge table: (rank, left, right, pair_count) —
    the model artifact a tokenizer consumes.

    Plan (100 TB): one corpus-wide groupBy, then ``n_merges`` rounds of
    (pair-count groupBy + argmax + map-only replace) over the word
    table (vocabulary-bounded, e.g. ~10M rows for web corpora); the
    only driver transfer is ONE argmax row per round.  The word table
    is localCheckpointed once so rounds never re-scan the corpus; the
    per-round merges stack as narrow nested replace expressions."""
    spark = docs.sparkSession
    words = bpe_word_counts(docs, text_col=text_col).localCheckpoint()

    merges = []
    for rank in range(1, n_merges + 1):
        syms = F.filter(F.split(F.col("s"), BPE_SEP),
                        lambda x: x != "")
        pairs = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(syms) - 2),
                lambda i: F.struct(
                    F.element_at(syms, i + 1).alias("l"),
                    F.element_at(syms, i + 2).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        best = (
            words.select(F.col("cnt"), F.explode(pairs).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .first()
        )
        if best is None:
            break
        l, r, c = best.l, best.r, best.c
        merges.append((rank, l, r, int(c)))
        old = BPE_SEP + l + BPE_SEP + r + BPE_SEP
        new = BPE_SEP + l + r + BPE_SEP
        # nested replace expressions stay narrow (n_merges deep) over
        # the checkpointed word table — cheaper than a materialization
        # job per round
        words = words.select(
            "word", "cnt",
            F.replace(F.col("s"), F.lit(old), F.lit(new)).alias("s"),
        )

    return local_frame(
        spark, merges, "rank long, left string, right string, pair_count long")


def bpe_apply(docs: DataFrame, n_merges: int = 6,
              text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Tokenize documents with the merges :func:`bpe_merges` learns —
    the consumer side of BPE training and the real token accountant of
    a pipeline (whitespace counts under-estimate subword budgets):
    per document, ``n_words`` (whitespace tokens), ``n_subwords``
    (BPE symbols after applying the learned merges in rank order,
    greedy left-to-right — identical semantics to training because
    both use the same serialized-segmentation literal replace), and
    ``subwords_per_word`` (exact double division).

    Plan (100 TB): training's word table already holds every word's
    FINAL segmentation, so application is one broadcast join of the
    vocabulary-bounded segmentation dim onto the exploded document
    token stream + a per-doc partial-aggregated sum — no per-doc
    re-segmentation work at all.  (Here train and apply corpora are
    the same table; a production split corpus left-joins and falls
    back to character counts for unseen words.)"""
    words = bpe_word_counts(docs, text_col=text_col).localCheckpoint()
    segs = words
    for _rank in range(1, n_merges + 1):
        syms = F.filter(F.split(F.col("s"), BPE_SEP), lambda x: x != "")
        pairs = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(syms) - 2),
                lambda i: F.struct(
                    F.element_at(syms, i + 1).alias("l"),
                    F.element_at(syms, i + 2).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        best = (
            segs.select(F.col("cnt"), F.explode(pairs).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .first()
        )
        if best is None:
            break
        old_pat = BPE_SEP + best.l + BPE_SEP + best.r + BPE_SEP
        new_pat = BPE_SEP + best.l + best.r + BPE_SEP
        segs = segs.select(
            "word", "cnt",
            F.replace(F.col("s"), F.lit(old_pat), F.lit(new_pat))
            .alias("s"),
        )
    seg_dim = segs.select(
        "word",
        F.size(F.filter(F.split(F.col("s"), BPE_SEP),
                        lambda x: x != "")).cast("long").alias("n_syms"),
    )
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    return (
        toks.join(F.broadcast(seg_dim), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_subwords"),
        )
        .select(
            id_col, "n_words", "n_subwords",
            (F.col("n_subwords").cast("double") / F.col("n_words"))
            .alias("subwords_per_word"),
        )
    )


def decontaminate_excise(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """Decontamination by EXCISION (Lee et al. 2022 appendix /
    GPT-3-style span removal): instead of dropping every document that
    shares an n-gram with the held-out eval set
    (:func:`ngram_decontaminate` — which throws away whole documents
    for one leaked sentence), cut out exactly the token positions
    covered by some eval n-gram and keep the rest.  Returns one row
    per non-NULL-text corpus doc: (id, n_tokens, removed_tokens,
    clean_text) with survivors rejoined in order; a fully-leaked doc
    comes back with empty clean_text rather than vanishing
    (segment_dedup's contract).

    Plan (100 TB): the eval gram set is distinct-ed and **broadcast**
    (benchmarks are tiny next to the corpus); the corpus gram stream
    is map-only (one hashed row per position); covered positions
    explode only from HITS (bounded by leak volume x n).  The kept
    rows come from ONE left join of the token stream against the
    covered set keyed on (id, pos), and the per-doc reassembly groupBy
    partial-aggregates (posexplode keeps a doc's tokens
    co-partitioned).  ``hash_fn``: "md5" is the oracle-replayable
    declared family; pass "xxhash64" in production."""
    from .dedup import _hash64

    toks = F.split(F.trim(F.col(text_col)), r"\s+")

    def gram_hash(prefix_df):
        g = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.struct(
                    i.alias("pos"),
                    _hash64(hash_fn,
                            F.concat_ws(" ", F.slice(toks, i + 1, n)))
                    .alias("gh"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,gh:long>>"))
        out = prefix_df.select(F.col(id_col), F.explode(g).alias("g"))
        return out.select(F.col(id_col), F.col("g.pos").alias("pos"),
                          F.col("g.gh").alias("gh"))

    ev = gram_hash(eval_docs).select("gh").distinct()
    # spread the CORPUS-side gram stream and token stream (r13): both
    # otherwise run their tokenize/hash map work in the one-split scan
    # stage; the (tiny, broadcast) eval side stays as scanned
    hits = gram_hash(spread(docs, id_col)).join(F.broadcast(ev), "gh")
    covered = hits.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"),
                             F.col("pos") + F.lit(n - 1))).alias("cpos"),
    ).distinct()

    tok_rows = spread(docs.filter(F.col(text_col).isNotNull()),
                      id_col).select(
        F.col(id_col), F.posexplode(toks).alias("pos", "tok")
    )
    joined = tok_rows.join(
        covered.select(
            F.col(id_col), F.col("cpos").alias("pos"),
            F.lit(True).alias("cut"),
        ),
        [id_col, "pos"], "left",
    )
    kept_struct = F.when(
        F.col("cut").isNull(), F.struct(F.col("pos"), F.col("tok"))
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("cut").isNotNull().cast("int")).cast("long")
            .alias("removed_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["tok"],
                ),
            ).alias("clean_text"),
        )
    )


def substring_dedup_excise(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """CORPUS-INTERNAL exact-substring dedup by excision (Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better" —
    the ExactSubstr pass proper): token spans covered by a k-gram that
    occurs in >= ``min_docs`` DISTINCT documents are kept in exactly
    ONE canonical document (the min doc id over the gram's occurrences)
    and cut everywhere else.  Document-level dedup misses this entirely
    — boilerplate headers/footers ride inside otherwise-unique pages —
    and the span-DETECTION operator (:func:`..dedup.duplicate_spans`)
    only reports; this one produces the cleaned corpus.

    Output one row per non-NULL-text doc: (id, n_tokens,
    removed_tokens, clean_text), survivors rejoined in order; docs made
    empty stay present (segment_dedup's contract).

    Plan (100 TB): the gram stream is map-only (one hashed row per
    token position — the paper's suffix array is inherently sequential;
    the hashed k-gram inverted index distributes); duplicate discovery
    + canonical-owner pick is ONE wordcount-shaped groupBy on the gram
    hash (count(distinct doc) and min(doc) fold into the same
    aggregate); the join-back is keyed on the hash; covered positions
    explode from non-owner HITS only (bounded by duplicate volume x k);
    the reassembly is decontaminate_excise's shape — one keyed
    (id, pos) left join + a per-doc partial-aggregated groupBy.  ZERO
    windows, no cross join.  ``hash_fn``: "md5" is the
    oracle-replayable declared family; pass "xxhash64" in production."""
    from .dedup import _hash64

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    g = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.struct(
                i.alias("pos"),
                _hash64(hash_fn,
                        F.concat_ws(" ", F.slice(toks, i + 1, k))).alias("gh"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gh:long>>"))
    # spread before the gram explode (r13, guide §2.5/§6): the
    # per-position tokenize + hash map work otherwise runs in the
    # one-split scan stage; no-op at scale (see pipeline/spread.py)
    grams = spread(docs, id_col).select(
        F.col(id_col), F.explode(g).alias("g")
    ).select(
        F.col(id_col), F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh")
    )
    dup_owner = (
        grams.groupBy("gh")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("owner"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("gh", "owner")
    )
    cut_hits = grams.join(dup_owner, "gh").filter(
        F.col(id_col) != F.col("owner")
    )
    covered = cut_hits.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"),
                             F.col("pos") + F.lit(k - 1))).alias("cpos"),
    ).distinct()

    tok_rows = spread(docs.filter(F.col(text_col).isNotNull()),
                      id_col).select(
        F.col(id_col), F.posexplode(toks).alias("pos", "tok")
    )
    joined = tok_rows.join(
        covered.select(
            F.col(id_col), F.col("cpos").alias("pos"),
            F.lit(True).alias("cut"),
        ),
        [id_col, "pos"], "left",
    )
    kept_struct = F.when(
        F.col("cut").isNull(), F.struct(F.col("pos"), F.col("tok"))
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("cut").isNotNull().cast("int")).cast("long")
            .alias("removed_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["tok"],
                ),
            ).alias("clean_text"),
        )
    )
