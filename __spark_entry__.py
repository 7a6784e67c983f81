"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the implemented operator inventory (SURVEY.md §2 +
the LLM-pipeline operators); ``oracle_sql()`` the matching DuckDB SQL.
EVERY declared query has an oracle entry — the engine-specific hash
families (xxhash64 minhash / simhash / fingerprints, LSH ANN) gained
exact cross-engine oracles in round 2 by pinning a shared hash spec on
both sides.  ``tools/check_oracles.py`` replays the full surface
(row count + column set + order-insensitive value hash per query)
against any sf dir; the committed ``ORACLE_FULL.txt`` is its latest
all-query run.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from powa_archivist_spark.pipeline.queries import PIPELINE_QUERIES  # noqa: E402
from powa_archivist_spark.queries import CORE_QUERIES  # noqa: E402

# The correctness gate replays the first 50 entries of ``queries()``
# (this order, then every other declared query); a newcomer placed
# here displaces the last gated row.
_GATE_ORDER = [
    "q01_pricing_summary",
    "stream_components_ledger",
    "ann_ivfpq_probe_tuning",
    "ann_ivfpq_at_rest",
    "ann_nprobe_tuning",
    "stream_kmeans_staleness",
    "dedup_minhash_lsh",
    "multimodal_binary_near_dup",
    "ann_ivfpq_recall",
    "corpus_pack_ffd",
    "stream_kmeans_ledger",
    "ann_pq_recall",
    "docs_bm25_wand",
    "emb_kmeans",
    "docs_rrf_hybrid",
    "docs_bm25_rm3",
    "docs_ngram_novelty",
    "emb_kmeans_profile",
    "emb_kmeans_semdedup",
    "dedup_minhash_recall",
    "stream_novelty_ledger",
    "dedup_lsh_tuning",
    "ann_ivf_recall",
    "events_kll_windowed",
    "dedup_components",
    "dedup_jaccard_pairs",
    "dedup_keep_list",
    "emb_near_dup",
    "emb_semantic_dedup",
    "corpus_source_profile",
    "corpus_ngram_ppl",
    "dedup_components_smallvocab",
    "events_kll_quantiles",
    "stream_kll_profile",
    "docs_substring_dedup",
    "source_overlap_kmv",
    "knn_sq_topk",
    "ann_sq_recall",
    "corpus_ngram_ppl_interp",
    "events_cms_counts",
    "stream_cms_profile",
    "docs_bm25_topk",
    "ann_mrl_recall",
    "corpus_group_sample",
    "stream_bm25_index",
    "events_cms_windowed",
    "docs_heavy_tokens_by_source",
    "multimodal_resize",
    "multimodal_features",
    "corpus_token_stats",
    "corpus_chunks",
    "ann_index_upsert",
    "corpus_segment_dedup",
    "emb_decontam",
    "corpus_dsir_select",
    "docs_dup_spans",
    "corpus_bpe_merges",
    "corpus_bpe_encode",
    "corpus_decontam_excise",
    "corpus_quality_ensemble",
    "salted_rollup",
    "ivf_refined_centroids",
    "multimodal_meta",
    "multimodal_frames",
    "token_counts",
    "lang_id",
    "pii_scrub_stats",
    "text_tfidf_topk",
    "dedup_winnow_pairs",
    "corpus_prep_funnel",
    "corpus_shuffle_shards",
    "corpus_vocab_topk",
    "corpus_quality_gate",
]

_MERGED = {**CORE_QUERIES, **PIPELINE_QUERIES}
_ALL = {name: _MERGED[name] for name in _GATE_ORDER}
_ALL.update({name: spec for name, spec in _MERGED.items() if name not in _ALL})
assert len(_ALL) == len(_MERGED), "gate order references unknown query names"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from powa_archivist_spark.queries import q01_pricing_summary

    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _oracle) in _ALL.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: oracle for name, (_fn, oracle) in _ALL.items() if oracle is not None
    }
