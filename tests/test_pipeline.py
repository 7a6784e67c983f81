"""Property tests for the training-data pipeline operators (dedup,
similarity, text stats) — the non-oracle-checkable semantics: LSH recall
vs exact Jaccard, simhash hamming behavior, kNN vs numpy ground truth.
"""

from __future__ import annotations

import numpy as np
import pytest

from powa_archivist_spark.pipeline import dedup, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base, "en"),
        (1, base, "en"),                              # exact dup of 0
        (2, base.replace("dog", "cat"), "en"),        # near dup of 0
        (3, "completely different words entirely unrelated content here now", "en"),
        (4, "der hund und die katze und der vogel und das haus", "de"),
        (5, "", "en"),                                # empty text edge case
        (6, "one two", "en"),                         # shorter than shingle n
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_collapses_normalized_dups(spark, docs):
    extra = spark.createDataFrame(
        [(7, "  THE quick   brown fox jumps over the lazy dog again and again today ", "en")],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r.n_copies for r in dedup.exact_dedup(docs.union(extra)).collect()}
    assert out[0] == 3  # 0, 1, and whitespace/case variant 7
    assert 1 not in out and 7 not in out  # min id is the representative
    assert out[3] == 1


def test_jaccard_pairs_identity_and_disjoint(spark, docs):
    pairs = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) not in pairs  # disjoint token sets never pair
    assert 0.5 <= pairs[(0, 2)] < 1.0


def test_jaccard_prefix_path_matches_bitmask_semantics(spark):
    """>63-token vocabulary forces the prefix-filter path; results must
    equal brute-force Jaccard on planted near-dups."""
    vocab = [f"w{i:03d}" for i in range(120)]
    base = " ".join(vocab[:40])
    near = " ".join(vocab[1:40] + [vocab[100]])  # 39/41 shared
    far = " ".join(vocab[60:100])
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)],
        "doc_id long, text string",
    )
    pairs = {
        (r.a_id, r.b_id): (r.inter_size, r.union_size, r.jaccard)
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)][2] == 1.0
    assert pairs[(0, 2)] == (39, 41, 39 / 41)
    assert not any(3 in p for p in pairs)


def test_jaccard_prefix_float_ceil_boundary(spark):
    """r9 regression: ``ceil(0.8 * 10)`` evaluates to 9 in float
    arithmetic (``8.000000000000002``), silently shortening the probe
    prefix by one token — a TRUE pair whose first common token sits at
    exactly the last prefix position was lost.  Construction: A has two
    set-frequency-1 tokens ordered before its 8 shared tokens, B is
    exactly the shared 8 (jaccard 8/10 == threshold); the witness lands
    at A-position 3, the buggy prefix length was 2."""
    a_text = "aa ab " + " ".join(f"c{i}" for i in range(8))
    b_text = " ".join(f"c{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(0, a_text), (1, b_text)], "doc_id long, text string"
    )
    pairs = {
        (r.a_id, r.b_id): (r.inter_size, r.union_size, r.jaccard)
        for r in dedup.jaccard_pairs(
            docs, threshold=0.8, strategy="prefix"
        ).collect()
    }
    assert pairs == {(0, 1): (8, 10, 0.8)}


def test_near_dup_components_matches_doc_level(spark):
    """The set-level components fast path (r9) must equal the doc-level
    composition on a corpus with exact-duplicate multiplicity, planted
    transitive chains, and empty/NULL texts."""
    rows = [
        (0, "a b c d e f g h i j"),
        (1, "a b c d e f g h i j"),        # exact dup of 0
        (2, "a b c d e f g h i k"),        # near dup of 0 (9/11)
        (3, "a b c d e f g h k l"),        # near dup of 2 (8/11), not of 0
        (4, "z y x w v u t s r q"),        # unrelated
        (5, ""),                           # empty
        (6, None),                         # NULL
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    doc_level = {
        (r.doc_id, r.component)
        for r in dedup.connected_components(
            dedup.jaccard_pairs(docs, threshold=0.8, strategy="prefix"),
            docs,
        ).collect()
    }
    set_level = {
        (r.doc_id, r.component)
        for r in dedup.near_dup_components(
            docs, threshold=0.8, strategy="prefix"
        ).collect()
    }
    assert set_level == doc_level
    comp = dict(set_level)
    assert comp[0] == comp[1] == comp[2] == comp[3] == 0  # one chain
    assert comp[4] == 4 and comp[5] == 5 and comp[6] == 6  # singletons


def test_near_dup_components_bitmask_keeps_null_text_docs(spark):
    """r14 (ADVICE r13): the mask-contracted bitmask CC route dropped
    NULL-text docs (a NULL token array explodes to no mask row), while
    the prefix route keeps them as singletons via the NULL set-key
    sentinel — route parity requires the bitmask output to carry them
    as singleton components too."""
    rows = [
        (0, "a b c"),
        (1, "a b c"),      # exact dup of 0
        (2, "a b d"),      # not a near dup at 0.8
        (3, None),         # NULL text
        (4, None),         # second NULL: each its own singleton
        (5, ""),           # empty text ('' token set, non-NULL)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    prefix = {
        (r.doc_id, r.component)
        for r in dedup.near_dup_components(
            docs, threshold=0.8, strategy="prefix"
        ).collect()
    }
    route = {}
    bitmask = {
        (r.doc_id, r.component)
        for r in dedup.near_dup_components(
            docs, threshold=0.8, strategy="probe", route_out=route
        ).collect()
    }
    assert route == {"route": "bitmask"}
    assert bitmask == prefix
    comp = dict(bitmask)
    assert comp[3] == 3 and comp[4] == 4  # NULL-text singletons kept


def test_near_dup_components_route_pin(spark):
    """VERDICT r8 task 1: the DECLARED dedup_components route must be
    the route-FIXED prefix plan (no probe, no mid-decade flip); the
    smallvocab variant keeps the probe and reports its decision."""
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c")], "doc_id long, text string"
    )
    route = {}
    out = {
        (r.doc_id, r.component)
        for r in dedup.near_dup_components(
            docs, threshold=0.8, strategy="prefix", route_out=route
        ).collect()
    }
    assert route == {"route": "prefix"}
    assert out == {(0, 0), (1, 0)}
    route = {}
    dedup.near_dup_components(
        docs, threshold=0.8, strategy="probe", route_out=route
    ).count()
    assert route == {"route": "bitmask"}


def test_minhash_lsh_recall_against_exact(spark, docs):
    """Every exact-Jaccard>=0.8 pair must be recovered by the LSH path
    (identical docs collide in every band; verification is exact)."""
    exact = {
        (r.a_id, r.b_id)
        for r in dedup.jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.8).collect()
    }
    # the verify step guarantees precision; identical pairs guarantee recall
    assert lsh <= exact
    assert (0, 1) in lsh


def test_minhash_signature_shape_and_determinism(spark, docs):
    sigs = dedup.minhash_signatures(docs, num_perm=16).collect()
    by_id = {r.doc_id: r.sig for r in sigs}
    assert all(len(s) == 16 for s in by_id.values())
    assert by_id[0] == by_id[1]  # identical text -> identical signature
    assert by_id[0] != by_id[3]
    # docs shorter than shingle_n (or empty) produce no shingles -> no row
    assert 5 not in by_id and 6 not in by_id


def test_simhash_identical_and_distant(spark, docs):
    fps = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert fps[0] == fps[1]
    # unrelated docs differ in many bits
    assert bin((fps[0] ^ fps[3]) & ((1 << 64) - 1)).count("1") > 10
    assert 5 in fps  # empty text keeps a row (fingerprint 0)
    pairs = {
        (r.a_id, r.b_id): r.hamming
        for r in dedup.simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 3) not in pairs


def test_knn_bruteforce_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 8)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.knn_bruteforce(emb, query_ids=[0, 1], k=5).collect()
    got = {
        q: [r.neighbor_id for r in sorted(out, key=lambda r: r.rank) if r.query_id == q]
        for q in (0, 1)
    }
    qv = np.round(vecs.astype("float64") * similarity.QUANT)
    for q in (0, 1):
        dots = (qv @ qv[q]).astype("int64")
        order = [i for i in np.lexsort((np.arange(50), -dots)) if i != q][:5]
        assert got[q] == order


def test_knn_lsh_scores_are_exact_within_candidates(spark):
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs[1] = vecs[0]  # plant an exact twin
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    planes = [[float(x) for x in rng.normal(size=8)] for _ in range(3)]
    out = similarity.knn_lsh(emb, query_ids=[0], planes=planes, k=5).collect()
    assert out, "twin must share every hyperplane side -> non-empty bucket"
    top = min(out, key=lambda r: r.rank)
    assert top.neighbor_id == 1  # the twin wins with the max dot product


def test_knn_ivf_recall_and_exactness(spark):
    """IVF probes a subset of cells; returned scores must be exact and
    recall vs brute force reasonable on clustered data."""
    rng = np.random.default_rng(3)
    centers = rng.normal(size=(4, 8))
    vecs = np.vstack([
        c + 0.05 * rng.normal(size=(25, 8)) for c in centers
    ]).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    brute = similarity.knn_bruteforce(emb, query_ids=[0], k=10).collect()
    # centroid_mod=10 puts ~3 sampled centroids inside the query's true
    # cluster; nprobe must cover them for high recall
    ivf = similarity.knn_ivf(emb, query_ids=[0], k=10, nprobe=3,
                             centroid_mod=10).collect()
    bs = {r.neighbor_id: r.dot_q for r in brute}
    for r in ivf:
        if r.neighbor_id in bs:
            assert r.dot_q == bs[r.neighbor_id]  # exact rescoring
    recall = len({r.neighbor_id for r in ivf} & set(bs)) / len(bs)
    assert recall >= 0.7


def test_embedding_near_dup_pairs(spark):
    vecs = np.eye(4, dtype="float32")
    vecs = np.vstack([vecs, vecs[0:1]])  # 4 is a dup of 0
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    pairs = {
        (r.a_id, r.b_id): r.dot_q
        for r in similarity.embedding_near_dup_pairs(
            emb, min_dot_q=900_000_000_000
        ).collect()
    }
    assert set(pairs) == {(0, 4)}
    assert pairs[(0, 4)] == similarity.QUANT * similarity.QUANT


def test_blocked_similarity_matches_expression_path(spark):
    """The numpy block-matmul operators must produce bitwise-identical
    results to the Catalyst expression versions (same quantization grid,
    half-away-from-zero rounding)."""
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(60, 8)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    thr = 100_000_000_000
    hof = {
        (r.a_id, r.b_id): r.dot_q
        for r in similarity.embedding_near_dup_pairs(emb, thr).collect()
    }
    blk = {
        (r.a_id, r.b_id): r.dot_q
        for r in similarity.embedding_near_dup_pairs_blocked(emb, thr).collect()
    }
    assert hof == blk and len(hof) > 0
    k1 = {(r.query_id, r.rank): (r.neighbor_id, r.dot_q)
          for r in similarity.knn_bruteforce(emb, [0, 1], k=5).collect()}
    k2 = {(r.query_id, r.rank): (r.neighbor_id, r.dot_q)
          for r in similarity.knn_bruteforce_blocked(
              emb, [0, 1], k=5, min_corpus_rows=0).collect()}
    assert k1 == k2


def test_blocked_knn_tiebreak_matches_global(spark):
    """Block-local top-k pruning must use the global (-dot, neighbor_id)
    tiebreak: a corpus of identical vectors ties every dot product, so
    any block holding more than k rows would emit the wrong survivors if
    it pruned by partition order instead of neighbor id."""
    vec = [float(x) for x in np.eye(8, dtype="float32")[0]]
    emb = spark.createDataFrame(
        [(i, vec) for i in range(200)], "vec_id long, embedding array<float>"
    )
    plain = [(r.rank, r.neighbor_id)
             for r in similarity.knn_bruteforce(emb, [0], k=3).collect()]
    blocked = [(r.rank, r.neighbor_id)
               for r in similarity.knn_bruteforce_blocked(
                   emb, [0], k=3, min_corpus_rows=0).collect()]
    assert sorted(plain) == sorted(blocked) == [(1, 1), (2, 2), (3, 3)]


def test_blocked_crossover_routes_small_corpus_to_plain(spark):
    """Below min_corpus_rows the blocked kNN must return the Catalyst
    plan (no mapInPandas python stage) — Arrow fan-out overhead loses on
    small corpora."""
    from powa_archivist_spark.plans import inspect as pi

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    df = similarity.knn_bruteforce_blocked(emb, [0], k=2, min_corpus_rows=100)
    assert "MapInPandas" not in pi.plan_string(df)


def test_grid_blocked_near_dup_runs_no_driver_job_on_construction(spark):
    """The grid-blocked near-dup must be fully lazy: no toPandas /
    collect of the corpus at plan-construction time (the round-1
    scale-killer)."""
    sc = spark.sparkContext
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    sc.setJobGroup("construct-probe", "construction must schedule no job")
    try:
        df = similarity.embedding_near_dup_pairs_blocked(emb, min_dot_q=0)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    assert list(tracker.getJobIdsForGroup("construct-probe")) == []
    assert df.schema.simpleString() == "struct<a_id:bigint,b_id:bigint,dot_q:bigint>"


def test_multimodal_meta_and_frames(spark):
    from powa_archivist_spark.pipeline import multimodal

    docs = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, "x" * 7)], "doc_id long, text string"
    )
    wp = multimodal.with_payload(docs)
    meta = {r.doc_id: r for r in multimodal.extract_meta(wp).collect()}
    assert meta[1].n_bytes == 3
    assert meta[1].checksum == ord("a") * 256 + ord("c")
    assert meta[1].width == 323 and meta[1].height == 243
    assert meta[1].fmt == "jpeg"
    assert meta[2].n_bytes == 0 and meta[2].checksum == 0
    frames = multimodal.sample_frames(wp).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r.doc_id, []).append(r)
    # n_frames = n_bytes % 4 + 1
    assert len(per_doc[1]) == 4 and len(per_doc[2]) == 1 and len(per_doc[3]) == 4
    assert sorted(r.frame_idx for r in per_doc[1]) == [0, 1, 2, 3]
    assert all(
        r.frame_checksum == meta[r.doc_id].checksum + r.frame_idx for r in frames
    )


def test_decode_stub_raises(spark):
    from powa_archivist_spark.pipeline import multimodal

    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        multimodal.resize_image_bytes(b"\x89PNG", 64, 64)


def test_multimodal_resize_and_features(spark):
    from powa_archivist_spark.pipeline import multimodal

    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, ""), (3, "é" * 10)],  # non-ASCII: codepoints
        "doc_id long, text string",
    )
    wp = multimodal.with_payload(docs)
    rs = {r.doc_id: r for r in
          multimodal.resize_images(wp, target_w=2, target_h=2).collect()}
    # cap = 4 codepoints: 'abcd' -> len 4, first 'a', last 'd'
    assert rs[1].resized_len == 4
    assert rs[1].resized_checksum == ord("a") * 256 + ord("d")
    assert rs[2].resized_len == 0 and rs[2].resized_checksum == 0
    # multi-byte chars counted as single codepoints, not bytes
    assert rs[3].resized_len == 4
    assert rs[3].resized_checksum == ord("é") * 256 + ord("é")

    ft = {r.doc_id: r for r in multimodal.extract_features(wp).collect()}
    # stride 7 over 'abcdef' (n=6): k*7 % 6 cycles a..f offset pattern
    want = [ord("abcdef"[(k * 7) % 6]) for k in range(16)]
    assert ft[1].feat_csv == ",".join(str(x) for x in want)
    assert ft[1].feat_sum == sum(want)
    assert ft[2].feat_csv == ",".join(["0"] * 16) and ft[2].feat_sum == 0
    assert ft[3].feat_sum == 16 * ord("é")


def test_text_stats_values(spark):
    docs = spark.createDataFrame(
        [(1, "Hello world! 42")], "doc_id long, text string"
    )
    r = textstats.text_stats(docs).collect()[0]
    assert r.n_chars_calc == 15
    assert r.n_tokens == 3
    assert r.n_distinct_tokens == 3
    assert r.n_alpha == 10
    t = textstats.token_count_bpe_ish(docs).collect()[0]
    assert t.n_ws_tokens == 3
    # Hello | world | ! | 42 -> 4 subword pieces
    assert t.n_subword_pieces == 4


def test_lang_id_markers(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house", "en"),
            (2, "der hund und die katze", "de"),
            (3, "xyzzy plugh", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r.pred_lang for r in textstats.lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "unknown"


def test_doc_fingerprint_deterministic(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "h i j k l m n")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.fp_min, r.fp_max, r.fp_full)
           for r in textstats.doc_fingerprint(docs).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


# ---------------------------------------------------------------------------
# corpus-prep operators (pipeline/corpus.py)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus_docs(spark):
    long_en = " ".join(f"w{i % 19} t{i % 7}" for i in range(20))  # 40 toks
    rows = [
        (0, long_en, "en"),
        (1, long_en, "en"),                      # exact dup of 0 -> dropped
        (2, long_en + " tail", "en"),            # near dup of 0 -> dropped
        (3, " ".join(f"u{i}" for i in range(40)), "en"),  # unique, kept
        (4, "too short", "en"),                  # fails min_tokens
        (5, " ".join(["same"] * 40), "en"),      # fails distinct ratio
        (6, " ".join(f"d{i}" for i in range(40)), "de"),  # wrong lang
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_corpus_prep_funnel_stages(spark, corpus_docs):
    from powa_archivist_spark.pipeline import corpus

    kept = corpus.corpus_prep(
        corpus_docs, langs=("en",), min_tokens=10, min_distinct_ratio=0.3,
        threshold=0.8,
    )
    ids = {r.doc_id for r in kept.collect()}
    assert ids == {0, 3}  # 1 exact-dup, 2 near-dup, 4/5 quality, 6 lang
    row = {r.doc_id: r for r in kept.collect()}[0]
    assert row.n_tokens == 40 and 0 < row.distinct_ratio < 1


def test_pack_sequences_bins(spark):
    from powa_archivist_spark.pipeline import corpus

    # 6 docs x 30 tokens in one shard; seq_len 100 -> starts at 0,30,60,
    # 90,120,150 -> bins 0,0,0,0,1,1
    rows = [(i, " ".join(["t"] * 30), "en") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        (r.shard, r.bin_id): r
        for r in corpus.pack_sequences(docs, seq_len=100).collect()
    }
    assert out[("en", 0)].n_docs == 4 and out[("en", 0)].n_tokens == 120
    assert out[("en", 1)].n_docs == 2
    assert out[("en", 0)].first_doc == 0 and out[("en", 1)].first_doc == 4


def test_pack_sequences_binned_hand_case(spark):
    """r11: FFD hand replay — lengths 60,50,40,30,20 into 100-token
    bins: [60+40], [50+30+20] — two full bins, zero padding, and the
    assignment checksum pins the exact placement."""
    from powa_archivist_spark.pipeline import corpus

    rows = [(i, " ".join(["t"] * n), "en")
            for i, n in enumerate([60, 50, 40, 30, 20])]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string")
    (r,) = corpus.pack_sequences_binned(docs, seq_len=100).collect()
    assert (r.shard, r.n_docs, r.total_tokens) == ("en", 5, 200)
    assert r.n_bins == 2 and r.padding_tokens == 0
    # d0->bin0, d1->bin1, d2->bin0, d3->bin1, d4->bin1
    assert r.assign_checksum == 1 * 1 + 2 * 2 + 3 * 1 + 4 * 2 + 5 * 2
    assert r.bins_chunked == 2 and r.padding_chunked == 0


def test_pack_sequences_binned_invariants(spark):
    """r11 (VERDICT r10 task 5): bin-capacity invariants on real data —
    padding is exactly n_bins*seq_len - total (no oversize docs at
    seq_len 256), FFD never packs below the volume lower bound
    (bins_chunked = ceil(total/seq_len)), and never pads less than the
    chunked baseline; an oversize doc opens its own bin and contributes
    no positive padding."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = corpus.pack_sequences_binned(docs, seq_len=256).collect()
    assert len(out) == 5  # one row per lang shard
    for r in out:
        assert r.n_bins >= r.bins_chunked
        assert r.padding_tokens >= r.padding_chunked >= 0
        assert r.padding_tokens == r.n_bins * 256 - r.total_tokens
        assert 0 < r.n_bins <= r.n_docs
    # oversize: a 30-token doc at seq_len 20 -> own bin, clamped padding
    over = spark.createDataFrame(
        [(0, " ".join(["t"] * 30), "en"), (1, "t t", "en")],
        "doc_id long, text string, lang string")
    (r,) = corpus.pack_sequences_binned(over, seq_len=20).collect()
    assert r.n_bins == 2 and r.padding_tokens == 18
    assert r.assign_checksum == 1 * 1 + 2 * 2


def test_stratified_sample_rates_and_determinism(spark, corpus_docs):
    from powa_archivist_spark.pipeline import corpus

    all_en = corpus.stratified_sample(corpus_docs, {"en": 1.0})
    assert {r.doc_id for r in all_en.collect()} == {0, 1, 2, 3, 4, 5}
    none = corpus.stratified_sample(corpus_docs, {"en": 0.0})
    assert none.count() == 0
    a = {r.doc_id for r in corpus.stratified_sample(corpus_docs, {"en": 0.5}).collect()}
    b = {r.doc_id for r in corpus.stratified_sample(corpus_docs, {"en": 0.5}).collect()}
    assert a == b  # deterministic, no RNG state


def test_token_length_stats_exact_and_approx(spark, corpus_docs):
    from powa_archivist_spark.pipeline import corpus

    exact = {r.grp: r for r in corpus.token_length_stats(corpus_docs).collect()}
    assert exact["de"].n_docs == 1 and exact["de"].n_tokens == 40
    assert exact["de"].p50 == 40.0
    approx = {
        r.grp: r
        for r in corpus.token_length_stats(corpus_docs, exact=False).collect()
    }
    # t-digest on tiny groups is exact
    assert approx["de"].p50 == exact["de"].p50


def test_ivf_refine_deterministic_and_improves(spark):
    from powa_archivist_spark.pipeline import similarity as sim

    rng = np.random.default_rng(7)
    # two well-separated clusters of unit vectors
    a, b = rng.normal(size=64), rng.normal(size=64)
    a, b = a / np.linalg.norm(a), b / np.linalg.norm(b)
    rows = []
    for i in range(40):
        base = a if i % 2 == 0 else b
        v = base + rng.normal(scale=0.05, size=64)
        rows.append((i, (v / np.linalg.norm(v)).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from pyspark.sql import functions as F

    r1 = sim.ivf_refine(emb, iters=1, centroid_mod=7)
    r1_rows = {r.cell_id: list(r.cv) for r in r1.collect()}
    r1_again = {r.cell_id: list(r.cv) for r in sim.ivf_refine(
        emb, iters=1, centroid_mod=7).collect()}
    assert r1_rows == r1_again  # bit-deterministic
    assert all(len(v) == 64 for v in r1_rows.values())

    def assignment(cents_df):
        cents = cents_df.select(
            F.col("cell_id").alias("c2"), F.col("cv").alias("cv2")
        )
        scored = emb.select(
            F.col("vec_id"), sim.quantized(F.col("embedding")).alias("v")
        ).crossJoin(F.broadcast(cents)).select(
            "vec_id", "c2", sim.int_dot(F.col("v"), F.col("cv2")).alias("d")
        ).groupBy("vec_id").agg(
            F.max_by("c2", F.struct(F.col("d"), (-F.col("c2")))).alias("cell")
        )
        return {r.vec_id: r.cell for r in scored.collect()}

    # the two true clusters (even/odd ids) were separated by the initial
    # sampled centroids; a Lloyd step must PRESERVE that purity — no cell
    # may contain members of both clusters (mean-of-members centroids
    # drift toward their dominant cluster, never across the gap)
    amap = assignment(r1)
    even_cells = {amap[i] for i in amap if i % 2 == 0}
    odd_cells = {amap[i] for i in amap if i % 2 == 1}
    assert not (even_cells & odd_cells)

    # and a second iteration keeps it stable
    r2 = sim.ivf_refine(emb, iters=2, centroid_mod=7)
    amap2 = assignment(r2)
    assert not ({amap2[i] for i in amap2 if i % 2 == 0}
                & {amap2[i] for i in amap2 if i % 2 == 1})


def test_chunk_documents_windows(spark):
    from powa_archivist_spark.pipeline.corpus import chunk_documents

    docs = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(10))),   # 10 toks
         (1, "single"),                               # 1 tok
         (2, " ".join(f"u{i}" for i in range(5)))],   # exactly chunk_len
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.chunk_id): r for r in
           chunk_documents(docs, chunk_len=5, overlap=2).collect()}
    # doc 0: step 3, last start = smallest stride multiple reaching the
    # end -> starts 0,3,6; tail chunk holds the remaining 4 tokens
    assert [out[(0, i)].start_tok for i in range(3)] == [0, 3, 6]
    assert (0, 3) not in out
    assert out[(0, 0)].chunk_text == "t0 t1 t2 t3 t4"
    assert out[(0, 2)].n_tokens == 4 and out[(0, 2)].chunk_text == "t6 t7 t8 t9"
    # doc 1: one 1-token chunk; doc 2: one full chunk
    assert out[(1, 0)].n_tokens == 1
    assert out[(2, 0)].n_tokens == 5 and (2, 1) not in out
    # overlap: chunk 1 of doc 0 re-covers tokens 3,4
    assert out[(0, 1)].chunk_text.split()[:2] == ["t3", "t4"]


def test_knn_lsh_multiprobe_recall_dominates(spark):
    """Multi-probe candidates are a superset of single-probe (flip set
    includes 0), so recall vs brute force can only improve."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(120):
        v = rng.normal(size=16)
        rows.append((i, (v / np.linalg.norm(v)).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = [[int(round(x * 1000)) for x in rng.normal(size=16)]
              for _ in range(4)]
    qids = [0, 1, 2]

    def result_set(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = result_set(similarity.knn_bruteforce(emb, qids, k=5))
    single = result_set(similarity.knn_lsh(emb, qids, planes, k=5))
    multi = result_set(
        similarity.knn_lsh(emb, qids, planes, k=5, multiprobe=True)
    )
    assert len(multi & exact) >= len(single & exact)
    # scores of returned rows are exact (re-check one against numpy)
    rowsm = similarity.knn_lsh(emb, qids, planes, k=5, multiprobe=True).collect()
    vq = {i: np.round(np.array(v) * similarity.QUANT).astype("int64")
          for i, v in rows}
    for r in rowsm[:5]:
        assert r.dot_q == int(vq[r.query_id] @ vq[r.neighbor_id])


def test_ivf_at_rest_matches_in_memory_and_prunes(spark, wh):
    """IVF.build + IVF.probe: the at-rest index returns the SAME rows as
    the in-memory knn_ivf (same centroids, tiebreaks, quantization), and
    the probe scan partition-prunes to the probed cells only."""
    from powa_archivist_spark.plans import inspect as pi

    rng = np.random.default_rng(3)
    rows = []
    for i in range(150):
        v = rng.normal(size=16)
        rows.append((i, (v / np.linalg.norm(v)).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 1, 2]

    similarity.IVF.build(wh, emb, centroid_mod=31)
    probe = similarity.IVF.probe(
        wh, emb.filter(emb.vec_id.isin(qids)), k=5, nprobe=2
    )
    # inspect BEFORE executing: after collect, AQE's explain moves node
    # details under the Initial Plan section that plan_string strips
    assert any("cell_id" in f for f in pi.partition_filters(probe))

    mem = similarity.knn_ivf(emb, qids, k=5, nprobe=2, centroid_mod=31)
    got = {(r.query_id, r.rank): r.neighbor_id for r in probe.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in mem.collect()}
    assert got == want


def test_pii_scrub_detects_and_redacts(spark):
    docs = spark.createDataFrame(
        [(0, "contact bob.smith+x@corp.example.com or https://ex.org/a?b=1 now"),
         (1, "call +1 (555) 123-4567 twice"),
         (2, "nothing sensitive here")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textstats.pii_scrub(docs).collect()}
    assert out[0].n_email == 1 and out[0].n_url == 1 and out[0].n_phone == 0
    assert out[0].scrubbed == "contact <EMAIL> or <URL> now"
    assert out[1].n_phone == 1 and "<PHONE>" in out[1].scrubbed
    assert "555" not in out[1].scrubbed
    assert out[2].scrubbed == "nothing sensitive here"
    assert (out[2].n_email, out[2].n_url, out[2].n_phone) == (0, 0, 0)


def test_connected_components_transitive_chain(spark):
    """a~b and b~c but NOT a~c: components must merge all three (the
    greedy pair rule would re-keep c after dropping b); singletons label
    themselves."""
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "a_id long, b_id long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    comp = {r.doc_id: r.component for r in
            dedup.connected_components(pairs, nodes).collect()}
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[5] == comp[6] == 5
    assert comp[3] == 3 and comp[4] == 4 and comp[7] == 7

    # a long path exercises multi-iteration convergence
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "a_id long, b_id long"
    )
    cnodes = spark.createDataFrame([(i,) for i in range(21)], "doc_id long")
    comp2 = {r.doc_id: r.component for r in
             dedup.connected_components(chain, cnodes).collect()}
    assert set(comp2.values()) == {0}


def test_repetition_stats_flags_self_repeating_doc(spark):
    """'a a a a' repeats its single 2-gram (dup frac 2/3) and is fully
    dominated by one token; an all-distinct doc scores 0 duplication."""
    docs = spark.createDataFrame(
        [(0, "a a a a"), (1, "w x y z")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in textstats.repetition_stats(docs).collect()}
    assert abs(out[0].dup_2gram_frac - 2 / 3) < 1e-12
    assert abs(out[0].dup_3gram_frac - 1 / 2) < 1e-12
    assert out[0].top_token_frac == 1.0
    assert out[1].dup_2gram_frac == 0.0
    assert out[1].top_token_frac == 0.25


def test_repetition_stats_short_doc_zero_not_error(spark):
    """Docs shorter than n must yield 0.0, not a negative-length
    sequence error."""
    docs = spark.createDataFrame([(0, "solo")], "doc_id long, text string")
    row = textstats.repetition_stats(docs).collect()[0]
    assert row.dup_2gram_frac == 0.0 and row.dup_3gram_frac == 0.0
    assert row.top_token_frac == 1.0


def test_ngram_decontaminate_flags_eval_overlap(spark):
    """A corpus doc sharing a 3-gram with the eval set is contaminated;
    a disjoint doc is kept clean; short docs never match."""
    from powa_archivist_spark.pipeline import corpus

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(0, "well the quick brown dog"),   # shares 'the quick brown'
         (1, "completely different words here"),
         (2, "so")],                         # shorter than n
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           corpus.ngram_decontaminate(docs, ev, n=3).collect()}
    assert out[0].is_contaminated and out[0].n_hit_ngrams == 1
    assert not out[1].is_contaminated and out[1].n_hit_ngrams == 0
    assert not out[2].is_contaminated


def test_shuffle_shards_deterministic_dense_positions(spark):
    """Every doc lands in [0, n_shards); positions are dense 1..len per
    shard; the assignment is reproducible across invocations."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    out = corpus.shuffle_shards(docs, n_shards=4).collect()
    assert len(out) == 40
    by_shard = {}
    for r in out:
        assert 0 <= r.shard < 4
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    again = corpus.shuffle_shards(docs, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # a different seed produces a different permutation
    other = corpus.shuffle_shards(docs, n_shards=4, seed="other").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))


def test_tfidf_topk_ranks_rare_tokens_first(spark):
    """A token unique to one doc outscores one shared by every doc; ranks
    are 1..k with the alphabetical tiebreak."""
    docs = spark.createDataFrame(
        [(0, "common rare"), (1, "common common common"),
         (2, "common zeta")],
        "doc_id long, text string",
    )
    rows = textstats.tfidf_topk(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.tok, r.score))
    assert [t for _, t, _ in sorted(by_doc[0])] == ["rare", "common"]
    assert by_doc[1] == [(1, "common", pytest.approx(3 / 3 * 4 / 4))]
    assert [t for _, t, _ in sorted(by_doc[2])] == ["zeta", "common"]


def test_heavy_hitters_exact_with_pruning(spark):
    """Vocabulary far exceeds the Misra-Gries capacity, so per-partition
    pruning really fires — yet the output is EXACTLY the true > n/3
    items (candidate union is a superset; the recount is exact)."""
    from powa_archivist_spark.pipeline import sketches

    # 120 x 'hot', 50 x 'warm', 200 singletons -> n = 370
    rows = (
        [("hot",)] * 120 + [("warm",)] * 50
        + [(f"rare_{i}",) for i in range(200)]
    )
    df = spark.createDataFrame(rows, "tok string").repartition(8)
    out = {r.tok: (r.cnt, r.frac) for r in
           sketches.heavy_hitters(df, "tok", 1, 3).collect()}
    # only 'hot' clears 370/3 ≈ 123.3 -> none? 120*3=360 < 370 -> no hits
    assert out == {}
    out2 = {r.tok: r.cnt for r in
            sketches.heavy_hitters(df, "tok", 1, 4).collect()}
    # > 92.5: only 'hot'
    assert out2 == {"hot": 120}


def test_kmv_distinct_exact_below_k_and_estimates_above(spark):
    """Groups with fewer than k distinct keys report the exact count;
    bigger groups get a positive estimate in the right ballpark; the
    sketch is deterministic across partitionings."""
    from powa_archivist_spark.pipeline import sketches

    rows = [("small", i) for i in range(10)] * 3 + [
        ("big", i) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, k long")
    out = {r.g: r for r in
           sketches.kmv_distinct(df, "k", ["g"], k=32).collect()}
    assert out["small"].n_exact == 10
    assert out["small"].est_distinct == 10.0
    assert out["big"].n_exact == 500
    assert 250 < out["big"].est_distinct < 1000
    # repartitioning must not change the sketch (order-independent)
    out2 = {r.g: r.est_distinct for r in
            sketches.kmv_distinct(df.repartition(13), "k", ["g"], k=32)
            .collect()}
    assert out2["big"] == out["big"].est_distinct


def test_heavy_hitters_typed_column(spark):
    """The candidate schema follows the column dtype — a bigint column
    must work, not just strings."""
    from powa_archivist_spark.pipeline.sketches import heavy_hitters

    rows = [(7,)] * 40 + [(i,) for i in range(60)]
    df = spark.createDataFrame(rows, "user_id long")
    out = {r.user_id: r.cnt for r in
           heavy_hitters(df, "user_id", 1, 4).collect()}
    assert out == {7: 41}  # 41/100 > 1/4; nothing else close


def test_cms_counts_one_sided_and_exact_when_wide(spark):
    """Count-Min estimates never undercount (register minimum of
    non-negative additive counters); with a register row wide enough
    that no probe collides, the estimate IS the exact count.  The
    sketch must also be partitioning-invariant (merge = addition)."""
    from powa_archivist_spark.pipeline import sketches

    rows = [("g1", i % 7) for i in range(70)] + [
        ("g2", i % 13) for i in range(39)
    ]
    df = spark.createDataFrame(rows, "g string, k long")
    probes = spark.createDataFrame([(i,) for i in range(15)], "k long")
    out = sketches.cms_counts(df, "k", ["g"], probes, d=4, w=8).collect()
    # full probe grid: every (group, probe) pair appears
    assert len(out) == 2 * 15
    for r in out:
        assert r.est_cnt >= r.exact_cnt  # one-sided CMS guarantee
    # g1: keys 0..6 appear 10x each; 7..14 absent (exact 0).
    g1 = {r.k: r for r in out if r.g == "g1"}
    assert all(g1[i].exact_cnt == 10 for i in range(7))
    assert all(g1[i].exact_cnt == 0 for i in range(7, 15))
    # wide sketch: no collisions possible to survive all 4 rows
    wide = {(r.g, r.k): r for r in
            sketches.cms_counts(df, "k", ["g"], probes, d=4,
                                w=65536).collect()}
    assert all(r.est_cnt == r.exact_cnt for r in wide.values())
    # partitioning must not change any register, hence any estimate
    repart = {(r.g, r.k): r.est_cnt for r in
              sketches.cms_counts(df.repartition(11), "k", ["g"],
                                  probes, d=4, w=8).collect()}
    assert repart == {k: r.est_cnt for k, r in
                      {(r.g, r.k): r for r in out}.items()}


def test_kmv_distinct_keeps_null_group(spark):
    """A NULL group key is a real group: it must get its own estimate
    (pandas' default dropna and an equality join both lost it)."""
    from powa_archivist_spark.pipeline.sketches import kmv_distinct

    rows = [("a", i) for i in range(10)] + [(None, i) for i in range(5)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {r.grp: r.n_exact for r in
           kmv_distinct(df, "v", ["grp"], k=64).collect()}
    assert out == {"a": 10, None: 5}


def test_multimodal_meta_non_ascii_codepoints(spark):
    """Checksums come from decoded CODEPOINTS (oracle: ascii(text[i])),
    sizes from raw bytes (oracle: octet_length) — divergent only on
    non-ASCII, which the fixture corpus never exercises."""
    from powa_archivist_spark.pipeline import multimodal

    docs = spark.createDataFrame([(1, "étage")], "doc_id long, text string")
    meta = multimodal.extract_meta(multimodal.with_payload(docs)).collect()[0]
    assert meta.n_bytes == 6            # 'é' is two bytes
    assert meta.checksum == ord("é") * 256 + ord("e")


def test_binary_near_dup_byte_shingles(spark):
    """Blob-level near-dup: identical payloads pair at jaccard 1.0,
    unrelated payloads never pair, and the whole stage stays JVM-side
    (no Arrow/Python evaluation in the plan — binary payloads must not
    round-trip through Python)."""
    from powa_archivist_spark.pipeline import dedup, multimodal

    docs = spark.createDataFrame(
        [(1, "a" * 40 + " the same binary blob payload content"),
         (2, "a" * 40 + " the same binary blob payload content"),
         (3, "completely different bytes " + "z" * 40)],
        "doc_id long, text string",
    )
    wp = multimodal.with_payload(docs)
    sh = multimodal.binary_shingles(wp)
    pairs = dedup.minhash_dedup_pairs(wp, threshold=0.8, shingle_df=sh)
    got = {(r.a_id, r.b_id): r.jaccard for r in pairs.collect()}
    assert got == {(1, 2): 1.0}
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "mapInPandas" not in plan

    # short payloads (< one shingle window) produce empty sets, not errors
    tiny = multimodal.binary_shingles(
        multimodal.with_payload(
            spark.createDataFrame([(9, "ab")], "doc_id long, text string")
        )
    )
    assert tiny.collect()[0].sh == []


def test_dataset_split_disjoint_exhaustive_stable(spark):
    """Salted-hash split: every doc gets exactly one label, proportions
    land near the weights, assignment is append-stable (a doc's split
    is independent of the rest of the corpus), and resalting re-splits."""
    from powa_archivist_spark.pipeline.corpus import dataset_split
    from powa_archivist_spark.plans import inspect as pi

    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    split = dataset_split(docs)
    assert pi.exchange_count(split) == 0  # map-only assignment
    assert split.columns == ["doc_id", "split"]  # pass-through + label
    rows = {r.doc_id: r.split for r in split.collect()}
    assert len(rows) == 2000  # exhaustive, one row per doc
    from collections import Counter as C
    frac = {k: v / 2000 for k, v in C(rows.values()).items()}
    assert abs(frac["train"] - 0.9) < 0.03
    assert abs(frac["val"] - 0.05) < 0.02
    assert abs(frac["test"] - 0.05) < 0.02

    # append-stability: the first 500 docs keep their split
    sub = {r.doc_id: r.split for r in dataset_split(
        spark.range(500).withColumnRenamed("id", "doc_id")).collect()}
    assert all(rows[i] == sub[i] for i in range(500))

    # resalting produces a different (independent) assignment
    resalted = {r.doc_id: r.split
                for r in dataset_split(docs, salt="fold2").collect()}
    assert any(rows[i] != resalted[i] for i in range(2000))

    import pytest as _pytest
    with _pytest.raises(ValueError):
        dataset_split(docs, weights={"train": -1.0})
    with _pytest.raises(ValueError):
        dataset_split(docs, weights={})  # no silent default fallback

    # NULL id -> NULL split on both engines (no stable hash)
    from pyspark.sql import functions as _F
    nid = dataset_split(
        docs.withColumn("doc_id",
                        _F.when(_F.col("doc_id") == 0, None)
                        .otherwise(_F.col("doc_id")))
    ).filter(_F.col("doc_id").isNull()).collect()
    assert [r.split for r in nid] == [None]

def test_repetition_stats_null_text_contract(spark):
    """r6 (ADVICE r5): NULL-text docs keep their row and get NULL for
    ALL three metrics — consistently, not a 0.0/NULL mix; empty text
    stays the legitimate 0.0 case."""
    from powa_archivist_spark.pipeline import textstats

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b a b a b")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textstats.repetition_stats(docs).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].dup_2gram_frac is None
    assert rows[1].dup_3gram_frac is None
    assert rows[1].top_token_frac is None
    assert rows[2].dup_2gram_frac == 0.0
    assert rows[3].dup_2gram_frac > 0.5

def test_bloom_decontaminate_superset_of_exact(spark):
    """The bloom pass may only add false POSITIVES: every doc the exact
    gram-join pass flags must be bloom-flagged too, and the filter table
    is bounded by m_bits/32 rows regardless of eval size."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter("doc_id % 20 = 0")
    corp = docs.filter("doc_id % 20 <> 0")
    m_bits, k = 1 << 14, 3
    bloom = corpus.bloom_build(ev, n=3, m_bits=m_bits, k=k)
    assert bloom.count() <= m_bits // corpus.BLOOM_WORD_BITS
    flagged = {
        r.doc_id
        for r in corpus.bloom_decontaminate(
            corp, bloom, n=3, m_bits=m_bits, k=k
        ).filter("is_flagged").collect()
    }
    exact = {
        r.doc_id
        for r in corpus.ngram_decontaminate(corp, ev, n=3)
        .filter("is_contaminated").collect()
    }
    assert exact <= flagged
    assert flagged  # non-degenerate on this corpus


def test_vocab_topk_ranks_by_frequency(spark):
    from powa_archivist_spark.pipeline import corpus

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b c"), (3, "b c")],
        "doc_id long, text string",
    )
    rows = corpus.vocab_topk(docs, top_n=2).collect()
    assert [(r.rank, r.token, r.n_occurrences, r.n_docs) for r in rows] == [
        (1, "a", 4, 2), (2, "b", 3, 3),
    ]


def test_quality_gate_reasons(spark):
    from powa_archivist_spark.pipeline import textstats

    long_ok = " ".join(f"w{i}" for i in range(30))
    repet = " ".join(["spam spam"] * 15)
    docs = spark.createDataFrame(
        [(1, long_ok), (2, "tiny doc"), (3, repet), (4, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textstats.quality_gate(
        docs, thresholds={"min_tokens": 20, "min_distinct_ratio": 0.35,
                          "max_dup_2gram_frac": 0.55,
                          "max_top_token_frac": 0.45}).collect()}
    assert out[1].keep and out[1].reasons == []
    assert not out[2].keep and "too_short" in out[2].reasons
    assert not out[3].keep
    assert {"low_diversity", "repetitive_2gram", "dominant_token"} <= set(
        out[3].reasons
    )
    assert not out[4].keep and out[4].reasons == ["null_text"]
    assert out[4].n_tokens is None and out[4].top_token_frac is None

def test_ivf_upsert_matches_full_rebuild(spark, wh):
    """Incremental index maintenance equivalence: after upserting a
    batch of new + re-embedded vectors, the cells table holds exactly
    the rows a FULL assignment of the post-upsert corpus (against the
    same fixed centroids) would produce — and cells untouched by the
    batch keep their original files (no rewrite amplification)."""
    import os

    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    build = emb.filter("vec_id % 5 != 4")
    similarity.IVF.build(wh, build)
    cells_dir = wh.path(similarity.IVF.table("cells"))

    # snapshot per-cell file mtimes before the upsert
    def leaf_files():
        out = {}
        for d in os.listdir(cells_dir):
            if d.startswith("cell_id="):
                p = os.path.join(cells_dir, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(p, f)))
                    for f in os.listdir(p) if f.endswith(".parquet")
                )
        return out

    before = leaf_files()
    batch = emb.filter("vec_id % 5 = 4").unionByName(
        emb.filter("vec_id % 50 = 0").withColumn(
            "embedding", F.reverse("embedding")
        )
    )
    similarity.IVF.upsert(wh, batch)

    got = sorted(
        (r.cell_id, r.vec_id, tuple(r.v))
        for r in similarity.IVF.cells(wh).collect()
    )
    # reference: full re-assignment of the post-upsert vector set
    # against the same centroids
    post = emb.filter("vec_id % 50 != 0").unionByName(
        emb.filter("vec_id % 50 = 0").withColumn(
            "embedding", F.reverse("embedding")
        )
    )
    cents = wh.read(similarity.IVF.table("centroids"))
    vecs = post.select("vec_id", similarity.quantized(F.col("embedding")).alias("v"))
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", "cell_id",
        similarity.int_dot(F.col("v"), F.col("cv")).alias("dot_c"),
    )
    want = sorted(
        (r.cell_id, r.vec_id, tuple(r.v))
        for r in scored.groupBy("vec_id")
        .agg(F.max_by(
            F.struct("cell_id", "v"),
            F.struct(F.col("dot_c"), (-F.col("cell_id")).alias("neg")),
        ).alias("best"))
        .select(F.col("best.cell_id").alias("cell_id"), "vec_id", "best.v")
        .collect()
    )
    assert got == want

    # untouched cells kept their original files
    after = leaf_files()
    batch_cells = {f"cell_id={r.cell_id}" for r in
                   similarity.IVF.cells(wh)
                   .join(batch.select("vec_id"), "vec_id", "left_semi")
                   .select("cell_id").distinct().collect()}
    untouched = set(before) - batch_cells
    for d in untouched:
        assert before[d] == after[d], f"cell {d} rewritten needlessly"

def test_mixture_sample_rates(spark):
    """r6: rate semantics — 0 drops the source, floor(r) guaranteed
    copies plus at most one probabilistic, default 1.0 keeps one copy;
    append-stable (a doc's copies don't change when others arrive)."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(60)], "doc_id long, source string"
    )
    out = corpus.mixture_sample(
        docs, rates={"s0": 2.5, "s1": 0.0}, default_rate=1.0
    )
    rows = out.groupBy("source").count().collect()
    by_src = {r.source: r["count"] for r in rows}
    assert "s1" not in by_src                       # dropped
    assert by_src["s2"] == 20                       # default: one copy
    assert 40 <= by_src["s0"] <= 60                 # 2x..3x of 20 docs
    per_doc = {
        r.doc_id: r["count"]
        for r in out.filter("source = 's0'").groupBy("doc_id").count().collect()
    }
    assert all(c in (2, 3) for c in per_doc.values())
    # append stability: adding more docs never changes earlier fates
    more = docs.unionByName(spark.createDataFrame(
        [(1000 + i, "s0") for i in range(10)], "doc_id long, source string"
    ))
    per_doc2 = {
        r.doc_id: r["count"]
        for r in corpus.mixture_sample(more, rates={"s0": 2.5, "s1": 0.0})
        .filter("source = 's0' and doc_id < 1000")
        .groupBy("doc_id").count().collect()
    }
    assert per_doc2 == per_doc


def test_token_budget_select_prefix_property(spark):
    """r6: within each group the selected set is exactly the maximal
    quality-ordered prefix fitting the budget — never a worse doc
    selected while a better one is rejected."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.createDataFrame(
        [(1, "en", "a b c d e f"),          # q=1.0, 6 tokens
         (2, "en", "x y z x y z"),          # q=0.5, 6 tokens
         (3, "en", "p p p p p p"),          # q~0.17, 6 tokens
         (4, "de", "u v w")],               # q=1.0, 3 tokens
        "doc_id long, lang string, text string",
    )
    out = {r.doc_id: r for r in
           corpus.token_budget_select(docs, budget_tokens=12).collect()}
    assert [out[i].selected for i in (1, 2, 3, 4)] == [True, True, False, True]
    assert out[2].cum_tokens == 12 and out[3].cum_tokens == 18

@pytest.mark.parametrize("codec", ["raw", "pq"])
def test_ivf_upsert_append_only_fast_path(spark, wh, codec):
    """assume_new_ids=True skips the replaced-id scan and appends the
    batch's cells — result equals the default path for fresh ids.
    Both codecs: the cell assignment is the same coarse argmax."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity

    index = _ann_index(codec)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    index.build(wh, emb.filter("vec_id % 5 != 4"))
    batch = emb.filter("vec_id % 5 = 4")
    index.upsert(wh, batch, assume_new_ids=True)
    got = {
        (r.cell_id, r.vec_id)
        for r in index.cells(wh).collect()
    }
    assert {r.vec_id for r in batch.select("vec_id").collect()} <= {
        v for _c, v in got
    }
    # equivalence with the full-assignment reference
    cents = wh.read(index.table("centroids"))
    vecs = emb.select(
        "vec_id", similarity.quantized(F.col("embedding")).alias("v")
    )
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell_id",
        similarity.int_dot(F.col("v"), F.col("cv")).alias("dot_c"),
    )
    want = {
        (r.cell_id, r.vec_id)
        for r in scored.groupBy("vec_id")
        .agg(F.max_by(
            "cell_id", F.struct(F.col("dot_c"), (-F.col("cell_id")).alias("n"))
        ).alias("cell_id"))
        .select("cell_id", "vec_id").collect()
    }
    assert got == want

@pytest.mark.parametrize("codec", ["raw", "pq"])
def test_ivf_upsert_clears_emptied_cell(spark, wh, codec):
    """Code-review r6: dynamic partition overwrite writes nothing for a
    partition absent from the output, so a cell whose ONLY member moved
    away must be dropped explicitly — otherwise the replaced id's stale
    row survives and the index holds it twice."""
    from pyspark.sql import functions as F

    index = _ann_index(codec)

    e1 = [1.0] + [0.0] * 7
    e2 = [0.0, 1.0] + [0.0] * 6
    near2 = [0.05, 1.0] + [0.0] * 6
    emb = spark.createDataFrame(
        [(0, e1), (97, e2)] + [(i, near2) for i in (1, 2, 3)],
        "vec_id long, embedding array<float>",
    )
    index.build(wh, emb)
    cells = {(r.cell_id, r.vec_id)
             for r in index.cells(wh).collect()}
    assert (0, 0) in cells  # id 0 alone in its own cell

    # re-embed id 0 so it argmaxes into cell 97
    batch = spark.createDataFrame(
        [(0, e2)], "vec_id long, embedding array<float>"
    )
    index.upsert(wh, batch)
    after = [(r.cell_id, r.vec_id)
             for r in index.cells(wh).collect()]
    ids = [v for _c, v in after]
    assert ids.count(0) == 1, f"stale duplicate of id 0: {sorted(after)}"
    assert (97, 0) in set(after)
    assert not any(c == 0 for c, _v in after)  # emptied cell gone

def test_quality_gate_oracle_parity_on_null_text(spark, tmp_path):
    """r6 code review: the gate's NULL-text contract must be replayable
    by its SQL oracle — run BOTH engines over a corpus that actually
    contains a NULL text (the driver corpus has none, so this is the
    only place the contract is cross-checked)."""
    import duckdb

    from powa_archivist_spark.pipeline.queries import ORACLE_QUALITY_GATE
    from powa_archivist_spark.pipeline import textstats

    pq = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(25))),
         (2, None),
         (3, "spam spam spam spam spam spam spam spam spam spam spam "
             "spam spam spam spam spam spam spam spam spam spam")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(pq)

    got = textstats.quality_gate(
        spark.read.parquet(pq),
        thresholds={"min_tokens": 20, "min_distinct_ratio": 0.35,
                    "max_dup_2gram_frac": 0.55,
                    "max_top_token_frac": 0.45},
    ).collect()
    spark_rows = sorted(
        (r.doc_id, r.n_tokens, r.distinct_ratio, r.dup_2gram_frac,
         r.top_token_frac, tuple(r.reasons), r.keep)
        for r in got
    )
    con = duckdb.connect(config={"threads": 1})
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'"
    )
    # the oracle CSV-serializes `reasons` (r8: representation-stable
    # driver compare); split back to the library's array form
    duck_rows = sorted(
        (r[0], r[1], r[2], r[3], r[4],
         tuple(x for x in r[5].split(",") if x), r[6])
        for r in con.execute(ORACLE_QUALITY_GATE).fetchall()
    )
    assert spark_rows == duck_rows

def test_winnow_pairs_detects_shared_passages(spark):
    """r6: winnowing guarantees a shared fingerprint for any common
    passage of length >= window + shingle_n - 1; boilerplate
    fingerprints above the stop cutoff are excluded from pairing."""
    from powa_archivist_spark.pipeline import textstats

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(0, passage + " unique tail zero zero0"),
         (1, "front matter one two " + passage),
         (2, "completely different words with no overlap at all here")],
        "doc_id long, text string",
    )
    pairs = {
        (r.a_id, r.b_id): r.n_shared
        for r in textstats.winnow_dedup_pairs(docs, min_shared=1).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 1
    assert not any(2 in p for p in pairs)

    # stop cutoff: a fingerprint in > max_fp_docs docs pairs nobody
    boiler = [(i, passage) for i in range(10)]
    bdocs = spark.createDataFrame(boiler, "doc_id long, text string")
    capped = textstats.winnow_dedup_pairs(bdocs, min_shared=1,
                                          max_fp_docs=5).collect()
    assert capped == []


@pytest.mark.parametrize("codec", ["raw", "pq"])
def test_ivf_upsert_crash_atomicity(spark, wh, codec):
    """r7 (ADVICE r6): the upsert's cell rewrite commits through a
    staged-tree pass.  A crash BEFORE the manifest rename leaves the
    intact pre-batch index; a crash AFTER it (mid-fold) leaves readers
    on the complete post-batch index (manifest-resolved reads), with a
    replaced id NEVER present in two cells; the next upsert entry heals
    the leftovers."""
    from pyspark.sql import functions as F

    from powa_archivist_spark import txn as txn_mod
    from powa_archivist_spark.txn import GLOBAL_LANE, StagedPass

    index = _ann_index(codec)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    index.build(wh, emb.filter("vec_id % 5 != 4"))

    def snapshot_cells():
        return sorted(
            (r.cell_id, r.vec_id, tuple(r[index.payload]))
            for r in index.cells(wh).collect()
        )

    pre = snapshot_cells()
    batch = emb.filter("vec_id % 5 = 4").unionByName(
        emb.filter("vec_id % 50 = 0").withColumn(
            "embedding", F.reverse("embedding")
        )
    )

    class Boom(RuntimeError):
        pass

    # (a) crash before the manifest rename: pre-batch state intact
    real_publish = StagedPass.publish
    StagedPass.publish = lambda self: (_ for _ in ()).throw(Boom())
    try:
        index.upsert(wh, batch)
    except Boom:
        pass
    finally:
        StagedPass.publish = real_publish
    assert snapshot_cells() == pre, "uncommitted upsert leaked into reads"

    # (b) crash mid-fold (manifest committed, zero ops folded): readers
    # must already see the COMPLETE post-batch index
    real_apply = txn_mod._apply_ops

    def no_fold(w, ops):
        raise Boom()

    txn_mod._apply_ops = no_fold
    try:
        index.upsert(wh, batch)
    except Boom:
        pass
    finally:
        txn_mod._apply_ops = real_apply
    post = snapshot_cells()
    assert post != pre
    ids = [vec_id for _cell, vec_id, _v in post]
    assert len(ids) == len(set(ids)), "replaced id present in two cells"
    # clean-run equivalence after healing (next upsert entry recovers)
    StagedPass.recover(wh, GLOBAL_LANE, sweep=True)
    assert snapshot_cells() == post
    # idempotent replay converges
    index.upsert(wh, batch)
    assert snapshot_cells() == post


@pytest.mark.parametrize("codec", ["raw", "pq"])
def test_ivf_upsert_replay_keeps_batch_replacing_delta_ids(spark, wh, codec):
    """r8 (ADVICE r7, high): a batch replacing ids that sit in the DELTA
    stages replace_flat(delta-minus-batch) AND append_flat(run) on the
    SAME table in one manifest.  On a crash-replay (manifest applied but
    not yet retired), the replace_flat retire loop used to trash the
    batch's already-appended run files (not in its own staged-file list)
    — silently losing the vectors while the id Bloom still marks them
    present.  The stage-guard must make the replay a no-op."""
    from pyspark.sql import functions as F

    from powa_archivist_spark import txn as txn_mod
    from powa_archivist_spark.pipeline import similarity
    from powa_archivist_spark.txn import GLOBAL_LANE, StagedPass

    index = _ann_index(codec)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    index.build(wh, emb.filter("vec_id % 5 != 4"))
    # batch 1: fresh ids -> they land in the delta as one run
    batch1 = emb.filter("vec_id % 5 = 4")
    index.upsert(wh, batch1)
    delta_ids = {
        r.vec_id for r in wh.read(index.table("delta"))
        .select("vec_id").collect()
    }
    batch2 = batch1.withColumn("embedding", F.reverse("embedding"))
    b2_ids = {r.vec_id for r in batch2.select("vec_id").collect()}
    assert b2_ids <= delta_ids, "precondition: batch2 ids sit in the delta"

    class Boom(RuntimeError):
        pass

    # crash AFTER the ops applied but BEFORE the manifest is retired
    real_apply = txn_mod._apply_ops

    def apply_then_die(w, ops, intent_path=None):
        real_apply(w, ops, intent_path=intent_path)
        raise Boom()

    txn_mod._apply_ops = apply_then_die
    try:
        index.upsert(wh, batch2)
    except Boom:
        pass
    finally:
        txn_mod._apply_ops = real_apply

    import glob
    import os

    intents = glob.glob(os.path.join(wh.root, "_txn", "*", "*.intent"))
    assert intents, "crash simulation must leave the manifest in place"

    def snapshot_cells():
        return sorted(
            (r.cell_id, r.vec_id, tuple(r[index.payload]))
            for r in index.cells(wh).collect()
        )

    post = snapshot_cells()
    # the replay (recover or any reader's heal): batch2 must survive
    StagedPass.recover(wh, GLOBAL_LANE, sweep=True)
    assert snapshot_cells() == post, "manifest replay lost or moved rows"
    got_ids = [vec_id for _c, vec_id, _v in snapshot_cells()]
    assert len(got_ids) == len(set(got_ids))
    assert b2_ids <= set(got_ids), "replay trashed the batch's run files"
    # reversed embedding really took effect (replace, not stale keep)
    one = sorted(b2_ids)[0]
    one_vec = batch2.filter(F.col("vec_id") == one)
    if codec == "raw":
        want = [
            tuple(similarity_quantize(r.embedding))
            for r in one_vec.collect()
        ][0]
    else:
        want = [
            tuple(r.codes) for r in similarity.ivf_encode(
                one_vec, wh.read(index.table("centroids")),
                wh.read(index.table("codebook")),
            ).collect()
        ][0]
    got = [v for _c, i, v in snapshot_cells() if i == one][0]
    assert got == want
    assert not glob.glob(os.path.join(wh.root, "_txn", "*", "*.intent"))


@pytest.mark.parametrize("codec", ["raw", "pq"])
def test_ivf_rebuild_crash_leaves_previous_index(spark, wh, codec,
                                                 monkeypatch):
    """A rebuild swaps cells, quantizers, the id Bloom and the pending
    delta through ONE staged manifest.  A crash after its first table
    write and before the commit leaves readers on the complete
    pre-rebuild index (never new cells beside old centroids, or an old
    Bloom missing ids the new cells hold), and a following upsert of
    ids only the aborted rebuild held lands each of them once."""
    from pyspark.sql import DataFrameWriter

    index = _ann_index(codec)
    vecs = np.random.default_rng(7).normal(size=(300, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    index.build(wh, emb.filter("vec_id % 5 != 4"))
    index.upsert(wh, emb.filter("vec_id % 10 = 4"))  # a pending delta run

    def snapshot():
        out = {"cells": sorted(map(repr, index.cells(wh).collect()))}
        for t in index.tables:
            if t != index.table("cells"):
                out[t] = sorted(map(repr, wh.read(t).collect()))
        return out

    pre = snapshot()
    assert pre[index.table("delta")], "precondition: a pending delta"

    class Boom(RuntimeError):
        pass

    real_parquet = DataFrameWriter.parquet
    written = []

    def first_write_then_die(self, path, *a, **k):
        if written:
            raise Boom()
        written.append(path)
        return real_parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", first_write_then_die)
    with pytest.raises(Boom):
        # other cells (stride 31) over a corpus that adds vec_id % 10 = 9
        index.build(wh, emb.filter("vec_id % 5 != 3"), centroid_mod=31)
    monkeypatch.undo()
    assert written, "the rebuild crashed before any table write"
    assert snapshot() == pre, "a crashed rebuild leaked into reads"

    # ids the aborted rebuild held and the live Bloom never saw
    index.upsert(wh, emb.filter("vec_id % 10 = 9"))
    ids = [r.vec_id for r in index.cells(wh).select("vec_id").collect()]
    assert len(ids) == len(set(ids)), "an id sits in two places"
    assert {r.vec_id for r in emb.filter("vec_id % 10 = 9").collect()} \
        <= set(ids)


def _ann_index(codec):
    """The at-rest index of one codec: raw (IVF) or pq (IVF-PQ)."""
    return similarity.IVF if codec == "raw" else similarity.IVFPQ


def similarity_quantize(vec):
    from powa_archivist_spark.pipeline.similarity import QUANT

    return [int(round(float(x) * QUANT)) for x in vec]


def test_heal_table_retires_single_table_manifest(spark, wh):
    """r8 (ADVICE r7, medium): heal_table used to fold a manifest's ops
    on every read without retiring it, re-walking (and for append_files
    re-executing SQL on) the same pass until recover() ran.  A manifest
    whose ops all target the healed table is now retired by the heal."""
    import glob
    import os

    from powa_archivist_spark import txn as txn_mod
    from powa_archivist_spark.txn import StagedPass, heal_table

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    sp = StagedPass(wh, 0)
    sp.stage_append_flat(df, "heal_probe_table")

    class Boom(RuntimeError):
        pass

    real_apply = txn_mod._apply_ops
    txn_mod._apply_ops = lambda *a, **k: (_ for _ in ()).throw(Boom())
    try:
        sp.publish()
    except Boom:
        pass
    finally:
        txn_mod._apply_ops = real_apply

    pat = os.path.join(wh.root, "_txn", "*", "*.intent")
    assert glob.glob(pat), "manifest must be committed but unfolded"
    folded = heal_table(wh, "heal_probe_table")
    assert folded == 1
    assert wh.read("heal_probe_table").count() == 2
    # retired: subsequent heals are the fast path, not a re-fold
    assert not glob.glob(pat)
    assert heal_table(wh, "heal_probe_table") == 0


def test_jaccard_probe_route_is_observable(spark, caplog):
    """r7 (VERDICT r6 task 5): strategy='probe' silently flipped
    bitmask->prefix when the vocabulary crossed 63 tokens — a measured
    13x step.  The decision is now logged (WARNING on the fall-off) and
    returned via route_out so operators can alert on a flip."""
    import logging

    from powa_archivist_spark.pipeline.dedup import jaccard_pairs

    small = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "x y")], "doc_id long, text string"
    )
    big_vocab = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(10))) for i in range(20)],
        "doc_id long, text string",
    )

    route = {}
    with caplog.at_level(logging.INFO,
                         logger="powa_archivist_spark.pipeline.dedup"):
        jaccard_pairs(small, strategy="probe", route_out=route).count()
    assert route == {"route": "bitmask"}
    assert any("bitmask fast path" in r.message for r in caplog.records)

    caplog.clear()
    route = {}
    with caplog.at_level(logging.INFO,
                         logger="powa_archivist_spark.pipeline.dedup"):
        jaccard_pairs(big_vocab, strategy="probe", route_out=route).count()
    assert route == {"route": "prefix"}
    warns = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert any("falling" in r.message and "bitmask" in r.message
               for r in warns), "no WARNING on the routing cliff"


def _gradient_png(w=8, h=6, ch=3):
    """Deterministic RGB gradient fixture."""
    from powa_archivist_spark.pipeline import png

    px = bytes(
        ((x * 37 + y * 11 + c * 5) % 256)
        for y in range(h) for x in range(w) for c in range(ch)
    )
    return png.encode_png(w, h, ch, px), px


def test_png_codec_roundtrip_and_filters():
    """r7 (VERDICT r6 task 6): the pure-Python PNG codec — encode ->
    decode round-trips pixels exactly; all five scanline filters
    unfilter correctly (hand-built filtered streams)."""
    import struct
    import zlib

    from powa_archivist_spark.pipeline import png

    payload, px = _gradient_png()
    w, h, ch, got = png.decode_png(payload)
    assert (w, h, ch) == (8, 6, 3)
    assert got == px

    # grayscale + RGBA round-trips
    for channels in (1, 2, 4):
        pix = bytes((i * 7) % 256 for i in range(4 * 3 * channels))
        p2 = png.encode_png(4, 3, channels, pix)
        assert png.decode_png(p2) == (4, 3, channels, pix)

    # hand-filtered stream exercising Sub/Up/Average/Paeth paths: take
    # the gradient, filter each row with filter y%4+1, rebuild the IDAT
    stride = 8 * 3

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    scan = bytearray()
    for y in range(6):
        ftype = y % 4 + 1
        scan.append(ftype)
        for i in range(stride):
            cur = px[y * stride + i]
            left = px[y * stride + i - 3] if i >= 3 else 0
            up = px[(y - 1) * stride + i] if y else 0
            ul = px[(y - 1) * stride + i - 3] if (y and i >= 3) else 0
            if ftype == 1:
                scan.append((cur - left) & 0xFF)
            elif ftype == 2:
                scan.append((cur - up) & 0xFF)
            elif ftype == 3:
                scan.append((cur - (left + up) // 2) & 0xFF)
            else:
                scan.append((cur - paeth(left, up, ul)) & 0xFF)

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", crc))

    ihdr = struct.pack(">IIBBBBB", 8, 6, 8, 2, 0, 0, 0)
    filtered = (png.PNG_MAGIC + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(scan)))
                + chunk(b"IEND", b""))
    assert png.decode_png(filtered) == (8, 6, 3, px)

    # resize: nearest-neighbor 2x down keeps exact source pixels
    half = png.resize_nearest(8, 6, 3, px, 4, 3)
    for y in range(3):
        for x in range(4):
            src = ((y * 2) * 8 + (x * 2)) * 3
            assert half[(y * 4 + x) * 3:(y * 4 + x) * 3 + 3] == px[src:src + 3]


def test_multimodal_real_codec_decodes_fixture(spark):
    """r7 (VERDICT r6 task 6): the multimodal operators decode a REAL
    PNG through the same mapInPandas plumbing when codec='real' —
    actual dimensions, pixel checksums, per-strip frames, true
    resample — and non-PNG payloads without PIL keep the honest
    NotImplementedError."""
    import zlib

    import pytest as _pytest

    from powa_archivist_spark.pipeline import multimodal, png

    payload, px = _gradient_png()
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )

    (m,) = multimodal.extract_meta(df, codec="real").collect()
    assert (m.width, m.height, m.fmt) == (8, 6, "png")
    assert m.n_bytes == len(payload)
    assert m.checksum == zlib.crc32(px)

    frames = multimodal.sample_frames(df, codec="real").collect()
    assert [f.frame_idx for f in frames] == [0, 1, 2, 3]
    stride = 8 * 3
    assert frames[0].frame_checksum == zlib.crc32(px[:stride])
    # ADVICE r7: h=6 over 4 frames -> rows_per=1; the LAST strip must
    # extend to the buffer end (rows 3..5), not drop the trailing rows
    # from the frame-level dedup signal
    assert frames[3].frame_checksum == zlib.crc32(px[3 * stride:])

    (r,) = multimodal.resize_images(df, 4, 3, codec="real").collect()
    assert (r.out_w, r.out_h) == (4, 3)
    want = png.resize_nearest(8, 6, 3, px, 4, 3)
    assert r.resized_checksum == zlib.crc32(want)
    assert r.resized_len == len(png.encode_png(4, 3, 3, want))

    # the full real resize seam round-trips through the codec
    out_png = multimodal.resize_image_bytes(payload, 4, 3)
    assert png.decode_png(out_png) == (4, 3, 3, want)

    # honest ceiling: non-PNG payload without PIL
    if multimodal._pil() is None:
        with _pytest.raises(NotImplementedError):
            multimodal.decode_image(b"\xff\xd8\xff\xe0 not a real jpeg")
    else:  # pragma: no cover - PIL present
        _pytest.skip("PIL present: non-PNG decode is expected to work")


def test_ivf_compact_delta_preserves_index(spark, wh):
    """r7: folding the delta's runs into the base cells preserves the
    logical index exactly (same rows via IVF.cells), empties the delta,
    keeps probe results identical — and a crash mid-fold leaves readers
    on a consistent view (manifest-resolved), with no vector visible in
    both places."""
    from pyspark.sql import functions as F

    from powa_archivist_spark import txn as txn_mod
    from powa_archivist_spark.pipeline import similarity
    from powa_archivist_spark.txn import GLOBAL_LANE, StagedPass

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    similarity.IVF.build(wh, emb.filter("vec_id % 3 != 2"))
    for gen in (1, 2):
        batch = emb.filter("vec_id % 3 = 2").select(
            (F.col("vec_id") + F.lit(1_000_000 * gen)).alias("vec_id"),
            "embedding",
        )
        similarity.IVF.upsert(wh, batch)

    def snap():
        return sorted(
            (r.cell_id, r.vec_id, tuple(r.v))
            for r in similarity.IVF.cells(wh).collect()
        )

    before = snap()
    assert wh.read(similarity.IVF.table("delta")).count() > 0
    queries = emb.filter("vec_id in (0, 3)")
    probe_before = sorted(
        map(tuple, similarity.IVF.probe(wh, queries, k=5).collect())
    )

    # crash mid-fold: manifest committed, nothing applied — readers
    # already see the folded state through the manifest
    class Boom(RuntimeError):
        pass

    real_apply = txn_mod._apply_ops
    txn_mod._apply_ops = lambda w, ops: (_ for _ in ()).throw(Boom())
    try:
        similarity.IVF.compact(wh, min_runs=0)
    except Boom:
        pass
    finally:
        txn_mod._apply_ops = real_apply
    assert snap() == before, "crash window tore the index view"
    ids = [v for _c, v, _ in snap()]
    assert len(ids) == len(set(ids)), "vector visible in two places"

    # recovery + a clean fold converge
    StagedPass.recover(wh, GLOBAL_LANE, sweep=True)
    assert snap() == before
    similarity.IVF.compact(wh, min_runs=0)
    assert snap() == before
    assert wh.read(similarity.IVF.table("delta")).count() == 0
    assert sorted(
        map(tuple, similarity.IVF.probe(wh, queries, k=5).collect())
    ) == probe_before


def test_compact_delta_run_probe_reads_manifest_resolved_files(spark, wh):
    """r13 (VERDICT r12 task 5): the compaction trigger counts delta
    runs through the READER path (manifest heal + the FS-abstracted
    file index), not a raw POSIX listdir — each upsert appends exactly
    one sorted run file, so min_runs=3 must decline at 2 runs and fold
    at 3 with the logical index preserved."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    similarity.IVF.build(wh, emb.filter("vec_id % 3 = 0"))
    for gen in (1, 2):
        batch = emb.filter("vec_id % 3 = 1").select(
            (F.col("vec_id") + F.lit(1_000_000 * gen)).alias("vec_id"),
            "embedding",
        )
        similarity.IVF.upsert(wh, batch, assume_new_ids=True,
                              compact_delta_runs=100)
    assert not similarity.IVF.compact(wh, min_runs=3)
    assert wh.read(similarity.IVF.table("delta")).count() > 0

    batch3 = emb.filter("vec_id % 3 = 1").select(
        (F.col("vec_id") + F.lit(3_000_000)).alias("vec_id"), "embedding",
    )
    similarity.IVF.upsert(wh, batch3, assume_new_ids=True,
                          compact_delta_runs=100)
    total = similarity.IVF.cells(wh).count()
    assert similarity.IVF.compact(wh, min_runs=3)
    assert wh.read(similarity.IVF.table("delta")).count() == 0
    assert similarity.IVF.cells(wh).count() == total


def test_hll_distinct_accuracy_and_partition_invariance(spark):
    """HLL (p=9) lands within ~10% on a 5000-key group (harmonic
    branch), reports near-exact counts via the small-range correction
    on a 40-key group, and — registers merging by MAX — is invariant
    to repartitioning."""
    from powa_archivist_spark.pipeline import sketches

    rows = [("big", i) for i in range(5000)] * 2 + [
        ("small", i) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, k long")
    out = {r.g: r for r in
           sketches.hll_distinct(df, "k", ["g"], p=9).collect()}
    assert out["big"].n_exact == 5000
    assert 4000 < out["big"].est_distinct < 6000
    assert out["small"].n_exact == 40
    # small-range correction: ~exact at 40/512 fill
    assert 30 < out["small"].est_distinct < 55
    out2 = {r.g: r.est_distinct for r in
            sketches.hll_distinct(df.repartition(17), "k", ["g"], p=9)
            .collect()}
    assert out2 == {g: r.est_distinct for g, r in out.items()}


def test_hll_distinct_merge_associative(spark):
    """Sketching the union equals sketching the halves separately and
    MAX-merging their registers — the mergeability contract that lets
    daily sketches fold into monthly ones without reprocessing."""
    from pyspark.sql import functions as F
    from powa_archivist_spark.pipeline import sketches

    rows = [("g", i) for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, k long")
    whole = sketches.hll_distinct(df, "k", ["g"], p=9).collect()[0]
    ha = df.filter(F.col("k") % 2 == 0)
    hb = df.filter(F.col("k") % 2 != 0)
    # merge at the register level: recompute over the union must equal
    # the union of register maxima, which hll_distinct's groupBy(max)
    # already performs — emulate a two-batch fold via unionAll
    merged = sketches.hll_distinct(ha.unionAll(hb), "k", ["g"], p=9
                                   ).collect()[0]
    assert merged.est_distinct == whole.est_distinct


def test_hll_distinct_keeps_null_group(spark):
    from powa_archivist_spark.pipeline.sketches import hll_distinct

    rows = [("a", i) for i in range(10)] + [(None, i) for i in range(5)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {r.grp: r.n_exact for r in
           hll_distinct(df, "v", ["grp"]).collect()}
    assert out == {"a": 10, None: 5}


def test_fuzzy_decontaminate_flags_paraphrased_leak(spark):
    """A train doc sharing most (not all) of an eval doc's shingles is
    flagged with that eval doc as best match; an unrelated doc is not.
    Exact n-gram decontam would need a full 13-gram hit — here only
    shingle-level overlap exists."""
    from powa_archivist_spark.pipeline import corpus

    eval_text = "the quick brown fox jumps over the lazy dog today"
    leak_text = "the quick brown fox jumps over the lazy cat today"
    clean_text = "completely different words about spark query planning"
    train = spark.createDataFrame(
        [(1, leak_text), (2, clean_text)], "doc_id long, text string"
    )
    ev = spark.createDataFrame([(100, eval_text)],
                               "doc_id long, text string")
    out = corpus.fuzzy_decontaminate(
        train, ev, threshold=0.5, hash_fn="md5"
    ).collect()
    assert [(r.doc_id, r.eval_id) for r in out] == [(1, 100)]
    assert 0.5 <= out[0].jaccard < 1.0


def test_fuzzy_decontaminate_identical_doc_jaccard_one(spark):
    """An exact copy of an eval doc scores jaccard 1.0 (LSH cannot miss
    an identical signature) and ties on best-match break to the
    smallest eval id."""
    from powa_archivist_spark.pipeline import corpus

    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = spark.createDataFrame([(7, txt)], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(200, txt), (100, txt)], "doc_id long, text string"
    )
    out = corpus.fuzzy_decontaminate(
        train, ev, threshold=0.5, hash_fn="md5"
    ).collect()
    assert [(r.doc_id, r.eval_id, r.jaccard) for r in out] == [
        (7, 100, 1.0)
    ]


def test_source_caps_keeps_top_quality_per_source(spark):
    """Within each source only the cap highest-diversity docs survive;
    ties break to the smaller id; NULL text ranks at quality 0."""
    from powa_archivist_spark.pipeline import corpus

    rows = [
        (1, "s1", "a b c d"),          # quality 1.0
        (2, "s1", "a a a a"),          # quality 0.25
        (3, "s1", "a b a b"),          # quality 0.5
        (4, "s2", None),               # quality 0 (null text)
        (5, "s2", "x y"),              # quality 1.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r.source, r.src_rank): (r.doc_id, r.quality) for r in
           corpus.source_caps(df, cap=2).collect()}
    assert out == {
        ("s1", 1): (1, 1.0),
        ("s1", 2): (3, 0.5),
        ("s2", 1): (5, 1.0),
        ("s2", 2): (4, 0.0),
    }


def test_curriculum_buckets_quartile_split(spark):
    """16 docs of strictly increasing length land 4 per bucket; ties
    share the bucket of their cutoff value; partitioning-invariant."""
    from powa_archivist_spark.pipeline import corpus

    rows = [(i, " ".join(["w"] * (i + 1))) for i in range(16)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.bucket for r in
           corpus.curriculum_buckets(df, n_buckets=4).collect()}
    assert [out[i] for i in range(16)] == [1] * 4 + [2] * 4 + [3] * 4 + [4] * 4
    out2 = {r.doc_id: r.bucket for r in
            corpus.curriculum_buckets(df.repartition(7), n_buckets=4)
            .collect()}
    assert out2 == out
    # all-equal difficulties: every doc shares bucket 1
    same = spark.createDataFrame(
        [(i, "a b c") for i in range(8)], "doc_id long, text string"
    )
    outs = {r.bucket for r in
            corpus.curriculum_buckets(same, n_buckets=4).collect()}
    assert outs == {1}


def test_pmi_bigrams_ranks_collocations(spark):
    """A pair that always co-occurs ('new york') outranks frequent
    independent tokens; min_count prunes singletons; ratio matches the
    hand computation c_ab*N/(c_a*c_b)."""
    from powa_archivist_spark.pipeline import textstats

    rows = [
        (1, "new york new york the the the"),
        (2, "new york the cat the dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textstats.pmi_bigrams(df, top_k=10, min_count=2).collect()
    top = out[0]
    assert (top.tok_a, top.tok_b) == ("new", "york")
    # N=13 tokens, c_ab=3, c_new=3, c_york=3 -> 3*13/9
    assert abs(top.pmi_ratio - 3 * 13 / 9) < 1e-12
    # 'the the' appears twice (doc1) but low ratio; singleton pairs gone
    names = {(r.tok_a, r.tok_b) for r in out}
    assert ("cat", "the") not in names  # n_pair=1 < min_count


def test_cdc_chunks_insertion_shifts_not_rewrites(spark):
    """The CDC property: inserting bytes near the start of a blob
    changes only the chunks up to the first unchanged boundary — the
    tail chunks keep their digests (fixed-size blocking would rewrite
    every block after the edit)."""
    from powa_archivist_spark.pipeline import multimodal

    base = "aaaaaaaa" * 8 + "bbbbbbbb" * 8 + "cccccccc" * 8
    edited = "XY" + base
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    ).withColumn("payload", F.encode("text", "UTF-8"))
    ch = multimodal.cdc_chunks(df, window_bytes=8, divisor=16).collect()
    d1 = {r.digest for r in ch if r.doc_id == 1}
    d2 = {r.digest for r in ch if r.doc_id == 2}
    # repeated content -> both blobs share at least one chunk digest,
    # and each also has at least one private chunk (the edited head)
    assert d1 & d2
    assert d2 - d1


def test_cdc_chunks_hash_family_pluggable(spark):
    """r8 (VERDICT r7 task 5): the boundary hash family is pluggable —
    md5 keeps the oracle-replayable declared path, xxhash64 is the
    production default of the other sketch operators.  For EACH family:
    chunking is deterministic, boundaries reconstruct the blob exactly,
    and the content-defined property (insert shifts, not rewrites)
    holds.  Families are genuinely different hash streams, so their
    boundary sets differ on a long blob."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import multimodal

    base = "aaaaaaaa" * 8 + "bbbbbbbb" * 8 + "cccccccc" * 8
    edited = "XY" + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    ).withColumn("payload", F.encode("text", "UTF-8"))

    per_family = {}
    for fam in ("md5", "xxhash64"):
        rows = multimodal.cdc_chunks(
            df, window_bytes=8, divisor=16, hash_fn=fam
        ).collect()
        again = multimodal.cdc_chunks(
            df, window_bytes=8, divisor=16, hash_fn=fam
        ).collect()
        key = lambda r: (r.doc_id, r.chunk_idx)  # noqa: E731
        assert sorted(map(key, rows)) == sorted(map(key, again))
        # chunks tile the blob: per-doc byte totals reconcile
        tot = {}
        for r in rows:
            tot[r.doc_id] = tot.get(r.doc_id, 0) + r.chunk_bytes
        assert tot == {1: len(base), 2: len(edited)}
        d1 = {r.digest for r in rows if r.doc_id == 1}
        d2 = {r.digest for r in rows if r.doc_id == 2}
        assert d1 & d2, f"{fam}: edit rewrote every chunk"
        assert d2 - d1, f"{fam}: edited head not a private chunk"
        per_family[fam] = frozenset(
            (r.doc_id, r.chunk_idx, r.chunk_bytes) for r in rows
        )
    if per_family["md5"] == per_family["xxhash64"]:  # pragma: no cover
        _pytest.fail("families produced identical boundary streams — "
                     "the hash_fn knob is not actually plugged in")


def test_cdc_dedup_stats_counts_shared_chunks(spark):
    """Two identical blobs share every chunk; a unique blob shares
    none; byte totals reconcile with payload sizes."""
    from powa_archivist_spark.pipeline import multimodal

    t1 = "hello world " * 10
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, t1), (2, t1), (3, "completely different content here")],
        "doc_id long, text string",
    ).withColumn("payload", F.encode("text", "UTF-8"))
    out = {r.doc_id: r for r in
           multimodal.cdc_dedup_stats(df).collect()}
    assert out[1].n_shared_chunks == out[1].n_chunks
    assert out[2].n_shared_chunks == out[2].n_chunks
    assert out[3].n_shared_chunks == 0
    assert out[1].n_bytes == len(t1.encode())
    assert out[3].n_shared_bytes == 0


def test_embedding_outliers_flags_planted_outlier(spark):
    """A vector pointing away from its label's tight cluster ranks as
    that label's worst outlier (lowest centroid dot, rank 1)."""
    from powa_archivist_spark.pipeline import similarity

    tight = [(i, [1.0, 0.0, 0.0], 0) for i in range(6)]
    planted = [(99, [-1.0, 0.0, 0.0], 0)]
    other = [(200 + i, [0.0, 1.0, 0.0], 1) for i in range(3)]
    df = spark.createDataFrame(
        tight + planted + other,
        "vec_id long, embedding array<float>, label int",
    )
    out = similarity.embedding_outliers(df, k=2).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r.label, []).append(r)
    assert by_label[0][0].vec_id == 99
    assert by_label[0][0].rank == 1
    # the planted outlier's dot is far below the cluster members'
    assert by_label[0][0].dot_c < by_label[0][1].dot_c


def test_classifier_score_matches_hand_computation(spark):
    """The hashed-linear-classifier score equals the Python-side replay
    (md5 bucket -> LCG weight, summed per doc); the verdict is the
    integer cross-multiplied per-token-average threshold; NULL-text
    docs drop out (no tokens to score)."""
    import hashlib

    from powa_archivist_spark.pipeline import textstats

    rows = [
        (1, "the cat sat"),
        (2, "a b a b a"),
        (3, None),
        (4, "   solo   "),  # trims to one token
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    w = textstats.classifier_weights(spark, n_buckets=64, seed=7)
    out = {
        r.doc_id: r
        for r in textstats.classifier_score(
            docs, w, n_buckets=64, threshold_num=0, threshold_den=1
        ).collect()
    }

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 64

    def weight(b: int) -> int:
        return ((b * 1103515245 + 12352) % 2001) - 1000

    for doc_id, text in rows:
        if text is None:
            assert doc_id not in out
            continue
        toks = text.strip().split()
        exp_score = sum(weight(bucket(t)) for t in toks)
        r = out[doc_id]
        assert r.n_tokens == len(toks)
        assert r.score == exp_score
        assert r.quality_pass == (exp_score >= 0)


def test_classifier_threshold_cross_multiplication(spark):
    """A positive threshold num/den gates on the PER-TOKEN average:
    score*den >= num*n_tokens — doc length alone must not flip the
    verdict the way a raw-sum threshold would."""
    from powa_archivist_spark.pipeline import textstats

    docs = spark.createDataFrame(
        [(1, "x"), (2, "x x x x")], "doc_id long, text string"
    )
    w = textstats.classifier_weights(spark, n_buckets=8, seed=7)
    rows = {
        r.doc_id: r
        for r in textstats.classifier_score(
            docs, w, n_buckets=8, threshold_num=1, threshold_den=2
        ).collect()
    }
    # both docs have identical per-token score (same single token
    # repeated) so the verdict must agree despite 4x the raw sum
    assert rows[1].quality_pass == rows[2].quality_pass
    assert rows[2].score == 4 * rows[1].score


def test_ngram_perplexity_exact_integer_scores(spark):
    """r8: hand-checked add-one bigram LM scoring.  Train corpus:
    'a b a b a b' + 'a b c' -> bigram counts ab=4, ba=2, bc=1 (pruned
    at min_count=2), unigrams a=4 b=4 c=1, V = 3 + 1 = 4.  Scoring
    'a b c': ab -> num=5, den=c(a)+V=8; bc -> pruned num=1, den=8.
    bits = bitlen(den div num)-1 = [0, 3]; inv_q = den*1000 div num =
    [1600, 8000]."""
    from powa_archivist_spark.pipeline import textstats

    train = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(10, "a b c"), (11, "z")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in textstats.ngram_perplexity(
        score, train_docs=train, min_count=2
    ).collect()}
    assert set(rows) == {10}, "single-token doc has no bigram stream"
    r = rows[10]
    assert (r.n_bigrams, r.sum_bits, r.sum_inv_p_q) == (2, 3, 9600)
    assert r.bits_per_token == 1.5
    assert r.avg_inv_p == 4.8

    # self-train default: familiar text scores fewer bits/token than
    # out-of-distribution gibberish
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat and the cat sat again"),
         (2, "the cat sat on the mat and the dog sat too"),
         (3, "zq xv qj wk vv zz pq qq ww ee rr tt")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.bits_per_token
           for r in textstats.ngram_perplexity(docs, min_count=1).collect()}
    assert out[3] > out[1] and out[3] > out[2]


def test_segment_dedup_strips_boilerplate_keeps_order(spark):
    """r8: the FineWeb-style segment dedup — a license-header segment
    shared by two docs is stripped from both, unique content survives
    in order, and counts reconcile; a doc of PURE boilerplate comes
    back empty rather than vanishing."""
    from powa_archivist_spark.pipeline import corpus

    header = "l1 l2 l3 l4"
    docs = spark.createDataFrame(
        [(1, f"{header} u1 u2 u3 u4 v1 v2 v3 v4"),
         (2, f"{header} w1 w2 w3 w4"),
         (3, "x1 x2 x3 x4 y1 y2 y3 y4"),
         (4, header),
         (5, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in corpus.segment_dedup(
        docs, df_threshold=2, segment_tokens=4
    ).collect()}
    assert set(out) == {1, 2, 3, 4}, "NULL text drops; others stay"
    assert out[1].clean_text == "u1 u2 u3 u4 v1 v2 v3 v4"
    assert (out[1].n_segments, out[1].n_removed) == (3, 1)
    assert out[2].clean_text == "w1 w2 w3 w4"
    assert out[3].clean_text == "x1 x2 x3 x4 y1 y2 y3 y4"
    assert out[3].n_removed == 0
    assert out[4].clean_text == "" and out[4].n_removed == 1


def test_embedding_decontaminate_flags_and_picks_best(spark):
    """r8: semantic decontam — a corpus vector near an eval vector is
    flagged with its BEST eval match (ties -> smallest eval id); a
    far-away vector is not flagged."""
    from powa_archivist_spark.pipeline import similarity

    def unit(i, j):
        v = [0.0] * 8
        v[i] = 0.8
        v[j] = 0.6
        return v

    corpus = spark.createDataFrame(
        [(1, unit(0, 1)), (2, unit(4, 5))],
        "vec_id long, embedding array<float>",
    )
    evals = spark.createDataFrame(
        [(100, unit(0, 1)), (101, unit(0, 2)), (102, unit(6, 7))],
        "vec_id long, embedding array<float>",
    )
    q = similarity.QUANT
    rows = {r.vec_id: r for r in similarity.embedding_decontaminate(
        corpus, evals, min_dot_q=int(0.5 * q * q)
    ).collect()}
    assert set(rows) == {1}
    assert rows[1].eval_id == 100        # exact match beats 0.64 cosine
    assert rows[1].dot_q == q * q        # 0.8^2 + 0.6^2 = 1.0 exactly


def test_dsir_weights_match_python_replica(spark):
    """r8: DSIR importance selection — the Spark model + scores equal
    an independent pure-Python replica of the hashed-ngram whole-bit
    log-ratio (hashlib md5, int.bit_length), and the weights point the
    right way: a doc made of target-only features outweighs one made
    of raw-only features."""
    import hashlib

    from pyspark.sql import functions as F

    rows = [(1, "good data clean data"), (2, "bad junk junk spam"),
            (3, "good data bad junk"), (4, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter(F.col("doc_id") == 1)
    n_buckets = 64

    def feats(text):
        toks = text.split()
        return toks + [" ".join(toks[i:i + 2])
                       for i in range(len(toks) - 1)]

    def bucket(gram):
        return int(hashlib.md5(gram.encode()).hexdigest()[:15],
                   16) % n_buckets

    c_t, c_r = {}, {}
    for doc_id, text in rows:
        if text is None:
            continue
        for g in feats(text):
            b = bucket(g)
            c_r[b] = c_r.get(b, 0) + 1
            if doc_id == 1:
                c_t[b] = c_t.get(b, 0) + 1
    t_tot, r_tot = sum(c_t.values()), sum(c_r.values())
    exp_w = {
        b: ((c_t.get(b, 0) + 1).bit_length()
            - (c_r.get(b, 0) + 1).bit_length()
            + (r_tot + n_buckets).bit_length()
            - (t_tot + n_buckets).bit_length())
        for b in range(n_buckets)
    }

    model = textstats.dsir_model(docs, target, n_buckets=n_buckets)
    got_w = {r.bucket: r.weight for r in model.collect()}
    assert got_w == exp_w

    out = {r.doc_id: r for r in textstats.dsir_select(
        docs, model, n_buckets=n_buckets).collect()}
    assert set(out) == {1, 2, 3}, "NULL text drops out"
    for doc_id, text in rows[:3]:
        fs = feats(text)
        weight = sum(exp_w[bucket(g)] for g in fs)
        assert (out[doc_id].n_feats, out[doc_id].dsir_weight) \
            == (len(fs), weight)
        assert out[doc_id].keep == (weight >= 0)
    assert out[1].dsir_weight > out[2].dsir_weight, \
        "target-matching doc must outweigh raw-only doc"


def test_duplicate_spans_hand_computed(spark):
    """r8: cross-doc duplicated 5-gram spans — overlapping duplicated
    grams fuse into one maximal span, disjoint ones stay separate,
    no-dup docs report zeros, and sub-k docs drop out."""
    from powa_archivist_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"),
         (2, "x a b c d e f y"),
         (3, "p q r s t u"),
         (4, "s t u"),
         (5, "a b c d e z z z z z z d e f g h")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.duplicate_spans(
        docs, k=5, min_docs=2).collect()}
    assert set(out) == {1, 2, 3, 5}, "3-token doc has no 5-gram"
    # doc1: dup grams at pos 0,1,3 -> covered 0-7 fuses into ONE span
    assert (out[1].n_dup_grams, out[1].covered_tokens,
            out[1].n_spans, out[1].n_tokens) == (3, 8, 1, 8)
    assert out[1].dup_fraction == 1.0
    # doc2: dup grams at pos 1,2 -> covered 1-6, one span
    assert (out[2].n_dup_grams, out[2].covered_tokens,
            out[2].n_spans) == (2, 6, 1)
    # doc3: no cross-doc gram
    assert (out[3].n_dup_grams, out[3].covered_tokens,
            out[3].n_spans) == (0, 0, 0)
    # doc5: 'a b c d e' at pos 0 + 'd e f g h' at pos 11 -> TWO spans
    assert (out[5].n_dup_grams, out[5].covered_tokens,
            out[5].n_spans, out[5].n_tokens) == (2, 10, 2, 16)
    assert out[5].dup_fraction == 10 / 16


def test_hard_negatives_excludes_own_label_ranks_by_dot(spark):
    """r8: hard-negative mining — same-label neighbors are never
    returned (they are positives), ranking is by exact integer dot
    with smaller-id tie-break, and k truncates."""
    from powa_archivist_spark.pipeline import similarity
    from pyspark.sql import functions as F

    def v(x, y):
        return [float(x), float(y)]

    emb = spark.createDataFrame(
        [(0, v(1, 0), 0),       # query
         (1, v(1, 0), 0),       # same label: excluded despite dot=1
         (2, v(0.9, 0.1), 1),   # best negative
         (3, v(0.8, 0.2), 1),
         (4, v(0, 1), 2),       # orthogonal: worst
         (5, v(0.8, 0.2), 2)],  # ties with 3 on dot -> id 3 first
        "vec_id long, embedding array<float>, label int",
    )
    out = similarity.hard_negatives(
        emb, k=3, query_pred=F.col("vec_id") == 0)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neg_id for r in rows] == [2, 3, 5]
    assert all(r.query_id == 0 and r.neg_label != 0 for r in rows)
    q = similarity.QUANT
    assert rows[0].dot_q == int(0.9 * q) * q
    assert rows[1].dot_q == rows[2].dot_q, "3 and 5 tie on the dot"


def test_bpe_merges_sennrich_toy(spark):
    """r8: BPE merge induction on the classic low/lower/lowest toy —
    four hand-computed rounds including the count-5 tie broken
    lexicographically ((l,o) before (o,w)) and the greedy
    left-to-right overlap semantics ('aaa' under (a,a) -> [aa, a])."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "doc_id long, text string",
    )
    got = [(r.rank, r.left, r.right, r.pair_count)
           for r in corpus.bpe_merges(docs, n_merges=4)
           .orderBy("rank").collect()]
    assert got == [
        (1, "l", "o", 5),    # ties (l,o)/(o,w) at 5 -> lexicographic
        (2, "lo", "w", 5),
        (3, "e", "w", 4),    # ties (e,w)/(n,e)/(w,e) at 4
        (4, "n", "ew", 4),
    ]

    rep = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    got = [(r.rank, r.left, r.right, r.pair_count)
           for r in corpus.bpe_merges(rep, n_merges=2)
           .orderBy("rank").collect()]
    # 'aaa' holds TWO (a,a) positions; after the greedy merge each word
    # is [aa, a], leaving one (aa, a) pair per word
    assert got == [(1, "a", "a", 4), (2, "aa", "a", 2)]


def test_pq_train_encode_search_hand_computed(spark):
    """r8: product quantization on a crafted corpus where Lloyd is a
    fixed point — codebook equals the seeds, duplicates encode to the
    seed's codes, self-identical vectors sit at asymmetric distance 0,
    and equidistant neighbors tie-break on the smaller id."""
    from powa_archivist_spark.pipeline import similarity

    a = [1.0, 0.0] * 4
    b = [0.0, 1.0] * 4
    emb = spark.createDataFrame(
        [(0, a), (1, a), (2, b), (3, b)],
        "vec_id long, embedding array<float>",
    )
    cb = similarity.pq_train(emb, m=4, centroid_mod=2)
    rows = {(r.sub, r.code): r.cv for r in cb.collect()}
    q = similarity.QUANT
    assert set(rows) == {(s, c) for s in range(4) for c in (0, 2)}
    assert all(rows[(s, 0)] == [q, 0] for s in range(4))
    assert all(rows[(s, 2)] == [0, q] for s in range(4))

    enc = similarity.pq_encode(emb, cb, m=4)
    codes = {r.vec_id: r.codes for r in enc.collect()}
    assert codes[0] == codes[1] == [0, 0, 0, 0]
    assert codes[2] == codes[3] == [2, 2, 2, 2]

    out = similarity.pq_search(emb, cb, enc, query_ids=[0], k=3, m=4)
    got = [(r.neighbor_id, r.adist_q, r.rank)
           for r in out.orderBy("rank").collect()]
    # v1 is code-identical (adist 0); v2/v3 tie at 4 subs x 2 q^2
    assert got == [(1, 0, 1), (2, 8 * q * q, 2), (3, 8 * q * q, 3)]


def test_ivfpq_build_search_hand_computed(spark):
    """r8: IVF-PQ on a two-cluster fixed point — cells capture the
    clusters exactly, residuals collapse to zero (codebook = zero
    vectors), the in-cell duplicate sits at asymmetric distance 0 and
    cross-cell neighbors score the full query-residual energy."""
    from powa_archivist_spark.pipeline import similarity

    a = [1.0, 0.0] * 4
    b = [0.0, 1.0] * 4
    emb = spark.createDataFrame(
        [(0, a), (1, a), (2, b), (3, b)],
        "vec_id long, embedding array<float>",
    )
    cents, cb, idx = similarity.ivfpq_build(
        emb, m=4, n_cells_target=2, n_codes_target=2)
    assert {r.cell_id for r in cents.collect()} == {0, 2}
    assigned = {r.vec_id: r.cell_id for r in idx.collect()}
    assert assigned == {0: 0, 1: 0, 2: 2, 3: 2}
    # residuals are exactly zero -> every codebook centroid is the
    # zero subvector
    assert all(r.cv == [0, 0] for r in cb.collect())

    out = similarity.ivfpq_search(
        emb, cents, cb, idx, query_ids=[0], k=3, nprobe=2, m=4)
    got = [(r.neighbor_id, r.adist_q, r.rank)
           for r in out.orderBy("rank").collect()]
    q = similarity.QUANT
    assert got == [(1, 0, 1), (2, 8 * q * q, 2), (3, 8 * q * q, 3)]


def test_ann_recall_at_k_counts_intersection(spark):
    """r8: recall@k — hand-built rank frames: query 1 overlaps 2/3,
    query 2 overlaps 0/3 (and still reports a row)."""
    from powa_archivist_spark.pipeline import similarity

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2), (2, 22, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 12, 2), (1, 99, 3),
         (2, 98, 1), (2, 97, 2), (2, 96, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    out = {r.query_id: r for r in similarity.ann_recall_at_k(
        exact, approx, k=3).collect()}
    assert (out[1].hits, out[1].recall) == (2, 2 / 3)
    assert (out[2].hits, out[2].recall) == (0, 0.0)
    # rank filter: beyond-k rows must not count
    approx2 = approx.union(spark.createDataFrame(
        [(2, 20, 4)], "query_id long, neighbor_id long, rank int"))
    out2 = {r.query_id: r for r in similarity.ann_recall_at_k(
        exact, approx2, k=3).collect()}
    assert out2[2].hits == 0


def test_bpe_apply_hand_computed(spark):
    """r8: BPE application on the Sennrich toy — after 4 merges the
    segmentations are low=[low], lower=[low,e,r], lowest=[low,e,s,t],
    new=[new], newer=[new,e,r], newest=[new,e,s,t]."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in corpus.bpe_apply(
        docs, n_merges=4).collect()}
    assert (out[1].n_words, out[1].n_subwords) == (5, 3 * 1 + 3 + 4)
    assert (out[2].n_words, out[2].n_subwords) == (4, 2 * 1 + 3 + 4)
    assert out[1].subwords_per_word == 10 / 5


def test_dsir_model_fused_equals_two_pass(spark):
    """r8 perf: the single-pass target_pred model build must produce
    bit-identical weights to the two-pass target_docs form (c_t as a
    conditional count inside the same groupBy)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "good data clean data"), (2, "bad junk junk spam"),
         (3, "good data bad junk"), (4, None)],
        "doc_id long, text string",
    )
    two = {r.bucket: r.weight for r in textstats.dsir_model(
        docs, target_docs=docs.filter(F.col("doc_id") == 1),
        n_buckets=64).collect()}
    one = {r.bucket: r.weight for r in textstats.dsir_model(
        docs, target_pred=F.col("doc_id") == 1,
        n_buckets=64).collect()}
    assert one == two
    import pytest as _pytest
    with _pytest.raises(ValueError):
        textstats.dsir_model(docs)


def test_decontaminate_excise_cuts_spans_keeps_order(spark):
    """r8: excision — a leaked 3-gram span is cut out, untouched docs
    survive verbatim, a fully-leaked doc returns empty clean_text,
    and sub-n docs pass through uncut."""
    from powa_archivist_spark.pipeline import corpus

    ev = spark.createDataFrame([(100, "leak one two")],
                               "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "clean text here only safe words"),
         (2, "prefix leak one two suffix tail"),
         (3, "leak one two"),
         (4, "too short"),
         (5, None)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in corpus.decontaminate_excise(
        docs, ev, n=3).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert (out[1].removed_tokens, out[1].clean_text) == \
        (0, "clean text here only safe words")
    assert (out[2].n_tokens, out[2].removed_tokens,
            out[2].clean_text) == (6, 3, "prefix suffix tail")
    assert (out[3].removed_tokens, out[3].clean_text) == (3, "")
    assert (out[4].removed_tokens, out[4].clean_text) == (0, "too short")


def test_quality_ensemble_vote_consistency(spark):
    """r8: the four-filter ensemble — votes reconcile (n_passed equals
    the flag sum, keep_all means 4/4), every doc gets a row, and the
    spine covers the whole corpus (gate scores NULL text too)."""
    from powa_archivist_spark.pipeline.queries import (
        corpus_quality_ensemble,
    )

    out = corpus_quality_ensemble(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").count()
    assert len(rows) == n_docs
    for r in rows:
        flags = [r.heuristic_pass, r.classifier_pass, r.ppl_pass,
                 r.dsir_pass]
        assert r.n_passed == sum(bool(f) for f in flags)
        assert r.keep_all == (r.n_passed == 4)


def test_diversity_select_drops_prototypical_quarter(spark):
    """r8: D4 diversification — per-cell the top-dot quarter drops
    (exact integer cut), small cells keep everything, ties rank by
    id."""
    from powa_archivist_spark.pipeline import similarity

    def v(x, y):
        return [float(x), float(y)]

    # cells seed from ids 0 and 4 (8 vecs, target 2 -> mod 4)
    emb = spark.createDataFrame(
        [(0, v(1, 0)),       # centroid A
         (1, v(1, 0)),       # most prototypical in A (ties 0 -> id 0 first)
         (2, v(0.9, 0.1)),
         (3, v(0.8, 0.2)),
         (4, v(0, 1)),       # centroid B
         (5, v(0.1, 0.9)),
         (6, v(0.2, 0.8)),
         (7, v(0, 1))],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in similarity.diversity_select(
        emb, n_cells_target=2, drop_top_frac_num=1,
        drop_top_frac_den=4).collect()}
    a = [r for r in out.values() if r.cell_id == 0]
    b = [r for r in out.values() if r.cell_id == 4]
    assert len(a) == len(b) == 4
    # 4 members * 1/4 -> exactly ONE dropped per cell: the top-ranked
    dropped_a = [r.vec_id for r in a if not r.keep]
    dropped_b = [r.vec_id for r in b if not r.keep]
    assert dropped_a == [0], "dot-tie between 0 and 1 -> id 0 ranks 1st"
    assert dropped_b == [4], "dot-tie between 4 and 7 -> id 4 ranks 1st"
    assert all(r.cell_n == 4 for r in out.values())


def test_ivfpq_matches_numpy_replica(spark):
    """r8: third-engine check — the ENTIRE IVF-PQ chain (quantize,
    coarse assign, residuals, per-subspace Lloyd, encode, ADC search)
    re-implemented in ~30 lines of integer numpy must reproduce
    Spark's result exactly (the DuckDB oracle already replays it;
    this is an independent THIRD implementation on random data)."""
    import numpy as np

    from powa_archivist_spark.pipeline import similarity

    rng = np.random.RandomState(7)
    n, d, m = 40, 16, 4
    vecs = rng.randn(n, d).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    cents, cb, idx = similarity.ivfpq_build(
        emb, m=m, n_cells_target=4, n_codes_target=8)
    got = {(r.query_id, r.rank): (r.neighbor_id, r.adist_q)
           for r in similarity.ivfpq_search(
               emb, cents, cb, idx, query_ids=[0, 1], k=5,
               nprobe=2, m=m).collect()}

    # --- numpy replica (exact int64 arithmetic throughout) ---
    q = np.int64(np.round(vecs.astype("float64") * similarity.QUANT))
    cell_mod = -(-n // 4)
    cell_ids = np.arange(0, n, cell_mod)
    dots = q @ q[cell_ids].T                       # coarse scores
    order = np.lexsort((cell_ids[None, :].repeat(n, 0), -dots), axis=1)
    assign = cell_ids[order[:, 0]]
    resid = q - q[assign]
    dm = d // m
    code_mod = -(-n // 8)
    seed_ids = np.arange(0, n, code_mod)
    codebook = {}
    for s in range(m):
        sub = resid[:, s * dm:(s + 1) * dm]
        seeds = sub[seed_ids]
        d2 = ((sub[:, None, :] - seeds[None, :, :]) ** 2).sum(2)
        best = np.lexsort((seed_ids[None, :].repeat(n, 0), d2), axis=1)
        chosen = seed_ids[best[:, 0]]
        for c in seed_ids:
            members = sub[chosen == c]
            if len(members):
                codebook[(s, c)] = np.floor(
                    members.sum(0) / len(members)).astype("int64")
    codes = np.zeros((n, m), dtype="int64")
    for s in range(m):
        sub = resid[:, s * dm:(s + 1) * dm]
        ks = sorted(c for (ss, c) in codebook if ss == s)
        d2 = np.stack([((sub - codebook[(s, c)]) ** 2).sum(1)
                       for c in ks], axis=1)
        best = np.lexsort((np.array(ks)[None, :].repeat(n, 0), d2),
                          axis=1)
        codes[:, s] = np.array(ks)[best[:, 0]]
    for qid in (0, 1):
        probe_order = np.lexsort((cell_ids, -dots[qid]))
        probed = cell_ids[probe_order[:2]]
        cand = []
        for cell in probed:
            qr = q[qid] - q[cell]
            for nb in np.where(assign == cell)[0]:
                if nb == qid:
                    continue
                ad = sum(
                    int(((qr[s * dm:(s + 1) * dm]
                          - codebook[(s, codes[nb, s])]) ** 2).sum())
                    for s in range(m))
                cand.append((ad, int(nb)))
        cand.sort()
        for rank, (ad, nb) in enumerate(cand[:5], start=1):
            assert got[(qid, rank)] == (nb, ad), (qid, rank)


def test_source_profile_counts_and_rates(spark):
    """r8: per-source profile — duplicate attribution is corpus-wide
    (a copy in another source still flags both), NULL text counts but
    contributes zero tokens, rates reconcile."""
    from powa_archivist_spark.pipeline.queries import (
        corpus_source_profile,
    )

    out = {r.source: r for r in corpus_source_profile(
        spark, "/root/testdata/sf0.001").collect()}
    assert len(out) >= 2
    for r in out.values():
        assert r.n_docs >= r.n_gate_pass >= 0
        assert r.n_docs >= r.n_exact_dups >= 0
        assert r.gate_pass_rate == r.n_gate_pass / r.n_docs
        assert r.dup_rate == r.n_exact_dups / r.n_docs
        assert r.total_tokens >= r.n_docs - r.n_null_text


def test_routed_emb_pairs_route_pin(spark):
    """VERDICT r8 task 3: the declared emb_near_dup/emb_semantic_dedup
    pair relation must route off the exact O(N^2) form past the count
    bound — exact under it (bitwise oracle semantics), LSH-bucketed
    above, decision observable via route_out, LSH recall a subset of
    the exact relation."""
    import math

    from powa_archivist_spark.pipeline.queries import _routed_emb_pairs

    def unit(seed):
        vals = [((seed * 31 + i * 7) % 13) - 6.0 for i in range(64)]
        nrm = math.sqrt(sum(v * v for v in vals))
        return [v / nrm for v in vals]

    rows = [(i, unit(i // 2)) for i in range(6)]  # 3 duplicate pairs
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    route = {}
    exact = {
        (r.a_id, r.b_id)
        for r in _routed_emb_pairs(emb, route_out=route).collect()
    }
    assert route == {"route": "allpairs"}
    assert {(0, 1), (2, 3), (4, 5)} <= exact

    route = {}
    lsh = {
        (r.a_id, r.b_id)
        for r in _routed_emb_pairs(
            emb, exact_max_rows=4, route_out=route
        ).collect()
    }
    assert route == {"route": "lsh"}
    # identical vectors share every bucket: the planted dups survive;
    # verification is exact, so LSH never adds pairs
    assert {(0, 1), (2, 3), (4, 5)} <= lsh <= exact


def test_level_sample_quantiles_small_groups_exact(spark):
    """Under k survivors the sketch IS the data: cut 0, every row kept,
    nearest-rank picks equal the exact grouped quantiles."""
    from powa_archivist_spark.pipeline import sketches

    rows = [(i, "g", float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "event_id long, g string, value double")
    sk = sketches.level_sample_sketch(df, "value", "event_id", ["g"], k=256)
    out = sketches.level_sample_quantiles(sk, ["g"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_values, r.cut_level, r.m_survivors) == (100, 0, 100)
    # nearest-rank over 1..100: pP = P
    assert (r.p50, r.p90, r.p95, r.p99) == (50.0, 90.0, 95.0, 99.0)


def test_level_sample_merge_equals_one_shot(spark):
    """The compaction contract: sketches over disjoint thirds, merged,
    must equal the one-shot sketch BIT-FOR-BIT (deterministic hash
    promotion; re-filtering nested survivor sets at the merged cut is
    exactly the union's cut-level selection)."""
    from powa_archivist_spark.pipeline import sketches

    rows = [(i, f"g{i % 2}", float((i * 37) % 1000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "event_id long, g string, value double")

    one = sketches.level_sample_quantiles(
        sketches.level_sample_sketch(df, "value", "event_id", ["g"], k=64),
        ["g"],
    )
    parts = [
        sketches.level_sample_sketch(
            df.filter(df.event_id % 3 == i), "value", "event_id",
            ["g"], k=64,
        )
        for i in range(3)
    ]
    merged = sketches.level_sample_quantiles(
        sketches.level_sample_merge(parts, ["g"], k=64), ["g"]
    )
    assert sorted(map(tuple, one.collect())) == sorted(
        map(tuple, merged.collect())
    )
    # and the sketch really compacted: cut > 0, m bounded near k
    r = {x.g: x for x in one.collect()}
    assert all(v.cut_level >= 1 and v.m_survivors <= 2 * 64
               for v in r.values())


def test_level_sample_rank_error_bound(spark):
    """Statistical sanity on a known distribution: the sampled p50/p90
    of 1..4000 must sit within a few sigma of truth (k=256 -> rank
    sigma ~ n/sqrt(k) ~ 250)."""
    from powa_archivist_spark.pipeline import sketches

    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(1, 4001)],
        "event_id long, g string, value double",
    )
    sk = sketches.level_sample_sketch(df, "value", "event_id", ["g"], k=256)
    (r,) = sketches.level_sample_quantiles(sk, ["g"]).collect()
    assert abs(r.p50 - 2000) < 750
    assert abs(r.p90 - 3600) < 750


def test_substring_dedup_excise_owner_keeps(spark):
    """r9: corpus-internal ExactSubstr — the canonical owner (min doc
    id over the gram's occurrences) keeps the duplicated span; every
    other doc loses exactly the covered positions; unique content
    survives untouched."""
    from powa_archivist_spark.pipeline import corpus

    boiler = "one two three four five"          # the shared 5-gram
    rows = [
        (0, boiler + " alpha beta gamma delta epsilon"),
        (1, "x1 x2 " + boiler + " zeta"),        # loses the boilerplate
        (2, "totally unique words here nothing shared at all ok"),
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in corpus.substring_dedup_excise(
        docs, k=5, min_docs=2).collect()}
    assert out[0].removed_tokens == 0
    assert out[0].clean_text.startswith(boiler)
    assert out[1].removed_tokens == 5
    assert out[1].clean_text == "x1 x2 zeta"
    assert out[2].removed_tokens == 0
    assert 3 not in out  # NULL text has no token rows


def test_kmv_set_overlap_exact_below_k(spark):
    """When the pairwise UNION sketch is unsaturated the three outputs
    are the exact set-operation values, for every pair, independent of
    partitioning."""
    from powa_archivist_spark.pipeline import sketches

    rows = (
        [("a", f"k{i}") for i in range(20)]
        + [("b", f"k{i}") for i in range(10, 30)]   # |a n b| = 10
        + [("c", f"x{i}") for i in range(5)]        # disjoint from a, b
    ) * 2  # duplicates must not matter: set semantics
    df = spark.createDataFrame(rows, "src string, key string")
    out = {(r.group_a, r.group_b): r for r in
           sketches.kmv_set_overlap(df, "key", "src", k=64).collect()}
    ab = out[("a", "b")]
    assert ab.est_union == 30.0
    assert ab.est_inter == 10.0
    assert abs(ab.est_jaccard - 10 / 30) < 1e-12
    ac = out[("a", "c")]
    assert ac.est_union == 25.0
    assert ac.est_inter == 0.0
    assert ac.est_jaccard == 0.0
    out2 = {(r.group_a, r.group_b): r.est_union for r in
            sketches.kmv_set_overlap(df.repartition(7), "key", "src", k=64)
            .collect()}
    assert out2[("a", "b")] == 30.0


def test_kmv_set_overlap_estimates_above_k(spark):
    """Saturated sketches estimate in the right ballpark: two sources
    sharing half their keys should report Jaccard near 1/3 and union
    near the truth, deterministically across partitionings."""
    from powa_archivist_spark.pipeline import sketches

    n = 2000
    rows = [("a", f"k{i}") for i in range(n)] + [
        ("b", f"k{i}") for i in range(n // 2, n + n // 2)
    ]  # true union = 3000, inter = 1000, jaccard = 1/3
    df = spark.createDataFrame(rows, "src string, key string")
    (r,) = sketches.kmv_set_overlap(df, "key", "src", k=256).collect()
    assert 2000 < r.est_union < 4500
    assert 500 < r.est_inter < 2000
    assert 0.15 < r.est_jaccard < 0.55
    (r2,) = sketches.kmv_set_overlap(
        df.repartition(11), "key", "src", k=256
    ).collect()
    assert r2.est_union == r.est_union and r2.est_jaccard == r.est_jaccard


def test_sq_encode_codes_bounded_and_exact_duplicate_distance(spark):
    """SQ codes are 8-bit, a duplicated vector encodes identically
    (distance 0 to its twin), and search ranks the twin first."""
    import random

    from powa_archivist_spark.pipeline import similarity

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(40)]
    vecs.append(list(vecs[0]))  # vec_id 40 duplicates vec_id 0
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    stats = similarity.sq_train(emb)
    enc = similarity.sq_encode(emb, stats)
    codes = {r.vec_id: r.codes for r in enc.collect()}
    assert all(0 <= c <= 255 for cs in codes.values() for c in cs)
    assert codes[0] == codes[40]
    top = similarity.sq_search(enc, stats, query_ids=[0], k=3).collect()
    assert top[0].neighbor_id == 40 and top[0].sq_dist == 0


def test_sq_search_recovers_radial_ordering(spark):
    """Distances separated by >> one quantization step survive the int8
    round-trip: docs placed at increasing radii from the query come back
    in exact radial order, and a far-away cluster never intrudes."""
    from powa_archivist_spark.pipeline import similarity

    vecs = {}
    for i in range(20):  # cluster A: doc i at radius 0.03*i along dim 0
        v = [0.5] * 16
        v[0] = 0.3 + 0.03 * i
        vecs[i] = v
    for i in range(20, 30):  # cluster B: the other orthant, far away
        v = [-0.5] * 16
        v[0] = -0.3 - 0.03 * (i - 20)
        vecs[i] = v
    emb = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<float>"
    )
    stats = similarity.sq_train(emb)
    enc = similarity.sq_encode(emb, stats)
    got = [r.neighbor_id for r in
           similarity.sq_search(enc, stats, query_ids=[0], k=5).collect()]
    assert got == [1, 2, 3, 4, 5]  # exact radial order, no cluster-B id


def test_sq_matches_numpy_replica(spark):
    """Third-engine check for the SQ chain (the ivfpq pattern): train,
    encode and scaled-L2 search re-implemented in integer numpy must
    reproduce Spark's codes and ranking exactly on random data."""
    import numpy as np

    from powa_archivist_spark.pipeline import similarity

    rng = np.random.RandomState(11)
    n, d = 50, 12
    vecs = rng.randn(n, d).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    stats = similarity.sq_train(emb)
    enc = similarity.sq_encode(emb, stats)
    got_codes = {r.vec_id: list(r.codes) for r in enc.collect()}
    got_top = [(r.neighbor_id, r.sq_dist) for r in
               similarity.sq_search(enc, stats, query_ids=[3], k=5)
               .collect()]

    v = np.int64(np.round(vecs.astype("float64") * similarity.QUANT))
    mn, mx = v.min(0), v.max(0)
    steps = (mx - mn) // 255
    codes = np.zeros_like(v)
    nz = steps > 0
    codes[:, nz] = np.clip((v[:, nz] - mn[nz]) // steps[nz], 0, 255)
    for i in range(n):
        assert got_codes[i] == [int(c) for c in codes[i]], i
    diff = (codes - codes[3]) * steps
    dist = (diff * diff).sum(1)
    cand = sorted((int(dist[i]), i) for i in range(n) if i != 3)
    assert got_top == [(i, dd) for dd, i in cand[:5]]


def test_ann_recall_sq_chain(spark):
    """ann_recall_at_k over the SQ chain: on UNIT vectors (where the
    exact dot ranking and the L2 ranking coincide) with angular gaps
    far above one quantization step, recall@5 is exactly 1.0."""
    import math

    from powa_archivist_spark.pipeline import similarity

    vecs = {}
    for i in range(12):  # cluster A: fan of unit vectors, 0.05 rad apart
        th = 0.05 * i
        vecs[i] = [math.cos(th), math.sin(th)] + [0.0] * 6
    for i in range(12, 24):  # cluster B: the opposite half-circle
        th = math.pi - 0.05 * (i - 12)
        vecs[i] = [math.cos(th), math.sin(th)] + [0.0] * 6
    emb = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<float>"
    )
    exact = similarity.knn_bruteforce(emb, query_ids=[0], k=5)
    stats = similarity.sq_train(emb)
    enc = similarity.sq_encode(emb, stats)
    approx = similarity.sq_search(enc, stats, query_ids=[0], k=5)
    (r,) = similarity.ann_recall_at_k(exact, approx, k=5).collect()
    assert (r.hits, r.k, r.recall) == (5, 5, 1.0)


def test_ngram_perplexity_interpolated_hand_computed(spark):
    """Hand-derived absolute-discount arithmetic: train "a b a b a c"
    gives c_a={a:3,b:2,c:1}, retained bigrams {"a b":2,"b a":2},
    n1p={a:1,b:1}, N=6, V=4.  Then (on the common denominator):
    - "a b": known ctx, num = max(4*2-3,0)*10 + 3*1*(2+1) = 59,
      den = 4*3*10 = 120 -> bits = bitlen(120 div 59) - 1 = 1;
    - "c a": ctx c in vocab but prune-emptied (n1p null) -> unigram
      backoff num = c(a)+1 = 4, den = N+V = 10 -> bits = 1;
    - "z z": OOV ctx -> backoff num = 0+1, den = 10 -> bits = 3."""
    from powa_archivist_spark.pipeline import textstats

    train = spark.createDataFrame(
        [(0, "a b a b a c")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(10, "a b"), (11, "c a"), (12, "z z")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           textstats.ngram_perplexity_interpolated(
               docs, train_docs=train).collect()}
    assert (out[10].n_bigrams, out[10].sum_bits) == (1, 1)
    assert (out[11].n_bigrams, out[11].sum_bits) == (1, 1)
    assert (out[12].n_bigrams, out[12].sum_bits) == (1, 3)
    assert out[12].bits_per_token == 3.0


def test_bm25_search_ranking_and_determinism(spark):
    """BM25: a doc saturated with a query's rarer terms outranks docs
    that only carry the corpus-common ones; output is bounded to
    n_queries x k; repartitioning does not move a single fixed-point
    score (the integer quantization is the cross-engine contract)."""
    from powa_archivist_spark.pipeline import textstats

    # 12 docs over a tiny vocabulary; token 'z0'..'z3' rare, 'a0'..'a3'
    # everywhere.  Query 0 = top-4 tokens (the a's), query 1 = next 4.
    rows = []
    for i in range(10):
        rows.append((i, "a0 a1 a2 a3 " * 3 + "pad"))
    rows.append((10, "z0 z1 z2 z3 z0 z1 z2 z3 a0"))
    rows.append((11, "z0 a0 a1 a2 a3 pad pad"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textstats.bm25_search(
        df, n_queries=2, terms_per_query=4, k=5
    ).collect()
    assert len(out) == 2 * 5
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # the z-query's top hit is the z-saturated doc 10
    q_z = max(by_q)  # z tokens are rarer -> later vocab ranks
    top = min(by_q[q_z], key=lambda r: r.rank)
    assert top.doc_id == 10
    assert all(r.score_fp >= 0 for r in out)
    again = {(r.query_id, r.doc_id): r.score_fp for r in
             textstats.bm25_search(
                 df.repartition(7), n_queries=2, terms_per_query=4, k=5
             ).collect()}
    assert again == {(r.query_id, r.doc_id): r.score_fp for r in out}


def test_mrl_truncated_recall_bounds_and_full_dim_identity(spark):
    """Prefix-truncation recall: truncating to the FULL dimension must
    reproduce the exact ranking (recall 1.0 per query); a shorter
    prefix stays within [0, 1] and the metric frame is one row per
    query."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2]
    exact = similarity.knn_bruteforce(emb, query_ids=qids, k=5)
    full = similarity.ann_recall_at_k(
        exact,
        similarity.knn_bruteforce(
            emb.withColumn("embedding", F.slice("embedding", 1, 64)),
            query_ids=qids, k=5,
        ),
        k=5,
    ).collect()
    assert sorted(r.recall for r in full) == [1.0, 1.0, 1.0]
    short = similarity.ann_recall_at_k(
        exact,
        similarity.knn_bruteforce(
            emb.withColumn("embedding", F.slice("embedding", 1, 8)),
            query_ids=qids, k=5,
        ),
        k=5,
    ).collect()
    assert len(short) == len(qids)
    assert all(0.0 <= r.recall <= 1.0 for r in short)


def test_group_sample_fixed_k_and_mergeable(spark):
    """Bottom-k-by-hash sampling: exactly k rows per group (all rows
    when the group is smaller), partitioning-invariant, and MERGEABLE —
    re-sampling the union of two halves' samples reproduces the whole
    corpus's sample exactly (the k-min nesting property)."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import sketches

    rows = [("big", i) for i in range(200)] + [
        ("tiny", 1000 + i) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long")
    out = sketches.group_sample(df, ["src"], "doc_id", k=16).collect()
    by = {}
    for r in out:
        by.setdefault(r.src, set()).add(r.doc_id)
    assert len(by["big"]) == 16
    assert by["tiny"] == {1000 + i for i in range(5)}
    # partitioning invariance
    again = {(r.src, r.doc_id) for r in sketches.group_sample(
        df.repartition(9), ["src"], "doc_id", k=16).collect()}
    assert again == {(r.src, r.doc_id) for r in out}
    # mergeability: sample each half, union, re-sample
    half_a = sketches.group_sample(
        df.filter(F.col("doc_id") % 2 == 0), ["src"], "doc_id", k=16
    ).select("src", "doc_id")
    half_b = sketches.group_sample(
        df.filter(F.col("doc_id") % 2 == 1), ["src"], "doc_id", k=16
    ).select("src", "doc_id")
    merged = {(r.src, r.doc_id) for r in sketches.group_sample(
        half_a.unionAll(half_b), ["src"], "doc_id", k=16).collect()}
    assert merged == {(r.src, r.doc_id) for r in out}


def test_heavy_hitters_grouped_exact_per_group(spark):
    """Per-group Misra-Gries + exact recount: thresholds apply to each
    group's own total, results are exact (match a naive computation),
    and a value heavy in one group does not leak into another."""
    from collections import Counter

    from powa_archivist_spark.pipeline import sketches

    rows = (
        [("a", "hot")] * 50 + [("a", f"r{i}") for i in range(60)]
        + [("b", "cold")] * 9 + [("b", "hot")] * 2
    )
    df = spark.createDataFrame(rows, "g string, tok string")
    out = {(r.g, r.tok): r.cnt for r in
           sketches.heavy_hitters_grouped(df, "tok", ["g"], 1, 4)
           .collect()}
    naive = {}
    for g in ("a", "b"):
        items = [t for gg, t in rows if gg == g]
        for tok, c in Counter(items).items():
            if c * 4 > len(items):
                naive[(g, tok)] = c
    assert out == naive
    assert ("a", "hot") in out and ("b", "cold") in out
    assert ("b", "hot") not in out  # 2/11 <= 1/4: group-local threshold
    # partitioning invariance (candidate pruning is per partition)
    again = {(r.g, r.tok): r.cnt for r in
             sketches.heavy_hitters_grouped(
                 df.repartition(13), "tok", ["g"], 1, 4).collect()}
    assert again == naive


def test_bitmask_route_guarded_by_distinct_mask_count(spark, caplog, monkeypatch):
    """r10 (VERDICT r9 task 3): the bitmask route's mask-pair stage is
    crossJoin-quadratic in DISTINCT MASKS, which a <=63-token vocabulary
    cannot bound (2^vocab subsets).  The probe route now runs a second
    bounded distinct().limit(cap+1).count() probe on the masks and falls
    back to PPJoin (observable WARNING) above the cap; explicit
    strategy='bitmask' raises, matching its >63-token contract."""
    import logging

    from powa_archivist_spark.pipeline import dedup as dmod
    from powa_archivist_spark.pipeline.dedup import (
        jaccard_pairs,
        near_dup_components,
    )

    # 8 docs with 6 DISTINCT token sets over a 4-token vocabulary
    rows = [
        (0, "a"), (1, "a b"), (2, "a b c"), (3, "a b c d"),
        (4, "b c"), (5, "c d"), (6, "a b c d"), (7, "a b c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    monkeypatch.setattr(dmod, "BITMASK_MAX_MASKS", 4)
    route = {}
    with caplog.at_level(logging.INFO,
                         logger="powa_archivist_spark.pipeline.dedup"):
        pairs = jaccard_pairs(df, threshold=0.8, strategy="probe",
                              route_out=route)
        got = sorted((r.a_id, r.b_id) for r in pairs.collect())
    assert route == {"route": "prefix"}, "mask probe must reroute to prefix"
    warns = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert any("distinct masks" in r.message for r in warns)
    # rerouted result still correct: exact jaccard>=0.8 pairs
    assert got == [(2, 7), (3, 6)]

    with pytest.raises(ValueError, match="distinct masks"):
        jaccard_pairs(df, threshold=0.8, strategy="bitmask").count()

    # components path shares the guard
    route = {}
    comp = near_dup_components(df, threshold=0.8, strategy="probe",
                               route_out=route)
    assert route == {"route": "prefix"}
    labels = {r.doc_id: r.component for r in comp.collect()}
    assert labels[7] == 2 and labels[6] == 3

    # under the cap the bitmask route still engages
    monkeypatch.setattr(dmod, "BITMASK_MAX_MASKS", 4096)
    route = {}
    assert sorted(
        (r.a_id, r.b_id)
        for r in jaccard_pairs(df, threshold=0.8, strategy="probe",
                               route_out=route).collect()
    ) == [(2, 7), (3, 6)]
    assert route == {"route": "bitmask"}


def test_grouped_sketches_keep_null_group(spark):
    """r10 (ADVICE r9): a NULL group key is a REAL group (kmv_distinct's
    documented contract) — the grouped CMS estimate, grouped heavy
    hitters, and level-sampling quantile joins must not zero it out."""
    from powa_archivist_spark.pipeline import sketches

    rows = [(i, None if i % 2 else "a", "hot" if i % 3 else "cold",
             float(i)) for i in range(90)]
    df = spark.createDataFrame(
        rows, "event_id long, g string, tok string, value double"
    )

    # heavy hitters: NULL group recounts exactly
    hh = {(r.g, r.tok): r.cnt for r in
          sketches.heavy_hitters_grouped(df, "tok", ["g"], 1, 4).collect()}
    null_hot = sum(1 for _, g, t, _v in rows if g is None and t == "hot")
    assert hh[(None, "hot")] == null_hot

    # CMS: NULL group estimate >= true count (never zeroed)
    regs = sketches.cms_registers(df, "tok", ["g"], d=4, w=64)
    groups = df.select("g").distinct()
    probes = spark.createDataFrame([("hot",)], "tok string")
    est = {r.g: r.est_cnt for r in sketches.cms_estimate(
        regs, groups, probes, "tok", ["g"], d=4, w=64).collect()}
    assert est[None] >= null_hot and est[None] > 0

    # level-sampling quantiles: NULL group carries its population
    prof = {r.g: r.n_values for r in sketches.level_sample_quantiles(
        sketches.level_sample_sketch(df, "value", "event_id", ["g"], k=16),
        ["g"],
    ).collect()}
    assert prof[None] == 45


def test_bm25_wand_exact_and_prunes_on_tailed_corpus(spark):
    """r10 (VERDICT r9 task 4): block-max WAND — on a corpus WITH a
    frequency tail (rare high-idf term + corpus-common term) the anytime
    loop terminates off the zone-map bound after reading only the
    high-impact buckets, and the result is still the exact top-k (equal
    to brute-force scoring of every candidate)."""
    import pyspark.sql.functions as F

    from powa_archivist_spark.pipeline import textstats

    # 600 docs all contain 'common'; docs 0..11 also carry 'needle'
    # with heavy tf; filler tokens are per-doc unique
    rows = [
        (i,
         ("needle " * 6 if i < 12 else "")
         + "common "
         + " ".join(f"f{i}_{j}" for j in range(8)))
        for i in range(600)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    term = textstats.bm25_postings(docs)
    toks = F.split(F.col("text"), " ")
    stats = docs.select(F.size(toks).alias("dlen")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dlen").alias("sum_dlen")
    )
    qterms = spark.createDataFrame(
        [(0, "needle"), (0, "common")], "query_id long, tok string"
    )
    index = textstats.bm25_impact_index(term, stats, qterms=qterms)
    bmax = textstats.bm25_blockmax(index)
    st = {}
    got = sorted(map(tuple, textstats.bm25_wand_from_index(
        index, bmax, qterms, k=10, stats_out=st).collect()))

    # brute-force reference: exact integer scores of every candidate
    cand = (
        index.join(F.broadcast(qterms), "tok")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact_fp").alias("score_fp"))
        .collect()
    )
    ranked = sorted(cand, key=lambda r: (r.query_id, -r.score_fp, r.doc_id))
    want = sorted(
        (r.query_id, i + 1, r.doc_id, r.score_fp)
        for i, r in enumerate(ranked[:10])
    )
    assert got == want
    # the pruning must be REAL on this corpus: the needle docs dominate
    # the threshold, the common term's buckets stay unread
    assert st["postings_prefix"] < st["postings_total"] // 4, st
    assert st["docs_patched"] <= 30, st
    assert st["rounds"] <= 3, st


def test_bm25_wand_equals_batch_scorer_full_chain(spark):
    """bm25_wand == bm25_from_postings on the SAME stratified workload
    (full-chain parity: workload derivation, impact quantization,
    ranking ties) — the declared docs_bm25_wand query's oracle relies
    on this equality being engine-wide, not fixture-specific."""
    import pyspark.sql.functions as F

    from powa_archivist_spark.pipeline import textstats

    rows = [
        (i, " ".join(
            f"w{(i * 7 + j * j) % 97}" for j in range(1 + i % 19)))
        for i in range(400)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    term = textstats.bm25_postings(docs)
    toks = F.split(F.col("text"), " ")
    stats = docs.select(F.size(toks).alias("dlen")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dlen").alias("sum_dlen")
    )
    base = sorted(map(tuple, textstats.bm25_from_postings(
        term, stats, workload="stratified").collect()))
    wand = sorted(map(tuple, textstats.bm25_wand(docs).collect()))
    assert base == wand and len(base) > 0


def test_kmeans_converges_and_is_partitioning_invariant(spark):
    """r10 (VERDICT r9 task 6): full-Lloyd k-means — the convergence
    probe stops at the integer fixed point (extra rounds are no-ops, the
    property the statically-unrolled oracle relies on), every declared
    cluster id is in range, and the result is invariant to input
    partitioning (int64 sums are order-independent)."""
    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    st = {}
    out = similarity.kmeans(emb, k=8, init_rounds=3, max_rounds=40,
                            stats_out=st)
    rows = sorted(map(tuple, out.collect()))
    assert len(rows) == emb.count()
    assert st["converged"], st
    assert st["rounds"] <= 40
    assert set(r[1] for r in rows) <= set(range(8))

    # fixed point: a longer budget lands on the identical assignment
    again = sorted(map(tuple, similarity.kmeans(
        emb, k=8, init_rounds=3, max_rounds=60).collect()))
    assert again == rows

    # partitioning invariance
    shuf = sorted(map(tuple, similarity.kmeans(
        emb.repartition(13), k=8, init_rounds=3, max_rounds=40).collect()))
    assert shuf == rows


def test_rrf_fuse_integer_contract_and_bounds(spark):
    """r10: RRF fusion — fused score is the exact integer sum of
    2^20 div (60 + rank) across channels, a doc hit by both channels
    outranks one hit by a single channel at the same ranks, and the
    output is bounded to queries x k."""
    from powa_archivist_spark.pipeline import textstats

    lex = spark.createDataFrame(
        [(0, 100, 1), (0, 101, 2), (0, 102, 3)],
        "query_id long, doc_id long, rank int",
    )
    sem = spark.createDataFrame(
        [(0, 101, 1), (0, 103, 2)],
        "query_id long, doc_id long, rank int",
    )
    out = {r.doc_id: r for r in
           textstats.rrf_fuse([lex, sem], k=10).collect()}
    q = 1 << 20
    assert out[101].rrf_fp == q // 62 + q // 61
    assert out[101].n_channels == 2
    assert out[100].rrf_fp == q // 61
    assert out[101].rank == 1  # two channels beat one at similar ranks
    assert len(out) == 4
    # bounded k
    top2 = textstats.rrf_fuse([lex, sem], k=2).collect()
    assert len(top2) == 2


def test_bm25_rm3_expansion_recalls_feedback_cooccurring_term(spark):
    """r10: RM3 — a doc that carries ONLY a term co-occurring with the
    query terms in the feedback docs is invisible to plain BM25 but
    enters the expanded round's results; original query terms are never
    re-selected as expansion."""
    from powa_archivist_spark.pipeline import textstats

    # q0 terms = the 2 commonest tokens ('qa','qb').  The SHORT docs
    # 0-7 win the feedback slots (BM25 length norm) and all carry 'xp'
    # (the expansion signal); the long docs 60-69 keep qa/qb commonest
    # but lose feedback.  Doc 50 has ONLY 'xp'.
    rows = []
    for i in range(8):
        rows.append((i, "qa qb xp filler" + str(i)))
    rows.append((50, "xp xp xp"))
    for i in range(60, 70):
        pad = " ".join(f"w{i}_{j}" for j in range(6))
        rows.append((i, "qa qb " + pad))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = textstats.bm25_search(
        df, n_queries=1, terms_per_query=2, k=20)
    rm3 = textstats.bm25_rm3(
        df, n_queries=1, terms_per_query=2, fb_docs=5, fb_terms=1, k=20)
    plain_docs = {r.doc_id for r in plain.collect()}
    rm3_docs = {r.doc_id for r in rm3.collect()}
    assert 50 not in plain_docs
    assert 50 in rm3_docs


def test_rm3_and_search_wand_route_equals_exact_route(spark):
    """r11 (VERDICT r10 task 4): the WAND-routed compositions are
    row-for-row equal to the unpruned scoring path — the route swap can
    change only what gets read, never what is returned."""
    from powa_archivist_spark.pipeline import textstats

    rows = [(i, "qa qb xp filler" + str(i)) for i in range(8)]
    rows.append((50, "xp xp xp"))
    for i in range(60, 70):
        pad = " ".join(f"w{i}_{j}" for j in range(6))
        rows.append((i, "qa qb " + pad))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn, kw in [
        (textstats.bm25_rm3, dict(n_queries=1, terms_per_query=2,
                                  fb_docs=5, fb_terms=1, k=20)),
        (textstats.bm25_search, dict(n_queries=2, terms_per_query=2,
                                     k=5)),
    ]:
        exact = sorted(map(tuple, fn(df, path="exact", **kw).collect()))
        wand = sorted(map(tuple, fn(df, path="wand", **kw).collect()))
        assert exact == wand and len(exact) > 0


def test_ngram_novelty_hand_computed(spark):
    """r10: novelty — first doc owns every gram it introduces; an exact
    duplicate document is 0% novel; a short doc (< n tokens) counts
    zero grams but still counts as a doc."""
    from powa_archivist_spark.pipeline import corpus

    df = spark.createDataFrame(
        [
            (0, "a b c d", "s1"),      # grams: 'a b c', 'b c d' (novel)
            (1, "a b c d", "s2"),      # same grams, all seen
            (2, "x y", "s2"),          # too short: 0 grams
            (3, "a b c e", "s1"),      # 'a b c' seen, 'b c e' novel
        ],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in corpus.ngram_novelty(df, n=3).collect()}
    assert out["s1"].n_docs == 2
    assert out["s1"].n_grams == 4 and out["s1"].n_novel == 3
    assert abs(out["s1"].novelty - 0.75) < 1e-12
    assert out["s2"].n_docs == 2
    assert out["s2"].n_grams == 2 and out["s2"].n_novel == 0
    assert out["s2"].novelty == 0.0


def test_kmeans_profile_matches_assignment_rollup(spark):
    """r10: the profile is exactly the groupBy of the assignment the
    same-parameter kmeans returns (sizes sum to corpus, inertia/radius
    agree)."""
    import pyspark.sql.functions as F

    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    prof = {r.cluster: r for r in similarity.kmeans_profile(
        emb, k=8, init_rounds=3, max_rounds=12).collect()}
    asg = similarity.kmeans(emb, k=8, init_rounds=3, max_rounds=12)
    roll = {r.cluster: r for r in asg.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"), F.sum("d2_q").alias("i"),
        F.max("d2_q").alias("r")).collect()}
    assert set(prof) == set(roll)
    assert sum(p.n_vecs for p in prof.values()) == emb.count()
    for c, p in prof.items():
        assert (p.n_vecs, p.inertia_q, p.radius_q) == (
            roll[c].n, roll[c].i, roll[c].r)


def test_kmeans_semdedup_drops_within_cluster_duplicates(spark):
    """r10: SemDeDup keep rule — an exact duplicate pair lands in one
    cluster and only the smaller id survives; mutually-distant vectors
    all survive; output is one row per input vector."""
    from powa_archivist_spark.pipeline import similarity

    # 4 orthogonal directions x 5 near-copies each, plus one EXACT
    # duplicate pair (ids 100/101 both equal to direction 0).
    rows = []
    for d in range(4):
        for j in range(5):
            v = [0.0] * 8
            v[d] = 1.0
            v[4 + d] = 0.01 * j  # tiny spread, same direction
            rows.append((d * 10 + j, v))
    dup = [0.0] * 8
    dup[0] = 1.0
    rows.append((100, dup))
    rows.append((101, dup))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in similarity.kmeans_semdedup(
        emb, min_dot_q=990_000_000_000, k=4, init_rounds=3,
        max_rounds=10).collect()}
    assert len(out) == len(rows)
    # ids 0/100/101 are the SAME unit vector: the earliest (0) survives,
    # both duplicates drop, all in one cluster
    assert out[0].is_kept
    assert not out[100].is_kept and not out[101].is_kept
    assert out[0].cluster == out[100].cluster == out[101].cluster
    # within a cluster every pair here clears the threshold (same
    # direction => dot ~ QUANT^2; cross-direction dots are ~0 and land
    # in other clusters), so the survivor set is exactly the per-cluster
    # min id
    kept = {v.vec_id for v in out.values() if v.is_kept}
    import collections

    by_cluster = collections.defaultdict(list)
    for v in out.values():
        by_cluster[v.cluster].append(v.vec_id)
    assert kept == {min(ids) for ids in by_cluster.values()}


def test_minhash_recall_exact_duplicates_and_bounds(spark):
    """r10: LSH recall eval — identical docs collide in EVERY band, so
    an exact-duplicate corpus measures recall 1.0; counts are
    consistent (hits bounded by both relations); a corpus with no
    near-dups reports NULL recall (0 truth pairs) without dividing by
    zero."""
    from powa_archivist_spark.pipeline import dedup

    dup = "the quick brown fox jumps over the lazy dog tonight"
    rows = [(0, dup), (1, dup)] + [
        (10 + i, " ".join(f"u{i}_{j}" for j in range(12)))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = dedup.minhash_lsh_recall(df, hash_fn="md5").collect()[0]
    assert r.n_truth == 1 and r.n_hit == 1
    assert r.recall == 1.0
    assert r.n_hit <= r.n_cand
    assert 0.0 < r.precision <= 1.0

    solo = spark.createDataFrame(rows[2:], "doc_id long, text string")
    r2 = dedup.minhash_lsh_recall(solo, hash_fn="md5").collect()[0]
    assert r2.n_truth == 0 and r2.recall is None


def test_stream_novelty_ledger_equals_batch_and_replay_is_noop(spark, tmp_path):
    """r10: the at-rest first-owner ledger — ascending-batch folds
    reproduce the one-shot batch novelty profile exactly; a replayed
    epoch short-circuits (returns False) and changes nothing."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import corpus
    from powa_archivist_spark.storage import Warehouse
    from powa_archivist_spark.streaming.novelty import (
        novelty_profile,
        process_novelty_batch,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wh = Warehouse(spark, str(tmp_path / "nv"))
    mx = docs.agg(F.max("doc_id").alias("m")).collect()[0].m
    step = (int(mx) + 2) // 2
    for b in range(2):
        ok = process_novelty_batch(
            wh,
            docs.filter(
                (F.col("doc_id") >= b * step)
                & (F.col("doc_id") < (b + 1) * step)
            ),
            epoch_id=b,
        )
        assert ok
    want = sorted(map(tuple, corpus.ngram_novelty(docs, n=3).collect()))
    got = sorted(map(tuple, novelty_profile(wh, docs).collect()))
    assert got == want

    # replayed epoch: short-circuit, no state change
    again = process_novelty_batch(
        wh, docs.filter(F.col("doc_id") < step), epoch_id=0
    )
    assert again is False
    assert sorted(map(tuple, novelty_profile(wh, docs).collect())) == want


def test_lsh_tuning_curve_is_monotone_in_bands(spark):
    """r10: the tuning sweep shares ONE truth relation and moves along
    the collision-probability curve — more bands (fewer rows per band)
    can only add candidates, so n_cand and recall are non-decreasing in
    the band count at fixed num_perm."""
    from powa_archivist_spark.pipeline import dedup

    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    rows = [(0, base), (1, base + " w9")] + [
        (10 + i, " ".join(f"u{i}_{j}" for j in range(12)))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        dedup.lsh_tuning(df, hash_fn="md5").collect(),
        key=lambda r: r.bands,
    )
    assert [r.bands for r in out] == [4, 8, 16]
    assert len({r.n_truth for r in out}) == 1  # shared truth
    cands = [r.n_cand for r in out]
    assert cands == sorted(cands)
    recalls = [r.recall if r.recall is not None else 0.0 for r in out]
    assert recalls == sorted(recalls)


def test_lsh_non_divisible_band_config_raises(spark):
    """ADVICE r10: (num_perm, bands) is user-facing sweep surface; a
    non-divisible config like (32, 5) must raise instead of silently
    charting a 30-perm curve under a 32-perm label."""
    import pytest as _pytest

    from powa_archivist_spark.pipeline import dedup

    df = spark.createDataFrame(
        [(0, "a b c d e")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="divisible"):
        dedup.lsh_tuning(df, band_configs=((32, 5),), hash_fn="md5")
    with _pytest.raises(ValueError, match="divisible"):
        dedup.minhash_bands(df, num_perm=32, bands=5).collect()


def test_ann_ivf_recall_bounds(spark):
    """r10: the IVF recall eval — one row per query, hits <= k, recall
    in [0, 1], and the exact index recalls itself (sanity: recall of
    brute force vs brute force is 1)."""
    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = similarity.knn_bruteforce(emb, query_ids=[0, 1, 2], k=5)
    self_r = similarity.ann_recall_at_k(exact, exact, k=5).collect()
    assert all(r.recall == 1.0 for r in self_r)
    approx = similarity.knn_ivf(emb, query_ids=[0, 1, 2], k=5)
    out = similarity.ann_recall_at_k(exact, approx, k=5).collect()
    assert len(out) == 3
    assert all(0.0 <= r.recall <= 1.0 and r.hits <= 5 for r in out)


def test_ann_ivfpq_recall_closes_the_matrix(spark):
    """r11 (VERDICT r10 task 3): the IVF-PQ composed recall row — one
    row per query, hits <= k, recall in [0, 1]; and the declared-name
    contract of the matrix: ann_pq_recall measures the PURE PQ chain
    (pq_train/pq_encode/pq_search) while ann_ivfpq_recall measures the
    ivfpq_build/ivfpq_search composition."""
    import inspect

    from powa_archivist_spark.pipeline import queries as q
    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = similarity.knn_bruteforce(emb, query_ids=[0, 1, 2], k=5)
    cents, cb, index = similarity.ivfpq_build(
        emb, m=8, n_cells_target=4, n_codes_target=32
    )
    approx = similarity.ivfpq_search(
        emb, cents.localCheckpoint(eager=False),
        cb.localCheckpoint(eager=False),
        index.localCheckpoint(eager=False),
        query_ids=[0, 1, 2], k=5, m=8, nprobe=2,
    )
    out = similarity.ann_recall_at_k(exact, approx, k=5).collect()
    assert len(out) == 3
    assert all(0.0 <= r.recall <= 1.0 and r.hits <= 5 for r in out)
    # name contract (the r10 mislabel must not regress)
    assert "ivfpq_build" in inspect.getsource(q.ann_ivfpq_recall)
    src_pq = inspect.getsource(q.ann_pq_recall)
    assert "pq_train" in src_pq and "ivfpq_build" not in src_pq


def test_kll_windowed_groups_are_independent(spark):
    """r10: the windowed quantile sketch — each (event_type, day)
    group's profile is a pure function of that group's rows, so the
    windowed run restricted to one day equals the run over only that
    day's events (the property that lets daily survivor sets persist
    and merge without rescanning history)."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import sketches

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev = ev.withColumn("day", F.date_trunc("day", F.col("ts")))
    full = sketches.level_sample_quantiles(
        sketches.level_sample_sketch(
            ev, "value", "event_id", ["event_type", "day"], k=64),
        ["event_type", "day"],
    )
    one_day = ev.agg(F.min("day").alias("d")).collect()[0].d
    got = sorted(map(tuple, full.filter(F.col("day") == one_day).collect()))
    only = sketches.level_sample_quantiles(
        sketches.level_sample_sketch(
            ev.filter(F.col("day") == one_day), "value", "event_id",
            ["event_type", "day"], k=64),
        ["event_type", "day"],
    )
    assert sorted(map(tuple, only.collect())) == got
    assert got, "expected at least one group for the chosen day"


def test_ivfpq_at_rest_upsert_equals_rebuild_with_frozen_quantizers(
        spark, wh):
    """r12 (VERDICT r11 task 4): the at-rest IVF-PQ index — a probe
    over build(80%) + upsert(20% new ids + re-embedded replacements)
    equals ivfpq_search over an index encoded from the FINAL vector set
    against the same frozen quantizers, bit-for-bit (adist included);
    replaced ids hold the no-duplicate invariant across base ∪ delta;
    delta compaction changes nothing a probe can see."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity as S

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter("vec_id < 400")
    build = emb.filter("vec_id % 5 != 4")
    S.IVFPQ.build(wh, build, m=8, n_cells_target=8,
                        n_codes_target=64)
    q = emb.filter("vec_id in (0, 1, 2, 3)")

    # probe == in-memory search over the same (deterministic) artifacts
    cents, cb, index = S.ivfpq_build(build, m=8, n_cells_target=8,
                                     n_codes_target=64)
    got = sorted(map(tuple, S.IVFPQ.probe(wh, q, k=5, nprobe=2).collect()))
    want = sorted(map(tuple, S.ivfpq_search(
        build, cents, cb, index, query_ids=[0, 1, 2, 3], k=5, nprobe=2,
    ).collect()))
    assert got == want and len(got) == 20

    # upsert new ids AND re-embedded replacements (reversed vectors —
    # they may move cells); probe == rebuild-encode over the final set
    batch = emb.filter("vec_id % 5 = 4").unionByName(
        emb.filter("vec_id % 50 = 0")
        .withColumn("embedding", F.reverse("embedding")))
    S.IVFPQ.upsert(wh, batch)
    final = emb.filter("vec_id % 50 != 0").unionByName(
        emb.filter("vec_id % 50 = 0")
        .withColumn("embedding", F.reverse("embedding")))
    idx_full = S.ivf_encode(final, cents, cb, m=8)
    got2 = sorted(map(tuple, S.IVFPQ.probe(wh, q, k=5, nprobe=2).collect()))
    want2 = sorted(map(tuple, S.ivfpq_search(
        emb, cents, cb, idx_full, query_ids=[0, 1, 2, 3], k=5, nprobe=2,
    ).collect()))
    assert got2 == want2

    # replaced ids live in exactly one place across base ∪ delta
    n = S.IVFPQ.cells(wh).count()
    assert n == S.IVFPQ.cells(wh).select("vec_id").distinct().count()
    assert n == final.count()

    # compaction folds the delta without changing any probe result
    assert S.IVFPQ.compact(wh, 0)
    assert not wh.read(S.IVFPQ.table("delta")).count()
    got3 = sorted(map(tuple, S.IVFPQ.probe(wh, q, k=5, nprobe=2).collect()))
    assert got3 == got2


def test_ivf_nprobe_tuning_monotone_with_exact_endpoint(spark):
    """r12 (VERDICT r11 task 5): candidate sets are nested in nprobe
    and rescoring uses the exact ranking metric, so recall is provably
    non-decreasing — and probing >= every cell IS brute force, so the
    curve's endpoint hits recall 1.0 exactly."""
    from powa_archivist_spark.pipeline import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n_cells = emb.filter("vec_id % 97 = 0").count()
    out = S.ivf_nprobe_tuning(
        emb, query_ids=[0, 1, 2, 3, 4], k=10,
        nprobes=(1, 2, 4, n_cells),
    ).collect()
    rows = sorted(out, key=lambda r: r.nprobe)
    assert [r.nprobe for r in rows] == sorted({1, 2, 4, n_cells})
    assert len({r.n_truth for r in rows}) == 1  # ONE shared truth
    for a, b in zip(rows, rows[1:]):
        assert b.recall >= a.recall, "recall must be monotone in nprobe"
        assert b.n_cand >= a.n_cand, "scan cost must be monotone"
    assert rows[-1].recall == 1.0  # all cells probed == brute force
    assert all(0.0 <= r.recall <= 1.0 for r in rows)


def test_ivfpq_probe_tuning_monotone_candidates_allcells_endpoint(spark, wh):
    """r13 (VERDICT r12 task 6): the at-rest probe-tuning curve shares
    one ADC scoring pass, so candidate sets nest — n_cells / n_cand /
    cand_recall are provably non-decreasing in nprobe; probing every
    cell scans every neighbor's cell, so cand_recall hits 1.0 exactly
    at the all-cells endpoint."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity as S

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter("vec_id < 400")
    S.IVFPQ.build(wh, emb, m=8, n_cells_target=8, n_codes_target=64)
    n_cells_total = wh.read(S.IVFPQ.table("cells")) \
        .select("cell_id").distinct().count()
    out = S.IVFPQ.probe_tuning(
        wh, emb, query_ids=[0, 1, 2, 3, 4], k=10,
        nprobes=(1, 2, n_cells_total), m=8,
    ).orderBy("nprobe").collect()
    assert [r.nprobe for r in out] == sorted([1, 2, n_cells_total])
    for a, b in zip(out, out[1:]):
        assert b.n_cells >= a.n_cells
        assert b.n_cand >= a.n_cand
        assert b.n_cand_hit >= a.n_cand_hit
        assert b.cand_recall >= a.cand_recall
    assert out[-1].cand_recall == 1.0
    assert out[-1].n_cand_hit == out[-1].n_truth == 50
    # end-to-end ADC recall at all cells equals the pure full-scan ADC
    # top-k recall over the same frozen artifacts
    cents = wh.read(S.IVFPQ.table("centroids"))
    cb = wh.read(S.IVFPQ.table("codebook"))
    idx = S.ivf_encode(emb, cents, cb, m=8)
    exact = S.knn_bruteforce(emb, [0, 1, 2, 3, 4], k=10)
    full = S.ivfpq_search(emb, cents, cb, idx, [0, 1, 2, 3, 4], k=10,
                          nprobe=n_cells_total, m=8)
    want = S.ann_recall_at_k(exact, full, k=10) \
        .agg(F.sum("hits").alias("h")).collect()[0].h
    assert out[-1].n_hit == want
