"""Property-based tests (hypothesis): the packing roundtrip, diff/rate
arithmetic, and the two jaccard code paths are validated against
Python-computed ground truth on generated inputs.

max_examples is kept small — every example runs real Spark jobs.
"""

from __future__ import annotations

import datetime as dt
import decimal
from itertools import combinations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from powa_archivist_spark.functions.diff_rate import with_diff, with_rate
from powa_archivist_spark.functions.packing import pack, unpack
from powa_archivist_spark.pipeline import dedup
from powa_archivist_spark.queries import EVENTS_SPEC
from powa_archivist_spark.specs import Counter, DatasourceSpec, Key

BASE = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

series_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),        # user_id (entity)
        st.integers(min_value=0, max_value=10_000),   # ts offset seconds
        st.integers(min_value=0, max_value=10**9),    # event_id
        st.integers(min_value=-10**6, max_value=10**6),  # value_cents
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda r: (r[0], r[1]),  # one sample per (entity, ts)
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _series_df(spark, rows):
    return spark.createDataFrame(
        [
            (0, uid, BASE + dt.timedelta(seconds=off), eid, vc)
            for uid, off, eid, vc in rows
        ],
        "srvid int, user_id long, ts timestamp, event_id long, value_cents long",
    )


@given(rows=series_strategy)
@SLOW
def test_pack_unpack_roundtrip(spark, rows):
    df = _series_df(spark, rows)
    packed = pack(df, EVENTS_SPEC)
    back = unpack(packed, EVENTS_SPEC)
    got = {
        (r.user_id, r.ts, r.event_id, r.value_cents) for r in back.collect()
    }
    want = {
        (uid, (BASE + dt.timedelta(seconds=off)).replace(tzinfo=None), eid, vc)
        for uid, off, eid, vc in rows
    }
    # session TZ is UTC; collected naive timestamps are UTC wall-clock
    assert got == want
    # sketches: per-entity min/max of every counter + inclusive bounds
    for p in packed.collect():
        ent = [r for r in rows if r[0] == p.user_id]
        assert p.mins_in_range.value_cents == min(r[3] for r in ent)
        assert p.maxs_in_range.value_cents == max(r[3] for r in ent)
        assert p.mins_in_range.event_id == min(r[2] for r in ent)
        offs = [r[1] for r in ent]
        assert p.range_start.replace(tzinfo=None) == (
            BASE + dt.timedelta(seconds=min(offs))
        ).replace(tzinfo=None)
        assert len(p.records) == len(ent)
        # ts-ordered records (Postgres relies on insertion order; we sort)
        rts = [r.ts for r in p.records]
        assert rts == sorted(rts)


@given(rows=series_strategy)
@SLOW
def test_rate_matches_manual(spark, rows):
    df = _series_df(spark, rows)
    out = with_rate(df, EVENTS_SPEC).filter(F.col("sec").isNotNull()).collect()
    got = {
        (r.user_id, r.ts): (r.sec, r.value_cents_per_sec) for r in out
    }
    per_entity: dict[int, list] = {}
    for uid, off, eid, vc in rows:
        per_entity.setdefault(uid, []).append((off, eid, vc))
    want = {}
    for uid, samples in per_entity.items():
        samples.sort()
        for (o1, _e1, v1), (o2, _e2, v2) in zip(samples, samples[1:]):
            sec = o2 - o1
            clamped = max(sec, 1)
            ts2 = (BASE + dt.timedelta(seconds=o2)).replace(tzinfo=None)
            want[(uid, ts2)] = (sec, (v2 - v1) / clamped)
    assert set(got) == set(want)
    for k, (sec, rate) in want.items():
        assert got[k][0] == sec
        assert got[k][1] == pytest.approx(rate, abs=1e-12)


# one counter of each rate shape: numeric stays decimal, the rest double
MIXED_SPEC = DatasourceSpec(
    name="mixed",
    keys=(Key("k", "bigint"),),
    counters=(Counter("n", "numeric"), Counter("d", "double"),
              Counter("c", "bigint")),
)

_count = st.one_of(st.none(), st.integers(min_value=0, max_value=10**6))

mixed_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=2),       # k (entity)
        st.integers(min_value=0, max_value=20_000),  # ts offset, ms
        _count,                                      # n: numeric
        st.one_of(st.none(), st.floats(min_value=0, max_value=1e6)),  # d
        _count,                                      # c: bigint
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda r: (r[0], r[1]),
)

# resets on n and d, a null on each counter, and two samples 400 ms apart
# (same epoch second: sec is 0 and the rate divides by the clamped 1)
MIXED_EXAMPLE = [
    (1, 0, 100, 1.5, 10), (1, 400, 50, 0.5, None), (1, 5_000, 80, None, 30),
    (1, 65_000, 200, 4.0, 35), (2, 1_000, None, 2.0, 7), (2, 3_000, 5, 1.0, 9),
]


def _mixed_want(rows, clamp_resets):
    """Hand-computed ``-`` and ``/`` of consecutive samples per entity,
    keyed by (k, ts): (intvl, deltas...) and (sec, rates...)."""
    diff, rate = {}, {}
    for k in {r[0] for r in rows}:
        ent = sorted((r for r in rows if r[0] == k), key=lambda r: r[1])
        for a, b in zip(ent, ent[1:]):
            raw = b[1] // 1000 - a[1] // 1000  # unix_timestamp: whole secs
            sec = max(raw, 1)
            deltas = []
            for x, y in zip(a[2:], b[2:]):
                d = None if x is None or y is None else y - x
                deltas.append(None if clamp_resets and d is not None and d < 0
                              else d)
            dn, dd, dc = deltas
            ts = (BASE + dt.timedelta(milliseconds=b[1])).replace(tzinfo=None)
            diff[(k, ts)] = (float(raw), dn, dd, dc)
            rate[(k, ts)] = (
                raw,
                None if dn is None else (decimal.Decimal(dn) / sec).quantize(
                    decimal.Decimal("0.000001"), decimal.ROUND_HALF_UP),
                None if dd is None else dd / sec,
                None if dc is None else dc / sec,
            )
    return diff, rate


def _approx(vals):
    return tuple(v if v is None else pytest.approx(v, rel=1e-12) for v in vals)


@given(rows=mixed_strategy)
@example(rows=MIXED_EXAMPLE)
@SLOW
def test_diff_and_rate_match_manual(spark, rows):
    df = spark.createDataFrame(
        [(0, k, BASE + dt.timedelta(milliseconds=ms),
          None if n is None else decimal.Decimal(n), d, c)
         for k, ms, n, d, c in rows],
        "srvid int, k long, ts timestamp, n decimal(38,0), d double, c long",
    )
    for clamp in (False, True):
        want_diff, want_rate = _mixed_want(rows, clamp)
        diffed = with_diff(df, MIXED_SPEC, clamp).filter("intvl IS NOT NULL")
        rated = with_rate(df, MIXED_SPEC, clamp).filter("sec IS NOT NULL")
        assert [f.dataType.simpleString() for f in diffed.schema.fields] == [
            "int", "bigint", "timestamp", "double", "decimal(38,0)",
            "double", "bigint"]
        assert [f.dataType.simpleString() for f in rated.schema.fields] == [
            "int", "bigint", "timestamp", "bigint", "decimal(38,6)",
            "double", "double"]
        got_diff = {(r.k, r.ts): (r.intvl, r.n, r.d, r.c)
                    for r in diffed.collect()}
        got_rate = {(r.k, r.ts): (r.sec, r.n_per_sec, r.d_per_sec,
                                  r.c_per_sec) for r in rated.collect()}
        assert got_diff == {k: _approx(v) for k, v in want_diff.items()}
        assert got_rate == {k: _approx(v) for k, v in want_rate.items()}


doc_strategy = st.lists(
    st.lists(
        st.sampled_from([f"w{i}" for i in range(12)]),  # 12-token vocab
        min_size=1,
        max_size=10,
    ),
    min_size=2,
    max_size=10,
)


@given(token_lists=doc_strategy,
       threshold=st.sampled_from([0.3, 0.5, 0.8]))
@SLOW
def test_jaccard_bitmask_matches_ground_truth(spark, token_lists, threshold):
    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(token_lists)],
        "doc_id long, text string",
    )
    got = {
        (r.a_id, r.b_id): (r.inter_size, r.union_size)
        for r in dedup.jaccard_pairs(docs, threshold=threshold).collect()
    }
    sets = {i: set(toks) for i, toks in enumerate(token_lists)}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter / union >= threshold:
            want[(a, b)] = (inter, union)
    assert got == want


# ---------------------------------------------------------------------------
# corpus operators (pipeline/corpus.py)
# ---------------------------------------------------------------------------

doc_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**6),     # doc_id
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon".split()),
            min_size=1, max_size=12,
        ),                                             # tokens
        st.sampled_from(["en", "de"]),                 # shard/lang
    ),
    min_size=1, max_size=25,
    unique_by=lambda r: r[0],
)


@SLOW
@given(docs=doc_strategy, seq_len=st.integers(min_value=5, max_value=60))
def test_pack_sequences_conserves_tokens(spark, docs, seq_len):
    """Packing invariants on generated corpora: token totals conserved
    per shard; bin ids start at 0 and never exceed total//seq_len (a bin
    fully covered by a straddling doc has no manifest row — no doc
    STARTS in it); every emitted bin holds >= 1 doc."""
    from powa_archivist_spark.pipeline.corpus import pack_sequences

    df = spark.createDataFrame(
        [(i, " ".join(toks), lang) for i, toks, lang in docs],
        "doc_id long, text string, lang string",
    )
    out = pack_sequences(df, seq_len=seq_len).collect()
    totals = {}
    for i, toks, lang in docs:
        totals[lang] = totals.get(lang, 0) + len(toks)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == set(totals)
    for shard, rows in by_shard.items():
        assert sum(r.n_tokens for r in rows) == totals[shard]
        bins = sorted(r.bin_id for r in rows)
        assert bins[0] == 0 and len(set(bins)) == len(bins)
        assert bins[-1] <= totals[shard] // seq_len
        assert all(r.n_docs >= 1 for r in rows)


@SLOW
@given(
    docs=doc_strategy,
    rate_pm=st.integers(min_value=0, max_value=1_000_000),
)
def test_stratified_sample_is_consistent_subset(spark, docs, rate_pm):
    """Sampling invariants: output is a subset keyed only by doc_id (a
    doc's fate never depends on the rest of the corpus), monotone in the
    rate, and exactly reproducible."""
    from powa_archivist_spark.pipeline.corpus import stratified_sample

    df = spark.createDataFrame(
        [(i, " ".join(toks), lang) for i, toks, lang in docs],
        "doc_id long, text string, lang string",
    )
    rate = rate_pm / 1_000_000
    kept = {r.doc_id for r in stratified_sample(
        df, {"en": rate, "de": rate}).collect()}
    assert kept <= {i for i, _, _ in docs}
    half = {r.doc_id for r in stratified_sample(
        df, {"en": rate / 2, "de": rate / 2}).collect()}
    assert half <= kept  # monotone in rate
    again = {r.doc_id for r in stratified_sample(
        df, {"en": rate, "de": rate}).collect()}
    assert kept == again


@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=40,
    )
)
@SLOW
def test_grouped_quantiles_match_numpy_nearest_rank(spark, vals):
    """grouped_quantiles == the ceil(p*n/100)-th order statistic."""
    from powa_archivist_spark.operators.quantiles import grouped_quantiles

    rows = [(g, i, v) for i, (g, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    out = {r.g: r for r in
           grouped_quantiles(df, ["g"], "v", "id", (50, 90, 99)).collect()}
    by_g: dict = {}
    for g, _i, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        vs = sorted(vs)
        n = len(vs)
        for p in (50, 90, 99):
            expect = vs[(n * p + 99) // 100 - 1]
            assert getattr(out[g], f"p{p}") == expect, (g, p, vs)
        assert out[g].n == n and out[g].min_v == vs[0] and out[g].max_v == vs[-1]


@given(
    toks=st.lists(
        st.sampled_from(["x", "y", "z"] + [f"r{i}" for i in range(30)]),
        min_size=1,
        max_size=120,
    ),
    den=st.sampled_from([3, 5, 8]),
)
@SLOW
def test_heavy_hitters_exact_on_random_streams(spark, toks, den):
    """Output == the true > 1/den items regardless of partitioning (the
    Misra-Gries candidate stage must never drop a true heavy hitter)."""
    from collections import Counter

    from powa_archivist_spark.pipeline import sketches

    df = spark.createDataFrame([(t,) for t in toks], "tok string") \
        .repartition(5)
    got = {r.tok: r.cnt for r in
           sketches.heavy_hitters(df, "tok", 1, den).collect()}
    counts = Counter(toks)
    expect = {t: c for t, c in counts.items() if c * den > len(toks)}
    assert got == expect


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=12),
    ),
    min_size=0,
    max_size=18,
)


def _union_find_components(pairs, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    # canonical representative = min node id of the component
    comp_min = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in nodes}


@given(raw=edges_strategy)
@SLOW
def test_connected_components_matches_union_find(spark, raw):
    """The hook/contract + min-label loop must agree with a Python
    union-find on arbitrary graphs — including self-loops, duplicate and
    reversed pairs, and nodes absent from any pair."""
    pairs = [(a, b) for a, b in raw if a != b]
    nodes = list(range(1, 13))
    pdf = spark.createDataFrame(
        pairs or [(None, None)], "a_id long, b_id long"
    ).filter(F.col("a_id").isNotNull())
    ndf = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    out = dedup.connected_components(pdf, ndf)
    got = {r.doc_id: r.component for r in out.collect()}
    assert got == _union_find_components(pairs, nodes)


intervals_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=2),       # key
        st.integers(min_value=0, max_value=5_000),   # start offset s
        st.integers(min_value=0, max_value=1_200),   # span s
    ),
    min_size=0,
    max_size=12,
)


@given(l=intervals_strategy, r=intervals_strategy)
@SLOW
def test_interval_join_matches_bruteforce(spark, l, r):
    """Bin fan-out + exact refine + distinct == the naive all-pairs
    closed-interval overlap, for any bin/interval alignment."""
    from powa_archivist_spark.operators.interval import interval_join

    def mk(rows):
        return spark.createDataFrame(
            [
                (k, i, BASE + dt.timedelta(seconds=s),
                 BASE + dt.timedelta(seconds=s + span))
                for i, (k, s, span) in enumerate(rows)
            ],
            "k long, iid long, start timestamp, stop timestamp",
        )

    ldf, rdf = mk(l), mk(r)
    out = interval_join(
        ldf, rdf.withColumnRenamed("iid", "rid"), ["k"],
        "start", "stop", "start", "stop", bin_width_s=300,
    )
    got = {(row.iid, row.rid) for row in out.collect()}
    want = {
        (i, j)
        for i, (lk, ls, lspan) in enumerate(l)
        for j, (rk, rs, rspan) in enumerate(r)
        if lk == rk and ls <= rs + rspan and rs <= ls + lspan
    }
    assert got == want


# ---------------------------------------------------------------------------
# migration conform (operators/migrate.py)
# ---------------------------------------------------------------------------

@given(series=series_strategy,
       drop_old=st.booleans(), add_new=st.booleans())
@SLOW
def test_migration_roundtrip_preserves_shared_counters(spark, series,
                                                       drop_old, add_new):
    """pack at v1 -> conform to v2 (optionally dropping event_id and/or
    adding a counter) -> unpack at v2 must equal the original series on
    every SHARED counter, with added counters NULL everywhere."""
    from pyspark.sql import types as T

    from powa_archivist_spark.operators.migrate import conform
    from powa_archivist_spark.specs import Counter, DatasourceSpec

    spec_v1 = EVENTS_SPEC
    counters = [c for c in spec_v1.counters
                if not (drop_old and c.name == "event_id")]
    if add_new:
        counters = counters + [Counter("brand_new", "bigint")]
    spec_v2 = DatasourceSpec(
        name=spec_v1.name, keys=spec_v1.keys, counters=tuple(counters),
        kind=spec_v1.kind,
    )

    df = _series_df(spark, series)
    packed_v1 = pack(df, spec_v1)
    target = T.StructType(
        spec_v2.history_schema.fields
    )
    migrated = conform(packed_v1, target)
    flat = unpack(migrated, spec_v2)

    shared = [c.name for c in spec_v1.counters
              if c.name in {x.name for x in spec_v2.counters}]
    # compare shared counters row-by-row against the source series
    src = {(r.user_id, r.ts): r for r in df.collect()}
    out = flat.collect()
    assert len(out) == len(src)
    for r in out:
        key = (r.user_id, r.ts)
        assert key in src
        for c in shared:
            assert getattr(r, c) == getattr(src[key], c)
        if add_new:
            assert r.brand_new is None


# ---------------------------------------------------------------------------
# stateful sessionizer state transition (streaming/sessionize.py)
# ---------------------------------------------------------------------------

def _true_sessions(all_ts, gap):
    out, cur = [], None
    for t in sorted(all_ts):
        if cur is None or t - cur[1] > gap:
            if cur:
                out.append(cur)
            cur = [t, t, 1]
        else:
            cur[1] = t
            cur[2] += 1
    if cur:
        out.append(cur)
    return out


@given(st.lists(st.lists(st.integers(min_value=0, max_value=200),
                         min_size=0, max_size=12),
                min_size=1, max_size=5))
@settings(max_examples=300, deadline=None)
def test_advance_session_matches_batch_twin_within_watermark(batches):
    """Fold advance_session over arbitrary batches: whenever no event
    arrives 'too late' (within gap-reach of an already-EMITTED session
    — the case the upstream watermark excludes), the final session set
    must EQUAL the true-order batch sessionization.  Pure-Python
    property over the extracted transition (r5: the bridge rule had a
    bug that survived example-based tests)."""
    from hypothesis import assume

    from powa_archivist_spark.streaming.sessionize import advance_session

    gap = 5
    cur, closed = None, []
    for batch in batches:
        for t in batch:
            # watermark assumption: t must not fall within gap-reach of
            # an already-emitted session's span
            assume(not any(c[0] - gap <= t <= c[1] + gap for c in closed))
        c, cur = advance_session(cur, sorted(batch), gap)
        closed += c
    final = sorted(closed + ([cur] if cur else []))
    want = sorted(_true_sessions([t for b in batches for t in b], gap))
    assert final == want


# ---------------------------------------------------------------------------
# migration conform recursion (operators/migrate.py)
# ---------------------------------------------------------------------------

_field_names = st.sampled_from(["a", "b", "c", "d", "e"])


@st.composite
def _nested_type(draw, depth=2):
    from pyspark.sql import types as T

    if depth == 0:
        return draw(st.sampled_from(
            [T.LongType(), T.IntegerType(), T.DoubleType(), T.StringType()]
        ))
    kind = draw(st.integers(min_value=0, max_value=3))
    if kind == 0:
        return draw(st.sampled_from(
            [T.LongType(), T.DoubleType(), T.StringType()]
        ))
    if kind == 1:
        return T.ArrayType(draw(_nested_type(depth=depth - 1)))
    if kind == 3:
        return T.MapType(
            draw(st.sampled_from([T.LongType(), T.StringType()])),
            draw(_nested_type(depth=depth - 1)),
        )
    names = draw(st.lists(_field_names, min_size=1, max_size=3, unique=True))
    return T.StructType([
        T.StructField(n, draw(_nested_type(depth=depth - 1)), True)
        for n in names
    ])


@given(src_t=_nested_type(), dst_t=_nested_type())
@SLOW
def test_conform_total_on_random_nested_schemas(spark, src_t, dst_t):
    """conform must be TOTAL: any (src, dst) nested-type pair must plan
    and execute (NULL-pad / drop / cast at every level), and a NULL
    input stays NULL.  This is the recursion the whole migration story
    rests on — fuzz it rather than trusting the three example shapes."""
    from pyspark.sql import types as T

    from powa_archivist_spark.operators.migrate import conform

    schema = T.StructType([
        T.StructField("id", T.IntegerType(), False),
        T.StructField("x", src_t, True),
    ])
    target = T.StructType([
        T.StructField("id", T.IntegerType(), False),
        T.StructField("x", dst_t, True),
    ])
    df = spark.createDataFrame([(1, None)], schema)
    out = conform(df, target)
    assert [f.dataType for f in out.schema.fields][1] == dst_t
    (row,) = out.collect()
    assert row.id == 1 and row.x is None


docs_text_strategy = st.lists(
    st.lists(
        st.sampled_from([f"w{i}" for i in range(12)]),
        min_size=1, max_size=12,
    ),
    min_size=2, max_size=12,
)


@given(docs=docs_text_strategy)
@SLOW
def test_bloom_decontaminate_never_false_negative(spark, docs):
    """r6 property: for ANY corpus/eval pair, the bloom pass flags a
    SUPERSET of the exact n-gram-overlap pass (a Bloom filter has no
    false negatives by construction — this pins the implementation to
    that contract, probe hashing and word packing included)."""
    from powa_archivist_spark.pipeline import corpus

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = df.filter("doc_id % 2 = 0")
    corp = df.filter("doc_id % 2 = 1")
    bloom = corpus.bloom_build(ev, n=2, m_bits=1 << 10, k=2)
    flagged = {
        r.doc_id
        for r in corpus.bloom_decontaminate(
            corp, bloom, n=2, m_bits=1 << 10, k=2
        ).filter("is_flagged").collect()
    }
    exact = {
        r.doc_id
        for r in corpus.ngram_decontaminate(corp, ev, n=2)
        .filter("is_contaminated").collect()
    }
    assert exact <= flagged


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**6),
                 min_size=1, max_size=25, unique=True),
    rate_thousandths=st.integers(min_value=0, max_value=3500),
)
@SLOW
def test_mixture_sample_copy_bounds(spark, ids, rate_thousandths):
    """r6 property: every doc of a source with rate r gets either
    floor(r) or ceil(r) copies (never other counts), rate 0 drops all,
    and integer rates are exact."""
    import math

    from powa_archivist_spark.pipeline import corpus

    r = rate_thousandths / 1000.0
    df = spark.createDataFrame(
        [(i, "s") for i in ids], "doc_id long, source string"
    )
    out = corpus.mixture_sample(df, rates={"s": r})
    per_doc = {
        row.doc_id: row["count"]
        for row in out.groupBy("doc_id").count().collect()
    }
    lo, hi = math.floor(r), math.ceil(r)
    if r == 0:
        assert per_doc == {}
        return
    for i in ids:
        got = per_doc.get(i, 0)
        assert got in {lo, hi}, (i, got, r)
    if float(lo) == r:  # integer rate: exact
        assert all(per_doc.get(i, 0) == lo for i in ids)


@given(
    keys=st.lists(st.integers(min_value=0, max_value=5000),
                  min_size=1, max_size=200),
    split=st.integers(min_value=2, max_value=5),
)
@SLOW
def test_hll_merge_associativity_on_random_splits(spark, keys, split):
    """For ANY split of the data into batches, MAX-merging the batch
    register frames equals the one-pass sketch — the contract that
    makes at-rest HLL tables (streaming/profile.py) correct under
    every arrival order."""
    from pyspark.sql import functions as F
    from powa_archivist_spark.pipeline import sketches

    df = spark.createDataFrame([("g", k) for k in keys], "g string, k long")
    whole = sketches.hll_estimate(
        sketches.hll_registers(df, "k", ["g"]), ["g"]
    ).collect()[0].est_distinct
    parts = [
        sketches.hll_registers(
            df.filter(F.col("k") % split == i), "k", ["g"]
        )
        for i in range(split)
    ]
    merged = sketches.hll_estimate(
        sketches.hll_merge(*parts, group_cols=["g"]), ["g"]
    ).collect()[0].est_distinct
    assert merged == whole


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]),
                 min_size=1, max_size=20),
        min_size=2, max_size=8,
    ),
)
@SLOW
def test_duplicate_spans_invariants(spark, docs):
    """For ANY corpus: covered_tokens <= n_tokens, n_spans <=
    min(n_dup_grams, covered/1), spans only exist where dup grams do,
    and a doc duplicated verbatim is fully covered (dup_fraction 1)."""
    from powa_archivist_spark.pipeline import dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    # append a verbatim copy of doc 0 (if long enough to carry a gram)
    rows.append((len(rows), rows[0][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.duplicate_spans(
        df, k=3, min_docs=2).collect()}
    for r in out.values():
        assert 0 <= r.covered_tokens <= r.n_tokens
        assert r.n_spans <= r.n_dup_grams or r.n_dup_grams == 0
        assert (r.n_spans == 0) == (r.covered_tokens == 0)
        assert (r.n_dup_grams == 0) == (r.covered_tokens == 0)
    if len(docs[0]) >= 3:
        assert out[0].dup_fraction == 1.0
        assert out[len(rows) - 1].dup_fraction == 1.0


corpus_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        min_size=0, max_size=12,
    ),
    min_size=1, max_size=12,
)


@given(docs=corpus_strategy)
@SLOW
def test_kmv_set_overlap_exact_branch_matches_set_math(spark, docs):
    """With k far above the key counts, every pair's union/inter/
    Jaccard equals exact Python set arithmetic on the per-group key
    sets (group = parity of the doc index, keys = the doc's tokens)."""
    from powa_archivist_spark.pipeline import sketches

    rows = [(f"g{i % 2}", tok) for i, d in enumerate(docs) for tok in d]
    if not rows:
        return
    df = spark.createDataFrame(rows, "src string, key string")
    got = {(r.group_a, r.group_b): r for r in
           sketches.kmv_set_overlap(df, "key", "src", k=64).collect()}
    sets: dict[str, set] = {}
    for i, d in enumerate(docs):
        sets.setdefault(f"g{i % 2}", set()).update(d)
    sets = {g: s for g, s in sets.items() if s}  # empty sets sketch away
    for ga, gb in combinations(sorted(sets), 2):
        u, inter = sets[ga] | sets[gb], sets[ga] & sets[gb]
        r = got[(ga, gb)]
        assert r.est_union == float(len(u))
        assert r.est_inter == float(len(inter))
        assert abs(r.est_jaccard - len(inter) / len(u)) < 1e-12


@given(docs=st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d"]),
             min_size=0, max_size=10),
    min_size=1, max_size=10,
))
@SLOW
def test_interpolated_lm_probabilities_stay_proper(spark, docs):
    """The absolute-discount conditional must stay a probability on
    every generated corpus: num <= den (bits >= 0) for every scored
    bigram, and every document with >= 2 tokens gets a row."""
    from powa_archivist_spark.pipeline import textstats

    frame = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    out = textstats.ngram_perplexity_interpolated(
        frame, train_docs=frame.filter("doc_id % 2 = 0")
    ).collect()
    expect = {i for i, d in enumerate(docs) if len(d) >= 2}
    assert {r.doc_id for r in out} == expect
    for r in out:
        assert r.sum_bits >= 0          # every num <= den
        assert r.n_bigrams >= 1


@given(
    keys=st.lists(st.integers(min_value=0, max_value=40),
                  min_size=1, max_size=200),
    split=st.integers(min_value=2, max_value=4),
)
@SLOW
def test_cms_sum_merge_equals_one_shot_and_never_undercounts(
        spark, keys, split):
    """For ANY split of the data into batches, SUM-merging the batch
    register frames equals the one-pass sketch register by register —
    the contract the at-rest CMS ledger (streaming/cms.py) relies on —
    and every watchlist estimate >= the true count (one-sided CMS
    guarantee), with equality for keys the truth says are absent only
    when no collision survives all d rows."""
    from collections import Counter

    from pyspark.sql import functions as F
    from powa_archivist_spark.pipeline import sketches

    df = spark.createDataFrame([("g", k) for k in keys], "g string, k long")
    probes = spark.createDataFrame([(i,) for i in range(0, 41, 5)],
                                   "k long")
    groups = df.select("g").distinct()
    whole = sketches.cms_registers(df, "k", ["g"], d=3, w=8)
    one = {r.k: r.est_cnt for r in sketches.cms_estimate(
        whole, groups, probes, "k", ["g"], d=3, w=8).collect()}
    parts = [
        sketches.cms_registers(
            df.filter(F.col("k") % split == i), "k", ["g"], d=3, w=8)
        for i in range(split)
    ]
    merged_regs = parts[0]
    for p in parts[1:]:
        merged_regs = merged_regs.unionAll(p)
    merged_regs = merged_regs.groupBy("g", "seed", "bucket").agg(
        F.sum("cnt").alias("cnt"))
    merged = {r.k: r.est_cnt for r in sketches.cms_estimate(
        merged_regs, groups, probes, "k", ["g"], d=3, w=8).collect()}
    assert merged == one
    truth = Counter(keys)
    for k, est in one.items():
        assert est >= truth.get(k, 0)


_OFFSETS = st.sampled_from([dt.timezone.utc,
                            dt.timezone(dt.timedelta(hours=5, minutes=30)),
                            dt.timezone(-dt.timedelta(hours=8))])
_WHEN = dict(min_value=dt.datetime(1971, 1, 2), max_value=dt.datetime(2100, 1, 1))
_LONGS = st.integers(min_value=-2**63, max_value=2**63 - 1)
_TEXT = st.text(st.characters(blacklist_categories=("Cs",)), max_size=6)
_LOCAL_SCHEMA = (
    "k bigint NOT NULL, i int, b bigint, d double, n decimal(38,0), s string, "
    "tz timestamp, naive timestamp, tags array<string>, ids array<bigint>, "
    "rec struct<x: bigint, at: timestamp, tags: array<string>>"
)
local_rows = st.lists(st.tuples(
    _LONGS,
    st.none() | st.integers(min_value=-2**31, max_value=2**31 - 1),
    st.none() | _LONGS,
    st.none() | st.floats(allow_nan=False),
    st.none() | st.integers(min_value=1 - 10**38, max_value=10**38 - 1)
    .map(decimal.Decimal),
    st.none() | _TEXT,
    st.none() | st.datetimes(timezones=_OFFSETS, **_WHEN),
    st.none() | st.datetimes(**_WHEN),
    st.none() | st.lists(st.none() | _TEXT, max_size=3),
    st.none() | st.lists(st.none() | _LONGS, max_size=3),
    st.none() | st.tuples(st.none() | _LONGS,
                          st.none() | st.datetimes(**_WHEN),
                          st.none() | st.lists(_TEXT, max_size=2)),
), max_size=6)


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
@given(rows=local_rows)
@example(rows=[])
@SLOW
def test_local_frame_matches_row_list_create(spark, tz, rows):
    """session.local_frame (Arrow -> JVM LocalRelation) builds the same
    frame as a row-list createDataFrame: equal schemas, nullability
    included, and equal collected rows, naive timestamps read in the
    process time zone either way."""
    import os
    import time

    from powa_archivist_spark.session import local_frame

    old = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        want = spark.createDataFrame(rows, _LOCAL_SCHEMA)
        got = local_frame(spark, rows, _LOCAL_SCHEMA)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    finally:
        if old is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = old
        time.tzset()
