"""Plan-shape guardrails: these pin the physical properties the engine
depends on at scale — filter pushdown to parquet, column pruning,
broadcast dimension joins, range-predicate pushdown on packed history.
A regression here is a performance bug even while results stay correct.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from powa_archivist_spark.functions.packing import pack, unpack
from powa_archivist_spark.plans import inspect as pi
from powa_archivist_spark.queries import (
    EVENTS_SPEC,
    _events_as_series,
    events_range_read,
    q05_nation_volume,
    user_nation_resolution,
)
from powa_archivist_spark.storage import Warehouse

SF = "/root/testdata/sf0.001"


def test_range_read_pushdown_and_pruning(spark):
    df = events_range_read(spark, SF)
    pushed = " ".join(pi.pushed_filters(df))
    assert "ts" in pushed and "event_type" in pushed
    # projection reaches the scan: only the 5 selected columns are read
    (schema,) = pi.read_schemas(df)
    assert set(schema) == {"event_id", "ts", "user_id", "event_type", "value"}


def test_star_join_broadcasts_all_dims(spark):
    df = q05_nation_volume(spark, SF)
    assert pi.broadcast_join_count(df) == 4  # orders/customer/supplier/nation
    assert not pi.has_cartesian(df)
    # one fact-side shuffle for the final groupBy, nothing else
    assert pi.exchange_count(df) <= 2


def test_dim_resolution_broadcasts(spark):
    df = user_nation_resolution(spark, SF)
    assert pi.broadcast_join_count(df) >= 1
    assert pi.sort_merge_join_count(df) == 0


def test_packed_history_range_pushdown(spark, wh):
    """The two-phase unpack-read pushes the range-overlap predicate into
    the parquet scan of the PACKED table — the Spark analog of the
    reference's GiST range index (powa--5.2.0.sql:2123)."""
    packed = pack(_events_as_series(spark, SF), EVENTS_SPEC)
    wh.overwrite(packed, "events_history", partition_by=["srvid"])
    hist = wh.read("events_history")
    lo = F.lit("2024-01-10 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-20 00:00:00").cast("timestamp")
    out = unpack(hist, EVENTS_SPEC, lo, hi)
    pushed = " ".join(pi.pushed_filters(out))
    assert "range_start" in pushed and "range_end" in pushed


def test_ivf_assignment_is_aggregation_not_window(spark):
    """IVF cell assignment must collapse the corpus x centroids scoring
    with a map-side-combinable max_by aggregation — a row_number window
    here shuffles and sorts K x the corpus (the round-1 anti-pattern)."""
    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    _, assign = similarity.ivf_assign(emb)
    assert pi.window_count(assign) == 0
    assert not pi.has_cartesian(assign)


def test_doc_fingerprint_single_shuffle(spark):
    """explode -> min/max agg: one hash-aggregate shuffle, no nested
    array_min/array_max double materialization."""
    from powa_archivist_spark.pipeline import textstats

    docs = spark.read.parquet(SF + "/documents.parquet")
    df = textstats.doc_fingerprint(docs)
    assert pi.exchange_count(df) == 1


def test_minhash_verify_reuses_cached_shingles(spark):
    """The verify stage must read the shingle frame from cache, not
    recompute the shingling scan per join side."""
    from powa_archivist_spark.pipeline import dedup

    docs = spark.read.parquet(SF + "/documents.parquet")
    df = dedup.minhash_dedup_pairs(docs)
    plan = pi.plan_string(df)
    assert "InMemoryTableScan" in plan


def test_rollup_single_shuffle(spark):
    """Per-db rollup = exactly one hash shuffle (partial aggregation
    map-side); a second exchange would double network at scale."""
    ev = _events_as_series(spark, SF)
    rollup = ev.groupBy("srvid", "user_id").agg(
        F.sum("value_cents").alias("v"), F.count(F.lit(1)).alias("n")
    )
    assert pi.exchange_count(rollup) == 1
    # map-side combine before the shuffle (partial aggregation)
    assert "partial_sum" in pi.plan_string(rollup)


def test_pack_sequences_single_exchange(spark):
    """Window (shard partitioning) + per-bin groupBy share ONE shuffle:
    HashPartitioning(shard) satisfies the (shard, bin_id) clustering, so
    the aggregation runs partition-local after the window."""
    from powa_archivist_spark.pipeline.corpus import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = pack_sequences(docs, seq_len=1024)
    assert pi.exchange_count(df) == 1
    (schema,) = pi.read_schemas(df)
    assert set(schema) == {"doc_id", "text", "lang"}  # pruned scan


def test_pack_sequences_binned_single_exchange_pruned_scan(spark):
    """r11: the FFD packer is ONE shard-keyed shuffle into the Arrow
    greedy (FlatMapGroupsInPandas) over a pruned 3-column scan — the
    same single-exchange posture as the concat-chunk packer."""
    from powa_archivist_spark.pipeline.corpus import pack_sequences_binned

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = pack_sequences_binned(docs, seq_len=256)
    assert pi.exchange_count(df) == 1
    assert "FlatMapGroupsInPandas" in pi.plan_string(df)
    (schema,) = pi.read_schemas(df)
    assert set(schema) == {"doc_id", "text", "lang"}  # pruned scan


def test_corpus_prep_lang_filter_pushed(spark):
    """The funnel's cheapest gate (lang) reaches the parquet scan."""
    from powa_archivist_spark.pipeline.corpus import corpus_prep

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = corpus_prep(docs)
    pushed = " ".join(pi.pushed_filters(df))
    assert "lang" in pushed
    assert not pi.has_cartesian(df)


def test_stratified_sample_no_shuffle(spark):
    """Hash-based sampling is a pure filter: zero exchanges, zero
    windows — re-runnable on appended data without touching the rest."""
    from powa_archivist_spark.pipeline.corpus import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = stratified_sample(docs, {"en": 0.5})
    assert pi.exchange_count(df) == 0
    assert pi.window_count(df) == 0


def test_stat_get_sample_single_window_shuffle(spark, wh):
    """row_number + count + lag all share the per-entity partitioning:
    exactly one exchange in the sampled-rates read."""
    from powa_archivist_spark.queries import events_sampled_rates

    df = events_sampled_rates(spark, SF)
    assert pi.exchange_count(df) == 1


def _spec_warehouse(spark, wh, spec):
    """5 entities (1 for a keyless spec) x 12 snapshots on srvid 1: the
    first 8 packed into history, the last 4 in current, so every read
    takes both paths."""
    import decimal

    from pyspark.sql import types as T

    keys = set(spec.key_names)
    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    def val(f, e, i):
        if f.name == "srvid":
            return 1
        if f.name == "ts":
            return base + dt.timedelta(minutes=5 * i)
        n = e if f.name in keys else 7 * i + e
        t = f.dataType
        if isinstance(t, T.BooleanType):
            return n % 2 == 0
        if isinstance(t, T.DecimalType):
            return decimal.Decimal(n)
        if isinstance(t, T.StringType):
            return f"v{n}"
        if isinstance(t, T.TimestampType):
            return base + dt.timedelta(seconds=n)
        return float(n) if isinstance(t, T.DoubleType) else n

    df = spark.createDataFrame(
        [tuple(val(f, e, i) for f in spec.current_schema.fields)
         for e in range(5 if keys else 1) for i in range(12)],
        spec.current_schema,
    )
    cut = base + dt.timedelta(minutes=40)
    wh.append(df.filter(F.col("ts") >= cut), Warehouse.current(spec.name),
              partition_by=["srvid"])
    wh.append(pack(df.filter(F.col("ts") < cut), spec),
              Warehouse.history(spec.name), partition_by=["srvid"])
    return spec, base, base + dt.timedelta(days=1)


def _statements_warehouse(spark, wh):
    from powa_archivist_spark.specs import get_spec

    return _spec_warehouse(spark, wh, get_spec("statements"))


def _read_frames(wh, spec, lo, hi, metric="calls"):
    from powa_archivist_spark.operators import read as R

    return {
        "stat_get_sample": lambda: R.stat_get_sample(wh, spec, 1, lo, hi),
        "stat_get_rates": lambda: R.stat_get_rates(wh, spec, 1, lo, hi),
        "top_consumers": lambda: R.top_consumers(wh, spec, 1, lo, hi, metric),
    }


def test_read_operators_keep_their_exchange_counts(spark, wh):
    """operators.read.stat_get_sample: row_number, count and the one
    struct lag share the (srvid, keys) partitioning, so the read plans
    exactly one exchange; top_consumers keeps its three (entity window,
    salted top-K, per-srvid rank)."""
    frames = _read_frames(wh, *_statements_warehouse(spark, wh))
    assert pi.exchange_count(frames["stat_get_sample"]()) == 1
    assert pi.exchange_count(frames["top_consumers"]()) == 3


def test_read_frames_build_in_few_jvm_calls(spark, wh, monkeypatch):
    """Building a read frame over the 34-counter statements spec crosses
    into the JVM a few hundred times at most: one struct lag and
    spec-wide SQL text, not ~10 calls per counter Column (the per-Column
    builders took 2628 calls for stat_get_sample)."""
    from py4j import java_gateway

    frames = _read_frames(wh, *_statements_warehouse(spark, wh))
    for build in frames.values():
        build()  # first builds may resolve JVM classes once
    calls = [0]
    real_call = java_gateway.JavaMember.__call__

    def counting(self, *args):
        calls[0] += 1
        return real_call(self, *args)

    monkeypatch.setattr(java_gateway.JavaMember, "__call__", counting)
    used = {}
    for name, build in frames.items():
        calls[0] = 0
        build()
        used[name] = calls[0]
    assert all(n <= 300 for n in used.values()), used


def test_every_read_operator_runs_on_every_spec(spark, wh):
    """Every read operator builds and collects for every datasource over
    a small warehouse, keyless ones included: their one entity per srvid
    needs no salted top-K phase."""
    from powa_archivist_spark.operators import read as R
    from powa_archivist_spark.specs import ALL_SPECS

    for spec in ALL_SPECS.values():
        spec, lo, hi = _spec_warehouse(spark, wh, spec)
        n = 5 if spec.key_names else 1
        frames = _read_frames(wh, spec, lo, hi, spec.agg_counters[0].name)
        frames["stat_get_history"] = \
            lambda: R.stat_get_history(wh, spec, 1, lo, hi)
        got = {name: len(build().collect()) for name, build in frames.items()}
        assert got == {"stat_get_history": 12 * n, "stat_get_rates": 11 * n,
                       "stat_get_sample": 11 * n, "top_consumers": n}, \
            (spec.name, got)


def test_top_consumers_refuses_a_non_aggregatable_metric(wh):
    """Only an aggregatable counter has a consumption to rank: a text,
    timestamp or lsn field, or no counter at all, is a KeyError before
    anything plans."""
    from powa_archivist_spark.operators import read as R
    from powa_archivist_spark.specs import ALL_SPECS

    lo = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    for spec, metric in [(ALL_SPECS["pg_stat_archiver"], "last_archived_time"),
                         (ALL_SPECS["pg_stat_activity"], "application_name"),
                         (ALL_SPECS["statements"], "no_such_counter")]:
        with pytest.raises(KeyError):
            R.top_consumers(wh, spec, 1, lo, lo, metric)


def _runs_python(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_engine_frames_run_no_python_worker(spark, wh):
    """Absent tables and driver-built rows plan as JVM local relations:
    no frame on the engine's read and capture paths puts a Python worker
    (a PythonRDD) in its lineage."""
    from powa_archivist_spark.acl import grants_df
    from powa_archivist_spark.operators import read as R
    from powa_archivist_spark.orchestrator import Orchestrator
    from powa_archivist_spark.sources.readers import read_staging
    from powa_archivist_spark.sources.versions import MODULE_SOURCES
    from powa_archivist_spark.specs import ALL_SPECS, MODULE_SPECS

    spec, io = ALL_SPECS["statements"], MODULE_SPECS["pg_stat_io"]
    lo = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    hi = lo + dt.timedelta(days=1)
    orch = Orchestrator(wh)
    orch._write_metas({"srvid": 1, "coalesce_seq": 3, "snapts": lo,
                       "aggts": None, "purgets": hi, "errors": ["x"]})
    frames = {
        "read": wh.read("absent_table", spec.current_schema),
        "read_staging": read_staging(wh, spec, 1),
        "read_metas_df": orch.read_metas_df(),
        "grants_df": grants_df(spark),
        **{n: b() for n, b in _read_frames(wh, spec, lo, hi).items()},
        "stat_get_history": R.stat_get_history(wh, spec, 1, lo, hi),
    }
    wh.append(spark.createDataFrame(
        [(1, lo, "client backend", "relation", "normal")],
        "srvid int, ts timestamp, backend_type string, object string, "
        "context string"), Warehouse.src_tmp(io.name), partition_by=["srvid"])
    frames["read_staging_too_old"] = read_staging(
        wh, io, 1, server_version=150004, source=MODULE_SOURCES[io.name])
    assert not [n for n, df in frames.items() if _runs_python(df)]
    assert frames["read_metas_df"].collect()[0].errors == ["x"]


def test_absent_current_table_prunes_its_union_branch(spark, wh):
    """stat_get_history over history with no current table plans no
    Union: the absent side is an empty local relation, dropped at plan
    time (the reference's empty current slice costs nothing either)."""
    import shutil

    from powa_archivist_spark.operators import read as R

    spec, lo, hi = _statements_warehouse(spark, wh)
    shutil.rmtree(wh.path(Warehouse.current(spec.name)))
    df = R.stat_get_history(wh, spec, 1, lo, hi)
    assert "Union" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert df.count() == 8 * 5


def test_driver_rows_become_frames_only_through_local_frame():
    """Every frame the engine builds from driver-side rows goes through
    session.local_frame: a row-list createDataFrame or an RDD
    parallelize would put a Python worker on the path."""
    import inspect
    from pathlib import Path

    from powa_archivist_spark import session

    root = Path(session.__file__).parent
    hits = []
    for p in sorted(root.rglob("*.py")):
        text = p.read_text()
        if p == Path(session.__file__):
            text = text.replace(inspect.getsource(session.local_frame), "")
        hits += [f"{p.relative_to(root)}:{i}"
                 for i, line in enumerate(text.splitlines(), 1)
                 if "createDataFrame(" in line or ".parallelize(" in line]
    assert not hits, hits


def test_constvalues_pack_shares_one_ranking_shuffle(spark, wh):
    """The six constvalues rankings all partition on the same qual key:
    the window stage adds exactly ONE exchange over the pre-agg (plus
    the pre-agg's own), and nothing goes cartesian."""
    from powa_archivist_spark.operators import qualstats as qs

    rows = [(1, 70, 100, 10, 5, dt.datetime(2026, 1, 1, 12, 0),
             1, 10, 4, 1.5, 2.0, ["42"]),
            (1, 70, 100, 10, 5, dt.datetime(2026, 1, 1, 12, 5),
             2, 20, 6, 1.5, 2.0, ["43"])]
    schema = (
        "srvid int, qualid long, queryid long, dbid long, userid long, "
        "ts timestamp, occurences long, execution_count long, "
        "nbfiltered long, mean_err_estimate_ratio double, "
        "mean_err_estimate_num double, constvalues array<string>"
    )
    wh.append(spark.createDataFrame(rows, schema), qs.CONSTVALUES_TABLE,
              partition_by=["srvid"])
    qs.qualstats_aggregate(wh, 1)
    hist = qs.constvalues_history(wh, 1)
    assert not pi.has_cartesian(hist)
    # six ranked arrays present on one row
    row = hist.collect()[0]
    assert [r.constvalues for r in row.most_used] == [["43"], ["42"]]


def test_connected_components_clique_contracts_to_zero_iters(spark):
    """The hook/contract pre-pass alone solves clique graphs — the
    min-label loop must not even be needed (max_iters=0 stays exact).
    Near-dup graphs are clique-heavy, so at scale this is the difference
    between two bounded passes and O(log d) full-edge joins."""
    from powa_archivist_spark.pipeline.dedup import connected_components

    # two cliques {1,2,3} and {10,11}, plus singleton 20
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11)], "a_id long, b_id long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20]],
                                  "doc_id long")
    out = connected_components(pairs, nodes, max_iters=0)
    got = {(r.doc_id, r.component) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)}


def test_connected_components_path_graph_converges(spark):
    """A path needs the loop (contraction halves it, pointer jumping
    finishes in O(log n)); labels must reach the global min."""
    from powa_archivist_spark.pipeline.dedup import connected_components

    n = 9
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "a_id long, b_id long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)],
                                  "doc_id long")
    out = connected_components(pairs, nodes)
    assert {(r.doc_id, r.component) for r in out.collect()} == {
        (i, 1) for i in range(1, n + 1)
    }


def test_jaccard_default_path_launches_no_driver_jobs(spark, monkeypatch):
    """VERDICT r4 item 5: the DEFAULT jaccard_pairs path must be fully
    declarative — building the pair DataFrame may not run any driver
    collect/count job (the old ``auto`` vocabulary probe).  At 100 TB a
    probe job is a wasted full-ish scan before the real work starts."""
    from pyspark.sql import DataFrame

    from powa_archivist_spark.pipeline import dedup

    docs = spark.read.parquet(SF + "/documents.parquet")

    def boom(self, *a, **k):  # noqa: ANN001
        raise AssertionError("default jaccard path ran a driver job")

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "count", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    pairs = dedup.jaccard_pairs(docs, threshold=0.8)
    keep = dedup.near_dup_keep(docs, threshold=0.8)
    monkeypatch.undo()
    # plans build fine and stay shuffle-sane
    assert not pi.has_cartesian(pairs)
    assert not pi.has_cartesian(keep)


def test_repetition_stats_is_map_only(spark):
    """Round-5 rewrite: rolling-hash n-grams + sorted-run top-token —
    the operator must be a pure per-row pipeline: ZERO exchanges, zero
    windows (previously one explode + double aggregation + join)."""
    from powa_archivist_spark.pipeline import textstats

    docs = spark.read.parquet(SF + "/documents.parquet")
    df = textstats.repetition_stats(docs)
    assert pi.exchange_count(df) == 0
    assert pi.window_count(df) == 0
    assert not pi.has_cartesian(df)


def test_migration_conform_is_map_only(spark):
    """Schema migration (operators/migrate.py) must rewrite each table
    as a pure projection — zero exchanges: at 100 TB the upgrade is a
    partition-parallel map over the history files, never a shuffle."""
    from pyspark.sql import types as T

    from powa_archivist_spark.operators.migrate import conform
    from powa_archivist_spark.specs import USER_FUNCTIONS

    spec = USER_FUNCTIONS
    src = spark.createDataFrame([], spec.history_schema)
    target = T.StructType(
        spec.history_schema.fields
        + [T.StructField("added_col", T.LongType(), True)]
    )
    out = conform(src, target)
    assert pi.exchange_count(out) == 0
    assert pi.window_count(out) == 0


def test_exact_ledger_anti_join_strategy_is_parameterized(spark, wh):
    """broadcast_ledger=False must produce a SHUFFLE-side anti-join: the
    digest ledger grows with the kept corpus, so at 100 TB it cannot
    broadcast (r5 verdict task 2).  The default (True) stays a broadcast
    anti-join for small/medium corpora."""
    from powa_archivist_spark.streaming.dedup import (
        LEDGER_TABLE,
        dedup_batch_survivors,
        with_digest,
    )

    docs = spark.createDataFrame(
        [(0, "seen text one"), (1, "fresh text two")], "doc_id long, text string"
    )
    wh.append(with_digest(docs.limit(1)).select("text_hash"), LEDGER_TABLE)

    off = dedup_batch_survivors(wh, docs, broadcast_ledger=False)
    plan_off = pi.plan_string(off)
    anti_off = [ln for ln in plan_off.splitlines() if "LeftAnti" in ln]
    assert anti_off, plan_off
    assert all("Broadcast" not in ln for ln in anti_off), anti_off
    assert any(
        "ShuffledHashJoin" in ln or "SortMergeJoin" in ln for ln in anti_off
    ), anti_off

    on = dedup_batch_survivors(wh, docs, broadcast_ledger=True)
    anti_on = [ln for ln in pi.plan_string(on).splitlines() if "LeftAnti" in ln]
    assert any("BroadcastHashJoin" in ln for ln in anti_on), anti_on


def test_binary_near_dup_is_banded_equi_join(spark):
    """Blob-level near-dup routes byte shingles through the SAME banded
    LSH machinery as text: candidate generation must be a (band, bucket)
    equi-join — no cartesian pair enumeration, no window."""
    from powa_archivist_spark.pipeline.queries import multimodal_binary_near_dup

    df = multimodal_binary_near_dup(spark, SF)
    assert not pi.has_cartesian(df)
    assert pi.window_count(df) == 0


def test_semantic_dedup_pair_stage_no_cartesian(spark):
    """SemDeDup composition: the embedding near-dup pair stage is the
    grid-blocked (ci, cj) cell join — a cartesian (or window) sneaking
    into the composition is the 100 TB failure mode."""
    from powa_archivist_spark.pipeline import similarity
    from powa_archivist_spark.pipeline.queries import MIN_DOT_Q

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    pairs = similarity.embedding_near_dup_pairs_blocked(
        emb, min_dot_q=MIN_DOT_Q, id_col="vec_id"
    )
    assert not pi.has_cartesian(pairs)
    assert pi.window_count(pairs) == 0


def test_dataset_split_zero_shuffles(spark):
    """The train/val/test assignment is a salted-hash CASE expression —
    map-only by construction: zero exchanges, zero windows, and the
    parquet scan reads only the columns the caller selected."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.read.parquet(SF + "/documents.parquet").select("doc_id", "lang")
    out = corpus.dataset_split(docs)
    assert pi.exchange_count(out) == 0
    assert pi.window_count(out) == 0
    (schema,) = pi.read_schemas(out)
    assert set(schema) == {"doc_id", "lang"}


def test_quality_gate_is_map_only(spark):
    """The composed keep/drop verdict must stay a single map-only
    select: repetition fractions thread the text through instead of
    joining two projections of the same scan.  r13: one scan-floor
    exchange is allowed — pipeline/spread.py hash-repartitions a
    below-parallelism scan (this test's one-row-group file) before the
    heavy per-row work; at scale the probe is a no-op and the plan is
    exchange-free again.  No joins, no windows either way."""
    from powa_archivist_spark.pipeline import textstats

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "text"
    )
    out = textstats.quality_gate(docs)
    assert pi.exchange_count(out) <= 1      # the spread scan floor only
    assert pi.broadcast_join_count(out) == 0
    assert pi.sort_merge_join_count(out) == 0
    assert pi.window_count(out) == 0
    assert not pi.has_cartesian(out)


def test_bloom_probe_broadcasts_filter_table(spark):
    """The bloom word table is fixed-size (m_bits/32 rows max), so the
    probe join must broadcast it — the corpus side never shuffles on
    data size; only the per-doc aggregation keys on id."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "text"
    )
    ev = docs.filter("doc_id % 20 = 0")
    bloom = corpus.bloom_build(ev, n=3, m_bits=1 << 14, k=3)
    out = corpus.bloom_decontaminate(
        docs.filter("doc_id % 20 <> 0"), bloom, n=3, m_bits=1 << 14, k=3
    )
    assert pi.broadcast_join_count(out) >= 1
    assert not pi.has_cartesian(out)


def test_mixture_sample_broadcast_rates_no_shuffle(spark):
    """Mixture sampling joins a tiny rates dimension: broadcast join +
    explode only — the corpus side must not shuffle."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "source"
    )
    out = corpus.mixture_sample(docs, rates={"src0": 2.5, "src1": 0.0})
    assert pi.broadcast_join_count(out) == 1
    assert pi.exchange_count(out) == 0
    assert pi.window_count(out) == 0


def test_token_budget_single_partitioned_window(spark):
    """Budget selection: exactly one Window (partitioned by lang), no
    global sort of the corpus."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    out = corpus.token_budget_select(docs, budget_tokens=2000)
    assert pi.window_count(out) == 1
    plan = pi.plan_string(out)
    assert "partitionBy=[lang" in plan.replace(" ", "") or "lang" in plan
    assert pi.exchange_count(out) == 1  # the window's hash partitioning


def test_no_unbounded_global_window_anywhere(spark):
    """VERDICT r6 task 2: scan every declared query's physical plan for a
    global (un-partitioned) Window whose input is not limit-bounded — the
    shape that moves every input row onto one task.  The old
    events_top_consumers was the single offender; this pins the fix and
    fences the whole surface against regressions."""
    import __spark_entry__ as e

    offenders = {}
    for name, fn in e.queries().items():
        try:
            df = fn(spark, SF)
        except Exception as exc:  # plan-time failure is its own bug
            offenders[name] = f"build error: {exc}"
            continue
        bad = pi.unbounded_global_windows(df)
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_ivf_probe_prunes_base_partitions_with_delta(spark, wh):
    """r7 LSM layout: IVF.probe over base+delta still PRUNES the base
    scan to the probed cells' partition dirs (PartitionFilters carries
    cell_id) and pushes the cell filter into the delta's flat scan
    (row-group pruning via the per-run sort)."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    similarity.IVF.build(wh, emb.filter("vec_id % 3 != 2"))
    similarity.IVF.upsert(
        wh,
        emb.filter("vec_id % 3 = 2").select(
            (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
            "embedding",
        ),
    )
    out = similarity.IVF.probe(wh, emb.filter("vec_id in (0, 3)"), k=5)
    part = " ".join(pi.partition_filters(out))
    assert "cell_id" in part, "base scan lost cell partition pruning"
    pushed = " ".join(pi.pushed_filters(out))
    assert "cell_id" in pushed, "delta scan lost the cell filter"
    assert not pi.has_cartesian(out)


def test_fuzzy_decontam_broadcasts_eval_side(spark):
    """Cross-corpus fuzzy decontamination: the eval corpus is tiny next
    to the train corpus, so BOTH its band table and its shingle arrays
    must arrive broadcast — the candidate probe and the verify join are
    map-side against the corpus stream (>= 2 broadcast joins), and no
    cartesian product anywhere."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "text"
    )
    ev = docs.filter("doc_id % 20 = 0")
    out = corpus.fuzzy_decontaminate(
        docs.filter("doc_id % 20 <> 0"), ev, threshold=0.5, hash_fn="md5"
    )
    assert pi.broadcast_join_count(out) >= 2
    assert not pi.has_cartesian(out)


def test_classifier_score_broadcasts_model(spark):
    """Model-based quality filter: the weight table (n_buckets rows)
    must arrive broadcast onto the exploded token stream — never a
    sort-merge join — and the corpus-side exchanges are the per-doc sum
    (one hashpartitioning; partial agg makes it ~one row per doc) plus,
    on a below-parallelism scan like this test's one-row-group file,
    the pipeline/spread.py scan floor (a no-op at scale)."""
    from powa_archivist_spark.pipeline import textstats

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "text"
    )
    w = textstats.classifier_weights(spark, n_buckets=512)
    out = textstats.classifier_score(docs, w, n_buckets=512)
    assert pi.broadcast_join_count(out) == 1
    assert pi.sort_merge_join_count(out) == 0
    assert pi.exchange_count(out) <= 2
    assert pi.window_count(out) == 0


def test_ngram_perplexity_broadcasts_model_zero_windows(spark):
    """r8 (VERDICT r7 task 8): the bigram-LM scorer joins BOTH model
    dims (pruned bigram table, unigram context table) plus the 1-row
    vocab count via broadcast onto the exploded bigram stream — never
    a sort-merge join, ZERO windows.  Exchanges exist only on the
    model-build side (wordcount groupBys, vocabulary-bounded) and the
    per-doc sum (partial agg collapses each doc's occurrences before
    the move)."""
    from powa_archivist_spark.pipeline import textstats

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "text"
    )
    out = textstats.ngram_perplexity(
        docs, train_docs=docs.filter("doc_id % 5 != 0")
    )
    assert pi.broadcast_join_count(out) == 2   # bi + uni model dims
    assert pi.sort_merge_join_count(out) == 0
    assert pi.window_count(out) == 0
    plan = pi.plan_string(out)
    # the 1-row vocab count arrives as a broadcast cross, never a
    # cartesian product of row iterators
    assert "BroadcastNestedLoopJoin Cross" in plan
    assert "CartesianProduct" not in plan


def test_segment_dedup_broadcasts_boilerplate_zero_windows(spark):
    """r8: segment dedup joins the bounded boilerplate set broadcast
    onto the posexploded segment stream — no sort-merge join, no
    window; the reassembly groupBy is the only corpus-side exchange
    after the segment-DF count."""
    from powa_archivist_spark.pipeline import corpus

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "text"
    )
    out = corpus.segment_dedup(docs, df_threshold=2, segment_tokens=4)
    assert pi.broadcast_join_count(out) == 1
    assert pi.sort_merge_join_count(out) == 0
    assert pi.window_count(out) == 0


def test_embedding_decontaminate_broadcasts_eval_no_window(spark):
    """r8: semantic decontam broadcasts the eval side; the corpus side
    is map-scored and collapses via max_by partial aggregation — ONE
    exchange, zero windows, no sort-merge join."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    out = similarity.embedding_decontaminate(
        emb.filter(F.col("vec_id") % 20 != 0),
        emb.filter(F.col("vec_id") % 20 == 0),
        min_dot_q=350_000_000_000,
    )
    plan = pi.plan_string(out)
    assert "BroadcastNestedLoopJoin" in plan or \
        pi.broadcast_join_count(out) >= 1
    assert "CartesianProduct" not in plan
    assert pi.sort_merge_join_count(out) == 0
    assert pi.window_count(out) == 0
    assert pi.exchange_count(out) == 1


def test_dsir_select_broadcasts_model_zero_windows(spark):
    """r8: DSIR selection must be classifier_score's audited shape —
    the 512-row weight model arrives broadcast onto the exploded
    hashed-feature stream (no sort-merge join), the per-doc sum is the
    only corpus-side exchange, ZERO windows.  The model BUILD holds
    two wordcount groupBys + two 1-row totals, all bucket-bounded."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import textstats

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "text"
    )
    model = textstats.dsir_model(
        docs, docs.filter(F.col("doc_id") % 5 == 0))
    out = textstats.dsir_select(docs, model)
    assert pi.broadcast_join_count(out) >= 1   # the model dim
    assert pi.sort_merge_join_count(out) == 0
    assert pi.window_count(out) == 0
    assert "CartesianProduct" not in pi.plan_string(out)


def test_duplicate_spans_no_global_window_keyed_joins(spark):
    """r8: duplicated-span detection — the only Window is partitioned
    by doc_id (never global), no cartesian product anywhere; duplicate
    discovery + join-back shuffle on the gram hash / doc key only."""
    from powa_archivist_spark.pipeline import dedup

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "text"
    )
    out = dedup.duplicate_spans(docs, k=5, min_docs=2)
    assert pi.unbounded_global_windows(out) == []
    plan = pi.plan_string(out)
    assert "CartesianProduct" not in plan
    assert pi.window_count(out) == 1


def test_hard_negatives_broadcast_queries_partitioned_window(spark):
    """r8: hard-negative mining broadcasts the query slice onto the
    corpus stream; the only Window is partitioned by query_id (never
    global)."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    out = similarity.hard_negatives(
        emb, k=5, query_pred=F.col("vec_id") % 25 == 0)
    plan = pi.plan_string(out)
    # label-inequality join: broadcast nested-loop (query side tiny),
    # never a CartesianProduct of row iterators
    assert "BroadcastNestedLoopJoin" in plan or \
        pi.broadcast_join_count(out) >= 1
    assert "CartesianProduct" not in plan
    assert pi.sort_merge_join_count(out) == 0
    assert pi.unbounded_global_windows(out) == []


def test_pq_search_broadcasts_codebook_and_lut(spark):
    """r8: the PQ chain joins the codebook and the per-query lookup
    table via broadcast onto the corpus-side streams — zero sort-merge
    joins, zero cartesian products; ranking windows partition per
    (vector, subspace) / query, never globally."""
    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    cb = similarity.pq_train(emb, m=8, centroid_mod=97)
    enc = similarity.pq_encode(emb, cb, m=8)
    out = similarity.pq_search(emb, cb, enc, query_ids=[0, 1], k=5, m=8)
    assert pi.broadcast_join_count(out) >= 2
    assert pi.sort_merge_join_count(out) == 0
    assert pi.unbounded_global_windows(out) == []
    assert "CartesianProduct" not in pi.plan_string(out)


def test_ivfpq_search_broadcasts_probe_lut(spark):
    """r8: IVF-PQ search — coarse dim, codebook and probe LUT all
    arrive broadcast; no sort-merge join, no cartesian product, every
    window partitioned (coarse probe per query, argmin per (id, sub),
    rank per query)."""
    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    cents, cb, idx = similarity.ivfpq_build(emb, m=8)
    out = similarity.ivfpq_search(emb, cents, cb, idx,
                                  query_ids=[0, 1], k=5, m=8)
    assert pi.broadcast_join_count(out) >= 2
    assert pi.sort_merge_join_count(out) == 0
    assert pi.unbounded_global_windows(out) == []
    assert "CartesianProduct" not in pi.plan_string(out)


def test_source_profile_dup_set_never_broadcast(spark):
    """r9 (VERDICT r8 task 2): the exact-duplicate digest set in
    corpus_source_profile is corpus-PROPORTIONAL at web dup rates, so
    its join back onto the corpus must be a KEYED shuffle join on the
    digest (sharing the exchange of the groupBy that produced it) —
    never a forced broadcast.  The r8 form pinned F.broadcast() around
    it, which detonates past the driver/executor broadcast limits at
    100 TB."""
    from powa_archivist_spark.pipeline.queries import corpus_source_profile

    df = corpus_source_profile(spark, SF)
    plan = pi.plan_string(df, "simple")
    th_joins = [
        ln for ln in plan.splitlines()
        if "Join [th" in ln or ("Join" in ln and "[th#" in ln)
    ]
    assert th_joins, "expected a join keyed on the dup digest th"
    assert all("ShuffledHashJoin" in ln or "SortMergeJoin" in ln
               for ln in th_joins), th_joins


def test_kll_quantiles_plan_bounded_windows(spark):
    """r9: the level-sampling quantile profile — the corpus-side
    survivor filter is map-only against the BROADCAST per-group cut
    dim; the only windows are per-group over the <= ~k survivor rows
    (no global window); no cartesian product."""
    from powa_archivist_spark.pipeline.queries import events_kll_quantiles

    df = events_kll_quantiles(spark, SF)
    assert pi.unbounded_global_windows(df) == []
    assert pi.broadcast_join_count(df) >= 1
    assert not pi.has_cartesian(df)


def test_kmv_overlap_corpus_read_once_pair_stage_broadcast(spark):
    """source_overlap_kmv: the corpus parquet is scanned exactly once
    (one map-side sketch pass); the G^2 pair combine joins the bounded
    sketch frames via broadcast, never sort-merge; no cartesian."""
    from powa_archivist_spark.pipeline.dedup import cross_engine_hash64
    from powa_archivist_spark.pipeline.queries import source_overlap_kmv
    from powa_archivist_spark.pipeline.sketches import _kmv_local

    df = source_overlap_kmv(spark, SF)
    plan = pi.plan_string(df)
    # the corpus enters only through the ONE checkpointed sketch pass:
    # the pair-combine plan itself touches no parquet at all
    assert plan.lower().count("scan parquet") == 0
    assert "BroadcastNestedLoopJoin" in plan
    assert pi.sort_merge_join_count(df) == 0
    assert not pi.has_cartesian(df)
    # the sketch pass (rebuilt without its checkpoint barrier so the
    # plan is visible): one parquet scan, Arrow-batched local stage,
    # map-side partial aggregate before the single exchange
    hashed = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select(
            F.col("source").alias("g"),
            cross_engine_hash64(F.col("text")).alias("h"),
        )
    )
    sk = hashed.mapInPandas(_kmv_local(["g"], 256), schema=hashed.schema) \
        .groupBy("g").agg(F.collect_list("h").alias("mins"))
    skp = pi.plan_string(sk)
    assert skp.count("Location: InMemoryFileIndex") == 1  # one scan node
    assert "MapInPandas" in skp
    assert "partial_collect_list" in skp
    assert pi.exchange_count(sk) == 1


def test_sq_chain_broadcast_only_single_query_window(spark):
    """knn_sq_topk: stats and the probe-query codes travel by broadcast
    (the corpus codes table is never shuffled for the scan), the only
    window partitions by query_id, and no cartesian product appears."""
    from powa_archivist_spark.pipeline.queries import knn_sq_topk

    df = knn_sq_topk(spark, SF)
    plan = pi.plan_string(df)
    assert pi.sort_merge_join_count(df) == 0
    assert not pi.has_cartesian(df)
    assert pi.unbounded_global_windows(df) == []
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ngram_perplexity_interp_broadcasts_model_zero_windows(spark):
    """Late r9: the interpolated absolute-discount scorer joins FOUR
    model dims (pruned bigram table, unigram table twice — context and
    target — and the continuation-count table) plus the 1-row scalars
    via broadcast onto the exploded bigram stream; never sort-merge,
    zero windows, no cartesian."""
    from powa_archivist_spark.pipeline import textstats

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "text"
    )
    out = textstats.ngram_perplexity_interpolated(
        docs, train_docs=docs.filter("doc_id % 5 = 0")
    )
    assert pi.broadcast_join_count(out) == 4   # bi + uni(ctx) + n1p + uni(b)
    assert pi.sort_merge_join_count(out) == 0
    assert pi.window_count(out) == 0
    plan = pi.plan_string(out)
    assert "BroadcastNestedLoopJoin Cross" in plan
    assert "CartesianProduct" not in plan


def test_cms_counts_plan_broadcast_only_no_windows(spark):
    """events_cms_counts: the corpus contributes ONE partially-aggregated
    register groupBy (map-side combine before the only corpus-sized
    exchange); the probe grid, the sketch and the recount filter all
    travel by broadcast; no sort-merge join, no window, no cartesian."""
    from powa_archivist_spark.pipeline.queries import events_cms_counts

    df = events_cms_counts(spark, SF)
    plan = pi.plan_string(df)
    assert not pi.has_cartesian(df)
    assert pi.sort_merge_join_count(df) == 0
    assert pi.window_count(df) == 0
    assert "partial_count" in plan  # register build combines map-side
    assert "BroadcastHashJoin" in plan  # sketch + recount sides


def test_bm25_broadcast_query_dim_partitioned_window(spark):
    """docs_bm25_topk: the bounded query-term dim (a literal 20-row
    frame built from a TakeOrdered driver probe) and the per-term df
    dim travel by broadcast onto the postings (document frequency and
    scoring touch only matching postings); the postings groupBys
    combine map-side; the only window is the query-partitioned top-k;
    no cartesian."""
    from powa_archivist_spark.pipeline.queries import docs_bm25_topk

    df = docs_bm25_topk(spark, SF)
    plan = pi.plan_string(df)
    assert not pi.has_cartesian(df)
    assert pi.unbounded_global_windows(df) == []
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    # r10 (VERDICT r9 task 1): the bounded per-partition top-k buffer
    # must sit between the score groupBy and the query-partitioned
    # ranking window — without it one task sorts a corpus-sized
    # candidate set per common-term query
    assert "MapInPandas" in plan, "bounded top-k pre-prune missing"
    win_pos = plan.find("Window")
    mip_pos = plan.find("MapInPandas")
    assert 0 <= win_pos < mip_pos, (
        "ranking window must consume the pruned frame (window above "
        "MapInPandas in the plan tree)"
    )


def test_kmeans_plan_onerow_broadcast_assignment_no_shuffle(spark):
    """emb_kmeans (r13 restructure of the r10 operator): the returned
    assignment frame scores against a ONE-ROW broadcast holding the
    center array (centers ride as data so every Lloyd round reuses the
    compiled plan) and picks argmin via least over k
    struct(d2, cluster) terms — a projection over the checkpointed
    corpus:
    no window, no aggregation, no sort, and no shuffle exchange at all
    (the r10-r12 shape paid a corpus-wide per-id min_by SortAggregate
    behind a k-row broadcast: 2 sorts + a shuffle per call)."""
    from powa_archivist_spark.pipeline.queries import emb_kmeans

    df = emb_kmeans(spark, SF)
    plan = pi.plan_string(df)
    assert not pi.has_cartesian(df)
    assert pi.window_count(df) == 0
    assert pi.sort_merge_join_count(df) == 0
    assert "least(" in plan
    assert "BroadcastNestedLoopJoin Cross" in plan
    # broadcast of the 1-row center frame is the ONLY exchange: no
    # shuffle (the old shape's per-id aggregation exchange is gone)
    assert "Exchange hashpartitioning" not in plan
    assert "SortAggregate" not in plan


def test_bm25_wand_plan_pruned_reads_bounded_windows(spark):
    """docs_bm25_wand (r10, VERDICT r9 task 4; reshaped r14): the
    anytime WAND loop's returned frame ranks the TERMINAL round's
    checkpointed scores (r14 — the loop's last probe already computed
    exactly this frame, so the final ranking reads those blocks instead
    of re-running the seen+patch scoring subtree).  The pruned-read
    structure (blk-prefix filter on the checkpointed impact index +
    bounded seen-set semi join) therefore lives in the ROUND frame the
    loop executes — asserted on the stats_out instrumentation rebuild —
    while the returned frame keeps the bounded top-k pre-prune under
    the only window, no cartesian, and the checkpoint scan."""
    from powa_archivist_spark.pipeline import textstats
    from powa_archivist_spark.pipeline.queries import docs_bm25_wand, t

    df = docs_bm25_wand(spark, SF)
    plan = pi.plan_string(df)
    assert not pi.has_cartesian(df)
    assert pi.unbounded_global_windows(df) == []
    # r14: the returned frame reads the terminal round's checkpointed
    # scores — one scoring subtree per WAND call, not two
    assert "ExistingRDD" in plan, "terminal-round checkpoint reuse missing"
    assert "MapInPandas" in plan, "bounded top-k pre-prune missing"
    win_pos = plan.find("Window")
    mip_pos = plan.find("MapInPandas")
    assert 0 <= win_pos < mip_pos
    # the round frame (what each loop iteration executes, and what the
    # terminal checkpoint materialized) must show the blk-prefix filter
    # deriving the seen set (the pruned read — partition-prunable when
    # the at-rest index is laid out by blk) and the semi-join patch
    # fetch keyed on it
    st: dict = {}
    textstats.bm25_wand(t(spark, SF, "documents"), stats_out=st)
    tplan = pi.plan_string(st["terminal_scores_frame"])
    assert "blk" in tplan and "<=" in tplan, "blk prefix filter missing"
    assert "LeftSemi" in tplan, "seen-set patch fetch must be a semi join"
    assert st["postings_prefix"] <= st["postings_total"]


def test_rrf_fusion_ranks_bounded_channel_frames(spark):
    """r10: docs_rrf_hybrid — the fusion stage ranks the union of two
    already-top-k channels: every window in the plan is query-keyed
    (no unbounded global window), the BM25 channel keeps its bounded
    per-partition pre-prune, and nothing in the fused plan is a
    cartesian product."""
    from powa_archivist_spark.pipeline.queries import docs_rrf_hybrid

    df = docs_rrf_hybrid(spark, SF)
    assert pi.unbounded_global_windows(df) == []
    assert not pi.has_cartesian(df)
    plan = pi.plan_string(df)
    assert "MapInPandas" in plan, "bm25 pre-prune missing"
    # r11 (VERDICT r10 task 4) / r14: the lexical channel reads the
    # impact index through the WAND pruned serving read; since r14 the
    # fused plan ranks the channel's terminal-round checkpoint (the
    # blk-prefix + semi-join structure is pinned on the round frame in
    # test_bm25_wand_plan_pruned_reads_bounded_windows)
    assert "ExistingRDD" in plan, "WAND terminal checkpoint reuse missing"


def test_rm3_rounds_share_broadcast_dims_no_global_window(spark):
    """r10: docs_bm25_rm3 — both scoring rounds join the postings
    against BROADCAST bounded dims (query terms, per-term df, corpus
    stats, feedback docs); the expansion selection and both rankings
    run behind bounded per-partition top-k prunes; no global window, no
    cartesian."""
    from powa_archivist_spark.pipeline.queries import docs_bm25_rm3

    df = docs_bm25_rm3(spark, SF)
    plan = pi.plan_string(df)
    assert pi.unbounded_global_windows(df) == []
    assert not pi.has_cartesian(df)
    # round-2 ranking pre-prunes; the broadcast dim joins (query terms,
    # per-term df, corpus stats, feedback docs) now live BEHIND the
    # WAND index localCheckpoint (materialized once, reused per round)
    assert "MapInPandas" in plan
    # r11 (VERDICT r10 task 4) / r14: round 2 reads its impact index
    # through the WAND pruned serving read; since r14 the returned
    # ranking reads round 2's terminal-round checkpoint (pruned-read
    # structure pinned on the round frame in the wand plan test)
    assert "ExistingRDD" in plan, "WAND terminal checkpoint reuse missing"


def test_ngram_novelty_windowless_two_phase_aggs(spark):
    """r10: docs_ngram_novelty — the whole profile is joins + two-phase
    aggregations: zero windows anywhere (the first-owner table is a
    gram-keyed min, not a ranking), partial aggregation before every
    exchange, no cartesian."""
    from powa_archivist_spark.pipeline.queries import docs_ngram_novelty

    df = docs_ngram_novelty(spark, SF)
    plan = pi.plan_string(df)
    assert pi.window_count(df) == 0
    assert not pi.has_cartesian(df)
    assert "partial" in plan.lower(), "map-side partial agg missing"


def test_kmeans_semdedup_pairwise_is_cluster_keyed(spark):
    """r10: SemDeDup — the self-contained exact shape's compare stage
    must be a KEYED join on the cluster id (the paper's whole point:
    never unkeyed all-pairs); the DECLARED query (routed pair relation
    + same-cluster filter) must carry no cartesian product and no
    global window."""
    from powa_archivist_spark.pipeline import similarity
    from powa_archivist_spark.pipeline.queries import (
        MIN_DOT_Q,
        emb_kmeans_semdedup,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = similarity.kmeans_semdedup(
        emb, min_dot_q=MIN_DOT_Q, k=8, init_rounds=3, max_rounds=10
    )
    cluster_joins = [
        ln for ln in pi.plan_string(exact, "simple").splitlines()
        if "Join" in ln and "cluster#" in ln
        and "BroadcastNestedLoop" not in ln
    ]
    assert cluster_joins, "expected a join keyed on cluster"

    df = emb_kmeans_semdedup(spark, SF)
    assert not pi.has_cartesian(df)
    assert pi.unbounded_global_windows(df) == []


def test_ivfpq_probe_prunes_base_partitions_with_delta(spark, wh):
    """r12: the at-rest IVF-PQ index keeps the IVF index's layout
    contract — IVFPQ.probe over base+delta PRUNES the base scan to the
    probed cells' partition dirs (PartitionFilters carries cell_id) and
    pushes the cell filter into the delta's flat scan (row-group
    pruning via the per-run sort); the codes table never feeds a
    cartesian product."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    similarity.IVFPQ.build(wh, emb.filter("vec_id % 3 != 2"),
                           n_cells_target=8)
    similarity.IVFPQ.upsert(
        wh,
        emb.filter("vec_id % 3 = 2").select(
            (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
            "embedding",
        ),
        assume_new_ids=True,
    )
    out = similarity.IVFPQ.probe(wh, emb.filter("vec_id in (0, 3)"), k=5)
    part = " ".join(pi.partition_filters(out))
    assert "cell_id" in part, "base scan lost cell partition pruning"
    pushed = " ".join(pi.pushed_filters(out))
    assert "cell_id" in pushed, "delta scan lost the cell filter"
    assert not pi.has_cartesian(out)


def test_ivfpq_probe_tuning_prunes_reads_per_config(spark, wh):
    """r13 (VERDICT r12 task 6): the at-rest nprobe-tuning curve scores
    through IVFPQ.probe's pruned path — the codes scan carries the
    cell_id partition filter (base) and pushed filter (delta), the LUT
    broadcasts, and no stage is a cartesian product."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    similarity.IVFPQ.build(wh, emb.filter("vec_id % 3 != 2"),
                           n_cells_target=8)
    similarity.IVFPQ.upsert(
        wh,
        emb.filter("vec_id % 3 = 2").select(
            (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
            "embedding",
        ),
        assume_new_ids=True,
    )
    seam: dict = {}
    out = similarity.IVFPQ.probe_tuning(
        wh, emb, query_ids=[0, 3], k=5, nprobes=(1, 2), plan_out=seam,
    )
    scored = seam["scored"]  # the once-executed ADC scoring subtree
    part = " ".join(pi.partition_filters(scored))
    assert "cell_id" in part, "base scan lost cell partition pruning"
    pushed = " ".join(pi.pushed_filters(scored))
    assert "cell_id" in pushed, "delta scan lost the cell filter"
    assert not pi.has_cartesian(scored)
    assert not pi.unbounded_global_windows(out)
