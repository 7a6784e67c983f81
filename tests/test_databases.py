"""Databases dimension lifecycle (powa_databases_snapshot/purge) and
small-file compaction maintenance.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from powa_archivist_spark.operators import databases as dbs
from powa_archivist_spark.operators import dictionary, maintenance
from powa_archivist_spark.storage import Warehouse

from .conftest import ts


def _feed(spark, rows):
    return spark.createDataFrame(rows, "oid long, datname string")


def test_databases_new_rename_drop_cycle(spark, wh):
    dbs.databases_snapshot(wh, 1, _feed(spark, [(10, "app"), (11, "staging")]),
                           now=ts(0))
    got = {r.oid: (r.datname, r.dropped) for r in dbs.read_databases(wh, 1).collect()}
    assert got == {10: ("app", None), 11: ("staging", None)}

    # rename 11, drop 10, add 12 — one reconciliation pass
    dbs.databases_snapshot(
        wh, 1, _feed(spark, [(11, "staging_v2"), (12, "new_db")]), now=ts(5)
    )
    all_rows = {
        r.oid: (r.datname, r.dropped)
        for r in dbs.read_databases(wh, 1, include_dropped=True).collect()
    }
    assert all_rows[11][0] == "staging_v2"
    assert all_rows[12] == ("new_db", None)
    assert all_rows[10][0] == "app" and all_rows[10][1] is not None
    # P3: dropped dbs excluded from the default feed
    assert {r.oid for r in dbs.read_databases(wh, 1).collect()} == {11, 12}
    # dropped stamp is written once, not refreshed on later passes
    dbs.databases_snapshot(wh, 1, _feed(spark, [(11, "staging_v2"), (12, "new_db")]),
                           now=ts(10))
    again = {
        r.oid: r.dropped
        for r in dbs.read_databases(wh, 1, include_dropped=True).collect()
    }
    assert again[10] == all_rows[10][1]


def test_databases_purge_cascades_to_dictionary(spark, wh):
    dbs.databases_snapshot(wh, 1, _feed(spark, [(10, "app"), (11, "keep")]),
                           now=ts(0))
    # statements dictionary rows for both dbs
    cap = spark.createDataFrame(
        [(100, 10, 5, "SELECT a", ts(0)), (200, 11, 5, "SELECT b", ts(0))],
        "queryid long, dbid long, userid long, query string, ts timestamp",
    )
    dictionary.merge_statements(wh, 1, cap, now=ts(0))
    assert dictionary.read_statements(wh, 1).count() == 2

    # db 10 disappears; grace = 1.2 x retention not yet elapsed -> kept
    dbs.databases_snapshot(wh, 1, _feed(spark, [(11, "keep")]), now=ts(5))
    retention = dt.timedelta(hours=1)
    assert dbs.purge_databases(wh, 1, retention, now=ts(30)) == 0

    late = ts(5) + dt.timedelta(hours=2)  # > 1.2 * 1h after the drop
    assert dbs.purge_databases(wh, 1, retention, now=late) == 1
    left = {r.oid for r in dbs.read_databases(wh, 1, include_dropped=True).collect()}
    assert left == {11}
    # cascade: db 10's dictionary entries removed, db 11's kept
    remaining = dictionary.read_statements(wh, 1).collect()
    assert [(r.queryid, r.dbid) for r in remaining] == [(200, 11)]


def test_empty_dimension_rewrite_drops_the_partition(spark, wh):
    """A dimension rewrite whose result is empty retires the server's
    partition, as a drop would: no empty parquet file lands, and other
    servers' rows stay."""
    import os

    cap = spark.createDataFrame(
        [(100, 10, 5, "SELECT a", ts(0))],
        "queryid long, dbid long, userid long, query string, ts timestamp",
    )
    for srvid in (1, 2):
        dictionary.merge_statements(wh, srvid, cap, now=ts(0))
    dictionary.purge_statements(wh, 1, dt.timedelta(hours=1),
                                now=ts(0) + dt.timedelta(days=2))
    assert not os.path.exists(
        os.path.join(wh.path(dictionary.TABLE), "srvid=1"))
    assert dictionary.read_statements(wh, 1).count() == 0
    assert dictionary.read_statements(wh, 2).count() == 1


def test_dimension_rewrite_lands_one_file_per_partition(spark, wh):
    """A dimension rewrite replaces the server's partition with ONE
    parquet file, however many shuffle partitions its merge spreads the
    keys over."""
    import os

    cap = spark.createDataFrame(
        [(100 + q, 10 + q % 3, 5, f"SELECT {q}", ts(0)) for q in range(40)],
        "queryid long, dbid long, userid long, query string, ts timestamp",
    )
    dictionary.merge_statements(wh, 1, cap, now=ts(0))
    dictionary.merge_statements(wh, 1, cap.limit(20), now=ts(5))
    part = os.path.join(wh.path(dictionary.TABLE), "srvid=1")
    files = [f for f in os.listdir(part)
             if f.endswith(".parquet") and not f.startswith(".")]
    assert len(files) == 1, files
    assert dictionary.read_statements(wh, 1).count() == 40


def test_db_rollup_tables_are_read_with_the_rollup_types(spark):
    """Coalesce and purge read the ``_db`` tables with a declared schema
    instead of inferring it, so that schema must be the one the snapshot
    rollup writes (``sum()`` widens counter types)."""
    from powa_archivist_spark.operators.aggregate import _db_subspec
    from powa_archivist_spark.operators.snapshot import db_rollup_agg
    from powa_archivist_spark.specs import ALL_SPECS

    for spec in ALL_SPECS.values():
        if not spec.db_rollup:
            continue
        written = db_rollup_agg(
            spark.createDataFrame([], spec.current_schema), spec).schema
        declared = _db_subspec(spec).current_schema
        assert ([(f.name, f.dataType) for f in written.fields]
                == [(f.name, f.dataType) for f in declared.fields]), spec.name


def test_compaction_reduces_files(spark, wh):
    for i in range(8):
        df = spark.createDataFrame(
            [(1, ts(i), i)], "srvid int, ts timestamp, v long"
        )
        wh.append(df, "metrics", partition_by=["srvid"])
    before, after = maintenance.compact(wh, "metrics", 1)
    assert before == 8 and after == 1
    out = wh.read("metrics").filter(F.col("srvid") == 1)
    assert out.count() == 8  # data intact
    # idempotent: second pass is a no-op
    assert maintenance.compact(wh, "metrics", 1) == (1, 1)

def test_compaction_crash_leaves_leaf_readable(spark, wh, monkeypatch):
    """Crash-injection at every step of the compaction swap: whichever
    rename/delete the crash lands on, the leaf dir must stay readable
    with all 8 rows (the data lives in exactly one of live/scratch/trash
    at all times), and a compact() retry must converge."""
    import os

    from powa_archivist_spark.operators import maintenance

    def seed():
        wh.drop_table("metrics")
        for i in range(8):
            df = spark.createDataFrame(
                [(1, ts(i), i)], "srvid int, ts timestamp, v long"
            )
            wh.append(df, "metrics", partition_by=["srvid"])

    class Boom(RuntimeError):
        pass

    # crash after the scratch write but before any rename (old os.replace
    # call #1), and between the two renames (call #2)
    for crash_at in (1, 2):
        seed()
        calls = {"n": 0}
        real_replace = os.replace

        def replacing(src, dst):
            calls["n"] += 1
            if calls["n"] == crash_at:
                raise Boom()
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", replacing)
        try:
            maintenance.compact(wh, "metrics", 1)
        except Boom:
            pass
        monkeypatch.setattr(os, "replace", real_replace)

        leaf = os.path.join(wh.path("metrics"), "srvid=1")
        if crash_at == 1:
            # nothing renamed yet: live leaf untouched and readable
            assert spark.read.parquet(leaf).count() == 8
        else:
            # old leaf in trash, new not yet live: recoverable rows are
            # in the dot-prefixed trash; retry below republishes
            assert any(d.startswith(".__trash__") for d in
                       os.listdir(wh.path("metrics")))
        # retry converges to a single compacted, fully-readable leaf
        maintenance.compact(wh, "metrics", 1)
        assert os.path.isdir(leaf)
        assert wh.read("metrics").count() == 8

def test_compaction_crash_with_concurrent_append_merges_not_loses(spark, wh,
                                                                  monkeypatch):
    """r6 code review: crash between the two swap renames, then a writer
    recreates the live leaf (snapshot replay) BEFORE recovery runs.
    Recovery must MERGE the compacted old rows back in — the one-by-one
    marker handling used to delete the only surviving copy."""
    import os

    from powa_archivist_spark.operators import maintenance

    for i in range(8):
        df = spark.createDataFrame(
            [(1, ts(i), i)], "srvid int, ts timestamp, v long"
        )
        wh.append(df, "metrics", partition_by=["srvid"])

    class Boom(RuntimeError):
        pass

    calls = {"n": 0}
    real_replace = os.replace

    def crash_second(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # between live->trash and tmp->live
            raise Boom()
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_second)
    try:
        maintenance.compact(wh, "metrics", 1)
    except Boom:
        pass
    monkeypatch.setattr(os, "replace", real_replace)

    # a concurrent writer recreates the live leaf with NEW rows
    wh.append(
        spark.createDataFrame([(1, ts(59), 100)],
                              "srvid int, ts timestamp, v long"),
        "metrics", partition_by=["srvid"],
    )
    # pass-boundary recovery (what the orchestrator now calls)
    maintenance.recover(wh)
    vals = sorted(r.v for r in wh.read("metrics").collect())
    assert vals == list(range(8)) + [100], vals

def test_compact_table_works_on_unpartitioned_ledger(spark, wh):
    """r6: compact_table compacts tables regardless of partition key —
    here the streaming dedup ledger shape (unpartitioned, one small
    file per micro-batch)."""
    from powa_archivist_spark.operators import maintenance

    for i in range(6):
        wh.append(
            spark.createDataFrame([(f"h{i}",)], "text_hash string"),
            "corpus_digest_ledger",
        )
    before, after = maintenance.compact_table(wh, "corpus_digest_ledger")
    assert before >= 6 and after == 1
    assert wh.read("corpus_digest_ledger").count() == 6

def test_compact_table_self_heals_root_swap_crash(spark, wh, monkeypatch):
    """r6 review 2: a crash in compact_table's TABLE-ROOT swap leaves
    its markers in the WAREHOUSE root — a retry must find them there
    and restore the table (the old recovery walked only the — then
    missing — table path and returned (0,0) forever)."""
    import os

    from powa_archivist_spark.operators import maintenance

    for i in range(6):
        wh.append(spark.createDataFrame([(f"h{i}",)], "text_hash string"),
                  "ledger")

    class Boom(RuntimeError):
        pass

    calls = {"n": 0}
    real = os.replace

    def crash_second(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # between root->trash and tmp->root
            raise Boom()
        return real(src, dst)

    monkeypatch.setattr(os, "replace", crash_second)
    try:
        maintenance.compact_table(wh, "ledger")
    except Boom:
        pass
    monkeypatch.setattr(os, "replace", real)
    assert not wh.exists("ledger")  # crashed mid-swap, table dir gone

    # retry self-heals from the root-level markers and compacts
    before, after = maintenance.compact_table(wh, "ledger")
    assert wh.read("ledger").count() == 6
    assert after <= before
