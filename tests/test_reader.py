"""Out-of-process snapshot reader (r8, VERDICT r7 task 6).

The single-manifest commit gives in-process readers crash invisibility;
these tests prove an EXTERNAL engine gets the same guarantee through
``powa_archivist_spark.reader.SnapshotReader`` — resolution happens
purely from the committed manifests + hard links, with no in-process
locks, no healing, and no writes to the warehouse's live tree.  DuckDB
plays the external engine (a second process's Spark session would scan
the same snapshot dir the same way).
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

from powa_archivist_spark.reader import SnapshotReader
from powa_archivist_spark.txn import StagedPass


def duck_rows(snap_dir: str, cols: str):
    """Scan a snapshot dir like an external engine would."""
    pat = os.path.join(snap_dir, "**", "*.parquet")
    if not glob.glob(pat, recursive=True):
        return []
    con = duckdb.connect(config={"threads": 1})
    try:
        return sorted(
            con.execute(
                f"SELECT {cols} FROM read_parquet('{pat}',"
                " hive_partitioning=1, union_by_name=1)"
            ).fetchall()
        )
    finally:
        con.close()


def snap_read(wh, table: str, cols: str):
    r = SnapshotReader(wh.root)
    snap = r.snapshot(table)
    try:
        return duck_rows(snap, cols)
    finally:
        r.release(snap)


def test_snapshot_matches_warehouse_read(spark, wh):
    """Baseline: with no pending manifests the snapshot is exactly the
    table content, partition columns included."""
    df = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12)], "srvid int, v long"
    )
    wh.append(df, "r_base", partition_by=["srvid"])
    got = snap_read(wh, "r_base", "srvid, v")
    want = sorted((r.srvid, r.v) for r in wh.read("r_base").collect())
    assert got == want


def test_snapshot_resolves_committed_unfolded_manifest(spark, wh):
    """Manifest committed, ZERO ops folded (publisher died right after
    the rename): the external reader must already see the complete
    post-pass state — appends AND the replace — while the live tree
    still holds the pre-pass files."""
    from powa_archivist_spark import txn as txn_mod

    wh.append(spark.createDataFrame([(1, 0.0)], "srvid int, m double"),
              "r_rep", partition_by=["srvid"])

    sp = StagedPass(wh, 1)
    sp.stage_append(
        spark.createDataFrame([(1, 10), (1, 11)], "srvid int, v long"),
        "r_app",
    )
    sp.stage_replace(
        spark.createDataFrame([(1, 7.5)], "srvid int, m double"), "r_rep"
    )

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

    assert glob.glob(os.path.join(wh.root, "_txn", "*", "*.intent"))
    assert snap_read(wh, "r_app", "v") == [(10,), (11,)]
    assert snap_read(wh, "r_rep", "m") == [(7.5,)]
    # and the snapshot did NOT mutate the warehouse: manifest untouched,
    # live tree still pre-pass (stage dirs in place)
    assert glob.glob(os.path.join(wh.root, "_txn", "*", "*.intent"))
    StagedPass.recover(wh, 1, sweep=True)
    assert snap_read(wh, "r_app", "v") == [(10,), (11,)]
    assert snap_read(wh, "r_rep", "m") == [(7.5,)]


def test_snapshot_survives_source_retirement(spark, wh):
    """Hard-link pinning: a snapshot taken before a replace keeps
    serving the OLD content after the replace folds and retires the
    source files."""
    wh.append(spark.createDataFrame([(1, 1.0)], "srvid int, m double"),
              "r_pin", partition_by=["srvid"])
    r = SnapshotReader(wh.root)
    snap = r.snapshot("r_pin")
    try:
        sp = StagedPass(wh, 1)
        sp.stage_replace(
            spark.createDataFrame([(1, 2.0)], "srvid int, m double"),
            "r_pin",
        )
        sp.publish()
        # live moved on; the pinned snapshot still reads the old state
        assert duck_rows(snap, "m") == [(1.0,)]
        assert snap_read(wh, "r_pin", "m") == [(2.0,)]
    finally:
        r.release(snap)


def test_external_reader_crash_enumeration(spark, wh):
    """The reader-side twin of the publish crash enumeration: crash the
    publisher at EVERY os.replace; at each crash point an external
    DuckDB reader (manifest-resolving, no heal, no locks) must see
    EXACTLY the pre-pass or EXACTLY the post-pass state of every sink —
    append, partition replace, flat replace-then-append (the
    ivf_upsert pattern), tree replace with a drop, tree append, flat
    retire and a bucketed-ledger append — never a mixture."""
    from powa_archivist_spark.layout import drop_table
    from powa_archivist_spark.streaming.dedup import BucketedDigestLedger

    led = "c_led_bkt"

    def drop_ledger():
        for t in spark.catalog.listTables():
            if t.name.startswith(led):
                drop_table(spark, t.name)

    def seed():
        for t in ("c_app", "c_rep", "c_flat", "c_tree", "c_tapp", "c_ret"):
            wh.drop_table(t)
        drop_ledger()
        wh.append(
            spark.createDataFrame([(1, 0.0)], "srvid int, m double"),
            "c_rep", partition_by=["srvid"],
        )
        wh.append(
            spark.createDataFrame([(100,)], "k long"), "c_flat"
        )
        wh.append(spark.createDataFrame([(1, 100), (2, 200), (3, 300)],
                                        "cell int, x long"),
                  "c_tree", partition_by=["cell"])
        wh.append(spark.createDataFrame([(1, 1)], "cell int, x long"),
                  "c_tapp", partition_by=["cell"])
        wh.append(spark.createDataFrame([(9,)], "k long"), "c_ret")
        dl = BucketedDigestLedger(wh, table=led, n_buckets=4)
        sp = StagedPass(wh, 1)
        dl.stage_append(
            spark.createDataFrame([("h1",)], "text_hash string"), sp)
        sp.publish()
        return dl

    def build_pass(dl):
        sp = StagedPass(wh, 1)
        sp.stage_append(
            spark.createDataFrame([(1, 10), (1, 11)], "srvid int, v long"),
            "c_app",
        )
        sp.stage_replace(
            spark.createDataFrame([(1, 7.5)], "srvid int, m double"),
            "c_rep",
        )
        # replace-then-append on ONE flat table (the ADVICE r7 pattern)
        sp.stage_replace_tree(
            spark.createDataFrame([(200,)], "k long"), "c_flat"
        )
        sp.stage_append_tree(
            spark.createDataFrame([(300,)], "k long"), "c_flat"
        )
        sp.stage_replace_tree(
            spark.createDataFrame([(1, 110)], "cell int, x long"),
            "c_tree", partition_by=["cell"], drops=["cell=3"])
        sp.stage_append_tree(
            spark.createDataFrame([(1, 2), (4, 4)], "cell int, x long"),
            "c_tapp", partition_by=["cell"])
        sp.stage_retire_flat("c_ret")
        dl.stage_append(
            spark.createDataFrame([("h2",)], "text_hash string"), sp)
        return sp

    PRE = {"app": [], "rep": [(0.0,)], "flat": [(100,)],
           "tree": [(1, 100), (2, 200), (3, 300)], "tapp": [(1, 1)],
           "ret": [(9,)], "led": [("h1",)]}
    POST = {"app": [(10,), (11,)], "rep": [(7.5,)],
            "flat": [(200,), (300,)], "tree": [(1, 110), (2, 200)],
            "tapp": [(1, 1), (1, 2), (4, 4)], "ret": [],
            "led": [("h1",), ("h2",)]}

    def external_state(dl):
        out = {
            "app": snap_read(wh, "c_app", "v"),
            "rep": snap_read(wh, "c_rep", "m"),
            "flat": snap_read(wh, "c_flat", "k"),
            "tree": snap_read(wh, "c_tree", "cell, x"),
            "tapp": snap_read(wh, "c_tapp", "cell, x"),
            "ret": snap_read(wh, "c_ret", "k"),
        }
        r = SnapshotReader(wh.root)
        snap = r.snapshot(led, location=dl._location(led))
        try:
            out["led"] = duck_rows(snap, "text_hash")
        finally:
            r.release(snap)
        return out

    class Boom(RuntimeError):
        pass

    try:
        # clean run sanity
        dl = seed()
        assert external_state(dl) == PRE
        build_pass(dl).publish()
        assert external_state(dl) == POST

        crash_at = 1
        while True:
            dl = seed()
            sp = build_pass(dl)
            calls = {"n": 0}
            real_replace = os.replace

            def crashing(src, dst, *, _real=real_replace, _calls=calls,
                         _at=crash_at):
                _calls["n"] += 1
                if _calls["n"] == _at:
                    raise Boom()
                return _real(src, dst)

            os.replace = crashing
            crashed = False
            try:
                sp.publish()
            except Boom:
                crashed = True
            finally:
                os.replace = real_replace
            if not crashed:
                break
            got = external_state(dl)
            want = PRE if crash_at == 1 else POST
            assert got == want, (
                f"crash point {crash_at}: external reader saw {got}, "
                f"wanted {'PRE' if crash_at == 1 else 'POST'} {want}"
            )
            StagedPass.recover(wh, 1, sweep=True)
            crash_at += 1
    finally:
        drop_ledger()
    assert crash_at >= 12  # intent + file moves + swap renames + drops


def test_snapshot_resolves_replace_tree_and_drops(spark, wh):
    """replace_tree ops (the ANN cell rewrite): an unfolded manifest's
    staged leaves replace their live leaves and dropped leaves vanish,
    from the external reader's view."""
    from powa_archivist_spark import txn as txn_mod

    wh.append(
        spark.createDataFrame(
            [(1, 100), (1, 101), (2, 200), (3, 300)], "cell int, x long"
        ),
        "r_tree", partition_by=["cell"],
    )
    sp = StagedPass(wh, 1)
    sp.stage_replace_tree(
        spark.createDataFrame([(1, 110)], "cell int, x long"),
        "r_tree", partition_by=["cell"], drops=["cell=3"],
    )

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

    assert snap_read(wh, "r_tree", "cell, x") == [(1, 110), (2, 200)]
    StagedPass.recover(wh, 1, sweep=True)
    assert snap_read(wh, "r_tree", "cell, x") == [(1, 110), (2, 200)]


def test_unfoldable_manifest_op_raises_naming_the_manifest(spark, wh):
    """A manifest op of an unknown kind, or of an older op format (an
    append without leaf records), stops recovery, in-process reads and
    the external reader with an error naming the manifest.  Skipping it
    would let recovery retire the manifest and silently drop the op's
    data; the manifest stays for an operator to resolve.  Only its own
    table and lane are blocked: other tables still read, and a snapshot
    pass on its lane records the error in the ledger instead of raising
    while other servers' passes land."""
    import json
    import re

    from powa_archivist_spark.orchestrator import Orchestrator, ServerConfig
    from powa_archivist_spark.specs import PG_STAT_BGWRITER as SPEC
    from powa_archivist_spark.storage import Warehouse

    from .conftest import ts

    wh.append(spark.createDataFrame([(1,)], "k long"), "u_flat")
    wh.append(spark.createDataFrame([(5,)], "k long"), "u_other")
    stage = os.path.join(wh.path("u_flat"), ".__stage__-1__old__0")
    spark.createDataFrame([(2,)], "k long").write.parquet(stage)
    files = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    bad_ops = ({"kind": "truncate", "table": "u_flat", "stage": stage,
                "leaves": {"": files}, "drops": []},
               {"kind": "append", "table": "u_flat", "stage": stage,
                "files": files})

    def plant(srvid, op):
        d = os.path.join(wh.root, "_txn", f"srvid={srvid}")
        os.makedirs(d, exist_ok=True)
        intent = os.path.join(d, "old.intent")
        with open(intent, "w") as f:
            json.dump({"srvid": srvid, "ops": [op]}, f)
        return intent

    for op in bad_ops:
        intent = plant(-1, op)
        named = re.escape(intent)
        with pytest.raises(ValueError, match=named):
            StagedPass.recover(wh, -1)
        with pytest.raises(ValueError, match=named):
            wh.read("u_flat")
        with pytest.raises(ValueError, match=named):
            SnapshotReader(wh.root).snapshot("u_flat")
        assert [r.k for r in wh.read("u_other").collect()] == [5]
        assert duck_rows(SnapshotReader(wh.root).snapshot("u_other"),
                         "k") == [(5,)]
        assert StagedPass.recover(wh, 3, sweep=True) == 0
        assert os.path.exists(intent)
        assert os.listdir(stage)
    os.remove(intent)
    assert [r.k for r in wh.read("u_flat").collect()] == [1]

    intent = plant(0, bad_ops[0])
    orch = Orchestrator(wh, specs={SPEC.name: SPEC})
    for srvid in (0, 1):
        orch.take_snapshot(
            ServerConfig(srvid=srvid),
            captures={SPEC.name: spark.createDataFrame(
                [(srvid, ts(0), 10, 1, 5, 1, 2)], SPEC.staging_schema)},
            now=ts(0),
        )
    errors = orch.read_metas(0)["errors"]
    assert any(e.startswith("powa_snapshot_recovery") and intent in e
               for e in errors), errors
    assert orch.read_metas(1)["errors"] == []
    cur = wh.read(Warehouse.current(SPEC.name)).collect()
    assert [r.srvid for r in cur] == [1]
    assert os.path.exists(intent)


def test_torn_snapshot_raises_not_lies(spark, wh, monkeypatch):
    """If resolution can never pin a file (pathological publish storm),
    the reader raises TornSnapshotError rather than returning a
    partial view."""
    from powa_archivist_spark import reader as reader_mod

    wh.append(spark.createDataFrame([(1,)], "k long"), "r_gone")
    monkeypatch.setattr(reader_mod, "_link_first",
                        lambda candidates, dest: False)
    r = SnapshotReader(wh.root, retries=2)
    with pytest.raises(reader_mod.TornSnapshotError):
        r.snapshot("r_gone")


def test_external_reader_covers_bucketed_ledger(spark, wh):
    """r9 (VERDICT r8 task 4): the streaming dedup ledger publish — a
    sink append and a BUCKETED catalog-table digest append under ONE
    manifest — crash-enumerated at every os.replace, with DuckDB as the
    external engine reading BOTH tables mid-publish.  At every crash
    point the pair must be exactly-pre or exactly-post TOGETHER (the r8
    reader did not resolve append_files ops, re-opening the torn-read
    window for anyone monitoring a ledger externally)."""
    from powa_archivist_spark.layout import drop_table
    from powa_archivist_spark.streaming.dedup import BucketedDigestLedger
    from powa_archivist_spark.txn import GLOBAL_LANE

    table = "r9_rdr_ledger_bkt"

    def fresh_ledger():
        return BucketedDigestLedger(wh, table=table, n_buckets=4)

    def seed():
        StagedPass.recover(wh, GLOBAL_LANE, sweep=True)
        dl = fresh_ledger()
        dl.sweep_stages()
        for t in spark.catalog.listTables():
            if t.name.startswith(table):
                drop_table(spark, t.name)
        wh.drop_table("r9_rdr_sink")
        dl = fresh_ledger()
        sp = StagedPass(wh, GLOBAL_LANE)
        dl.stage_append(
            spark.createDataFrame([("h1",), ("h2",)], "text_hash string"),
            sp,
        )
        sp.publish()
        return dl

    def build_pass(dl):
        sp = StagedPass(wh, GLOBAL_LANE)
        sp.stage_append_tree(
            spark.createDataFrame([(3,)], "doc_id long"), "r9_rdr_sink"
        )
        dl.stage_append(
            spark.createDataFrame([("h3",)], "text_hash string"), sp
        )
        return sp

    PRE = {"sink": [], "ledger": [("h1",), ("h2",)]}
    POST = {"sink": [(3,)], "ledger": [("h1",), ("h2",), ("h3",)]}

    def external_state(dl):
        loc = dl._location(table)
        r = SnapshotReader(wh.root)
        out = {}
        snap = r.snapshot("r9_rdr_sink")
        try:
            out["sink"] = duck_rows(snap, "doc_id")
        finally:
            r.release(snap)
        snap = r.snapshot(table, location=loc)
        try:
            out["ledger"] = duck_rows(snap, "text_hash")
        finally:
            r.release(snap)
        return out

    # clean-run sanity
    dl = seed()
    build_pass(dl).publish()
    assert external_state(dl) == POST

    class Boom(RuntimeError):
        pass

    crash_at = 1
    while True:
        dl = seed()
        sp = build_pass(dl)
        calls = {"n": 0}
        real_replace = os.replace

        def crashing(src, dst, *, _real=real_replace, _calls=calls,
                     _at=crash_at):
            _calls["n"] += 1
            if _calls["n"] == _at:
                raise Boom()
            return _real(src, dst)

        os.replace = crashing
        crashed = False
        try:
            sp.publish()
        except Boom:
            crashed = True
        finally:
            os.replace = real_replace
        if not crashed:
            break
        got = external_state(dl)
        want = PRE if crash_at == 1 else POST
        assert got == want, (
            f"crash point {crash_at}: external reader saw {got}, "
            f"wanted {'PRE' if crash_at == 1 else 'POST'} {want}"
        )
        crash_at += 1
    assert crash_at >= 3  # intent rename + sink file + ledger bucket files
    for t in spark.catalog.listTables():
        if t.name.startswith(table):
            drop_table(spark, t.name)
