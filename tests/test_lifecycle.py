"""Lifecycle invariants ported from the reference's golden tests
(/root/reference/sql/01_general.sql:98-153, coalesce=5):

- after 1 snapshot: current populated, history empty;
- after 5 snapshots: coalesce fires -> history populated (packed), current
  drained;
- purge pass on the next snapshot;
- reset drains everything.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from powa_archivist_spark.orchestrator import Orchestrator, ServerConfig
from powa_archivist_spark.specs import PG_STAT_BGWRITER, get_spec
from powa_archivist_spark.storage import Warehouse

from .conftest import ts

SPEC = PG_STAT_BGWRITER


def bgwriter_rows(spark, srvid, t, base):
    """One cumulative bgwriter sample (keyless module)."""
    return spark.createDataFrame(
        [(srvid, t, base + 10, base // 2, base + 5, base // 10, base * 2)],
        SPEC.staging_schema,
    )


@pytest.fixture()
def orch(wh):
    return Orchestrator(wh, specs={SPEC.name: SPEC})


def test_snapshot_then_coalesce_then_reset(spark, wh, orch):
    server = ServerConfig(srvid=0, powa_coalesce=5)
    cur_t, hist_t = Warehouse.current(SPEC.name), Warehouse.history(SPEC.name)

    # snapshot 1: current populated, history empty (01_general.sql:98-118)
    errs = orch.take_snapshot(
        server, captures={SPEC.name: bgwriter_rows(spark, 0, ts(0), 100)},
        now=ts(0),
    )
    assert errs == 0
    assert wh.read(cur_t).count() == 1
    assert not wh.exists(hist_t)

    # snapshots 2..5: coalesce fires at seq=5 (srvid=0 -> no smear offset)
    for i in range(1, 5):
        orch.take_snapshot(
            server,
            captures={SPEC.name: bgwriter_rows(spark, 0, ts(i * 5), 100 + i * 7)},
            now=ts(i * 5),
        )

    meta = orch.read_metas(0)
    assert meta["coalesce_seq"] == 5
    assert meta["aggts"] is not None
    # history packed: ONE row holding all 5 records, current drained
    hist = wh.read(hist_t)
    assert hist.count() == 1
    row = hist.collect()[0]
    assert len(row.records) == 5
    # records ts-ordered, range inclusive '[]' (powa--5.2.0.sql:6005)
    rts = [r.ts for r in row.records]
    assert rts == sorted(rts)
    assert row.range_start == rts[0].replace(tzinfo=None) or row.range_start == rts[0]
    assert row.mins_in_range.buffers_clean == 110
    assert row.maxs_in_range.buffers_clean == 138
    assert wh.read(cur_t, SPEC.current_schema).count() == 0

    # snapshot 6 -> purge pass stamps purgets (01_general.sql:140)
    orch.take_snapshot(
        server, captures={SPEC.name: bgwriter_rows(spark, 0, ts(30), 200)},
        now=ts(30),
    )
    assert orch.read_metas(0)["purgets"] is not None
    # nothing expired (retention 1 day) -> history intact
    assert wh.read(hist_t).count() == 1

    # reset drains everything (01_general.sql:142-153)
    orch.reset_server(server)
    assert wh.read(cur_t, SPEC.current_schema).count() == 0
    assert wh.read(hist_t, SPEC.history_schema).count() == 0
    assert orch.read_metas(0)["coalesce_seq"] == 0


def test_purge_drops_expired_ranges(spark, wh, orch):
    server = ServerConfig(srvid=0, powa_coalesce=2,
                          retention=dt.timedelta(hours=1))
    # two snapshots long ago -> packed
    orch.take_snapshot(
        server, captures={SPEC.name: bgwriter_rows(spark, 0, ts(0), 10)}, now=ts(0)
    )
    orch.take_snapshot(
        server, captures={SPEC.name: bgwriter_rows(spark, 0, ts(5), 20)}, now=ts(5)
    )
    assert wh.read(Warehouse.history(SPEC.name)).count() == 1
    # next pass, 2 days later: purge fires and the old range is expired
    late = ts(0) + dt.timedelta(days=2)
    orch.take_snapshot(
        server, captures={SPEC.name: bgwriter_rows(spark, 0, late, 30)}, now=late
    )
    assert wh.read(Warehouse.history(SPEC.name), SPEC.history_schema).count() == 0


def test_stranded_purge_scratch_is_inert(spark, wh, orch):
    """A crash between the boundary-day scratch write and the swap must
    leave a dir that readers and later purge passes IGNORE — a scratch
    named like a partition poisons partition discovery and makes every
    later purge raise on date parsing."""
    import os
    import shutil

    server = ServerConfig(srvid=0, powa_coalesce=2,
                          retention=dt.timedelta(hours=1))
    orch.take_snapshot(
        server, captures={SPEC.name: bgwriter_rows(spark, 0, ts(0), 10)}, now=ts(0)
    )
    orch.take_snapshot(
        server, captures={SPEC.name: bgwriter_rows(spark, 0, ts(5), 20)}, now=ts(5)
    )
    hist = Warehouse.history(SPEC.name)
    n = wh.read(hist).count()
    assert n == 1
    # fake a stranded scratch: copy a real day dir to the scratch name
    srv = os.path.join(wh.path(hist), "srvid=0")
    (day,) = [e for e in os.listdir(srv) if e.startswith("range_day=")]
    shutil.copytree(os.path.join(srv, day),
                    os.path.join(srv, f".__tmp__{day}"))
    # readers don't see it (dot-prefixed = hidden to Spark)
    assert wh.read(hist).count() == n
    # the purge pass neither raises nor counts it
    late = ts(0) + dt.timedelta(days=2)
    orch.take_snapshot(
        server, captures={SPEC.name: bgwriter_rows(spark, 0, late, 30)}, now=late
    )
    assert orch.read_metas(0)["errors"] == []
    assert wh.read(hist, SPEC.history_schema).count() == 0


def test_error_isolation(spark, wh):
    """A failing datasource never aborts the pass (powa--5.2.0.sql:3530-3546)."""
    bad = get_spec("pg_stat_database")
    orch = Orchestrator(wh, specs={SPEC.name: SPEC, bad.name: bad})
    server = ServerConfig(srvid=0)

    class Boom:
        def select(self, *a, **k):
            raise RuntimeError("datasource exploded")

    errs = orch.take_snapshot(
        server,
        captures={SPEC.name: bgwriter_rows(spark, 0, ts(0), 1), bad.name: Boom()},
        now=ts(0),
    )
    assert errs == 1
    assert wh.read(Warehouse.current(SPEC.name)).count() == 1
    assert any("pg_stat_database" in e for e in orch.read_metas(0)["errors"])


def test_smear_offsets_coalesce(spark, wh):
    """srvid % 20 offsets the coalesce phase (powa--5.2.0.sql:3550)."""
    orch = Orchestrator(wh, specs={SPEC.name: SPEC})
    server = ServerConfig(srvid=3, powa_coalesce=5)
    # (seq + 3) % 5 == 0  -> first coalesce at seq=2
    orch.take_snapshot(
        server, captures={SPEC.name: bgwriter_rows(spark, 3, ts(0), 1)}, now=ts(0)
    )
    assert orch.read_metas(3)["aggts"] is None
    orch.take_snapshot(
        server, captures={SPEC.name: bgwriter_rows(spark, 3, ts(5), 2)}, now=ts(5)
    )
    assert orch.read_metas(3)["aggts"] is not None


def test_stat_get_sample_downsamples_rates(spark, wh, orch):
    """powa-web plot read (operators.read.stat_get_sample): 12 snapshots
    sampled to <= 4 points; rates smooth the skipped intervals (each
    kept point's delta spans the gap back to the previous KEPT point)."""
    from powa_archivist_spark.operators.read import (
        stat_get_rates, stat_get_sample,
    )

    server = ServerConfig(srvid=0, powa_coalesce=5)
    for i in range(12):
        orch.take_snapshot(
            server,
            captures={SPEC.name: bgwriter_rows(spark, 0, ts(i * 5), 100 + i * 6)},
            now=ts(i * 5),
        )
    lo, hi = ts(0), ts(0) + dt.timedelta(hours=2)
    full = stat_get_rates(wh, SPEC, 0, lo, hi)
    samp = stat_get_sample(wh, SPEC, 0, lo, hi, n_samples=4)
    assert full.count() == 11
    rows = samp.orderBy("ts").collect()
    # 12 points, N=4 -> keep number % 4 == 0 -> 3 kept -> 2 rate rows
    assert len(rows) == 2
    # counters grow 6 per 5-min tick; each kept step spans 4 ticks ->
    # delta 24 over 1200s
    assert all(abs(r.buffers_clean_per_sec - 24 / 1200) < 1e-9 for r in rows)


def test_top_consumers_ranks_by_delta(spark, wh):
    """powa-web landing read (operators.read.top_consumers): per-entity
    positive-delta consumption over the range, ranked; a counter RESET
    mid-range is clamped to 0 consumption, not a huge negative."""
    from powa_archivist_spark.operators.read import top_consumers
    from powa_archivist_spark.operators.snapshot import snapshot
    from powa_archivist_spark.specs import get_spec

    spec = get_spec("pg_stat_database")
    def zero(c):
        if c.dtype == "timestamptz":
            return None
        return 0.0 if c.dtype == "double" else 0

    base = {c.name: zero(c) for c in spec.counters}

    def cap(t, rows):
        data = []
        for datid, xc in rows:
            r = dict(base, xact_commit=xc)
            data.append((1, t, datid, *[r[c.name] for c in spec.counters]))
        return spark.createDataFrame(data, spec.staging_schema)

    # datid 1: 100 -> 350 (consumes 250); datid 2: 500 -> 520 (20);
    # datid 3: 900 -> RESET to 10 (clamped: 10-900 counts as 0, then +5)
    snaps = [
        (ts(0), [(1, 100), (2, 500), (3, 900)]),
        (ts(10), [(1, 200), (2, 510), (3, 10)]),
        (ts(20), [(1, 350), (2, 520), (3, 15)]),
    ]
    for t, rows in snaps:
        snapshot(wh, spec, 1, capture=cap(t, rows))

    out = top_consumers(
        wh, spec, 1, ts(0), ts(30), metric="xact_commit", k=2
    ).collect()
    ranked = [(r.datid, r.consumed, r.rank) for r in
              sorted(out, key=lambda r: r.rank)]
    assert ranked == [(1, 250, 1), (2, 20, 2)]

    # without the clamp the reset dominates negatively
    raw = top_consumers(
        wh, spec, 1, ts(0), ts(30), metric="xact_commit", k=3,
        clamp_resets=False,
    ).collect()
    vals = {r.datid: r.consumed for r in raw}
    assert vals[3] == (10 - 900) + 5


def test_concurrent_snapshot_rejected_per_srvid(spark, wh, orch):
    """powa_prevent_concurrent_snapshot (powa--5.2.0.sql:3424-3427): a
    second snapshot of the SAME srvid while one is in flight raises;
    a different srvid is unaffected."""
    server0 = ServerConfig(srvid=0)
    lock = orch._lock(0)
    assert lock.acquire(blocking=False)
    try:
        with pytest.raises(RuntimeError, match="in progress"):
            orch.take_snapshot(
                server0,
                captures={SPEC.name: bgwriter_rows(spark, 0, ts(0), 1)},
                now=ts(0),
            )
        # another server proceeds normally
        errs = orch.take_snapshot(
            ServerConfig(srvid=1),
            captures={SPEC.name: bgwriter_rows(spark, 1, ts(0), 1)},
            now=ts(0),
        )
        assert errs == 0
    finally:
        lock.release()
    # released -> srvid 0 snapshots fine
    assert orch.take_snapshot(
        server0, captures={SPEC.name: bgwriter_rows(spark, 0, ts(5), 2)},
        now=ts(5),
    ) == 0


def test_concurrent_server_snapshots_lose_nothing(spark, wh):
    """Two servers' snapshot threads writing the SAME tables in parallel:
    per-srvid orchestrator locks allow this, and without per-table write
    serialization the shared FileOutputCommitter _temporary dir can
    silently drop one job's rows."""
    import threading

    orch = Orchestrator(wh, specs={SPEC.name: SPEC})
    errs: list = []

    def snap(srvid):
        try:
            server = ServerConfig(srvid=srvid, powa_coalesce=50)
            for i in range(4):
                n = orch.take_snapshot(
                    server,
                    captures={SPEC.name: bgwriter_rows(
                        spark, srvid, ts(i * 5), 100 + srvid + i)},
                    now=ts(i * 5),
                )
                if n:
                    errs.append((srvid, orch.read_metas(srvid)["errors"]))
        except Exception as e:  # noqa: BLE001
            errs.append((srvid, repr(e)))

    threads = [threading.Thread(target=snap, args=(s,)) for s in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    cur = wh.read(Warehouse.current(SPEC.name))
    counts = {r.srvid: r.n for r in
              cur.groupBy("srvid").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 4, 2: 4}


def test_replay_heals_lost_db_rollup(spark, wh):
    """Crash between the current-table append and the db-rollup write,
    then replay the SAME staging batch: the full-row anti-join finds
    zero new rows, but the rollup recompute must still run so the
    replay converges to the healthy state (ADVICE r4 — previously the
    whole write block sat behind ``if n > 0`` and the lost rollup rows
    were unrecoverable)."""
    from powa_archivist_spark.operators.snapshot import snapshot
    from powa_archivist_spark.specs import get_spec

    spec = get_spec("user_functions")
    assert spec.db_rollup
    db_t = Warehouse.current_db(spec.name)

    def cap(t, rows):
        # staging: (srvid, ts, dbid, funcid, calls, total_time, self_time)
        data = [(1, t, dbid, funcid, calls, calls * 1.5, calls * 0.5)
                for dbid, funcid, calls in rows]
        return spark.createDataFrame(data, spec.staging_schema)

    batch = cap(ts(0), [(10, 1, 100), (10, 2, 40), (20, 7, 500)])
    assert snapshot(wh, spec, 1, capture=batch) == 3
    healthy = sorted(map(tuple, wh.read(db_t).collect()))
    assert healthy  # rollup written

    # simulate the crash: current committed, rollup write lost
    wh.drop_srvid(db_t, 1)
    assert (not wh.exists(db_t)) or wh.read(db_t).count() == 0

    # replay: zero new rows, rollup must be recomputed from current
    replay = cap(ts(0), [(10, 1, 100), (10, 2, 40), (20, 7, 500)])
    assert snapshot(wh, spec, 1, capture=replay) == 0
    assert sorted(map(tuple, wh.read(db_t).collect())) == healthy

    # and a healthy replay is a fixpoint (no duplicates, same rows)
    assert snapshot(wh, spec, 1, capture=replay) == 0
    assert sorted(map(tuple, wh.read(db_t).collect())) == healthy

def test_staged_publish_crash_invisibility_and_exactly_once(spark, wh):
    """r6: the multi-sink snapshot is a staged pass with a single commit
    point (txn.StagedPass).  Kill the pass (a) between the two sink
    writes and (b) between both writes and the publish: a concurrent
    reader must see EXACTLY the pre-pass state — never a half-applied
    snapshot.  Kill it (c) mid-publish (after the intent, between ops):
    recovery completes the publish.  In every case the replay converges
    to exactly-once rows."""
    from powa_archivist_spark import txn as txn_mod
    from powa_archivist_spark.operators.snapshot import snapshot
    from powa_archivist_spark.specs import get_spec
    from powa_archivist_spark.txn import StagedPass

    spec = get_spec("user_functions")
    cur_t, db_t = Warehouse.current(spec.name), Warehouse.current_db(spec.name)

    def cap(t, rows):
        data = [(1, t, dbid, funcid, calls, calls * 1.5, calls * 0.5)
                for dbid, funcid, calls in rows]
        return spark.createDataFrame(data, spec.staging_schema)

    def state():
        cur = sorted(map(tuple, wh.read(cur_t).collect())) if wh.exists(cur_t) else []
        db = sorted(map(tuple, wh.read(db_t).collect())) if wh.exists(db_t) else []
        return cur, db

    assert snapshot(wh, spec, 1, capture=cap(ts(0), [(10, 1, 100)])) == 1
    committed = state()
    assert committed[0] and committed[1]

    batch2 = [(10, 1, 140), (20, 7, 500)]

    class Boom(RuntimeError):
        pass

    # (a) kill between the two sink writes (current staged, rollup not)
    real_append = StagedPass.stage_append
    calls = {"n": 0}

    def crashing_append(self, df, table):
        calls["n"] += 1
        if calls["n"] == 2:
            raise Boom()
        return real_append(self, df, table)

    StagedPass.stage_append = crashing_append
    try:
        snapshot(wh, spec, 1, capture=cap(ts(1), batch2))
    except Boom:
        pass
    finally:
        StagedPass.stage_append = real_append
    assert state() == committed, "reader saw a half-applied pass (a)"

    # (b) kill after both sinks staged, before publish
    real_publish = StagedPass.publish
    StagedPass.publish = lambda self: (_ for _ in ()).throw(Boom())
    try:
        snapshot(wh, spec, 1, capture=cap(ts(1), batch2))
    except Boom:
        pass
    finally:
        StagedPass.publish = real_publish
    assert state() == committed, "reader saw a half-applied pass (b)"

    # (c) kill mid-publish: manifest committed, only the FIRST op folded
    real_apply = txn_mod._apply_ops

    def partial_apply(w, ops):
        real_apply(w, ops[:1])
        raise Boom()

    txn_mod._apply_ops = partial_apply
    try:
        snapshot(wh, spec, 1, capture=cap(ts(1), batch2))
    except Boom:
        pass
    finally:
        txn_mod._apply_ops = real_apply
    # r7 single-manifest commit: BEFORE any recovery runs, a reader
    # already sees the FULL post-pass state — Warehouse.read resolves
    # the committed manifest and folds the remaining ops itself
    cur_now, db_now = state()
    assert len(cur_now) == len(committed[0]) + 2, (
        "reader did not see the committed pass through the manifest"
    )
    assert db_now, "manifest-resolved read lost the rollup sink"
    # recovery (implicit at the next snapshot) + replay -> exactly once
    assert snapshot(wh, spec, 1, capture=cap(ts(1), batch2)) == 0
    cur, db = state()
    expect_cur, expect_db = committed
    assert len(cur) == len(expect_cur) + 2          # no duplicated appends
    assert snapshot(wh, spec, 1, capture=cap(ts(1), batch2)) == 0  # fixpoint
    assert state() == (cur, db)

    # clean-run equivalence: a never-crashed twin warehouse ends equal
    import tempfile

    d2 = tempfile.mkdtemp(prefix="powa_wh_twin_")
    wh2 = Warehouse(spark, d2)
    snapshot(wh2, spec, 1, capture=cap(ts(0), [(10, 1, 100)]))
    snapshot(wh2, spec, 1, capture=cap(ts(1), batch2))
    cur2 = sorted(map(tuple, wh2.read(cur_t).collect()))
    db2 = sorted(map(tuple, wh2.read(db_t).collect()))
    assert (cur, db) == (cur2, db2)

def test_qualstats_staged_publish_is_atomic(spark, wh):
    """r6: the qualstats pass's THREE sinks (quals dictionary, per-qual
    rollup, constvalues) commit through one StagedPass — a kill after
    two of three staged writes leaves all three tables unseen."""
    from powa_archivist_spark.operators import dictionary, qualstats
    from powa_archivist_spark.txn import StagedPass

    # seed the statements dictionary so the gate passes rows
    dictionary.merge_statements(
        wh, 1,
        spark.createDataFrame(
            [(100, 10, 5, "SELECT x", ts(0))],
            "queryid long, dbid long, userid long, query string, ts timestamp",
        ),
        now=ts(0),
    )
    cap = spark.createDataFrame(
        [(1, ts(0), 7, 10, 5, 77, 3, 30, 5, 1.0, 0.5, 100,
          ["42"], [(16384, 1, 96, "f")])],
        qualstats.SRC_SCHEMA,
    )

    class Boom(RuntimeError):
        pass

    real = StagedPass.stage_append
    calls = {"n": 0}

    def crashing(self, df, table):
        calls["n"] += 1
        if calls["n"] == 3:
            raise Boom()
        return real(self, df, table)

    StagedPass.stage_append = crashing
    try:
        qualstats.qualstats_snapshot(wh, 1, capture=cap)
    except Boom:
        pass
    finally:
        StagedPass.stage_append = real
    assert not wh.exists(qualstats.QUALS_TABLE)
    assert not wh.exists(qualstats.CONSTVALUES_TABLE)
    assert not wh.exists(Warehouse.current("qualstats"))

    # clean replay commits all three atomically
    assert qualstats.qualstats_snapshot(wh, 1, capture=cap) == 1
    assert wh.read(qualstats.QUALS_TABLE).count() == 1
    assert wh.read(qualstats.CONSTVALUES_TABLE).count() == 1
    assert wh.read(Warehouse.current("qualstats")).count() == 1

def test_staged_publish_recovery_at_every_rename(spark, wh):
    """Exhaustive crash-point enumeration for StagedPass.publish: crash
    at EVERY os.replace call (intent rename, each file move, each
    partition-swap rename) and prove recover() + nothing else converges
    the warehouse to exactly the published state."""
    import os

    from pyspark.sql import functions as F

    from powa_archivist_spark.txn import StagedPass

    def build_pass():
        sp = StagedPass(wh, 1)
        a = spark.createDataFrame([(1, 10), (1, 11)], "srvid int, v long")
        b = spark.createDataFrame([(1, 7.5)], "srvid int, m double")
        sp.stage_append(a, "t_app")
        sp.stage_replace(b, "t_rep")
        return sp

    # reference final state from one clean publish
    wh.drop_table("t_app"); wh.drop_table("t_rep")
    build_pass().publish()
    want_app = sorted(r.v for r in wh.read("t_app").collect())
    want_rep = sorted(r.m for r in wh.read("t_rep").collect())

    class Boom(RuntimeError):
        pass

    crash_at = 1
    while True:
        wh.drop_table("t_app"); wh.drop_table("t_rep")
        # pre-seed t_rep so the replace exercises the swapout branch
        wh.append(spark.createDataFrame([(1, 0.0)], "srvid int, m double"),
                  "t_rep", partition_by=["srvid"])
        sp = build_pass()
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
            break  # crash point beyond the last rename: enumeration done
        # r7 single-manifest commit: BEFORE any recovery, a reader must
        # see EXACTLY pre-pass (crash before the manifest rename) or
        # EXACTLY post-pass (manifest landed -> reads resolve through
        # it and fold the remaining ops themselves).  ZERO intermediate
        # states at ANY rename crash point.
        if crash_at == 1:
            # died before the manifest rename: nothing published
            assert not wh.exists("t_app")
            assert [r.m for r in wh.read("t_rep").collect()] == [0.0]
        else:
            assert sorted(r.v for r in wh.read("t_app").collect()) == want_app
            assert sorted(r.m for r in wh.read("t_rep").collect()) == want_rep
        StagedPass.recover(wh, 1, sweep=True)
        if crash_at == 1:
            # recovery only sweeps the invisible stage dirs; the
            # pre-pass state stands and the pass would replay from
            # preserved staging
            assert not wh.exists("t_app")
            assert [r.m for r in wh.read("t_rep").collect()] == [0.0]
        else:
            # recovery retires the manifest; state unchanged
            assert sorted(r.v for r in wh.read("t_app").collect()) == want_app
            assert sorted(r.m for r in wh.read("t_rep").collect()) == want_rep
            import glob as _glob
            assert not _glob.glob(
                os.path.join(wh.root, "_txn", "*", "*.intent")
            ), "recover left a retired manifest behind"
        crash_at += 1
    assert crash_at >= 4  # intent + >=1 file move + >=2 swap renames

def test_empty_staged_append_lands_nothing(spark, wh):
    """An empty staged append lands no parquet file, no op and no srvid
    partition dir, and a staged append returns the rows it staged.  The
    same holds one level up: a coalesce over an empty srvid slice of a
    current table that other servers populate lands no history file."""
    import glob
    import os

    from powa_archivist_spark.operators.aggregate import aggregate
    from powa_archivist_spark.operators.snapshot import snapshot
    from powa_archivist_spark.txn import StagedPass

    sp = StagedPass(wh, 1)
    empty = spark.createDataFrame([], "srvid int, v long")
    full = spark.createDataFrame([(1, 10), (1, 11)], "srvid int, v long")
    staged = (sp.stage_append(empty, "t_empty"),
              sp.stage_append(full, "t_full"))
    sp.publish()
    assert not wh.exists("t_empty")
    assert not os.path.isdir(os.path.join(wh.path("t_empty"), "srvid=1"))
    assert sorted(r.v for r in wh.read("t_full").collect()) == [10, 11]
    assert staged == (0, 2)

    for srvid in (0, 2):
        snapshot(wh, SPEC, srvid, capture=bgwriter_rows(spark, srvid, ts(0), 1))
    assert aggregate(wh, SPEC, 2) == 1
    hist = wh.path(Warehouse.history(SPEC.name))

    def files():
        return sorted(glob.glob(os.path.join(hist, "**", "*.parquet"),
                                recursive=True))

    before = files()
    assert before
    assert aggregate(wh, SPEC, 1) == 0
    assert files() == before
    assert not os.path.isdir(os.path.join(hist, "srvid=1"))
    assert wh.read(Warehouse.current(SPEC.name)).count() == 1


def test_staged_pass_rejects_delimiter_pass_ids(wh):
    """r6 code review: pass ids carrying the '__' field delimiter (or a
    path separator) would reassemble the wrong live path at recovery."""
    from powa_archivist_spark.txn import StagedPass

    for bad in ("retry__2", "a/b"):
        try:
            StagedPass(wh, 1, pass_id=bad)
            raise AssertionError(f"accepted bad pass_id {bad!r}")
        except ValueError:
            pass
    StagedPass(wh, 1, pass_id="retry-2")  # fine
    StagedPass(wh, 1, pass_id="")          # falsy -> generated id

def test_chaos_random_crashes_converge_to_clean_run(spark, wh):
    """Chaos convergence: drive 6 statements passes where each pass is
    first attempted with a crash injected at a pseudo-random os.replace
    call (marker writes, staged publishes, metas writes — whatever that
    call index lands on), then replayed cleanly.  The final warehouse
    must be byte-equal (row-wise) to a never-crashed twin: the staged
    publish + begin-markers + idempotent operators compose to
    exactly-once under ANY single crash point per pass."""
    import os
    import random
    import tempfile

    from powa_archivist_spark.operators import dictionary
    from powa_archivist_spark.orchestrator import Orchestrator, ServerConfig
    from powa_archivist_spark.sources.readers import shim_to_schema
    from powa_archivist_spark.specs import STATEMENTS

    def batch(i):
        rows = [
            (1, ts(i), 100 + j, 10, True, 5, f"SELECT {100 + j}",
             3 + i + j, 1.5 * i)
            for j in range(3)
        ]
        return spark.createDataFrame(
            rows,
            "srvid int, ts timestamp, queryid long, dbid long, "
            "toplevel boolean, userid long, query string, calls long, "
            "total_exec_time double",
        )

    class Boom(RuntimeError):
        pass

    def run(target_wh, crash_seed):
        rng = random.Random(crash_seed)
        orch = Orchestrator(target_wh, specs={STATEMENTS.name: STATEMENTS})
        server = ServerConfig(srvid=1, powa_coalesce=4)
        for i in range(6):
            target_wh.append(
                shim_to_schema(batch(i), STATEMENTS.staging_schema),
                Warehouse.src_tmp(STATEMENTS.name), partition_by=["srvid"],
            )
            if crash_seed is not None:
                crash_at = rng.randint(1, 8)
                calls = {"n": 0}
                real = os.replace

                def crashing(src, dst, *, _r=real, _c=calls, _at=crash_at):
                    _c["n"] += 1
                    if _c["n"] == _at:
                        raise Boom()
                    return _r(src, dst)

                os.replace = crashing
                try:
                    orch.take_snapshot(server, now=ts(i * 5))
                except Boom:
                    pass
                finally:
                    os.replace = real
            # the (re)play that must converge
            orch.take_snapshot(server, now=ts(i * 5, 30))
        # a crashed attempt that got far enough still counts as a pass,
        # so coalesce TIMING may differ between the runs — the invariant
        # is the combined LOGICAL content: every (queryid, ts, calls)
        # sample exactly once across current ∪ unpacked history
        samples = []
        cur_t = Warehouse.current(STATEMENTS.name)
        if target_wh.exists(cur_t):
            samples += [
                (r.queryid, r.ts, r.calls)
                for r in target_wh.read(cur_t).collect()
            ]
        hist_t = Warehouse.history(STATEMENTS.name)
        if target_wh.exists(hist_t):
            samples += [
                (r.queryid, rec.ts, rec.calls)
                for r in target_wh.read(hist_t).collect()
                for rec in r.records
            ]
        d = sorted(
            (r.queryid, r.query) for r in
            dictionary.read_statements(target_wh, 1).collect()
        )
        return sorted(samples), d

    import shutil

    d_clean = tempfile.mkdtemp(prefix="chaos_clean_")
    d_chaos = tempfile.mkdtemp(prefix="chaos_crash_")
    try:
        clean = run(Warehouse(spark, d_clean), crash_seed=None)
        chaotic = run(Warehouse(spark, d_chaos), crash_seed=1234)
        assert chaotic == clean
    finally:
        shutil.rmtree(d_clean, ignore_errors=True)
        shutil.rmtree(d_chaos, ignore_errors=True)


def _group_jobs(sc, group):
    """The settled Spark jobs that ran under job group ``group``."""
    import time

    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while True:
        jobs = [tracker.getJobInfo(j)
                for j in tracker.getJobIdsForGroup(group)]
        if jobs and all(j is not None and j.status != "RUNNING"
                        for j in jobs):
            return jobs
        assert time.time() < deadline, f"{group} jobs never settled"
        time.sleep(0.2)


def _qualstats_tick(spark, orch, srvid, i):
    """One qualstats tick of three quals; coalesce is every 3rd pass."""
    from powa_archivist_spark.operators import qualstats

    cap = spark.createDataFrame(
        [(srvid, ts(i * 5), 7, 10, 5, 70 + q, 2 + i, 10 + i, 4, 1.5,
          2.0, 100, [str(40 + q + i)], [(1259, q, 96, "f")])
         for q in range(3)],
        qualstats.SRC_SCHEMA,
    )
    return orch.take_snapshot(
        ServerConfig(srvid=srvid, powa_coalesce=3),
        captures={qualstats.QUALSTATS_SPEC.name: cap}, now=ts(i * 5),
    )


def _known_statement(spark, wh, srvid):
    from powa_archivist_spark.operators import dictionary

    dictionary.merge_statements(
        wh, srvid,
        spark.createDataFrame(
            [(100, 10, 5, "SELECT a", ts(0))],
            "queryid long, dbid long, userid long, query string, "
            "ts timestamp",
        ),
        now=ts(0),
    )


def test_qualstats_coalesce_tick_runs_narrow_off_the_caller_conf(spark, wh):
    """A tick is a burst of tiny jobs, so every job of a qualstats
    coalesce tick must plan at cluster parallelism: no stage may run the
    analytics posture's ``initialPartitionNum`` tasks (the persisted
    constvalues ranking used to, three 256-task jobs per tick).  And the
    engine posture lives in its own session: while two servers tick at
    once, the caller session's conf never moves."""
    import threading
    import time

    from powa_archivist_spark.operators import qualstats
    from powa_archivist_spark.specs import QUALSTATS_SPEC

    aqe_key = "spark.sql.adaptive.enabled"
    wide_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    caller_conf = (spark.conf.get(aqe_key), spark.conf.get(wide_key))
    wide = int(caller_conf[1])
    orch = Orchestrator(wh, specs={QUALSTATS_SPEC.name: QUALSTATS_SPEC})

    def tick(srvid, i):
        return _qualstats_tick(spark, orch, srvid, i)

    for srvid in (1, 2, 3):
        _known_statement(spark, wh, srvid)

    # srvid 1 coalesces on its 2nd pass: (2 + 1 % 20) % 3 == 0
    assert tick(1, 0) == 0
    sc = spark.sparkContext
    group = "qualstats-coalesce-tick"
    sc.setJobGroup(group, "qualstats coalesce tick")
    try:
        assert tick(1, 1) == 0, orch.read_metas(1)["errors"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert orch.read_metas(1)["aggts"] is not None
    assert qualstats.constvalues_history(wh, 1).count() == 3

    tracker = sc.statusTracker()
    jobs = _group_jobs(sc, group)
    stages = [tracker.getStageInfo(s) for j in jobs for s in j.stageIds]
    tasks = {s.stageId: s.numTasks for s in stages if s is not None}
    assert tasks and max(tasks.values()) < wide, tasks

    # two servers tick concurrently while a third thread watches the
    # caller session's conf
    errs: list = []
    seen: set = set()
    done = threading.Event()

    def watch():
        while not done.is_set():
            seen.add((spark.conf.get(aqe_key), spark.conf.get(wide_key)))
            time.sleep(0.01)

    def ticks(srvid):
        try:
            for i in range(3):
                if tick(srvid, i):
                    errs.append((srvid, orch.read_metas(srvid)["errors"]))
        except Exception as e:  # noqa: BLE001
            errs.append((srvid, repr(e)))

    watcher = threading.Thread(target=watch)
    workers = [threading.Thread(target=ticks, args=(s,)) for s in (2, 3)]
    watcher.start()
    for t in workers:
        t.start()
    for t in workers:
        t.join()
    done.set()
    watcher.join()
    assert errs == []
    assert seen == {caller_conf}
    for srvid in (2, 3):
        assert orch.read_metas(srvid)["aggts"] is not None


def test_qualstats_coalesce_tick_job_budget(spark, wh, monkeypatch):
    """A tick moves a few rows, so its cost is its Spark jobs.  Row
    counts and emptiness ride the writes (Observations), and the pass's
    independent writes run at once: a qualstats coalesce tick runs at
    most 6 jobs, of which ``qualstats_snapshot`` runs at most 4 (the
    statements gate's broadcast and the three sink writes)."""
    from powa_archivist_spark.operators import qualstats
    from powa_archivist_spark.specs import QUALSTATS_SPEC

    sc = spark.sparkContext
    orch = Orchestrator(wh, specs={QUALSTATS_SPEC.name: QUALSTATS_SPEC})
    _known_statement(spark, wh, 1)
    assert _qualstats_tick(spark, orch, 1, 0) == 0

    real = qualstats.qualstats_snapshot

    def grouped(*a, **k):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup("qualstats-snapshot-budget", "qualstats_snapshot")
        try:
            return real(*a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    monkeypatch.setattr(qualstats, "qualstats_snapshot", grouped)
    sc.setJobGroup("coalesce-tick-budget", "qualstats coalesce tick")
    try:
        assert _qualstats_tick(spark, orch, 1, 1) == 0, \
            orch.read_metas(1)["errors"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert orch.read_metas(1)["aggts"] is not None
    assert qualstats.constvalues_history(wh, 1).count() == 3

    snap = len(_group_jobs(sc, "qualstats-snapshot-budget"))
    rest = len(_group_jobs(sc, "coalesce-tick-budget"))
    assert snap <= 4, (snap, rest)
    assert snap + rest <= 6, (snap, rest)


def sample_rows(spark, spec, srvid, t, base):
    """One staging sample of ``spec`` with every column filled."""
    import decimal

    from pyspark.sql import types as T

    def val(f):
        if f.name == "srvid":
            return srvid
        if isinstance(f.dataType, T.TimestampType):
            return t
        if isinstance(f.dataType, (T.IntegerType, T.LongType)):
            return base
        if isinstance(f.dataType, T.DoubleType):
            return float(base)
        if isinstance(f.dataType, T.DecimalType):
            return decimal.Decimal(base)
        if isinstance(f.dataType, T.BooleanType):
            return True
        return "x"

    return spark.createDataFrame(
        [tuple(val(f) for f in spec.staging_schema.fields)],
        spec.staging_schema,
    )


def _two_module_tick(spark, wh, snapshot_hook):
    """One tick of two priority-10 modules with ``orchestrator.snapshot``
    replaced by ``snapshot_hook(real, *args, **kwargs)``."""
    from powa_archivist_spark import orchestrator as orch_mod

    other = get_spec("pg_stat_archiver")
    orch = Orchestrator(wh, specs={SPEC.name: SPEC, other.name: other})
    real = orch_mod.snapshot
    orch_mod.snapshot = lambda *a, **k: snapshot_hook(real, *a, **k)
    try:
        errs = orch.take_snapshot(
            ServerConfig(srvid=0),
            captures={SPEC.name: bgwriter_rows(spark, 0, ts(0), 1),
                      other.name: sample_rows(spark, other, 0, ts(0), 1)},
            now=ts(0),
        )
    finally:
        orch_mod.snapshot = real
    assert errs == 0, orch.read_metas(0)["errors"]
    for spec in (SPEC, other):
        assert wh.read(Warehouse.current(spec.name)).count() == 1


def test_same_priority_datasources_snapshot_concurrently(spark, wh):
    """A priority wave's datasources share no sink, so they reach their
    snapshot operators at the same time: neither passes the barrier
    until both are in (serial dispatch times the barrier out)."""
    import threading

    barrier = threading.Barrier(2, timeout=30)

    def meet(real, *a, **k):
        barrier.wait()
        return real(*a, **k)

    _two_module_tick(spark, wh, meet)


def test_wave_workers_inherit_the_callers_job_group(spark, wh):
    """A caller that tags a tick with a job group sees every job of it
    under that group, the ones submitted from wave workers included.
    Each worker holds its own copy of the caller's local properties:
    Spark SQL writes every query's execution id into them."""
    import threading

    sc = spark.sparkContext
    seen, props = [], set()

    def record(real, *a, **k):
        seen.append((sc.getLocalProperty("spark.jobGroup.id"),
                     threading.get_ident()))
        props.add(spark._jvm.System.identityHashCode(
            sc._jsc.sc().getLocalProperties()))
        return real(*a, **k)

    sc.setJobGroup("tagged-tick", "a tagged two-module tick")
    try:
        _two_module_tick(spark, wh, record)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [g for g, _t in seen] == ["tagged-tick", "tagged-tick"]
    # the snapshots ran on workers, not on the tagging thread
    assert threading.get_ident() not in {t for _g, t in seen}
    assert len(props) == 2


def test_requires_statements_gates_on_the_same_ticks_statements(spark, wh):
    """Waves keep priority order: a ``requires_statements`` datasource
    (qualstats, priority 10) ticked with statements (priority -2) gates
    on the queryids this very tick's statements snapshot merged into the
    dictionary, while it overlaps with its own wave (bgwriter)."""
    from powa_archivist_spark.operators import qualstats
    from powa_archivist_spark.sources.readers import shim_to_schema
    from powa_archivist_spark.specs import QUALSTATS_SPEC, STATEMENTS

    orch = Orchestrator(wh, specs={
        s.name: s for s in (STATEMENTS, QUALSTATS_SPEC, SPEC)})
    stmts = shim_to_schema(
        spark.createDataFrame(
            [(1, ts(0), 100, 10, True, 5, "SELECT a", 3, 1.5)],
            "srvid int, ts timestamp, queryid long, dbid long, "
            "toplevel boolean, userid long, query string, calls long, "
            "total_exec_time double",
        ),
        STATEMENTS.staging_schema,
    )
    quals = spark.createDataFrame(
        [(1, ts(0), 7, 10, 5, 70 + q, 2, 10, 4, 1.5, 2.0, 100, ["42"],
          [(1259, q, 96, "f")]) for q in range(3)],
        qualstats.SRC_SCHEMA,
    )
    errs = orch.take_snapshot(
        ServerConfig(srvid=1),
        captures={STATEMENTS.name: stmts, QUALSTATS_SPEC.name: quals,
                  SPEC.name: bgwriter_rows(spark, 1, ts(0), 1)},
        now=ts(0),
    )
    assert errs == 0, orch.read_metas(1)["errors"]
    assert wh.read(Warehouse.current(QUALSTATS_SPEC.name)).count() == 3
    assert wh.read(Warehouse.current(SPEC.name)).count() == 1


def test_failing_wave_sibling_keeps_dispatch_order_in_the_ledger(spark, wh):
    """A failure in a wave never stops its siblings from committing, and
    the error ledger lists failures in dispatch order even when the
    first one fails last."""
    import time

    first, last = get_spec("pg_stat_archiver"), get_spec("pg_stat_database")
    orch = Orchestrator(wh, specs={s.name: s for s in (first, SPEC, last)})

    class Boom:
        def __init__(self, delay):
            self.delay = delay

        @property
        def _jdf(self):
            time.sleep(self.delay)
            raise RuntimeError("datasource exploded")

    errs = orch.take_snapshot(
        ServerConfig(srvid=0),
        captures={first.name: Boom(2.0), last.name: Boom(0.0),
                  SPEC.name: bgwriter_rows(spark, 0, ts(0), 1)},
        now=ts(0),
    )
    assert errs == 2
    ledger = orch.read_metas(0)["errors"]
    assert [e.split(":")[0] for e in ledger] == [
        f"powa_{first.name}_snapshot", f"powa_{last.name}_snapshot"]
    assert wh.read(Warehouse.current(SPEC.name)).count() == 1
