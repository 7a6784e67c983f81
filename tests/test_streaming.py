"""Streaming ingest: landing-zone drops flow through the SAME batch
snapshot operator via foreachBatch, with checkpointed exactly-once
file-level semantics (a second availableNow run reprocesses nothing).
"""

from __future__ import annotations

import datetime
import os
import tempfile

import pytest

from pyspark.sql import functions as F

from powa_archivist_spark.specs import PG_STAT_BGWRITER
from powa_archivist_spark.storage import Warehouse
from powa_archivist_spark.streaming.ingest import drain, ingest_stream

from .conftest import ts
from .test_layout import SF

SPEC = PG_STAT_BGWRITER


def _drop(spark, landing, name, rows):
    df = spark.createDataFrame(rows, SPEC.staging_schema)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(landing, name))


def test_windowed_counters_batch_and_stream(spark, wh):
    """Batch and streaming forms of the windowed aggregation agree, and
    the watermark emits only finalized windows in append mode."""
    import datetime as dt

    from powa_archivist_spark.streaming.windowed import (
        stream_windowed_counters,
        windowed_counters,
    )

    schema = "user_id long, ts timestamp, value_cents long"
    rows = [
        (1, ts(0), 100), (1, ts(3), 50),          # window [12:00, 12:10)
        (1, ts(12), 70), (2, ts(14), 30),         # window [12:10, 12:20)
        (1, ts(2, 30), 10),                       # LATE row for window 1
        (2, ts(55), 5),                           # far ahead: advances WM
    ]
    df = spark.createDataFrame(rows, schema)
    batch = {
        (r.window_start.minute, r.user_id): (r.n_events, r.sum_value)
        for r in windowed_counters(df, "10 minutes").collect()
    }
    # late row still lands in its event-time window in batch
    assert batch[(0, 1)] == (3, 160)
    assert batch[(10, 1)] == (1, 70) and batch[(10, 2)] == (1, 30)

    landing = tempfile.mkdtemp(prefix="wlanding_")
    out = tempfile.mkdtemp(prefix="wout_")
    ckpt = tempfile.mkdtemp(prefix="wckpt_")
    df.coalesce(1).write.mode("overwrite").parquet(landing + "/b0")
    q = stream_windowed_counters(
        spark, landing + "/*", spark.createDataFrame([], schema).schema,
        ckpt, out, window_len="10 minutes", watermark="10 minutes",
    )
    q.awaitTermination(300)
    got = {
        (r.window_start.minute, r.user_id): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    # watermark = max(ts)-10m = 12:45 -> windows ending <= 12:45 finalized;
    # the 12:50 window stays open and is NOT emitted in append mode
    assert got[(0, 1)] == (3, 160)
    assert got[(10, 1)] == (1, 70) and got[(10, 2)] == (1, 30)
    assert not any(m == 50 for m, _u in got)


def test_stateful_sessionize_across_batches(spark):
    """applyInPandasWithState: the open session survives micro-batch AND
    restart boundaries in managed state; a later event beyond the gap
    closes and emits it."""
    from powa_archivist_spark.streaming.sessionize import (
        sessionize_batch,
        stream_sessionize,
    )

    schema = "user_id long, ts timestamp, event_id long"
    landing = tempfile.mkdtemp(prefix="slanding_")
    out = tempfile.mkdtemp(prefix="sout_")
    ckpt = tempfile.mkdtemp(prefix="sckpt_")

    b0 = spark.createDataFrame(
        [(1, ts(0), 1), (1, ts(5), 2), (2, ts(0), 3)], schema
    )
    b0.coalesce(1).write.parquet(landing + "/b0")
    q = stream_sessionize(spark, landing + "/*",
                          spark.createDataFrame([], schema).schema, ckpt, out,
                          gap_s=1800)
    q.awaitTermination(300)
    # nothing closed yet — all sessions still open in state
    import os
    closed = (
        spark.read.parquet(out).collect()
        if any(f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs)
        else []
    )
    assert closed == []

    # user 1 returns 50 min later (> 30 min gap): session 1 closes;
    # the state was recovered from the checkpoint by a NEW query run
    b1 = spark.createDataFrame([(1, ts(55), 4)], schema)
    b1.coalesce(1).write.parquet(landing + "/b1")
    q = stream_sessionize(spark, landing + "/*",
                          spark.createDataFrame([], schema).schema, ckpt, out,
                          gap_s=1800)
    q.awaitTermination(300)
    closed = spark.read.parquet(out).collect()
    assert len(closed) == 1
    s = closed[0]
    assert s.user_id == 1 and s.n_events == 2
    assert s.session_start == ts(0).replace(tzinfo=None)
    assert s.session_end == ts(5).replace(tzinfo=None)

    # batch form agrees on the full dataset
    batch = sessionize_batch(b0.union(b1), gap_s=1800)
    rows = {(r.user_id, r.session_idx): r.n_events for r in batch.collect()}
    assert rows == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_batch_replay_converges(spark, wh):
    """Replay-convergent apply: a replayed epoch with a committed marker
    is a no-op; a replay after a PARTIAL append (crash between append
    and marker — the round-1 loss window) deletes its own slice and
    re-appends, landing on exactly the batch's rows."""
    import tempfile

    from powa_archivist_spark.streaming.ingest import process_staged_batch

    marker_dir = tempfile.mkdtemp(prefix="markers_")
    batch = spark.createDataFrame(
        [(1, ts(0), 110, 50, 105, 10, 200),
         (1, ts(0), 111, 51, 106, 11, 201)],
        SPEC.staging_schema,
    )
    # simulate the crash window: HALF the batch already appended for this
    # ts, no marker written
    partial = spark.createDataFrame(
        [(1, ts(0), 110, 50, 105, 10, 200)], SPEC.staging_schema
    )
    wh.append(partial.select("srvid", "ts", *[c.name for c in SPEC.counters]),
              Warehouse.current(SPEC.name), partition_by=["srvid"])

    process_staged_batch(wh, SPEC, batch, epoch_id=7, marker_dir=marker_dir)
    cur = wh.read(Warehouse.current(SPEC.name)).collect()
    # the ts-level idempotency anti-join alone would have SKIPPED the
    # replay and lost row 111; the convergent apply recovers both rows
    assert sorted(r.buffers_clean for r in cur) == [110, 111]

    # marker committed -> replaying the same epoch changes nothing
    process_staged_batch(wh, SPEC, batch, epoch_id=7, marker_dir=marker_dir)
    assert wh.read(Warehouse.current(SPEC.name)).count() == 2

    # a NEW epoch with a later ts appends normally
    b2 = spark.createDataFrame(
        [(1, ts(5), 120, 55, 110, 12, 220)], SPEC.staging_schema
    )
    process_staged_batch(wh, SPEC, b2, epoch_id=8, marker_dir=marker_dir)
    assert wh.read(Warehouse.current(SPEC.name)).count() == 3


def test_stateful_sessionize_late_event_joins_open_session(spark):
    """A late (out-of-order) event from a later micro-batch that falls
    inside the open session must JOIN it (bounds extend via min/max) —
    moving last_ts backward would split the session and emit a
    regressed end, diverging from the batch twin."""
    from powa_archivist_spark.streaming.sessionize import (
        sessionize_batch,
        stream_sessionize,
    )

    schema = "user_id long, ts timestamp, event_id long"
    landing = tempfile.mkdtemp(prefix="slate_")
    out = tempfile.mkdtemp(prefix="soutl_")
    ckpt = tempfile.mkdtemp(prefix="sckptl_")

    # batch 1: event at 12:15; batch 2: LATE 12:00 + 12:40 (gap 30min)
    spark.createDataFrame([(1, ts(15), 1)], schema).coalesce(1).write.parquet(
        landing + "/b0"
    )
    q = stream_sessionize(spark, landing + "/*",
                          spark.createDataFrame([], schema).schema, ckpt, out,
                          gap_s=1800)
    q.awaitTermination(300)
    spark.createDataFrame(
        [(1, ts(0), 2), (1, ts(40), 3)], schema
    ).coalesce(1).write.parquet(landing + "/b1")
    q = stream_sessionize(spark, landing + "/*",
                          spark.createDataFrame([], schema).schema, ckpt, out,
                          gap_s=1800)
    q.awaitTermination(300)
    # true ordered sequence 12:00,12:15,12:40 has max gap 25min = ONE
    # session, still OPEN -> nothing emitted
    import os
    closed = (
        spark.read.parquet(out).collect()
        if any(f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs)
        else []
    )
    assert closed == []

    # an event an hour later closes it: the emitted session must span
    # the LATE start through 12:40 with all 3 events
    late_close = ts(59) + datetime.timedelta(minutes=51)
    spark.createDataFrame([(1, late_close, 4)], schema).coalesce(1).write.parquet(
        landing + "/b2"
    )
    q = stream_sessionize(spark, landing + "/*",
                          spark.createDataFrame([], schema).schema, ckpt, out,
                          gap_s=1800)
    q.awaitTermination(300)
    (s,) = spark.read.parquet(out).collect()
    assert s.n_events == 3
    assert s.session_start == ts(0).replace(tzinfo=None)
    assert s.session_end == ts(40).replace(tzinfo=None)
    # batch twin agrees on the full dataset
    full = spark.createDataFrame(
        [(1, ts(15), 1), (1, ts(0), 2), (1, ts(40), 3), (1, late_close, 4)],
        schema,
    )
    rows = {r.session_idx: r.n_events
            for r in sessionize_batch(full, gap_s=1800).collect()}
    assert rows == {1: 3, 2: 1}


def test_split_snapshot_across_epochs_converges(spark, wh):
    """One snapshot ts whose rows arrive in TWO micro-batches (file-split
    epochs): the second epoch must append the remaining entities — a
    slice delete or a ts-keyed anti-join would discard or skip the other
    half — and the per-db rollup must hold ONE full sum per (dbid, ts),
    not two half-sums."""
    import tempfile

    from powa_archivist_spark.specs import USER_FUNCTIONS
    from powa_archivist_spark.streaming.ingest import process_staged_batch

    marker_dir = tempfile.mkdtemp(prefix="markers_")
    spec = USER_FUNCTIONS
    # snapshot at ts(0): three functions in db 10, split 2 + 1
    e0 = spark.createDataFrame(
        [(1, ts(0), 10, 701, 5, 1.0, 0.5),
         (1, ts(0), 10, 702, 7, 2.0, 1.0)],
        spec.staging_schema,
    )
    e1 = spark.createDataFrame(
        [(1, ts(0), 10, 703, 11, 4.0, 2.0)], spec.staging_schema
    )
    process_staged_batch(wh, spec, e0, epoch_id=0, marker_dir=marker_dir)
    process_staged_batch(wh, spec, e1, epoch_id=1, marker_dir=marker_dir)

    cur = wh.read(Warehouse.current(spec.name)).collect()
    assert sorted(r.funcid for r in cur) == [701, 702, 703]
    db = wh.read(Warehouse.current_db(spec.name)).collect()
    assert len(db) == 1  # one rollup row, not two half-sums
    assert db[0].calls == 5 + 7 + 11

    # replay of the second epoch without its marker converges too
    import os
    os.remove(os.path.join(marker_dir, "epoch-1.done"))
    process_staged_batch(wh, spec, e1, epoch_id=1, marker_dir=marker_dir)
    assert wh.read(Warehouse.current(spec.name)).count() == 3
    db = wh.read(Warehouse.current_db(spec.name)).collect()
    assert len(db) == 1 and db[0].calls == 23


def test_stream_ingest_exactly_once(spark, wh):
    landing = tempfile.mkdtemp(prefix="landing_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    root = os.path.join(landing, "drops")
    os.makedirs(root)

    # srvid 1 and 2 in one drop — per-server dispatch inside the batch
    _drop(spark, root, "b0", [
        (1, ts(0), 110, 50, 105, 10, 200),
        (2, ts(0), 210, 50, 205, 10, 400),
    ])
    q = ingest_stream(wh, SPEC, root + "/*", ckpt)
    drain(q)
    cur = wh.read(Warehouse.current(SPEC.name))
    assert cur.count() == 2
    assert {r.srvid for r in cur.select("srvid").collect()} == {1, 2}

    # second drop: only the new file is processed
    _drop(spark, root, "b1", [(1, ts(5), 120, 55, 110, 12, 220)])
    q = ingest_stream(wh, SPEC, root + "/*", ckpt)
    drain(q)
    assert wh.read(Warehouse.current(SPEC.name)).count() == 3

    # re-run with NO new data: checkpoint prevents any reprocessing
    q = ingest_stream(wh, SPEC, root + "/*", ckpt)
    drain(q)
    cur = wh.read(Warehouse.current(SPEC.name))
    assert cur.count() == 3
    # per-srvid series intact and usable by the read operators
    s1 = cur.filter(F.col("srvid") == 1).orderBy("ts").collect()
    assert [r.buffers_alloc for r in s1] == [200, 220]


def test_stream_ingest_json_format(spark, wh):
    """The streaming ingest accepts JSON landing drops with the staging
    schema applied at the reader — same contract as parquet."""
    import json as jsonlib

    landing = tempfile.mkdtemp(prefix="jlanding_")
    ckpt = tempfile.mkdtemp(prefix="jckpt_")
    names = [f.name for f in SPEC.staging_schema.fields]
    rows = [(1, ts(0), 110, 50, 105, 10, 200),
            (1, ts(5), 120, 55, 110, 12, 220)]
    with open(os.path.join(landing, "drop.json"), "w") as f:
        for r in rows:
            f.write(jsonlib.dumps({
                n: (v.isoformat() if n == "ts" else v)
                for n, v in zip(names, r)
            }) + "\n")
    q = ingest_stream(wh, SPEC, landing, ckpt, fmt="json")
    drain(q)
    cur = wh.read(Warehouse.current(SPEC.name)).orderBy("ts").collect()
    assert [r.buffers_clean for r in cur] == [110, 120]
    assert dict(wh.read(Warehouse.current(SPEC.name)).dtypes)["ts"] == "timestamp"


def test_stream_exact_dedup_ledger(spark, wh):
    """Cross-batch exact dedup via the digest ledger: batch 2's replica
    of a batch-1 doc is dropped; in-batch dups resolve to min id; a new
    text passes.  Matches pipeline.dedup.exact_dedup's keep-set."""
    from powa_archivist_spark.streaming.dedup import (
        stream_exact_dedup_ledger,
    )

    schema = "doc_id long, ts timestamp, text string"
    landing = tempfile.mkdtemp(prefix="dlanding_")
    ckpt = tempfile.mkdtemp(prefix="dckpt_")

    b1 = spark.createDataFrame(
        [(0, ts(0), "alpha beta gamma"),
         (1, ts(1), "ALPHA  beta gamma"),   # normalized dup of 0, same batch
         (2, ts(2), "wholly different text")],
        schema,
    )
    b1.coalesce(1).write.parquet(os.path.join(landing, "b1"))
    q = stream_exact_dedup_ledger(
        spark, landing + "/*", b1.schema, ckpt, wh, sink_table="corpus_docs"
    )
    q.awaitTermination(60)
    kept = sorted(r.doc_id for r in wh.read("corpus_docs").collect())
    assert kept == [0, 2]

    b2 = spark.createDataFrame(
        [(3, ts(3), "alpha beta gamma"),    # cross-batch dup -> dropped
         (4, ts(4), "fresh new content")],
        schema,
    )
    b2.coalesce(1).write.parquet(os.path.join(landing, "b2"))
    q = stream_exact_dedup_ledger(
        spark, landing + "/*", b1.schema, ckpt, wh, sink_table="corpus_docs"
    )
    q.awaitTermination(60)
    kept = sorted(r.doc_id for r in wh.read("corpus_docs").collect())
    assert kept == [0, 2, 4]


def test_stream_exact_dedup_watermark(spark):
    """dropDuplicatesWithinWatermark form: one stateful operator, dups
    within the horizon suppressed (batch-mode smoke via availableNow)."""
    from powa_archivist_spark.streaming.dedup import stream_exact_dedup

    schema = "doc_id long, ts timestamp, text string"
    landing = tempfile.mkdtemp(prefix="wdlanding_")
    ckpt = tempfile.mkdtemp(prefix="wdckpt_")
    out = tempfile.mkdtemp(prefix="wdout_")
    df = spark.createDataFrame(
        [(0, ts(0), "one two three"),
         (1, ts(1), "one  TWO three"),      # dup within horizon
         (2, ts(2), "other words here")],
        schema,
    )
    df.coalesce(1).write.parquet(os.path.join(landing, "b0"))
    stream = (
        spark.readStream.schema(df.schema).parquet(landing + "/*")
    )
    q = (
        stream_exact_dedup(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert len(got) == 2 and 2 in got  # one survivor of {0,1}, plus 2


def test_stream_near_dup_ledger(spark, wh):
    """Cross-batch NEAR-dup dedup: batch 2 carries (a) a near-dup of a
    kept batch-1 doc -> dropped via the bands ledger + shingle verify,
    (b) a genuinely new doc -> kept; in-batch near-dups resolve min-id."""
    from powa_archivist_spark.streaming.dedup import stream_near_dup_ledger

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different words entirely unrelated content here now ok"
    schema = "doc_id long, ts timestamp, text string"
    landing = tempfile.mkdtemp(prefix="ndlanding_")
    ckpt = tempfile.mkdtemp(prefix="ndckpt_")

    b1 = spark.createDataFrame(
        [(0, ts(0), base),
         (1, ts(1), base + " x"),   # in-batch near dup of 0 -> dropped
         (2, ts(2), other)],
        schema,
    )
    b1.coalesce(1).write.parquet(os.path.join(landing, "b1"))
    q = stream_near_dup_ledger(
        spark, landing + "/*", b1.schema, ckpt, wh, sink_table="nd_docs"
    )
    q.awaitTermination(120)
    assert sorted(r.doc_id for r in wh.read("nd_docs").collect()) == [0, 2]

    b2 = spark.createDataFrame(
        [(3, ts(3), base + " y"),   # near dup of KEPT 0 (jaccard 10/11)
         (4, ts(4), "fresh content that matches nothing else at all yes")],
        schema,
    )
    b2.coalesce(1).write.parquet(os.path.join(landing, "b2"))
    q = stream_near_dup_ledger(
        spark, landing + "/*", b1.schema, ckpt, wh, sink_table="nd_docs"
    )
    q.awaitTermination(120)
    assert sorted(r.doc_id for r in wh.read("nd_docs").collect()) == [0, 2, 4]


def test_stream_interval_join_matches_batch(spark):
    """Stream-stream range join: the live path emits exactly the pairs
    the batch twin computes, and only pairs inside the attribution
    window; both sides' watermarks bound state."""
    from powa_archivist_spark.streaming.joins import (
        interval_join_streams,
        stream_interval_join,
    )

    def tm(minutes: int):
        return ts(0) + datetime.timedelta(minutes=minutes)

    schema = "user_id long, event_id long, ts timestamp"
    views = [(1, 10, tm(0)), (1, 11, tm(40)), (2, 12, tm(0))]
    clicks = [
        (1, 20, tm(5)),     # inside view 10's hour
        (1, 21, tm(45)),    # inside BOTH 10 and 11
        (2, 22, tm(70)),    # outside view 12's hour -> no pair
    ]
    vdf = spark.createDataFrame(views, schema)
    cdf = spark.createDataFrame(clicks, schema)

    expected = {(r.view_id, r.click_id) for r in
                interval_join_streams(vdf, cdf).collect()}
    assert expected == {(10, 20), (10, 21), (11, 21)}

    vdir = tempfile.mkdtemp(prefix="sj_v_")
    cdir = tempfile.mkdtemp(prefix="sj_c_")
    out = tempfile.mkdtemp(prefix="sj_out_")
    ckpt = tempfile.mkdtemp(prefix="sj_ck_")
    vdf.coalesce(1).write.mode("overwrite").parquet(vdir + "/b0")
    cdf.coalesce(1).write.mode("overwrite").parquet(cdir + "/b0")
    q = stream_interval_join(
        spark, vdir + "/*", cdir + "/*",
        spark.createDataFrame([], schema).schema, ckpt, out,
    )
    q.awaitTermination(300)
    got = {(r.view_id, r.click_id) for r in spark.read.parquet(out).collect()}
    assert got == expected


def test_stream_interval_left_outer_flushes_unmatched(spark):
    """Left-outer stream-stream join: views with no click in their
    window emit null-click rows once the watermark passes the window
    end; a sentinel batch far in the future pushes the watermark so the
    flush happens before the query stops."""
    from powa_archivist_spark.streaming.joins import (
        interval_join_streams,
        stream_interval_join,
    )

    def tm(minutes: int):
        return ts(0) + datetime.timedelta(minutes=minutes)

    schema = "user_id long, event_id long, ts timestamp"
    views = [(1, 10, tm(0)), (2, 12, tm(0))]
    clicks = [(1, 20, tm(5))]          # user 2's view never converts
    vdf = spark.createDataFrame(views, schema)
    cdf = spark.createDataFrame(clicks, schema)

    batch = {(r.view_id, r.click_id) for r in
             interval_join_streams(vdf, cdf, how="left_outer").collect()}
    assert batch == {(10, 20), (12, None)}

    vdir = tempfile.mkdtemp(prefix="soj_v_")
    cdir = tempfile.mkdtemp(prefix="soj_c_")
    out = tempfile.mkdtemp(prefix="soj_out_")
    ckpt = tempfile.mkdtemp(prefix="soj_ck_")
    vdf.coalesce(1).write.parquet(vdir + "/b0")
    cdf.coalesce(1).write.parquet(cdir + "/b0")
    # sentinel events 10 hours on: advance both watermarks past the
    # b0 windows in a SECOND micro-batch (maxFilesPerTrigger=1)
    spark.createDataFrame([(9, 98, tm(600))], schema) \
        .coalesce(1).write.parquet(vdir + "/b1")
    spark.createDataFrame([(9, 99, tm(600))], schema) \
        .coalesce(1).write.parquet(cdir + "/b1")
    q = stream_interval_join(
        spark, vdir + "/*", cdir + "/*",
        spark.createDataFrame([], schema).schema, ckpt, out,
        how="left_outer", max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    got = {(r.view_id, r.click_id) for r in spark.read.parquet(out).collect()}
    assert {(10, 20), (12, None)} <= got


def test_stateful_sessionize_too_old_event_splits(spark):
    """ADVICE r4: a late event OLDER than session_start - gap must not
    merge into the open session — in true order it is a separate,
    earlier session.  It must be emitted as its own CLOSED session,
    matching the batch twin's two-session answer."""
    from powa_archivist_spark.streaming.sessionize import (
        sessionize_batch,
        stream_sessionize,
    )

    schema = "user_id long, ts timestamp, event_id long"
    landing = tempfile.mkdtemp(prefix="ssplit_")
    out = tempfile.mkdtemp(prefix="ssplit_out_")
    ckpt = tempfile.mkdtemp(prefix="ssplit_ck_")

    # batch 1 opens a session at 13:00; batch 2 delivers a LATE event at
    # 12:00 (gap 30 min -> 60 min older than the open start: too old)
    t_open = ts(0) + datetime.timedelta(minutes=60)
    spark.createDataFrame([(1, t_open, 1)], schema).coalesce(1).write.parquet(
        landing + "/b0"
    )
    q = stream_sessionize(spark, landing + "/*",
                          spark.createDataFrame([], schema).schema, ckpt, out,
                          gap_s=1800)
    q.awaitTermination(300)
    spark.createDataFrame([(1, ts(0), 2)], schema).coalesce(1).write.parquet(
        landing + "/b1"
    )
    q = stream_sessionize(spark, landing + "/*",
                          spark.createDataFrame([], schema).schema, ckpt, out,
                          gap_s=1800)
    q.awaitTermination(300)

    closed = (
        spark.read.parquet(out).collect()
        if any(f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs)
        else []
    )
    # the late singleton is emitted closed; the 13:00 session stays open
    assert [(r.session_start, r.session_end, r.n_events) for r in closed] == [
        (ts(0).replace(tzinfo=None), ts(0).replace(tzinfo=None), 1)
    ]

    # batch twin agrees: two sessions on the full data
    full = spark.createDataFrame([(1, t_open, 1), (1, ts(0), 2)], schema)
    rows = {r.session_idx: r.n_events
            for r in sessionize_batch(full, gap_s=1800).collect()}
    assert rows == {1: 1, 2: 1}


def test_streaming_statements_ingest_feeds_dictionary(spark, wh):
    """Round-5 gap fix: a statements landing drop streamed through
    ingest must ALSO populate the query-text dictionary — the landing
    rows carry the `query` column the history tables drop, and losing
    it would strand every streamed corpus without query text.  Replay
    of the same epoch must not duplicate history rows."""
    from powa_archivist_spark.operators import dictionary
    from powa_archivist_spark.sources.readers import shim_to_schema
    from powa_archivist_spark.specs import STATEMENTS
    from powa_archivist_spark.streaming.ingest import process_staged_batch

    marker_dir = tempfile.mkdtemp(prefix="stmk_")
    small = spark.createDataFrame(
        [(1, ts(0), 100, 10, True, 5, "SELECT a", 3, 1.5),
         (1, ts(0), 101, 10, True, 5, "SELECT b", 2, 0.5)],
        "srvid int, ts timestamp, queryid long, dbid long, toplevel boolean, "
        "userid long, query string, calls long, total_exec_time double",
    )
    batch = shim_to_schema(small, STATEMENTS.staging_schema)

    process_staged_batch(wh, STATEMENTS, batch, epoch_id=3,
                         marker_dir=marker_dir)
    assert wh.read(Warehouse.current(STATEMENTS.name)).count() == 2
    d = {r.queryid: r.query
         for r in dictionary.read_statements(wh, 1).collect()}
    assert d == {100: "SELECT a", 101: "SELECT b"}

    # marker short-circuit: identical epoch replays to a no-op
    process_staged_batch(wh, STATEMENTS, batch, epoch_id=3,
                         marker_dir=marker_dir)
    assert wh.read(Warehouse.current(STATEMENTS.name)).count() == 2
    # markerless replay (crash before marker): anti-join converges and
    # the dictionary merge is a fixpoint
    process_staged_batch(wh, STATEMENTS, batch, epoch_id=4,
                         marker_dir=marker_dir)
    assert wh.read(Warehouse.current(STATEMENTS.name)).count() == 2
    d = {r.queryid: r.query
         for r in dictionary.read_statements(wh, 1).collect()}
    assert d == {100: "SELECT a", 101: "SELECT b"}


def test_near_dup_ledger_chain_divergence_is_pinned(spark, wh):
    """The one semantic divergence between the streaming ledger and the
    batch pair-rule keep list, pinned explicitly: chain a~b, b~c, a!~c
    with a<b<c split across batches.  Batch (pair rule) drops BOTH b
    (pair a-b) and c (pair b-c, even though b itself was dropped).  The
    streaming ledger only dedups against KEPT docs, so c — arriving
    after b was dropped — survives.  Neither answer is wrong (greedy
    near-dup keep is order-defined); what matters is that each path's
    rule is deterministic and documented."""
    from powa_archivist_spark.pipeline.dedup import minhash_dedup_pairs
    from powa_archivist_spark.streaming.dedup import process_near_dup_batch

    toks = [f"tok{i:02d}" for i in range(50)]
    a_toks = list(toks)
    b_toks = list(toks); b_toks[10] = "CHANGED_B"
    c_toks = list(b_toks); c_toks[40] = "CHANGED_C"
    docs = spark.createDataFrame(
        [(1, " ".join(a_toks)), (2, " ".join(b_toks)), (3, " ".join(c_toks))],
        "doc_id long, text string",
    )

    # batch rule: pair list has (1,2) and (2,3) but not (1,3)
    pairs = {(r.a_id, r.b_id)
             for r in minhash_dedup_pairs(docs, threshold=0.8).collect()}
    assert pairs == {(1, 2), (2, 3)}
    # pair-rule keep list = {1}
    dropped = {b for _, b in pairs}
    assert set(range(1, 4)) - dropped == {1}

    # streaming: batch0 = {a, b}, batch1 = {c} -> keeps {1, 3}
    process_near_dup_batch(wh, docs.filter("doc_id <= 2"), "chain_sink",
                           threshold=0.8)
    process_near_dup_batch(wh, docs.filter("doc_id = 3"), "chain_sink",
                           threshold=0.8)
    kept = sorted(r.doc_id for r in wh.read("chain_sink").collect())
    assert kept == [1, 3]


def test_stateful_sessionize_bridged_late_chain_merges(spark):
    """Code-review r5 regression: late events [12:25, 12:50] against an
    open session starting 13:00 (gap 30 min).  12:25 is too old on its
    own, but 12:50 bridges it through to the open session — true order
    12:25, 12:50, 13:00 has max gap 25 min = ONE session.  Nothing may
    be emitted closed."""
    from powa_archivist_spark.streaming.sessionize import (
        sessionize_batch,
        stream_sessionize,
    )

    schema = "user_id long, ts timestamp, event_id long"
    landing = tempfile.mkdtemp(prefix="sbrg_")
    out = tempfile.mkdtemp(prefix="sbrg_out_")
    ckpt = tempfile.mkdtemp(prefix="sbrg_ck_")

    t_open = ts(0) + datetime.timedelta(minutes=60)   # 13:00
    t_mid = ts(0) + datetime.timedelta(minutes=50)    # 12:50
    t_old = ts(25)                                    # 12:25
    spark.createDataFrame([(1, t_open, 1)], schema).coalesce(1).write.parquet(
        landing + "/b0"
    )
    q = stream_sessionize(spark, landing + "/*",
                          spark.createDataFrame([], schema).schema, ckpt, out,
                          gap_s=1800)
    q.awaitTermination(300)
    spark.createDataFrame(
        [(1, t_old, 2), (1, t_mid, 3)], schema
    ).coalesce(1).write.parquet(landing + "/b1")
    q = stream_sessionize(spark, landing + "/*",
                          spark.createDataFrame([], schema).schema, ckpt, out,
                          gap_s=1800)
    q.awaitTermination(300)
    closed = (
        spark.read.parquet(out).collect()
        if any(f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs)
        else []
    )
    assert closed == []  # one bridged session, still open

    # close it and check the span covers the bridged chain
    t_late = t_open + datetime.timedelta(minutes=40)
    spark.createDataFrame([(1, t_late, 4)], schema).coalesce(1).write.parquet(
        landing + "/b2"
    )
    q = stream_sessionize(spark, landing + "/*",
                          spark.createDataFrame([], schema).schema, ckpt, out,
                          gap_s=1800)
    q.awaitTermination(300)
    (s,) = spark.read.parquet(out).collect()
    assert (s.session_start, s.session_end, s.n_events) == (
        t_old.replace(tzinfo=None), t_open.replace(tzinfo=None), 3
    )
    # batch twin agrees
    full = spark.createDataFrame(
        [(1, t_open, 1), (1, t_old, 2), (1, t_mid, 3), (1, t_late, 4)], schema
    )
    rows = {r.session_idx: r.n_events
            for r in sessionize_batch(full, gap_s=1800).collect()}
    assert rows == {1: 3, 2: 1}

def test_near_dup_ledger_cache_survives_restart(spark, wh):
    """r6 code review: a fresh NearDupLedger over an existing parquet
    ledger must fold the on-disk baseline into its cache — otherwise
    batches after the restart dedup only against post-restart deltas
    and re-admit near-dups of the pre-restart corpus."""
    from powa_archivist_spark.streaming.dedup import (
        NearDupLedger,
        process_near_dup_batch,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different words entirely unrelated content here now ok"
    third = "some fresh middle content that stands completely alone here too"
    schema = "doc_id long, text string"

    # pre-restart run: keeps 0 and 1
    led1 = NearDupLedger()
    process_near_dup_batch(
        wh, spark.createDataFrame([(0, base), (1, other)], schema),
        "nd_sink", ledger=led1,
    )
    led1.close()

    # restart: fresh cache object, same warehouse
    led2 = NearDupLedger()
    # batch A: new doc (keeps cache on the delta-only path if unseeded)
    process_near_dup_batch(
        wh, spark.createDataFrame([(2, third)], schema),
        "nd_sink", ledger=led2,
    )
    # batch B: near-dup of PRE-restart doc 0 -> must be dropped
    process_near_dup_batch(
        wh, spark.createDataFrame([(3, base + " x")], schema),
        "nd_sink", ledger=led2,
    )
    led2.close()
    kept = sorted(r.doc_id for r in wh.read("nd_sink").collect())
    assert kept == [0, 1, 2], kept

def test_near_dup_batch_commit_is_atomic_and_replay_idempotent(spark, wh):
    """The near-dup sink append and its bands+shingles ledger append
    commit through ONE manifest: a crash before the commit point leaves
    neither table (and the ledger cache untouched), a crash after it
    shows readers both, and the replay of that batch adds no sink row
    (the healed ledger already holds every doc of the batch)."""
    from powa_archivist_spark import txn as txn_mod
    from powa_archivist_spark.streaming.dedup import (
        NEAR_DUP_LEDGER_TABLE,
        NearDupLedger,
        process_near_dup_batch,
    )
    from powa_archivist_spark.txn import StagedPass

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different words entirely unrelated content here now ok"
    batch = spark.createDataFrame(
        [(0, base), (1, other), (2, base + " x")], "doc_id long, text string"
    )
    led = NearDupLedger()

    class Boom(RuntimeError):
        pass

    # (a) crash before the manifest rename: NOTHING visible
    real_publish = StagedPass.publish
    StagedPass.publish = lambda self: (_ for _ in ()).throw(Boom())
    try:
        with pytest.raises(Boom):
            process_near_dup_batch(wh, batch, "nd_sink", ledger=led)
    finally:
        StagedPass.publish = real_publish
    assert not wh.exists("nd_sink")
    assert not wh.exists(NEAR_DUP_LEDGER_TABLE)
    assert led.combined is None

    # (b) crash after the commit point (zero ops folded): readers see
    # BOTH tables; the cache still waits for a published pass
    real_apply = txn_mod._apply_ops
    txn_mod._apply_ops = lambda w, ops: (_ for _ in ()).throw(Boom())
    try:
        with pytest.raises(Boom):
            process_near_dup_batch(wh, batch, "nd_sink", ledger=led)
    finally:
        txn_mod._apply_ops = real_apply
    assert sorted(r.doc_id for r in wh.read("nd_sink").collect()) == [0, 1]
    assert wh.read(NEAR_DUP_LEDGER_TABLE).count() > 0
    assert led.combined is None

    # (c) replay of the batch: recovery completes the pass, every doc
    # near-dups its own ledger row — no sink row is re-admitted
    process_near_dup_batch(wh, batch, "nd_sink", ledger=led)
    assert sorted(r.doc_id for r in wh.read("nd_sink").collect()) == [0, 1]


def test_stream_curation_pipeline(spark, wh):
    """Streaming curation e2e (gate -> cross-batch exact dedup -> split
    -> sink, rejects ledgered with reasons) through the real streaming
    runtime with epoch markers."""
    from powa_archivist_spark.streaming.curation import (
        REJECT_TABLE,
        stream_curation,
    )

    good = " ".join(f"tok{i}" for i in range(30))
    good2 = " ".join(f"w{i}" for i in range(25))
    schema = "doc_id long, ts timestamp, text string, lang string"
    landing = tempfile.mkdtemp(prefix="curlanding_")
    ckpt = tempfile.mkdtemp(prefix="curckpt_")

    b1 = spark.createDataFrame(
        [(0, ts(0), good, "en"),
         (1, ts(1), "tiny doc", "en"),          # gated: too_short
         (2, ts(2), good2, "en")],
        schema,
    )
    b1.coalesce(1).write.parquet(os.path.join(landing, "b1"))
    q = stream_curation(spark, landing + "/*", b1.schema, ckpt, wh,
                        sink_table="curated",
                        thresholds={"min_tokens": 20})
    q.awaitTermination(60)
    got = {r.doc_id: r.split for r in wh.read("curated").collect()}
    assert set(got) == {0, 2}
    assert all(s in ("train", "val", "test") for s in got.values())
    rejects = {r.doc_id: list(r.reasons)
               for r in wh.read(REJECT_TABLE).collect()}
    assert rejects == {1: ["too_short"]}

    b2 = spark.createDataFrame(
        [(3, ts(3), good.upper(), "en"),        # cross-batch dup of 0
         (4, ts(4), " ".join(f"x{i}" for i in range(22)), "en")],
        schema,
    )
    b2.coalesce(1).write.parquet(os.path.join(landing, "b2"))
    q = stream_curation(spark, landing + "/*", b1.schema, ckpt, wh,
                        sink_table="curated",
                        thresholds={"min_tokens": 20})
    q.awaitTermination(60)
    assert sorted(r.doc_id for r in wh.read("curated").collect()) == [0, 2, 4]


def test_curation_batch_commit_is_atomic_and_replay_idempotent(spark, wh):
    """r7 (ADVICE r6): sink + digest-ledger + reject appends of one
    micro-batch commit through ONE manifest.  Crash before the manifest
    -> none visible, clean replay; crash mid-fold -> ALL visible to
    readers already; epoch replay of a fully-published batch
    short-circuits (no duplicate rejects, no duplicate sink rows)."""
    from powa_archivist_spark import txn as txn_mod
    from powa_archivist_spark.streaming.curation import (
        REJECT_TABLE,
        process_curation_batch,
    )
    from powa_archivist_spark.streaming.dedup import LEDGER_TABLE
    from powa_archivist_spark.txn import StagedPass

    good = " ".join(f"tok{i}" for i in range(30))
    schema = "doc_id long, text string"
    batch = spark.createDataFrame(
        [(0, good), (1, "tiny doc")], schema
    )
    thr = {"min_tokens": 20}

    class Boom(RuntimeError):
        pass

    # (a) crash before the manifest rename: NOTHING visible
    real_publish = StagedPass.publish
    StagedPass.publish = lambda self: (_ for _ in ()).throw(Boom())
    try:
        process_curation_batch(wh, batch, "cur_sink", thr,
                               epoch_id=0, stream_gen="g1")
    except Boom:
        pass
    finally:
        StagedPass.publish = real_publish
    assert not wh.exists("cur_sink")
    assert not wh.exists(LEDGER_TABLE)
    assert not wh.exists(REJECT_TABLE)

    # (b) crash mid-fold (manifest committed, zero ops folded): readers
    # see ALL three sinks
    real_apply = txn_mod._apply_ops
    txn_mod._apply_ops = lambda w, ops: (_ for _ in ()).throw(Boom())
    try:
        process_curation_batch(wh, batch, "cur_sink", thr,
                               epoch_id=0, stream_gen="g1")
    except Boom:
        pass
    finally:
        txn_mod._apply_ops = real_apply
    assert sorted(r.doc_id for r in wh.read("cur_sink").collect()) == [0]
    assert wh.read(LEDGER_TABLE).count() == 1
    rejects = wh.read(REJECT_TABLE).collect()
    assert [(r.doc_id, list(r.reasons)) for r in rejects] == [(1, ["too_short"])]

    # (c) epoch replay of the fully-published batch: short-circuits
    process_curation_batch(wh, batch, "cur_sink", thr,
                           epoch_id=0, stream_gen="g1")
    assert wh.read("cur_sink").count() == 1
    assert wh.read(REJECT_TABLE).count() == 1, "duplicate reject rows"

    # (d) a NEW stream generation reusing epoch 0 is NOT skipped: the
    # gate re-rejects doc 1 (new reject row), the ledger drops doc 0
    process_curation_batch(wh, batch, "cur_sink", thr,
                           epoch_id=0, stream_gen="g2")
    assert wh.read("cur_sink").count() == 1          # dedup held
    assert wh.read(REJECT_TABLE).count() == 2        # audit row per gen


def test_curation_replay_check_survives_pre_r7_reject_schema(spark, wh):
    """r8 (ADVICE r7): a reject table written BEFORE the epoch/
    stream_gen columns existed must not break the replay short-circuit
    — inference over the mixed files could surface the old two-column
    shape and make the F.col('epoch') filter raise on every batch.  The
    declared reader schema surfaces old files as null epoch/gen (never
    matching a replay key) and keeps the epoch gate exact."""
    from powa_archivist_spark.streaming.curation import (
        REJECT_TABLE,
        process_curation_batch,
    )

    # pre-r7 ledger shape: (doc_id, reasons) only
    old = spark.createDataFrame(
        [(99, ["too_short"])], "doc_id long, reasons array<string>"
    )
    wh.append(old, REJECT_TABLE)

    good = " ".join(f"tok{i}" for i in range(30))
    batch = spark.createDataFrame(
        [(0, good), (1, "tiny doc")], "doc_id long, text string"
    )
    thr = {"min_tokens": 20}
    process_curation_batch(wh, batch, "old_sink", thr,
                           epoch_id=0, stream_gen="g1")
    assert sorted(r.doc_id for r in wh.read("old_sink").collect()) == [0]
    # replay of the published epoch still short-circuits exactly
    process_curation_batch(wh, batch, "old_sink", thr,
                           epoch_id=0, stream_gen="g1")
    assert wh.read("old_sink").count() == 1
    # old rows intact, new row carries the replay key
    from powa_archivist_spark.streaming.curation import _reject_schema

    rows = {r.doc_id: (r.epoch, r.stream_gen)
            for r in wh.read(REJECT_TABLE,
                             schema=_reject_schema("doc_id")).collect()}
    assert rows[99] == (None, None)
    assert rows[1] == (0, "g1")


def test_bucketed_digest_ledger_dedups_and_plan(spark, wh):
    """r7 (VERDICT r6 task 8): with the digest ledger stored BUCKETED on
    text_hash, the per-batch anti-join reads the ledger side with ZERO
    Exchange (only the batch shuffles into the ledger's bucketing) —
    plan-pinned — and cross-batch dedup semantics are unchanged.  The
    staged bucketed append commits under the same pass manifest."""
    from powa_archivist_spark.plans import inspect as pi
    from powa_archivist_spark.streaming.dedup import (
        BucketedDigestLedger,
        dedup_batch_survivors,
        process_dedup_batch,
    )

    dl = BucketedDigestLedger(wh, table="led_bkt_t", n_buckets=8)
    try:
        schema = "doc_id long, text string"
        b1 = spark.createDataFrame(
            [(0, "alpha beta"), (1, "gamma delta"), (2, "ALPHA  beta")],
            schema,
        )
        process_dedup_batch(wh, b1, "bkt_sink", digest_ledger=dl)
        assert sorted(r.doc_id for r in wh.read("bkt_sink").collect()) == [0, 1]
        assert dl.read().count() == 2

        b2 = spark.createDataFrame(
            [(3, "alpha beta"), (4, "epsilon zeta")], schema
        )
        # plan pin: the anti-join's LEDGER side scans the bucketed table
        # with NO Exchange between the scan and the join — only the
        # batch side shuffles into the ledger's bucketing
        import re

        surv = dedup_batch_survivors(wh, b2, digest_ledger=dl)
        plan = pi.plan_string(surv)
        assert "Bucketed: true" in plan
        tree = plan.split("\n\n")[0].splitlines()
        scan_i = next(i for i, ln in enumerate(tree)
                      if "led_bkt_t" in ln and "Scan" in ln)

        def _depth(ln: str) -> int:
            return re.match(r"^[\s:+\-]*", ln).end()

        d = _depth(tree[scan_i])
        ancestors = []
        for ln in reversed(tree[:scan_i]):
            dd = _depth(ln)
            if dd < d:
                ancestors.append(ln)
                d = dd
                if "LeftAnti" in ln:
                    break
        assert any("LeftAnti" in ln for ln in ancestors), ancestors
        assert not any("Exchange" in ln for ln in ancestors), (
            "Exchange on the bucketed ledger side", ancestors
        )

        process_dedup_batch(wh, b2, "bkt_sink", digest_ledger=dl)
        assert sorted(r.doc_id for r in wh.read("bkt_sink").collect()) == [0, 1, 4]
        assert dl.read().count() == 3
        # staged catalog leftovers are consumed
        assert not [t.name for t in spark.catalog.listTables()
                    if t.name.startswith("led_bkt_t__stage_")]
    finally:
        from powa_archivist_spark.layout import drop_table

        for t in spark.catalog.listTables():
            if t.name.startswith("led_bkt_t"):
                drop_table(spark, t.name)


def test_hll_profile_equals_batch_sketch_and_replay_safe(spark, wh):
    """The at-rest register table folded batch-by-batch yields the SAME
    estimate as the one-pass batch sketch (MAX-merge associativity),
    and re-processing a batch (crash replay) cannot inflate it
    (idempotence)."""
    from pyspark.sql import functions as F
    from powa_archivist_spark.pipeline import sketches
    from powa_archivist_spark.streaming.profile import (
        HLL_TABLE,
        hll_profile,
        process_hll_batch,
    )

    rows = [("a", i) for i in range(3000)] + [("b", i) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, k long")
    for b in range(3):
        process_hll_batch(wh, df.filter(F.col("k") % 3 == b), "k", ["g"])
    streamed = {r.g: r.est_distinct for r in
                hll_profile(wh, ["g"]).collect()}
    batch = {r.g: r.est_distinct for r in
             sketches.hll_distinct(df, "k", ["g"]).collect()}
    assert streamed == batch
    # register table is bounded: <= 512 rows per group
    assert wh.read(HLL_TABLE).groupBy("g").count().agg(
        F.max("count")).collect()[0][0] <= 512
    # replay batch 0: idempotent merge, estimates unchanged
    process_hll_batch(wh, df.filter(F.col("k") % 3 == 0), "k", ["g"])
    assert {r.g: r.est_distinct for r in
            hll_profile(wh, ["g"]).collect()} == streamed


def test_stream_hll_profile_runtime(spark, wh):
    """The foreachBatch wrapper through the real streaming runtime with
    epoch markers."""
    import os
    import tempfile

    from powa_archivist_spark.streaming.profile import (
        hll_profile,
        stream_hll_profile,
    )

    schema = "g string, k long"
    landing = tempfile.mkdtemp(prefix="hlllanding_")
    ckpt = tempfile.mkdtemp(prefix="hllckpt_")
    b1 = spark.createDataFrame(
        [("a", i) for i in range(100)], schema
    )
    b1.coalesce(1).write.parquet(os.path.join(landing, "b1"))
    q = stream_hll_profile(spark, landing + "/*", b1.schema, ckpt, wh,
                           "k", ["g"])
    q.awaitTermination(60)
    assert not q.isActive  # availableNow: ends once the landing drains
    est1 = {r.g: r.est_distinct for r in hll_profile(wh, ["g"]).collect()}
    assert 85 < est1["a"] < 115  # ~100 distinct, small-range corrected
    b2 = spark.createDataFrame(
        [("a", i) for i in range(50, 150)], schema  # 50 new keys
    )
    b2.coalesce(1).write.parquet(os.path.join(landing, "b2"))
    q = stream_hll_profile(spark, landing + "/*", b1.schema, ckpt, wh,
                           "k", ["g"])
    q.awaitTermination(60)
    assert not q.isActive  # availableNow: ends once the landing drains
    est2 = {r.g: r.est_distinct for r in hll_profile(wh, ["g"]).collect()}
    assert 130 < est2["a"] < 170  # ~150 distinct after the union


def test_stream_pq_ingest_runtime(spark, wh):
    """r8: the streaming PQ index loop through the real runtime —
    frozen codebook, per-epoch encode+append, batch-equality of the
    at-rest codes table, and replay idempotence (both the epoch-marker
    skip and the manifest-level (gen, epoch) short-circuit)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline.similarity import pq_encode
    from powa_archivist_spark.streaming.pq_ingest import (
        PQ_CODES_TABLE,
        pq_bootstrap,
        pq_codes,
        process_pq_batch,
        stream_pq_ingest,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 40)
    pq_bootstrap(wh, emb.filter(F.col("vec_id") % 4 == 0),
                 m=8, n_codes_target=8)

    landing = tempfile.mkdtemp(prefix="pqlanding_")
    ckpt = tempfile.mkdtemp(prefix="pqckpt_")
    for i, b in enumerate((1, 2)):
        emb.filter(F.col("vec_id") % 4 == b).coalesce(1).write.parquet(
            os.path.join(landing, f"b{i}")
        )
    q = stream_pq_ingest(spark, landing + "/*", emb.schema, ckpt, wh, m=8)
    q.processAllAvailable()
    q.stop()

    streamed = emb.filter(F.col("vec_id") % 4 != 3)
    expect = {
        r.vec_id: r.codes
        for r in pq_encode(streamed, wh.read("pq_codebook"), m=8).collect()
    }
    got = {r.vec_id: r.codes for r in pq_codes(wh).collect()}
    assert got == expect, "at-rest codes must equal batch encode"

    # restart on the same checkpoint: no new files -> no new rows
    n0 = pq_codes(wh).count()
    q = stream_pq_ingest(spark, landing + "/*", emb.schema, ckpt, wh, m=8)
    q.processAllAvailable()
    q.stop()
    assert pq_codes(wh).count() == n0

    # marker-less replay of a published epoch: the (gen, epoch)
    # short-circuit must see the rows and skip the append
    with open(os.path.join(ckpt, "stream_gen.id")) as f:
        gen = f.read().strip()
    process_pq_batch(wh, emb.filter(F.col("vec_id") % 4 == 1),
                     m=8, epoch_id=0, stream_gen=gen)
    assert pq_codes(wh).count() == n0


def test_stream_pq_ingest_fresh_checkpoint_lands_new_vectors(spark, wh):
    """A checkpoint wiped and recreated at the SAME path restarts epoch
    ids at 0: the replay key's generation must change with it, or the
    new run's epoch 0 matches the old run's published epoch 0 and its
    vectors are silently skipped."""
    import shutil

    from powa_archivist_spark.streaming.pq_ingest import (
        pq_bootstrap,
        pq_codes,
        stream_pq_ingest,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("vec_id") < 40)
    pq_bootstrap(wh, emb.filter(F.col("vec_id") % 4 == 0),
                 m=8, n_codes_target=8)
    ckpt = tempfile.mkdtemp(prefix="pqckpt_")
    for run, b in enumerate((1, 2)):
        landing = tempfile.mkdtemp(prefix="pqlanding_")
        emb.filter(F.col("vec_id") % 4 == b).coalesce(1).write.parquet(
            os.path.join(landing, "b"))
        if run:
            shutil.rmtree(ckpt)
            os.makedirs(ckpt)
        q = stream_pq_ingest(spark, landing + "/*", emb.schema, ckpt, wh,
                             m=8)
        q.processAllAvailable()
        q.stop()
    got = {r.vec_id for r in pq_codes(wh).collect()}
    second = {r.vec_id
              for r in emb.filter(F.col("vec_id") % 4 == 2).collect()}
    assert second and second <= got, sorted(second - got)


def test_bm25_postings_ledger_replay_and_one_shot_equality(spark, wh):
    """late r9: the at-rest BM25 postings ledger — a checkpoint-replayed
    epoch is a no-op (disjoint-doc union is not idempotent: a
    duplicated epoch would double its docs' postings and inflate
    n_docs), and the ledger profile equals the one-shot batch BM25
    bit-for-bit, fixed-point score included."""
    from powa_archivist_spark.pipeline import textstats
    from powa_archivist_spark.streaming.retrieval import (
        bm25_profile,
        process_postings_batch,
    )

    words = ["w%d" % (i % 9) for i in range(30)]
    rows = [(i, " ".join(words[(i % 7):(i % 7) + 12])) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for b in range(3):
        assert process_postings_batch(
            wh, df.filter(df.doc_id % 3 == b), b,
            table="bm25_post_t", stats_table="bm25_stats_t",
        )
    base = sorted(map(tuple, bm25_profile(
        wh, n_queries=2, terms_per_query=3, k=5,
        table="bm25_post_t", stats_table="bm25_stats_t",
    ).collect()))

    # replayed epoch: short-circuit, profile unchanged
    assert not process_postings_batch(
        wh, df.filter(df.doc_id % 3 == 1), 1,
        table="bm25_post_t", stats_table="bm25_stats_t",
    )
    assert sorted(map(tuple, bm25_profile(
        wh, n_queries=2, terms_per_query=3, k=5,
        table="bm25_post_t", stats_table="bm25_stats_t",
    ).collect())) == base

    one = sorted(map(tuple, textstats.bm25_search(
        df, n_queries=2, terms_per_query=3, k=5,
    ).collect()))
    assert base == one

    # r10: WAND serving from the same ledger — equal to the one-shot
    # batch WAND over the union (same workload, same quantized scores)
    from powa_archivist_spark.streaming.retrieval import bm25_wand_profile

    wand_led = sorted(map(tuple, bm25_wand_profile(
        wh, n_queries=2, terms_per_query=3, k=5,
        table="bm25_post_t", stats_table="bm25_stats_t",
    ).collect()))
    wand_one = sorted(map(tuple, textstats.bm25_wand(
        df, n_queries=2, terms_per_query=3, k=5,
    ).collect()))
    assert wand_led == wand_one and len(wand_led) > 0


def test_cms_profile_replay_and_compaction(spark, wh):
    """late r9: the at-rest Count-Min register ledger — a
    checkpoint-replayed epoch is a no-op (SUM-merge is NOT idempotent,
    so the short-circuit is load-bearing), the ledger profile equals
    the one-shot batch sketch bit-for-bit, and compaction folds the
    epochs without changing any estimate."""
    from powa_archivist_spark.pipeline import sketches
    from powa_archivist_spark.streaming.cms import (
        cms_profile,
        compact_cms_profile,
        process_cms_batch,
    )

    rows = [(i, "a" if i % 2 else "b", (i * 7) % 23) for i in range(3000)]
    df = spark.createDataFrame(rows, "event_id long, g string, k long")
    probes = spark.createDataFrame([(i,) for i in range(10)], "k long")

    for b in range(3):
        assert process_cms_batch(
            wh, df.filter(df.event_id % 3 == b), b,
            "k", ["g"], d=4, w=16, table="cms_prof_t",
        )
    base = sorted(map(tuple, cms_profile(
        wh, probes, "k", ["g"], d=4, w=16, table="cms_prof_t").collect()))

    # replayed epoch: short-circuit, profile unchanged (double-count
    # would inflate every register the batch touched)
    assert not process_cms_batch(
        wh, df.filter(df.event_id % 3 == 1), 1,
        "k", ["g"], d=4, w=16, table="cms_prof_t",
    )
    assert sorted(map(tuple, cms_profile(
        wh, probes, "k", ["g"], d=4, w=16,
        table="cms_prof_t").collect())) == base

    # one-shot equality: SUM over disjoint epochs = the batch registers
    groups = df.select("g").distinct()
    one = sorted(map(tuple, sketches.cms_estimate(
        sketches.cms_registers(df, "k", ["g"], d=4, w=16),
        groups, probes, "k", ["g"], d=4, w=16,
    ).collect()))
    assert base == one

    # compaction: ledger shrinks to one epoch, estimates identical
    compact_cms_profile(wh, ["g"], table="cms_prof_t")
    led = wh.read("cms_prof_t")
    assert led.select("epoch").distinct().count() == 1
    assert sorted(map(tuple, cms_profile(
        wh, probes, "k", ["g"], d=4, w=16,
        table="cms_prof_t").collect())) == base


def test_quantile_profile_replay_and_compaction(spark, wh):
    """r9: the at-rest quantile-sketch ledger — a checkpoint-replayed
    epoch is a no-op (the merge is NOT idempotent, so the short-circuit
    is load-bearing, unlike the HLL fold), and compaction folds the
    epochs without changing the profile."""
    from powa_archivist_spark.streaming.quantiles import (
        compact_profile,
        process_quantile_batch,
        quantile_profile,
    )

    rows = [(i, "a" if i % 2 else "b", float((i * 53) % 997))
            for i in range(3000)]
    df = spark.createDataFrame(rows, "event_id long, g string, value double")

    for b in range(3):
        assert process_quantile_batch(
            wh, df.filter(df.event_id % 3 == b), b,
            "value", "event_id", ["g"], k=64, table="q_prof_t",
        )
    base = sorted(map(tuple, quantile_profile(
        wh, ["g"], k=64, table="q_prof_t").collect()))

    # replayed epoch: short-circuit, profile unchanged
    assert not process_quantile_batch(
        wh, df.filter(df.event_id % 3 == 1), 1,
        "value", "event_id", ["g"], k=64, table="q_prof_t",
    )
    assert sorted(map(tuple, quantile_profile(
        wh, ["g"], k=64, table="q_prof_t").collect())) == base

    # one-shot equality (disjoint-merge determinism through the ledger)
    from powa_archivist_spark.pipeline import sketches

    one = sorted(map(tuple, sketches.level_sample_quantiles(
        sketches.level_sample_sketch(df, "value", "event_id", ["g"], k=64),
        ["g"],
    ).collect()))
    assert base == one

    # compaction: ledger shrinks to one epoch, profile identical
    compact_profile(wh, ["g"], k=64, table="q_prof_t")
    led = wh.read("q_prof_t")
    assert led.select("epoch").distinct().count() == 1
    assert sorted(map(tuple, quantile_profile(
        wh, ["g"], k=64, table="q_prof_t").collect())) == base


def test_compaction_noop_on_empty_or_missing_ledger(spark, wh):
    """r10 (ADVICE r9): compacting a missing or zero-row ledger is a
    clean no-op — previously max(epoch)=None raised TypeError at the
    int() cast before staging."""
    from powa_archivist_spark.streaming.cms import compact_cms_profile
    from powa_archivist_spark.streaming.quantiles import compact_profile

    # missing tables: no-op, nothing created
    compact_cms_profile(wh, ["g"], table="cms_empty_t")
    compact_profile(wh, ["g"], k=64, table="kll_empty_t")
    assert not wh.exists("cms_empty_t")
    assert not wh.exists("kll_empty_t")


def test_kmeans_ledger_refresh_equals_one_shot_and_replay_safe(spark, wh):
    """r11 (VERDICT r10 task 7): the incremental k-means ledger — after
    any refresh epoch the assignment view equals the one-shot batch
    kmeans over every vector ingested (bit-for-bit, d2 included); a
    checkpoint-replayed epoch is a no-op; the refresh compacts the
    assignment view (exactly one row per vector, no frozen rows)."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity
    from powa_archivist_spark.streaming.clustering import (
        kmeans_assignment,
        kmeans_ledger_profile,
        process_kmeans_batch,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 200)

    # every epoch refreshes -> ledger == one-shot kmeans on the union
    # after each prefix
    for b in range(3):
        st = {}
        assert process_kmeans_batch(
            wh, emb.filter(F.col("vec_id") % 3 == b), b,
            k=4, init_rounds=2, max_rounds=8, refresh=True,
            stats_out=st,
        )
        assert st["refreshed"]
        led = sorted(map(tuple, kmeans_assignment(wh).select(
            "vec_id", "cluster", "d2_q").collect()))
        one = sorted(map(tuple, similarity.kmeans(
            emb.filter(F.col("vec_id") % 3 <= b),
            k=4, init_rounds=2, max_rounds=8,
        ).collect()))
        assert led == one and len(led) > 0

    # replayed epoch: short-circuit, state unchanged
    before = sorted(map(tuple, kmeans_ledger_profile(wh).collect()))
    assert not process_kmeans_batch(
        wh, emb.filter(F.col("vec_id") % 3 == 1), 1,
        k=4, init_rounds=2, max_rounds=8, refresh=True,
    )
    assert sorted(map(tuple, kmeans_ledger_profile(wh).collect())) == before

    # compaction contract: one assignment row per vector, none frozen
    a = kmeans_assignment(wh)
    n = emb.count()
    assert a.count() == n
    assert a.select("vec_id").distinct().count() == n
    assert a.filter(F.col("frozen")).count() == 0


def test_kmeans_ledger_frozen_assign_is_argmin_against_centers(spark, wh):
    """r11: a frozen epoch appends argmin assignments against the
    CURRENT centers without retraining — equal to assign_to_centers of
    the batch against the frozen center table, flagged frozen=true in
    the profile's staleness count."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline.similarity import (
        assign_to_centers,
        quantized,
    )
    from powa_archivist_spark.streaming.clustering import (
        kmeans_assignment,
        kmeans_ledger_profile,
        process_kmeans_batch,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 120)
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)

    assert process_kmeans_batch(wh, first, 0, k=3, init_rounds=2,
                                max_rounds=6)
    cents_rows = wh.read("kmeans_centers").collect()
    st = {}
    assert process_kmeans_batch(wh, second, 1, k=3, init_rounds=2,
                                max_rounds=6, stats_out=st)
    assert st["refreshed"] is False

    cents = spark.createDataFrame(
        [(r.cluster, r.cv) for r in cents_rows],
        "cluster long, cv array<bigint>",
    )
    want = sorted(map(tuple, assign_to_centers(
        second.select("vec_id", quantized(F.col("embedding")).alias("v")),
        cents,
    ).collect()))
    got = sorted(map(tuple, kmeans_assignment(wh)
                 .filter(F.col("frozen"))
                 .select("vec_id", "cluster", "d2_q").collect()))
    assert got == want and len(got) == second.count()
    prof = kmeans_ledger_profile(wh)
    assert prof.agg(F.sum("n_frozen")).collect()[0][0] == second.count()


def test_kmeans_ledger_empty_batch_is_noop(spark, wh):
    """r12 (ADVICE r11): an EMPTY micro-batch (Structured Streaming
    delivers them) is a clean no-op — previously the first-ever empty
    batch entered the refresh path and ran kmeans() over a zero-row
    frame.  An empty batch after real history leaves the ledger
    untouched; the next real batch still folds normally."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.streaming.clustering import (
        kmeans_assignment,
        process_kmeans_batch,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 60)
    empty = emb.filter(F.lit(False))

    # first-ever batch empty: no tables created, no kmeans run
    st = {}
    assert process_kmeans_batch(wh, empty, 0, k=3, init_rounds=2,
                                max_rounds=6, stats_out=st) is False
    assert st == {"refreshed": False}
    assert not wh.exists("kmeans_centers")
    assert not wh.exists("kmeans_vectors")

    # real batch folds normally afterwards
    assert process_kmeans_batch(wh, emb, 1, k=3, init_rounds=2,
                                max_rounds=6)
    before = sorted(map(tuple, kmeans_assignment(wh).collect()))

    # empty batch after history: ledger unchanged (frozen path too)
    assert process_kmeans_batch(wh, empty, 2, k=3, init_rounds=2,
                                max_rounds=6) is False
    assert sorted(map(tuple, kmeans_assignment(wh).collect())) == before


def test_kmeans_staleness_tracks_refresh_cycle(spark, wh):
    """r12 (VERDICT r11 task 6): the staleness report — zero frozen
    right after a refresh, grows with each frozen-assigned batch,
    refresh_due flips once frozen_frac crosses the threshold, and the
    next refresh resets it."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.streaming.clustering import (
        kmeans_staleness,
        process_kmeans_batch,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 120)

    process_kmeans_batch(wh, emb.filter("vec_id % 3 = 0"), 0,
                         k=3, init_rounds=2, max_rounds=6)
    (r0,) = kmeans_staleness(wh, frozen_frac_threshold=0.4).collect()
    assert r0.n_frozen == 0 and r0.frozen_frac == 0.0
    assert r0.trained_epoch == 0 and r0.latest_epoch == 0
    assert r0.epochs_since_refresh == 0 and not r0.refresh_due

    process_kmeans_batch(wh, emb.filter("vec_id % 3 = 1"), 1,
                         k=3, init_rounds=2, max_rounds=6)
    (r1,) = kmeans_staleness(wh, frozen_frac_threshold=0.4).collect()
    assert r1.n_frozen == emb.filter("vec_id % 3 = 1").count()
    assert 0.0 < r1.frozen_frac < 1.0 and r1.epochs_since_refresh == 1
    assert r1.refresh_due == (r1.frozen_frac >= 0.4)

    process_kmeans_batch(wh, emb.filter("vec_id % 3 = 2"), 2,
                         k=3, init_rounds=2, max_rounds=6, refresh=True)
    (r2,) = kmeans_staleness(wh, frozen_frac_threshold=0.4).collect()
    assert r2.n_vecs == emb.count() and r2.n_frozen == 0
    assert r2.trained_epoch == 2 and r2.epochs_since_refresh == 0
    assert not r2.refresh_due


@pytest.mark.parametrize("cached", [False, True])
def test_components_ledger_equals_one_shot_and_replay_safe(
        spark, wh, cached):
    """r13 (VERDICT r12 task 4): after ANY prefix of folds the at-rest
    components assignment equals the one-shot
    connected_components(minhash_dedup_pairs(union), union) bit-for-bit
    (the batch-equality contract every other ledger meets); a replayed
    epoch is a no-op; an empty batch is a no-op.  Parameterized over
    the r14 ComponentsState cross-fold cache: the cached hot path and
    the per-fold table-read path must fold identical state (the
    equality reads the PUBLISHED tables either way)."""
    from powa_archivist_spark.pipeline.dedup import (connected_components,
                                                     minhash_dedup_pairs)
    from powa_archivist_spark.streaming.components import (
        ComponentsState, components_assignment, process_components_batch)

    state = ComponentsState() if cached else None

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")

    def one_shot(union_docs):
        pairs = minhash_dedup_pairs(union_docs, threshold=0.8)
        comp = connected_components(pairs, union_docs.select("doc_id"))
        return sorted((r.doc_id, r.component) for r in comp.collect())

    for b in range(3):
        assert process_components_batch(
            wh, docs.filter(F.col("doc_id") % 3 == b), b, threshold=0.8,
            ledger=state,
        )
        union = docs.filter(F.col("doc_id") % 3 <= b)
        got = sorted(
            (r.doc_id, r.component)
            for r in components_assignment(wh).collect()
        )
        assert got == one_shot(union), f"diverged after batch {b}"

    before = sorted(
        (r.doc_id, r.component)
        for r in components_assignment(wh).collect()
    )
    # replayed epoch short-circuits on the assign-table probe
    assert not process_components_batch(
        wh, docs.filter(F.col("doc_id") % 3 == 1), 1, threshold=0.8,
        ledger=state,
    )
    # empty batch is a no-op
    assert not process_components_batch(
        wh, docs.filter(F.lit(False)), 99, threshold=0.8,
        ledger=state,
    )
    after = sorted(
        (r.doc_id, r.component)
        for r in components_assignment(wh).collect()
    )
    assert after == before


def test_components_ledger_cross_component_merge_via_remap(spark, wh):
    """The remap path: two components built in earlier batches MERGE
    when a later doc near-dups both — the superseded label is
    redirected by ONE bounded remap row, no assign rows rewritten, and
    the runtime stream wrapper drives the same fold."""
    import tempfile as _tf

    from powa_archivist_spark.streaming.components import (
        COMP_ASSIGN_TABLE, COMP_REMAP_TABLE, components_assignment,
        stream_components_ledger)

    # doc7's shingle set S (9 shingles); doc0 = S + 2 extras; doc5 = S
    # + 2 other extras: j(7,0)=j(7,5)=9/11>=0.8 but j(0,5)=9/13<0.8
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"
    schema = "doc_id long, ts timestamp, text string"
    landing = _tf.mkdtemp(prefix="cmplanding_")
    ckpt = _tf.mkdtemp(prefix="cmpckpt_")

    def land(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(landing, name))
        q = stream_components_ledger(
            spark, landing + "/*", spark.createDataFrame(rows, schema).schema,
            ckpt, wh, threshold=0.8)
        q.awaitTermination(120)

    land("b1", [(0, ts(0), base + " aa ab"),
                (2, ts(1), "totally different unrelated words here now")])
    land("b2", [(5, ts(2), base + " bb bc")])
    got2 = {r.doc_id: r.component
            for r in components_assignment(wh).collect()}
    assert got2 == {0: 0, 2: 2, 5: 5}, got2  # two separate components

    land("b3", [(7, ts(3), base)])
    got3 = {r.doc_id: r.component
            for r in components_assignment(wh).collect()}
    assert got3 == {0: 0, 2: 2, 5: 0, 7: 0}, got3  # merged under min id

    # the merge is a remap ROW, not an assign rewrite: doc5's immutable
    # label0 still reads 5, redirected by (5 -> 0)
    assign = {r.doc_id: r.label0
              for r in wh.read(COMP_ASSIGN_TABLE).collect()}
    assert assign[5] == 5
    remap = {r.from_label: r.to_label
             for r in wh.read(COMP_REMAP_TABLE).collect()}
    assert remap == {5: 0}, remap


def _land_replay_probe_epoch(fold_name, spark, wh):
    """One epoch-keyed fold as a ``call(epoch)`` thunk over small
    inputs; the caller lands epoch 0, then replays it."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 40).select("doc_id", "text")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("vec_id") < 40)
    ev = spark.read.parquet(f"{SF}/events.parquet").filter(
        F.col("event_id") < 200)
    if fold_name == "cms":
        from powa_archivist_spark.streaming.cms import process_cms_batch

        return lambda e: process_cms_batch(wh, ev, e, "user_id",
                                           ["event_type"])
    if fold_name == "quantiles":
        from powa_archivist_spark.streaming.quantiles import (
            process_quantile_batch)

        return lambda e: process_quantile_batch(
            wh, ev, e, "value", "event_id", ["event_type"])
    if fold_name == "retrieval":
        from powa_archivist_spark.streaming.retrieval import (
            process_postings_batch)

        return lambda e: process_postings_batch(wh, docs, e)
    if fold_name == "novelty":
        from powa_archivist_spark.streaming.novelty import (
            process_novelty_batch)

        return lambda e: process_novelty_batch(wh, docs, e)
    if fold_name == "kmeans":
        from powa_archivist_spark.streaming.clustering import (
            process_kmeans_batch)

        return lambda e: process_kmeans_batch(wh, emb, e, k=3,
                                              init_rounds=2, max_rounds=6)
    if fold_name == "components":
        from powa_archivist_spark.streaming.components import (
            process_components_batch)

        return lambda e: process_components_batch(wh, docs, e)
    if fold_name == "pq":
        from powa_archivist_spark.streaming.pq_ingest import (
            pq_bootstrap, process_pq_batch)

        pq_bootstrap(wh, emb.filter(F.col("vec_id") % 4 == 0),
                     m=8, n_codes_target=8)
        return lambda e: process_pq_batch(wh, emb, m=8, epoch_id=e,
                                          stream_gen="g")
    from powa_archivist_spark.streaming.curation import (
        process_curation_batch)

    return lambda e: process_curation_batch(
        wh, docs, "cur_sink", {"min_tokens": 20}, epoch_id=e,
        stream_gen="g")


@pytest.mark.parametrize("fold_name", [
    "cms", "quantiles", "retrieval", "novelty", "kmeans", "components",
    "pq", "curation",
])
def test_replayed_epoch_launches_no_spark_job(spark, wh, fold_name):
    """The fold runner's replay probe is an in-process memo lookup: once
    epoch 0 landed, folding epoch 0 again launches no Spark job at all —
    no seed read, no build, no write."""
    call = _land_replay_probe_epoch(fold_name, spark, wh)
    sc = spark.sparkContext

    def jobs_of(group, epoch):
        sc.setJobGroup(group, f"{fold_name} epoch {epoch}")
        try:
            out = call(epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    _, landing_jobs = jobs_of(f"land-{fold_name}", 0)
    assert landing_jobs, "the landing fold ran no job under its group"
    out, replay_jobs = jobs_of(f"replay-{fold_name}", 0)
    assert out in (False, None)
    assert replay_jobs == [], replay_jobs
