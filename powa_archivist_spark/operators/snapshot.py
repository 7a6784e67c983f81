"""Generic snapshot job — staging -> current (+ per-db rollup).

Reference: the generated ``<ds>_snapshot`` functions
(powa--5.2.0.sql:1427-1488) and the handwritten
``powa_statements_snapshot`` wCTE pipeline (powa--5.2.0.sql:4006-4108):

    capture   := <ds>_src(srvid)           -- one scan
    [dict]    := MRU-touch + insert-missing into powa_statements
    by_query  := INSERT INTO *_history_current
    by_db     := INSERT INTO *_history_current_db (SUM ... GROUP BY dbid, ts)
    cleanup   := DELETE staging rows for srvid

Spark shape: cache the capture once, run the dependent writes, then drop
the staging partition.  The captured row count is observed on the
current-table append itself, so no count job runs; the rollup, overlap
and replay branches all key off it.  The per-db rollup is materialized
at write time on purpose ("first screens stay reactive" —
powa--5.2.0.sql:4013-4015): at 100 TB the rollup is a map-side-combine
groupBy over the snapshot slice only, never a re-aggregation of
history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..specs import DatasourceSpec, cast_to, ident
from ..storage import Warehouse


def db_rollup_agg(df: DataFrame, spec: DatasourceSpec) -> DataFrame:
    """SUM of every aggregatable counter GROUP BY (srvid, dbid, ts)
    (powa--5.2.0.sql:4070-4093).  Partial aggregation (map-side combine) is
    automatic for sum(); no extra shuffle beyond the one groupBy."""
    sums = [F.expr(f"sum({ident(c.name)}) AS {ident(c.name)}")
            for c in spec.agg_counters]
    return df.groupBy("srvid", spec.dbid_col, "ts").agg(*sums)


def snapshot(
    wh: Warehouse,
    spec: DatasourceSpec,
    srvid: int,
    capture: DataFrame | None = None,
    drop_staging: bool = True,
    idempotent: bool = True,
    staged: "StagedPass | None" = None,
) -> int:
    """Run one snapshot pass for ``spec`` on server ``srvid``.

    ``capture`` defaults to the staging table filtered to srvid (the remote
    path); a local datasource can pass its own source DataFrame (the
    version-shimmed reader, sources/readers.py).

    ``idempotent``: replaying a staging batch must not double-count.  The
    reference gets this by truncating staging inside the same transaction
    (powa--5.2.0.sql:4102-4104); without that atomicity, capture rows
    IDENTICAL to a row already in the server's current partition are
    skipped (null-safe full-row anti-join against the small
    between-coalesce current slice).  Staging rows are immutable
    samples, so an exact duplicate can only be a replay; keying on
    anything coarser (ts alone, or even (ts, entity keys) for keyless
    modules) silently drops the remainder of a snapshot whose rows
    arrive split across two batches (streaming epochs split on file
    boundaries).  When a batch partially overlaps an existing snapshot
    ts, the per-db rollup for the affected ts values is RECOMPUTED from
    the updated current slice instead of appended — an appended partial
    rollup would leave two half-sums for one (dbid, ts).  When the
    anti-join finds NO new rows but the capture is non-empty (a pure
    replay — e.g. a crash landed after the current-table append but
    before the db-rollup write), the rollup for the capture's ts values
    is still recomputed from the current slice so the replay CONVERGES:
    without this, a lost rollup write would be skipped forever because
    the ``n > 0`` gate never reopens (ADVICE r4 fix).

    ``staged``: the pass's sink writes (current append + db rollup) go
    through a :class:`~powa_archivist_spark.txn.StagedPass` — invisible
    dot-dir staging plus an intent-gated rename publish, the parquet
    analog of the reference's one-statement wCTE (powa--5.2.0.sql:
    4006-4108): a crash anywhere before the commit point leaves readers
    on the pre-pass state with staging intact for replay.  ``None``
    (default) creates a pass-local one that publishes before the staging
    truncate; pass an explicit StagedPass to co-commit with other sinks
    (the statements dictionary merge, orchestrator._statements_snapshot)
    — the CALLER then owns publish() and the staging truncate.

    Returns the number of captured rows (the reference's ``final`` count,
    powa--5.2.0.sql:4095-4100).
    """
    from ..txn import StagedPass

    # complete any interrupted publish FIRST: the idempotent anti-join
    # below must see fully-committed current rows, not a half-moved
    # file set (exactly-once depends on it)
    StagedPass.recover(wh, srvid)
    own_stage = staged is None
    if not own_stage and drop_staging:
        # truncating staging here, BEFORE the caller's publish(), would
        # destroy the pass's replay source — the exact truncate-before-
        # commit failure the staged design exists to prevent.  Refuse
        # instead of relying on every caller to remember the flag.
        raise ValueError(
            "snapshot(staged=...) requires drop_staging=False: the "
            "caller owns publish() and must truncate staging after it"
        )
    sp = StagedPass(wh, srvid) if own_stage else staged

    if capture is None:
        staging = wh.read(Warehouse.src_tmp(spec.name), spec.staging_schema)
        capture = staging.filter(F.col("srvid") == srvid)

    # cast EVERY column to the current-table schema, not just srvid: a
    # caller-provided capture with off-spec dtypes (int32 keys, double
    # counters, NTZ timestamps) would otherwise append mixed-type
    # parquet files next to the spec-typed ones and break every later
    # read of the partition
    capture = capture.selectExpr(
        *[cast_to(ident(f.name), f) for f in spec.current_schema.fields])
    if spec.requires_statements:
        from . import dictionary

        capture = dictionary.gate_to_statements(wh, srvid, capture)
    capture = capture.cache()
    current_t = Warehouse.current(spec.name)
    overlap_ts: list | None = None
    new_rows = capture
    try:
        if idempotent and wh.exists(current_t):
            existing = (
                wh.read(current_t, spec.current_schema)
                .filter(F.col("srvid") == srvid)
            )
            cap_a, ex_a = capture.alias("c"), existing.alias("e")
            same_row = F.expr(" AND ".join(
                f"c.{ident(n)} <=> e.{ident(n)}" for n in capture.columns))
            new_rows = cap_a.join(
                F.broadcast(ex_a), same_row, "left_anti"
            ).cache()
        n = sp.stage_append(new_rows, current_t)
        if n > 0 and spec.db_rollup:
            db_t = Warehouse.current_db(spec.name)
            if new_rows is not capture:
                # snapshot timestamps this batch SHARES with committed
                # rows: their rollups must be recomputed, not appended
                overlap_ts = [
                    r.ts
                    for r in capture.select("ts").distinct()
                    .join(existing.select("ts").distinct(), "ts", "left_semi")
                    .collect()
                ]
            if overlap_ts:
                # post-append current slice for the overlapped ts,
                # WITHOUT reading the append back (it is not even
                # visible yet — staged): committed rows ∪ new rows
                updated = (
                    existing.filter(F.col("ts").isin(overlap_ts))
                    .unionByName(
                        new_rows.filter(F.col("ts").isin(overlap_ts))
                    )
                )
                fresh = db_rollup_agg(updated, spec).unionByName(
                    db_rollup_agg(
                        new_rows.filter(~F.col("ts").isin(overlap_ts)),
                        spec,
                    )
                )
                if wh.exists(db_t):
                    kept = wh.read(db_t).filter(
                        (F.col("srvid") == srvid)
                        & ~F.col("ts").isin(overlap_ts)
                    )
                    fresh = kept.unionByName(fresh)
                sp.stage_replace(fresh, db_t)
            else:
                sp.stage_append(db_rollup_agg(new_rows, spec), db_t)
        elif idempotent and spec.db_rollup and wh.exists(current_t):
            # pure replay (capture non-empty, zero new rows): every row
            # is already committed in current, but the ROLLUP write for
            # this batch may have been lost to a crash between the two
            # appends.  Recompute the rollup for the capture's ts values
            # from the authoritative current slice — a fixpoint, so a
            # healthy replay rewrites identical rows and a crashed one
            # heals (ADVICE r4: the n>0 gate must not be the only way
            # the rollup converges).
            cap_ts = [r.ts for r in capture.select("ts").distinct().collect()]
            if cap_ts:
                db_t = Warehouse.current_db(spec.name)
                updated = (
                    wh.read(current_t, spec.current_schema)
                    .filter(F.col("srvid") == srvid)
                    .filter(F.col("ts").isin(cap_ts))
                )
                fresh = db_rollup_agg(updated, spec)
                stored = None
                if wh.exists(db_t):
                    stored = wh.read(db_t).filter(
                        (F.col("srvid") == srvid) & F.col("ts").isin(cap_ts)
                    )
                # gate the partition rewrite behind a diff probe: under
                # at-least-once delivery every duplicate delivery lands
                # here, and a full rewrite per replay is a partition's
                # worth of IO when the stored rollup is almost always
                # already complete (ADVICE r5).  The probe is one small
                # job over the capture-ts slices only.
                if stored is None or (
                    fresh.exceptAll(stored.select(*fresh.columns))
                    .unionByName(
                        stored.select(*fresh.columns).exceptAll(fresh)
                    )
                    .limit(1)
                    .count()
                    > 0
                ):
                    healed = fresh
                    if wh.exists(db_t):
                        kept = wh.read(db_t).filter(
                            (F.col("srvid") == srvid)
                            & ~F.col("ts").isin(cap_ts)
                        )
                        healed = kept.unionByName(fresh)
                    sp.stage_replace(healed, db_t)
        if own_stage:
            # commit point of the pass: every sink becomes visible here
            # (or, on a crash, never) — then and only then the staging
            # slice may be truncated (truncate-last, the reference runs
            # it inside the same wCTE, powa--5.2.0.sql:4102-4104)
            sp.publish()
        if drop_staging and wh.exists(Warehouse.src_tmp(spec.name)):
            wh.drop_srvid(Warehouse.src_tmp(spec.name), srvid)
        return n
    finally:
        if new_rows is not capture:
            new_rows.unpersist()
        capture.unpersist()
