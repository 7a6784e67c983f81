"""Snapshot commit-markers — crash DETECTION for the multi-table pass.

The reference's snapshot is one atomic wCTE (powa--5.2.0.sql:4006-4108):
history append, dictionary merge, and staging truncate either all land
or none do.  Plain-parquet Spark can't get that from a single statement,
so the engine layers two mechanisms:

1. **Convergence by construction** (operators/snapshot.py, streaming/
   ingest.py): every write step is idempotent (full-row anti-join
   append, fixpoint rollup recompute, upsert dictionary merge), and the
   staging slice that feeds a pass is only truncated AFTER every
   consumer of it has committed (orchestrator._statements_snapshot
   merges the dictionary BEFORE the truncate).  Re-running a crashed
   pass therefore converges to exactly the committed-once state.
2. **Detection by marker** (this module): a crash that kills the
   process mid-pass leaves no error-ledger entry — nothing RAN to
   record one.  The orchestrator writes a begin-marker per
   (srvid, snapshot ts) before the first table write and removes it
   after the last; a marker found at the START of a pass is proof of an
   interrupted pass, surfaced into the meta error ledger before this
   pass replays the preserved staging.

A marker is a tiny JSON file under ``<root>/_txn/srvid=<n>/`` written
atomically (tmp + rename).  This is deliberately NOT a lock (the
orchestrator has per-srvid locks) and NOT a WAL — the idempotent
operators make a full WAL unnecessary; the marker only closes the
observability gap.  A transactional table format (Delta/Iceberg) is the
documented swap-in that would collapse both mechanisms into real
multi-table transactions.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil
import tempfile
import threading

from .session import adopt, concurrently, observe_rows


#: srvid lane for passes that are not tied to a monitored server — the
#: ANN index maintenance path.  Writers on this lane are serialized by
#: their callers (single index maintainer), mirroring the per-srvid
#: orchestrator lock that justifies recover()'s stale-stage sweep.
GLOBAL_LANE = -1


class TxnLog:
    def __init__(self, root: str) -> None:
        self.dir = os.path.join(root, "_txn")

    def _srv_dir(self, srvid: int) -> str:
        return os.path.join(self.dir, f"srvid={srvid}")

    def begin(self, srvid: int, snap_ts: dt.datetime) -> str:
        """Write the begin-marker; returns its path (the token)."""
        d = self._srv_dir(srvid)
        os.makedirs(d, exist_ok=True)
        token = os.path.join(
            d, f"snapshot-{snap_ts.strftime('%Y%m%dT%H%M%S.%f')}.pending"
        )
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(
                {"srvid": srvid, "snap_ts": snap_ts.isoformat()}, f
            )
        os.replace(tmp, token)
        return token

    def commit(self, token: str) -> None:
        if os.path.exists(token):
            os.remove(token)

    def pending(self, srvid: int) -> list[dict]:
        """Markers left by passes that never reached commit."""
        d = self._srv_dir(srvid)
        if not os.path.isdir(d):
            return []
        out = []
        for name in sorted(os.listdir(d)):
            if not name.endswith(".pending"):
                continue
            p = os.path.join(d, name)
            try:
                with open(p) as f:
                    rec = json.load(f)
            except (OSError, json.JSONDecodeError):
                rec = {"srvid": srvid, "snap_ts": None}
            rec["token"] = p
            out.append(rec)
        return out

    def clear(self, srvid: int) -> None:
        for rec in self.pending(srvid):
            self.commit(rec["token"])


def _staged_files(stage_dir: str) -> list[str]:
    """Parquet file names just written into a stage dir.  Recorded in
    the op (r8) so a READ-ONLY out-of-process reader
    (:mod:`powa_archivist_spark.reader`) can resolve a table's logical
    file set purely from the manifest, without having to distinguish
    already-moved staged files from retired-pending live files by
    listing races."""
    return sorted(
        f for f in os.listdir(stage_dir) if f.endswith(".parquet")
    )


def _staged_children(stage_dir: str) -> dict[str, list[str]]:
    """Per-partition-leaf file names of a staged tree (same purpose as
    :func:`_staged_files`)."""
    out: dict[str, list[str]] = {}
    for child in sorted(os.listdir(stage_dir)):
        p = os.path.join(stage_dir, child)
        if child.startswith((".", "_")) or not os.path.isdir(p):
            continue
        out[child] = sorted(
            f for f in os.listdir(p) if f.endswith(".parquet")
        )
    return out


class StagedPass:
    """Atomic multi-sink publish for one (srvid, pass) — crash
    INVISIBILITY, upgrading the begin/commit markers above (crash
    detection) to the reference's one-statement wCTE semantics
    (powa--5.2.0.sql:4006-4108) as far as plain parquet allows.

    Protocol (r7: single-manifest commit — the manifest rename is the
    ONLY visibility-relevant rename):

    1. every sink write of the pass lands in a dot-prefixed stage dir
       (``.__stage__<pass>__<seq>``) inside / next to the target
       partition — Spark's file index skips dot-prefixed paths, so NO
       reader observes any of it;
    2. ``publish()`` writes ONE manifest file (tmp + atomic rename)
       recording every staged op.  **That single rename is the commit
       point**: every ``Warehouse.read``/``exists`` first resolves
       pending manifests for the table it touches (:func:`heal_table`)
       and folds that table's staged ops in — under the table's write
       lock — before listing files.  A reader therefore sees the full
       pre-pass state before the rename and the full post-pass state
       after it, never a mixture, regardless of how far the background
       fold has progressed;
    3. after the manifest lands, ``publish()`` folds the ops itself
       (appends MOVE staged parquet files into the live partition dir,
       replaces two-rename-swap the partition dir — all metadata-only
       renames, each under the owning table's write lock) and removes
       the manifest.  Fold application is idempotent and
       lock-serialized, so publisher, readers, and :meth:`recover` can
       race it freely;
    4. a crash BEFORE the manifest rename leaves only invisible stage
       dirs — readers still see the pre-pass state, and the preserved
       staging replays the pass from scratch (exactly-once via the
       snapshot operator's anti-join); a crash AFTER it changes nothing
       for readers (they self-heal through the manifest) and
       :meth:`recover` completes the fold and drops the manifest.

    Residual scope: atomicity holds for every reader that goes through
    this Warehouse (the engine's single-driver deployment shape) AND —
    since r8 — for out-of-process readers that resolve through
    :class:`powa_archivist_spark.reader.SnapshotReader` (read-only
    manifest replay + hard-linked snapshot pinning; every staged op
    records its file names for exactly this).  Only a foreign engine
    pointed RAW at the table path (no manifest resolution at all) can
    still observe a fold mid-flight; a transactional table format
    (Delta/Iceberg) remains the swap-in that removes even that.

    Concurrency: stage dirs and manifests are per (srvid, pass); the
    orchestrator's per-srvid lock serializes passes and sweeps before
    it dispatches a pass's datasources, so recover()'s stale-stage
    sweep can only ever see leftovers of DEAD passes.
    Fold ops additionally take the owning table's write lock, so a
    concurrent ``maintenance.compact`` (which holds the same lock for
    its list→trash→delete cycle) can never trash a file the fold moved
    in after its listing (ADVICE r6).
    """

    def __init__(self, wh, srvid: int, pass_id: str | None = None,
                 engine: bool = True) -> None:
        import uuid

        # every staged write runs on the engine session; frames handed
        # in from elsewhere are re-homed there (adopt).  ``engine=False``
        # keeps the caller's session: a full-corpus build's shuffles
        # need the analytics posture, not the per-batch engine one
        self.wh = wh.engine() if engine else wh
        self.srvid = srvid
        self.pass_id = pass_id or uuid.uuid4().hex[:12]
        # the stage-dir naming uses "__" as its field delimiter and
        # recovery re-parses it (_apply_ops): a pass id containing the
        # delimiter (or a path separator) would silently reassemble the
        # WRONG live path at publish/recover time — reject it up front
        if "__" in self.pass_id or "/" in self.pass_id:
            raise ValueError(
                f"invalid pass_id {self.pass_id!r}: must contain neither "
                "'__' nor '/'"
            )
        self._ops: list[dict] = []
        # stage_* may run on worker threads (stage_concurrently, r14):
        # op-slot reservation serializes here so stage-dir names stay
        # unique; the parquet writes themselves overlap freely
        self._ops_lock = threading.Lock()
        self._txn_dir = os.path.join(wh.root, "_txn", f"srvid={srvid}")

    def _reserve_op(self) -> int:
        """Reserve this op's manifest slot (thread-safe); the caller
        fills it after its write completes."""
        with self._ops_lock:
            self._ops.append(None)
            return len(self._ops) - 1

    # ---- staging ---------------------------------------------------------

    def _part_dir(self, table: str) -> str:
        return os.path.join(self.wh.path(table), f"srvid={self.srvid}")

    def _acl_check(self, table: str) -> None:
        # staged sinks bypass the Warehouse write methods, so an
        # acl.AclWarehouse exposes its write check through this hook —
        # staging into a table the actor may not write must fail at
        # stage time, before any invisible data lands
        chk = getattr(self.wh, "acl_check_write", None)
        if chk is not None:
            chk(table)

    def _write_counted(self, df, d: str) -> int:
        """Write ``df`` (srvid dropped) to stage dir ``d``; returns the
        rows written, observed on the write job itself."""
        df, rows = observe_rows(adopt(self.wh.spark, df))
        df.drop("srvid").write.mode("overwrite").parquet(d)
        return rows()

    def stage_append(self, df, table: str) -> int:
        """Stage an append to the srvid partition of ``table``; returns
        the rows staged.  ``df`` must carry the srvid column (dropped
        here: partition dirs encode it, matching what a partitionBy
        append writes).  An empty ``df`` lands nothing: no file, no op,
        no stage dir."""
        self._acl_check(table)
        idx = self._reserve_op()
        part = self._part_dir(table)
        d = os.path.join(part, f".__stage__{self.pass_id}__{idx}")
        n = self._write_counted(df, d)
        if n == 0:
            shutil.rmtree(d)
            with contextlib.suppress(OSError):
                os.rmdir(part)  # the partition only if nothing is in it
            self._ops[idx] = {}  # nothing to publish
        else:
            self._ops[idx] = {
                "kind": "append", "table": table, "stage": d,
                "files": _staged_files(d),
            }
        return n

    def stage_append_flat(self, df, table: str) -> None:
        """Stage an append to an UNPARTITIONED table (streaming sinks,
        digest ledgers): the staged files publish into the table root.
        Used by the streaming curation/dedup batch processors so the
        sink append and the ledger append of one micro-batch commit
        through one manifest (ADVICE r6: a crash between the two made
        the epoch replay re-admit the whole survivor set)."""
        self._acl_check(table)
        df = adopt(self.wh.spark, df)
        idx = self._reserve_op()
        d = os.path.join(
            self.wh.path(table),
            f".__stage__{self.pass_id}__{idx}",
        )
        df.write.mode("overwrite").parquet(d)
        self._ops[idx] = {
            "kind": "append", "table": table, "stage": d,
            "files": _staged_files(d),
        }

    def stage_replace(self, df, table: str) -> int:
        """Stage a full replace of the srvid partition of ``table`` as
        one parquet file; returns the rows staged.  An empty ``df``
        retires the partition instead of landing an empty parquet
        file."""
        self._acl_check(table)
        idx = self._reserve_op()
        d = os.path.join(
            self.wh.path(table),
            f".__stageswap__srvid={self.srvid}__{self.pass_id}__{idx}",
        )
        n = self._write_counted(df.coalesce(1), d)
        if n == 0:
            # a stage with no parquet file publishes as a partition drop
            for f in _staged_files(d):
                os.remove(os.path.join(d, f))
        self._ops[idx] = {
            "kind": "replace", "table": table, "stage": d,
            "files": _staged_files(d),
        }
        return n

    def stage_append_tree(
        self, df, table: str, partition_by: list[str],
    ) -> None:
        """Stage a partition-tree APPEND: one Spark job writes ``df``
        partitioned under a dot-staged tree; publish moves each staged
        leaf's files INTO the matching live leaf (creating it if new)
        without replacing existing files.  The partition-wise append for
        ingest paths whose IO must stay proportional to the batch (ANN
        upsert fresh rows), committed under the same single manifest."""
        self._acl_check(table)
        df = adopt(self.wh.spark, df)
        idx = self._reserve_op()
        token = f"{self.pass_id}__{idx}"
        d = os.path.join(self.wh.path(table), f".__stagetree__{token}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(d)
        self._ops[idx] = {
            "kind": "append_tree", "table": table, "stage": d,
            "token": token, "children": _staged_children(d),
        }

    def stage_retire_flat(self, table: str) -> None:
        """Stage the retirement of an UNPARTITIONED table's content: a
        flat replace that lands no file, so after publish the table
        reads as absent (``Warehouse.exists`` is False).  No Spark job;
        nothing is staged when the table has no dir."""
        self._acl_check(table)
        if not os.path.isdir(self.wh.path(table)):
            return
        idx = self._reserve_op()
        token = f"{self.pass_id}__{idx}"
        d = os.path.join(self.wh.path(table), f".__stageflatswap__{token}")
        os.makedirs(d)
        self._ops[idx] = {
            "kind": "replace_flat", "table": table, "stage": d,
            "token": token, "files": [],
        }

    def stage_replace_flat(self, df, table: str) -> None:
        """Stage a full content replace of an UNPARTITIONED table (the
        ANN delta run table).  The op records the staged file names so
        a crashed re-apply can tell this pass's already-moved files
        from the old content it is retiring."""
        self._acl_check(table)
        df = adopt(self.wh.spark, df)
        idx = self._reserve_op()
        token = f"{self.pass_id}__{idx}"
        d = os.path.join(self.wh.path(table), f".__stageflatswap__{token}")
        df.write.mode("overwrite").parquet(d)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        self._ops[idx] = {
            "kind": "replace_flat", "table": table, "stage": d,
            "token": token, "files": files,
        }

    def stage_replace_tree(
        self, df, table: str, partition_by: list[str], drops: list[str] = (),
    ) -> None:
        """Stage a partition-TREE replace: ONE Spark job writes every
        touched partition of ``df`` (partitioned by ``partition_by``)
        under a dot-staged tree; publish swaps each staged leaf into the
        live table and retires the ``drops`` leaves (dir names like
        ``cell_id=7`` whose new content is empty) — all folded under the
        single-manifest commit, so readers see the whole tree replace
        atomically.  Used by the ANN IVF upsert (ADVICE r6: the previous
        dynamic-partition overwrite read the table it was overwriting
        and left a crash window holding replaced ids in two cells).
        A leaf the staged tree rewrites is never dropped, so passing
        every live leaf as ``drops`` makes a full-table replace (the
        ANN index rebuild)."""
        self._acl_check(table)
        df = adopt(self.wh.spark, df)
        idx = self._reserve_op()
        token = f"{self.pass_id}__{idx}"
        d = os.path.join(self.wh.path(table), f".__stagetree__{token}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(d)
        children = _staged_children(d)
        self._ops[idx] = {
            "kind": "replace_tree", "table": table, "stage": d,
            "token": token, "drops": sorted(set(drops) - set(children)),
            "children": children,
        }

    # ---- publish ---------------------------------------------------------

    def _intent_path(self) -> str:
        return os.path.join(self._txn_dir, f"{self.pass_id}.intent")

    def publish(self) -> None:
        """Commit point: the single manifest rename.  The fold that
        follows is a convenience (readers would self-heal anyway via
        :func:`heal_table`); removing the manifest retires the pass."""
        if any(op is None for op in self._ops):
            raise RuntimeError(
                "publish() with an unfinished staged op — a concurrent "
                "stage_* call failed or is still running"
            )
        self._ops = [op for op in self._ops if op]  # {}: an empty append
        if not self._ops:
            return
        os.makedirs(self._txn_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self._txn_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"srvid": self.srvid, "ops": self._ops}, f)
        os.replace(tmp, self._intent_path())  # <- THE commit
        _apply_ops(self.wh, self._ops)
        # a reader's heal_table may have folded-and-retired a
        # single-table pass concurrently (both applications idempotent)
        with contextlib.suppress(FileNotFoundError):
            os.remove(self._intent_path())
        self._ops = []

    def stage_concurrently(self, *calls) -> list:
        """Run independent ``stage_*`` thunks at once so their write
        jobs overlap; returns their results in call order.  ONLY for
        calls touching DISTINCT tables: manifest op order is not
        deterministic across workers, and recovery applies ops in list
        order — two ops on one table must stay sequenced by the
        caller."""
        return concurrently(self.wh.spark, *calls)

    # ---- recovery --------------------------------------------------------

    @staticmethod
    def sweep_flat_stages(wh, *tables: str) -> None:
        """Remove stale flat-stage dirs (``.__stage__*`` directly under
        the given table roots) left by a caller that died BEFORE its
        manifest rename.  Invisible to readers either way — this only
        reclaims disk.  Safe only for tables whose global-lane writer is
        serialized (a streaming sink's single foreachBatch loop); called
        at batch-processor entry, never from recover()'s generic walk
        (which cannot tell a dead pass's stage from a concurrent
        caller's in-flight one)."""
        for table in tables:
            root = wh.path(table)
            if not os.path.isdir(root):
                continue
            for name in os.listdir(root):
                if name.startswith(".__stage__"):
                    shutil.rmtree(os.path.join(root, name),
                                  ignore_errors=True)

    @staticmethod
    def recover(wh, srvid: int, sweep: bool = False) -> int:
        """Complete every published-but-interrupted pass for ``srvid``
        (cheap: one listing of the tiny ``_txn`` dir, normally empty).
        With ``sweep=True`` additionally walk the warehouse for stage
        dirs of passes that died before their commit point — invisible
        to readers, but disk they'd otherwise leak; the orchestrator
        does this once per pass, not per spec (a full-tree walk is
        metadata-heavy on object stores).  Returns the number of intents
        completed.  The sweep runs under the per-srvid orchestrator lock
        BEFORE a pass dispatches any worker (it would delete a live
        sibling's stage dir).  The non-sweep calls inside ``snapshot()``/
        ``qualstats_snapshot()`` run beside a wave's siblings and may
        race a sibling's publish: safe, as fold ops are idempotent and
        take the table lock."""
        txn_dir = os.path.join(wh.root, "_txn", f"srvid={srvid}")
        done = 0
        if os.path.isdir(txn_dir):
            for name in sorted(os.listdir(txn_dir)):
                if not name.endswith(".intent"):
                    continue
                p = os.path.join(txn_dir, name)
                try:
                    with open(p) as f:
                        rec = json.load(f)
                except (OSError, json.JSONDecodeError):
                    continue
                _apply_ops(wh, rec.get("ops", []))
                with contextlib.suppress(FileNotFoundError):
                    os.remove(p)
                done += 1
        if done:
            # epochs landed WITHOUT their fold's memo registration (the
            # fold crashed after its commit point) — the streaming
            # replay memo must re-seed from the tables (r13)
            from .streaming.fold import invalidate

            invalidate(wh.root)
        if not sweep:
            return done
        # ONE walk serves two recoveries (a full-tree walk is metadata-
        # heavy on object stores, so the orchestrator pays it once per
        # pass, not once per concern): (a) stale stage dirs — only this
        # srvid's, only uncommitted passes (committed ones were consumed
        # by _apply_ops above); (b) interrupted COMPACTION swaps
        # (operators/maintenance.py), healed here so a compact() crash
        # becomes visible again at the next pass instead of the next
        # compact call.  Each compaction base resolves under its table's
        # write lock and inside its own try/except — a stray unreadable
        # dir must not abort the snapshot pass.
        from .operators.maintenance import recover_base

        compact_bases: list[tuple[str, str]] = []
        root = wh.root
        for dirpath, dirs, _files in os.walk(root):
            if os.path.basename(dirpath) == "_txn":
                dirs[:] = []
                continue
            for d in list(dirs):
                full = os.path.join(dirpath, d)
                in_srv_part = os.path.basename(dirpath) == f"srvid={srvid}"
                if d.startswith(".__stage__") and in_srv_part:
                    # flat stages (.__stage__ directly under a table
                    # root) are deliberately NOT swept here: another
                    # global-lane writer (a streaming batch processor)
                    # may be mid-stage; each processor sweeps its own
                    # tables via sweep_flat_stages at batch entry
                    shutil.rmtree(full, ignore_errors=True)
                elif d.startswith(f".__stageswap__srvid={srvid}__"):
                    shutil.rmtree(full, ignore_errors=True)
                elif d.startswith(".__stagetree__") and srvid == GLOBAL_LANE:
                    # tree stages (ANN upsert) carry no srvid; they are
                    # only ever staged under the global lane, whose
                    # writers are serialized, so any leftover here
                    # belongs to a dead pass (committed ones were
                    # consumed by _apply_ops above)
                    shutil.rmtree(full, ignore_errors=True)
                elif d.startswith(".__swapout-tree__") and srvid == GLOBAL_LANE:
                    shutil.rmtree(full, ignore_errors=True)
                elif d.startswith(
                    (".__stageflatswap__", ".__swapout-flat__")
                ) and srvid == GLOBAL_LANE:
                    shutil.rmtree(full, ignore_errors=True)
                elif d.startswith(f".__swapout__srvid={srvid}__"):
                    # completed replace whose cleanup was interrupted
                    shutil.rmtree(full, ignore_errors=True)
                elif d.startswith(".__trash__"):
                    compact_bases.append((dirpath, d[len(".__trash__"):]))
                elif d.startswith(".__compact__"):
                    compact_bases.append((dirpath, d[len(".__compact__"):]))
            dirs[:] = [d for d in dirs if not d.startswith(".")]
        for parent, base in sorted(set(compact_bases)):
            try:
                recover_base(wh, parent, base)
            except OSError:
                # leave it for the next pass / the owning compact call
                pass
        return done


def heal_table(wh, table: str) -> int:
    """Fold every committed-but-unretired pass's ops for ``table``
    before the caller lists its files — the reader side of the
    single-manifest commit (readers resolve live state THROUGH the
    manifest, so visibility flips atomically at the manifest rename).

    Fast path: no ``_txn`` dir / no ``.intent`` files -> a couple of
    directory stats, no locks.  Called by every ``Warehouse``
    read/exists/mutation entry point; application is idempotent and
    serialized per table on the warehouse write lock, so racing the
    publisher's own fold (or another reader) is safe.  Each op re-stats
    the manifest under the table lock (``intent_path``) so a pass the
    publisher retires mid-heal is not replayed (ADVICE r7).  A manifest
    whose ops ALL target this table is retired here after folding —
    otherwise every subsequent read of the table would re-walk its ops
    until recover() runs; multi-table manifests stay for the publisher /
    :meth:`StagedPass.recover` (other tables' ops may be unfolded).

    Returns the number of ops folded (0 on the fast path)."""
    txn_root = os.path.join(wh.root, "_txn")
    if not os.path.isdir(txn_root):
        return 0
    folded = 0
    for srv in os.listdir(txn_root):
        d = os.path.join(txn_root, srv)
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if not name.endswith(".intent"):
                continue
            p = os.path.join(d, name)
            try:
                with open(p) as f:
                    rec = json.load(f)
            except (OSError, json.JSONDecodeError):
                continue  # being retired / torn: nothing to fold
            all_ops = rec.get("ops", [])
            ops = [op for op in all_ops if op.get("table") == table]
            if ops:
                _apply_ops(wh, ops, intent_path=p)
                folded += len(ops)
                if len(ops) == len(all_ops):
                    # single-table pass: fully folded -> retire (the
                    # publisher's own remove may race us; both tolerate)
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(p)
    if folded:
        # see StagedPass.recover: healed manifests can land epochs the
        # streaming replay memo never saw (r13)
        from .streaming.fold import invalidate

        invalidate(wh.root)
    return folded


def _apply_ops(wh, ops: list[dict], intent_path: str | None = None) -> None:
    """Apply staged ops idempotently (safe to re-run after any crash,
    from the publisher, recover(), or a reader's heal_table()).  Each op
    runs under its owning table's write lock, serializing against every
    other mutation path — including maintenance.compact's
    list→trash→delete cycle, which could otherwise trash a staged file
    moved in after its listing (ADVICE r6).

    ``intent_path`` (ADVICE r7, medium): a healer passes the manifest it
    loaded the ops from; each op re-stats it UNDER the table write lock
    and stops once it is gone — the publisher (or recover) retired the
    pass, meaning every op already applied, so the healer's replay would
    be pure redundant work (and, for append_files, a redundant
    REFRESH/DROP round)."""
    for op in ops:
        stage, table_kind = op["stage"], op["kind"]
        part_dir = os.path.dirname(stage)
        with wh._write_lock(op["table"]):
            if intent_path is not None and not os.path.exists(intent_path):
                return
            if table_kind == "append":
                if os.path.isdir(stage):
                    for f in os.listdir(stage):
                        if f.endswith(".parquet"):
                            # staged part-file names are uuid-unique; a
                            # re-run only sees files not yet moved
                            os.replace(
                                os.path.join(stage, f),
                                os.path.join(part_dir, f),
                            )
                    shutil.rmtree(stage, ignore_errors=True)
            elif table_kind == "replace":
                # stage name: .__stageswap__srvid=N__<pass>__<seq>
                base = os.path.basename(stage)
                suffix = base[len(".__stageswap__"):]
                live = os.path.join(part_dir, suffix.split("__")[0])
                swapout = os.path.join(part_dir, f".__swapout__{suffix}")
                if os.path.isdir(stage):
                    if os.path.isdir(live):
                        if os.path.isdir(swapout):
                            shutil.rmtree(swapout)
                        os.replace(live, swapout)
                    if op.get("files") == []:
                        # empty replace: the partition is retired, no
                        # empty dir goes live
                        shutil.rmtree(stage)
                    else:
                        os.replace(stage, live)
                # stage consumed (or was already): drop swapout leftover
                if os.path.isdir(swapout):
                    shutil.rmtree(swapout)
            elif table_kind == "append_files":
                # bucketed catalog-table append (BucketedDigestLedger):
                # staged bucket files carry their bucket id in the file
                # name, so a move preserves assignment; the catalog
                # entry of the stage table is dropped after consumption
                dest = op["dest"]
                if os.path.isdir(stage):
                    os.makedirs(dest, exist_ok=True)
                    for f in os.listdir(stage):
                        if f.endswith(".parquet"):
                            os.replace(
                                os.path.join(stage, f),
                                os.path.join(dest, f),
                            )
                    shutil.rmtree(stage, ignore_errors=True)
                spark = getattr(wh, "spark", None)
                if spark is not None:
                    try:
                        spark.sql(f"REFRESH TABLE `{op['refresh']}`")
                        spark.sql(
                            f"DROP TABLE IF EXISTS `{op['drop_stage_table']}`"
                        )
                    except Exception:  # pragma: no cover - catalog drift
                        pass  # stage dir already consumed; entry is inert
            elif table_kind == "replace_flat":
                live_root = os.path.dirname(stage)
                token = op["token"]
                own = set(op.get("files", []))
                trash = os.path.join(live_root, f".__swapout-flat__{token}")
                # Stage-guard (ADVICE r7, high): once the stage dir is
                # consumed the replace HAS happened — a re-apply (crash
                # replay, reader heal racing the publisher's fold) must
                # not retire again, or it would trash files a LATER op
                # in the same manifest appended to this table (the
                # ANN upsert replace-then-append pattern); those run
                # files are not in `own` and would be silently lost.
                if os.path.isdir(stage):
                    if os.path.isdir(live_root):
                        os.makedirs(trash, exist_ok=True)
                        for f in os.listdir(live_root):
                            # retire old content, but never this pass's
                            # own already-moved staged files (re-apply
                            # after a crash mid-move)
                            if (f.endswith(".parquet")
                                    and not f.startswith((".", "_"))
                                    and f not in own):
                                os.replace(os.path.join(live_root, f),
                                           os.path.join(trash, f))
                    os.makedirs(live_root, exist_ok=True)
                    for f in os.listdir(stage):
                        if f.endswith(".parquet"):
                            os.replace(os.path.join(stage, f),
                                       os.path.join(live_root, f))
                    shutil.rmtree(stage, ignore_errors=True)
                if os.path.isdir(trash):
                    shutil.rmtree(trash, ignore_errors=True)
            elif table_kind == "append_tree":
                live_root = os.path.dirname(stage)
                if os.path.isdir(stage):
                    for child in sorted(os.listdir(stage)):
                        src = os.path.join(stage, child)
                        if child.startswith((".", "_")) or not os.path.isdir(src):
                            continue
                        dst = os.path.join(live_root, child)
                        os.makedirs(dst, exist_ok=True)
                        for f in os.listdir(src):
                            if f.endswith(".parquet"):
                                # uuid-unique names: re-runs only see
                                # files not yet moved
                                os.replace(
                                    os.path.join(src, f),
                                    os.path.join(dst, f),
                                )
                    shutil.rmtree(stage, ignore_errors=True)
            elif table_kind == "replace_tree":
                live_root = os.path.dirname(stage)
                token = op["token"]
                pfx = f".__swapout-tree__{token}__"
                if os.path.isdir(stage):
                    for child in sorted(os.listdir(stage)):
                        src = os.path.join(stage, child)
                        if child.startswith((".", "_")) or not os.path.isdir(src):
                            continue
                        dst = os.path.join(live_root, child)
                        swapout = os.path.join(live_root, pfx + child)
                        if os.path.isdir(dst):
                            if os.path.isdir(swapout):
                                shutil.rmtree(swapout)
                            os.replace(dst, swapout)
                        os.replace(src, dst)
                    shutil.rmtree(stage, ignore_errors=True)
                # emptied leaves: dot-rename (atomic invisibility) then
                # retire with the swapouts — a direct rmtree could crash
                # half-way and leave a partially-populated live leaf
                for leaf in op.get("drops", []):
                    d = os.path.join(live_root, leaf)
                    if os.path.isdir(d):
                        trash = os.path.join(live_root, pfx + leaf)
                        if os.path.isdir(trash):
                            shutil.rmtree(trash)
                        os.replace(d, trash)
                if os.path.isdir(live_root):
                    for name in os.listdir(live_root):
                        if name.startswith(pfx):
                            shutil.rmtree(os.path.join(live_root, name),
                                          ignore_errors=True)
