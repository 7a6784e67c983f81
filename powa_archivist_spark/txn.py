"""Snapshot commit-markers and staged publishes — crash detection and
crash invisibility for the multi-table pass.

The reference's snapshot is one atomic wCTE (powa--5.2.0.sql:4006-4108):
history append, dictionary merge, and staging truncate either all land
or none do.  Plain-parquet Spark can't get that from a single statement,
so the engine layers three mechanisms:

1. **Convergence by construction** (operators/snapshot.py, streaming/
   ingest.py): every write step is idempotent (full-row anti-join
   append, fixpoint rollup recompute, upsert dictionary merge), and the
   staging slice that feeds a pass is only truncated AFTER every
   consumer of it has committed (orchestrator._statements_snapshot
   merges the dictionary BEFORE the truncate).  Re-running a crashed
   pass therefore converges to exactly the committed-once state.
2. **Detection by marker** (:class:`TxnLog`): a crash that kills the
   process mid-pass leaves no error-ledger entry — nothing RAN to
   record one.  The orchestrator writes a begin-marker per
   (srvid, snapshot ts) before the first table write and removes it
   after the last; a marker found at the START of a pass is proof of an
   interrupted pass, surfaced into the meta error ledger before this
   pass replays the preserved staging.
3. **Invisibility by manifest** (:class:`StagedPass`): a pass's sink
   writes land in dot-prefixed stage dirs and go live together at one
   manifest rename.  The manifest holds two op kinds over partition
   leaves — ``append`` and ``replace`` (see :class:`StagedPass`) — and
   this module is the only one that writes, names or folds them.

A marker is a tiny JSON file under ``<root>/_txn/srvid=<n>/`` written
atomically (tmp + rename).  This is deliberately NOT a lock (the
orchestrator has per-srvid locks) and NOT a WAL — the idempotent
operators make a full WAL unnecessary; the marker only closes the
observability gap.  A transactional table format (Delta/Iceberg) is the
documented swap-in that would collapse these mechanisms into real
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


#: the manifest's op kinds (see :class:`StagedPass`)
KINDS = ("append", "replace")


def _is_part(name: str) -> bool:
    return name.endswith(".parquet") and not name.startswith((".", "_"))


def _parquet(d: str) -> list[str]:
    """Visible parquet file names directly in ``d`` (none if absent)."""
    return sorted(filter(_is_part, os.listdir(d))) if os.path.isdir(d) else []


def _stage_prefix(lane: int) -> str:
    return f".__stage__{lane}__"


def _leaves(stage: str) -> dict[str, list[str]]:
    """Leaf dir (relative to ``stage``; ``""`` for the stage itself) ->
    parquet file names, for every leaf a staged write landed files in.
    The manifest records them so a READ-ONLY out-of-process reader
    (:mod:`powa_archivist_spark.reader`) resolves a table's file set
    from the manifest alone; part-file names are uuid-unique."""
    out: dict[str, list[str]] = {}
    for cur, dirs, files in os.walk(stage):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        names = sorted(filter(_is_part, files))
        if names:
            rel = os.path.relpath(cur, stage)
            out["" if rel == "." else rel] = names
    return out


class StagedPass:
    """Atomic multi-sink publish for one (lane, pass) — crash
    INVISIBILITY, upgrading the begin/commit markers above (crash
    detection) to the reference's one-statement wCTE semantics
    (powa--5.2.0.sql:4006-4108) as far as plain parquet allows.

    Every staged write is ONE manifest op over a set of leaves under
    the table's live root: ``""`` for an unpartitioned table, or a
    partition dir such as ``srvid=3``, ``cell_id=7`` or
    ``srvid=3/range_day=2026-01-01``.  Two kinds:

    - ``append`` moves each leaf's staged files into the live leaf,
      creating it if new;
    - ``replace`` swaps each staged leaf in for the live one and retires
      its ``drops`` leaves.  The table-root leaf swaps file by file and
      never retires the op's own files.  A replace whose frame is empty
      stages no leaf, so its leaf is a drop.

    Protocol (the manifest rename is the ONLY visibility-relevant
    rename):

    1. each op writes into its own dot-dir at the table root,
       ``.__stage__<lane>__<pass>__<seq>`` — Spark's file index skips
       dot-prefixed paths, so NO reader observes any of it;
    2. ``publish()`` writes ONE manifest (tmp + atomic rename) recording
       every op with its leaves' file names.  **That rename is the
       commit point**: every ``Warehouse.read``/``exists`` first folds
       the table's committed ops (:func:`heal_table`, under the table's
       write lock) before listing files, so a reader sees the full
       pre-pass state before the rename and the full post-pass state
       after it, never a mixture;
    3. after the rename ``publish()`` folds the ops itself (metadata-
       only renames, each op under its table's write lock) and removes
       the manifest.  An op's stage dir records its progress: the live
       leaves it retires move INTO it, and the op is complete once the
       stage dir is gone.  A re-run therefore redoes only what is left
       and never retires what a later op of the same manifest landed,
       so the publisher, readers and :meth:`recover` race it freely;
    4. a crash BEFORE the manifest rename leaves only invisible stage
       dirs — readers still see the pre-pass state, and the preserved
       staging replays the pass from scratch (exactly-once via the
       snapshot operator's anti-join); a crash AFTER it changes nothing
       for readers (they self-heal through the manifest) and
       :meth:`recover` completes the fold and drops the manifest.

    Residual scope: atomicity holds for every reader that goes through
    a Warehouse, and for out-of-process readers that resolve through
    :class:`powa_archivist_spark.reader.SnapshotReader` (read-only
    manifest replay + hard-linked snapshot pinning).  Only a foreign
    engine pointed RAW at the table path can still observe a fold
    mid-flight; a transactional table format (Delta/Iceberg) remains
    the swap-in that removes even that.

    Sweep ownership: the stage dirs of a pass that died before its
    commit point belong to its lane, and only a writer that knows every
    other writer of a dir is dead may remove them.  A srvid lane's
    passes are serialized by the orchestrator's per-srvid lock, whose
    ``recover(sweep=True)`` runs before a pass dispatches any worker.
    :data:`GLOBAL_LANE` writers (streaming folds, ANN index maintenance)
    share the lane but not their tables, so each sweeps only the tables
    it writes (:meth:`sweep_stages`).  Fold ops also take the owning
    table's write lock, so a concurrent ``maintenance.compact`` (which
    holds it for its list→trash→delete cycle) never trashes a file a
    fold moved in after its listing.
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
        # the stage-dir name uses "__" as its field delimiter and the
        # sweep reads the lane from it: a pass id containing the
        # delimiter (or a path separator) would make names ambiguous —
        # reject it up front
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

    def _acl_check(self, table: str) -> None:
        # staged sinks bypass the Warehouse write methods, so an
        # acl.AclWarehouse exposes its write check through this hook —
        # staging into a table the actor may not write must fail at
        # stage time, before any invisible data lands
        chk = getattr(self.wh, "acl_check_write", None)
        if chk is not None:
            chk(table)

    def stage(self, kind: str, table: str, write=None, drops=(),
              root: str | None = None):
        """The staging core every ``stage_*`` entry runs through: reserve
        the op's manifest slot, run ``write(stage_dir)`` — which lands
        the op's leaves inside the fresh stage dir; ``None`` lands none
        — and record the leaves it landed.  ``drops`` (a replace's) are
        leaves to retire; a leaf the write landed is never dropped.
        ``root`` is the table's live root when it is not
        ``wh.path(table)`` (a catalog-managed table).  An op with no
        leaf and no drop stages nothing.  Returns what ``write``
        returned."""
        if kind not in KINDS:
            raise ValueError(f"unknown staged op kind {kind!r}")
        self._acl_check(table)
        idx = self._reserve_op()
        root = root or self.wh.path(table)
        d = os.path.join(
            root, f"{_stage_prefix(self.srvid)}{self.pass_id}__{idx}")
        out = None if write is None else write(d)
        os.makedirs(d, exist_ok=True)  # a drop-only op's progress mark
        leaves = _leaves(d)
        drops = sorted(set(drops) - set(leaves))
        if leaves or drops:
            self._ops[idx] = {"kind": kind, "table": table, "stage": d,
                              "leaves": leaves, "drops": drops}
        else:
            shutil.rmtree(d, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(root)  # the table root only if nothing is in it
            self._ops[idx] = {}  # nothing to publish
        return out

    def _write_counted(self, df, d: str) -> int:
        """Write ``df`` (srvid dropped) as this pass's srvid leaf of stage
        dir ``d``; returns the rows written, observed on the write job
        itself.  An empty write leaves no leaf."""
        leaf = os.path.join(d, f"srvid={self.srvid}")
        df, rows = observe_rows(adopt(self.wh.spark, df))
        df.drop("srvid").write.mode("overwrite").parquet(leaf)
        n = rows()
        if n == 0:
            shutil.rmtree(leaf)
        return n

    def _writer(self, df, partition_by=()):
        """A ``write`` landing ``df`` in the stage dir, partitioned by
        ``partition_by`` (none: the table-root leaf)."""
        def write(d: str) -> None:
            w = adopt(self.wh.spark, df).write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(d)
        return write

    def stage_append(self, df, table: str) -> int:
        """Stage an append to the srvid partition of ``table``; returns
        the rows staged.  ``df`` must carry the srvid column (dropped
        here: partition dirs encode it, matching what a partitionBy
        append writes).  An empty ``df`` lands nothing: no file, no op,
        no stage dir."""
        return self.stage("append", table,
                          lambda d: self._write_counted(df, d))

    def stage_replace(self, df, table: str) -> int:
        """Stage a full replace of the srvid partition of ``table`` as
        one parquet file; returns the rows staged.  An empty ``df``
        retires the partition instead of landing an empty parquet
        file."""
        return self.stage("replace", table,
                          lambda d: self._write_counted(df.coalesce(1), d),
                          drops=[f"srvid={self.srvid}"])

    def stage_retire_flat(self, table: str) -> None:
        """Stage the retirement of an UNPARTITIONED table's content: a
        flat replace that lands no file, so after publish the table
        reads as absent (``Warehouse.exists`` is False).  No Spark job;
        nothing is staged when the table has no dir."""
        if os.path.isdir(self.wh.path(table)):
            self.stage("replace", table, drops=[""])

    def stage_append_tree(self, df, table: str, partition_by=()) -> None:
        """Stage a partition-tree APPEND: one Spark job writes ``df``
        partitioned by ``partition_by``; publish moves each staged
        leaf's files INTO the matching live leaf without replacing
        existing files.  The partition-wise append for ingest paths
        whose IO must stay proportional to the batch (ANN delta
        compaction).  No ``partition_by`` appends to an UNPARTITIONED
        table's root (streaming sinks, digest ledgers, ANN delta runs)."""
        self.stage("append", table, self._writer(df, partition_by))

    def stage_replace_tree(self, df, table: str, partition_by=(),
                           drops=()) -> None:
        """Stage a partition-TREE replace: ONE Spark job writes every
        touched partition of ``df`` (partitioned by ``partition_by``);
        publish swaps each staged leaf into the live table and retires
        the ``drops`` leaves (dir names like ``cell_id=7`` whose new
        content is empty).  Used by the ANN IVF upsert, whose cell
        rewrite must never leave a replaced id in two cells.  A leaf the
        staged tree rewrites is never dropped, so passing every live
        leaf as ``drops`` makes a full-table replace (the ANN index
        rebuild).  No ``partition_by`` replaces an UNPARTITIONED table's
        whole content (the ANN side tables, a fold's replace)."""
        self.stage("replace", table, self._writer(df, partition_by),
                   drops=drops if partition_by else [""])

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
    def sweep_stages(*roots: str) -> None:
        """Remove the :data:`GLOBAL_LANE` stage dirs under the given
        table roots — left by passes that died BEFORE their manifest
        rename; invisible to readers either way, this only reclaims
        disk.  Each global-lane writer calls it over the tables it
        writes, after :meth:`recover`, before it stages: it is their
        only writer (a stream's serialized batch loop, the single index
        maintainer), so every stage found there is dead."""
        pfx = _stage_prefix(GLOBAL_LANE)
        for root in roots:
            for name in (os.listdir(root) if os.path.isdir(root) else ()):
                if name.startswith(pfx):
                    shutil.rmtree(os.path.join(root, name),
                                  ignore_errors=True)

    @staticmethod
    def recover(wh, srvid: int, sweep: bool = False) -> int:
        """Complete every published-but-interrupted pass for ``srvid``
        (cheap: one listing of the tiny ``_txn`` dir, normally empty).
        With ``sweep=True`` additionally walk the warehouse for the
        lane's stage dirs of passes that died before their commit point
        — invisible to readers, but disk they'd otherwise leak; the
        orchestrator does this once per pass, not per spec (a full-tree
        walk is metadata-heavy on object stores).  The walk removes no
        :data:`GLOBAL_LANE` stage: its writers sweep their own tables
        (:meth:`sweep_stages`).  Returns the number of intents
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
                ops = _read_intent(p)
                if ops is None:
                    continue
                _apply_ops(wh, ops)
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
        # pass, not once per concern): (a) the lane's stale stage dirs —
        # only uncommitted passes' (committed ones were consumed by
        # _apply_ops above); (b) interrupted COMPACTION swaps
        # (operators/maintenance.py), healed here so a compact() crash
        # becomes visible again at the next pass instead of the next
        # compact call.  Each compaction base resolves under its table's
        # write lock and inside its own try/except — a stray unreadable
        # dir must not abort the snapshot pass.
        from .operators.maintenance import recover_base

        pfx = _stage_prefix(srvid) if srvid != GLOBAL_LANE else None
        compact_bases: list[tuple[str, str]] = []
        for dirpath, dirs, _files in os.walk(wh.root):
            if os.path.basename(dirpath) == "_txn":
                dirs[:] = []
                continue
            for d in dirs:
                if pfx and d.startswith(pfx):
                    shutil.rmtree(os.path.join(dirpath, d),
                                  ignore_errors=True)
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


def _read_intent(path: str, table: str | None = None) -> list[dict] | None:
    """The ops of the manifest at ``path``; None when it is torn or
    already retired.  An op this module cannot fold (another op
    format's, e.g. one written before ops became leaf sets) raises,
    naming the manifest: retiring it would silently drop the op's data.
    With ``table`` only that table's ops are checked, so one such op
    blocks reads of its own table and of no other."""
    try:
        with open(path) as f:
            ops = json.load(f).get("ops", [])
    except (OSError, json.JSONDecodeError):
        return None
    for op in ops:
        if table is not None and op.get("table") != table:
            continue
        if op.get("kind") not in KINDS or "leaves" not in op:
            raise ValueError(
                f"manifest {path}: cannot fold staged op "
                f"{op.get('kind')!r} on table {op.get('table')!r}"
            )
    return ops


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
            all_ops = _read_intent(p, table)
            if all_ops is None:
                continue  # being retired / torn: nothing to fold
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


def _set_aside(root: str, leaf: str, old: str, keep=()) -> None:
    """Move live leaf ``leaf`` of ``root`` under ``old``: the whole dir,
    or for the table-root leaf its parquet files other than ``keep``."""
    if leaf:
        src = os.path.join(root, leaf)
        if os.path.isdir(src):
            dst = os.path.join(old, leaf)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
        return
    for f in _parquet(root):
        if f not in keep:
            os.makedirs(old, exist_ok=True)
            os.replace(os.path.join(root, f), os.path.join(old, f))


def _apply_ops(wh, ops: list[dict], intent_path: str | None = None) -> None:
    """Fold staged ops idempotently (safe to re-run after any crash,
    from the publisher, recover(), or a reader's heal_table()).  Each op
    runs under its owning table's write lock, serializing against every
    other mutation path — including maintenance.compact's
    list→trash→delete cycle, which could otherwise trash a staged file
    moved in after its listing (ADVICE r6).

    An op is complete once its stage dir is gone, so a re-run skips it:
    a replace re-applied after a later op of the same manifest appended
    to its table would otherwise retire those files.  Leaves a replace
    retires move into the stage dir's ``.__old__`` and go with it: the
    last rename under the lock moves the stage dir to a ``__done`` name
    of the same lane, deleted once the lock is released (a purge's
    expired days), or by the lane's sweep after a crash.

    ``intent_path`` (ADVICE r7, medium): a healer passes the manifest it
    loaded the ops from; each op re-stats it UNDER the table write lock
    and stops once it is gone — the publisher (or recover) retired the
    pass, meaning every op already applied, so the healer's replay would
    be pure redundant work."""
    for op in ops:
        stage = op["stage"]
        done = stage + "__done"
        with wh._write_lock(op["table"]):
            if intent_path is not None and not os.path.exists(intent_path):
                return
            if not os.path.isdir(stage):
                continue
            root, old = os.path.dirname(stage), os.path.join(stage, ".__old__")
            replace = op["kind"] == "replace"
            for leaf, files in op["leaves"].items():
                src = os.path.join(stage, leaf) if leaf else stage
                dst = os.path.join(root, leaf) if leaf else root
                if replace and leaf:
                    # a partition leaf swaps in whole, unless an earlier
                    # run already did
                    if os.path.isdir(src):
                        _set_aside(root, leaf, old)
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        os.replace(src, dst)
                    continue
                if replace:
                    _set_aside(root, "", old, keep=files)
                names = _parquet(src)
                if names:
                    os.makedirs(dst, exist_ok=True)
                for f in names:
                    # uuid-unique part names: a re-run only sees files
                    # not yet moved
                    os.replace(os.path.join(src, f), os.path.join(dst, f))
            for leaf in op["drops"]:
                _set_aside(root, leaf, old)
            os.replace(stage, done)
        shutil.rmtree(done, ignore_errors=True)
