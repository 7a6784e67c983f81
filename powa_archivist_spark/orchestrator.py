"""Snapshot orchestrator — ``powa_take_snapshot(srvid)`` equivalent.

Reference: powa--5.2.0.sql:3450-3710 + the bgworker timer loop
(powa.c:331-505).  Semantics preserved:

1. per-srvid concurrency lock (``FOR UPDATE NOWAIT`` on powa_snapshot_metas,
   powa--5.2.0.sql:3413-3448) -> threading lock per srvid here; on a real
   cluster an external lock service or Delta optimistic txn.
2. ``coalesce_seq += 1``, ``snapts = now()``.
3. snapshot dispatch in (priority, name) order, each datasource inside its
   own try/except; failures append to the errors ledger and never abort the
   pass (powa--5.2.0.sql:3509-3547).  Priority is the only order needed,
   so dispatch runs in priority waves: a wave's datasources share no sink
   and snapshot concurrently, and the ledger keeps dispatch order.
   Coalesce and purge run every datasource at once, and the qualstats
   pack's quals and constvalues halves at once too.
4. conditional coalesce when ``(coalesce_seq + srvid % 20) % coalesce == 0``
   — the % 20 smears maintenance of many servers across passes
   (powa--5.2.0.sql:3549-3604).
5. conditional purge on the NEXT pass (``% == 1``) (powa--5.2.0.sql:3606-3661).
6. errors recorded in the metas table; returns the error count.
"""

from __future__ import annotations

import datetime as dt
import functools
import itertools
import json
import os
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import databases, dictionary
from .operators.aggregate import aggregate
from .operators.purge import DEFAULT_RETENTION, purge, reset
from .operators.snapshot import snapshot
from .session import adopt, concurrently, local_frame
from .specs import ALL_SPECS, DatasourceSpec
from .storage import Warehouse
from .txn import StagedPass, TxnLog

DEFAULT_COALESCE = 100  # powa.c:277-281 (tests use 5, sql/01_general.sql:83)
SMEAR_MODULUS = 20      # powa--5.2.0.sql:3550, 3608

# powa_snapshot_metas (powa--5.2.0.sql:908-918): one tiny state row per
# srvid.  Stored as an atomic JSON file, not a Spark table — it is
# orchestrator state (the lock/sequence object), not analytical data, and a
# distributed write for one row is pure overhead at any scale.
METAS_DIR = "powa_snapshot_metas"


@dataclass
class ServerConfig:
    """powa_servers row (powa--5.2.0.sql:120-136)."""

    srvid: int
    frequency_s: int = 300
    retention: dt.timedelta = DEFAULT_RETENTION
    powa_coalesce: int = DEFAULT_COALESCE
    # enabled datasources; None = all registered
    enabled: list[str] | None = None
    # monitored server version, pg num format (powa_servers.version is
    # text in the reference, stamped by the collector); None = unknown ->
    # treat as newest (every datasource dispatched, newest layouts)
    version: int | None = None
    # powa_db_module_config rows: {name: {"enabled": bool,
    # "dbnames": [...] | None}}; None = no per-db-module config (all on)
    db_modules: dict | None = None


class Orchestrator:
    def __init__(self, wh: Warehouse,
                 specs: dict[str, DatasourceSpec] | None = None):
        # passes run on the engine session (session.engine_session);
        # the metas table view is a read and stays on the caller's
        self.wh = wh.engine()
        self._caller = wh
        self.specs = specs if specs is not None else dict(ALL_SPECS)
        self.txns = TxnLog(wh.root)
        self._locks: dict[int, threading.Lock] = {}
        self._locks_guard = threading.Lock()

    # ---- metas state ----------------------------------------------------

    def _lock(self, srvid: int) -> threading.Lock:
        with self._locks_guard:
            return self._locks.setdefault(srvid, threading.Lock())

    def _metas_path(self, srvid: int) -> str:
        d = self.wh.path(METAS_DIR)
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"srvid={srvid}.json")

    def read_metas(self, srvid: int) -> dict:
        p = self._metas_path(srvid)
        if not os.path.exists(p):
            return {
                "srvid": srvid, "coalesce_seq": 0, "snapts": None,
                "aggts": None, "purgets": None, "errors": [],
            }
        with open(p) as f:
            raw = json.load(f)
        for k in ("snapts", "aggts", "purgets"):
            if raw.get(k):
                raw[k] = dt.datetime.fromisoformat(raw[k])
        return raw

    def read_metas_df(self) -> DataFrame:
        """``powa_snapshot_metas`` as a queryable DataFrame — one row per
        srvid with the errors ledger (powa--5.2.0.sql:908-918).  powa-web
        consumes the metas as a TABLE (last snapshot time, per-datasource
        failures), so the JSON state files get a tabular view; the row
        count is the number of registered servers, so a driver-side load
        into a DataFrame is the right scale call."""
        schema = T.StructType([
            T.StructField("srvid", T.IntegerType(), False),
            T.StructField("coalesce_seq", T.LongType(), True),
            T.StructField("snapts", T.TimestampType(), True),
            T.StructField("aggts", T.TimestampType(), True),
            T.StructField("purgets", T.TimestampType(), True),
            T.StructField("errors", T.ArrayType(T.StringType()), True),
        ])
        d = self.wh.path(METAS_DIR)
        rows = []
        if os.path.isdir(d):
            for fname in sorted(os.listdir(d)):
                if not fname.endswith(".json"):
                    continue
                m = self.read_metas(int(fname.split("=")[1].split(".")[0]))
                rows.append(tuple(m[f.name] for f in schema.fields))
        return local_frame(self._caller.spark, rows, schema)

    def _write_metas(self, meta: dict) -> None:
        out = dict(meta)
        for k in ("snapts", "aggts", "purgets"):
            if out.get(k):
                out[k] = out[k].isoformat()
        p = self._metas_path(meta["srvid"])
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, p)

    # ---- dispatch -------------------------------------------------------

    def _dispatch_order(self, server: ServerConfig) -> list[DatasourceSpec]:
        """ORDER BY priority, name (powa--5.2.0.sql:3520), minus
        datasources the monitored server is too old for — the
        powa_functions view's ``server_version_num >= m.min_version``
        filter (powa--5.2.0.sql:259-271)."""
        enabled = (
            self.specs.values()
            if server.enabled is None
            else [self.specs[n] for n in server.enabled if n in self.specs]
        )
        if server.version is not None:
            enabled = [s for s in enabled if s.min_version <= server.version]
        if server.db_modules is not None:
            # powa_db_module_config.enabled gate (powa--5.2.0.sql:345-351)
            # .get("enabled", True): a config row may carry only dbnames
            # (scope-only), which _apply_db_module_scope accepts — a bare
            # index would raise OUTSIDE the per-datasource error trapping
            # and abort the whole pass
            enabled = [
                s for s in enabled
                if s.kind != "db_module"
                or server.db_modules.get(s.name, {}).get("enabled", True)
            ]
        return sorted(enabled, key=lambda s: (s.priority, s.name))

    def take_snapshot(
        self,
        server: ServerConfig,
        captures: dict[str, DataFrame] | None = None,
        now: dt.datetime | None = None,
    ) -> int:
        """One full pass; returns the number of errors (reference returns
        the same — powa--5.2.0.sql:3696-3707).

        ``captures`` optionally provides pre-built source DataFrames per
        datasource (the local-server path); otherwise staging tables are
        consumed (the remote path).
        """
        srvid = server.srvid
        lock = self._lock(srvid)
        if not lock.acquire(blocking=False):
            raise RuntimeError(
                f"snapshot already in progress for srvid={srvid}"
            )  # powa_prevent_concurrent_snapshot
        try:
            return self._take_snapshot_locked(server, captures, now)
        finally:
            lock.release()

    def _take_snapshot_locked(self, server, captures, now) -> int:
        srvid = server.srvid
        now = now or dt.datetime.now(dt.timezone.utc)
        captures = captures or {}
        meta = self.read_metas(srvid)
        meta["coalesce_seq"] += 1
        meta["snapts"] = now
        errors: list[str] = []

        # crash detection (txn.py): a begin-marker surviving from an
        # earlier pass means the process died mid-snapshot — no error
        # ledger entry exists because nothing ran to write one.  Surface
        # it, then let THIS pass replay the preserved staging (every
        # write step is idempotent, so the replay converges).
        for stale in self.txns.pending(srvid):
            errors.append(
                "powa_snapshot: interrupted pass detected "
                f"(begun {stale.get('snap_ts')}); staging preserved, "
                "replaying in this pass"
            )
        # crash INVISIBILITY (txn.StagedPass): complete any publish a
        # dead pass committed but didn't finish, sweep the invisible
        # stage dirs of passes that died before their commit point, and
        # heal interrupted compaction swaps — all in ONE warehouse walk
        # per pass, error-trapped so a stray unreadable dir (or a
        # manifest op it cannot fold) lands in the error ledger instead
        # of halting every server's ingestion.
        # It runs before any datasource's worker starts: its sweep would
        # delete a live sibling's stage dir.
        try:
            StagedPass.recover(self.wh, srvid, sweep=True)
        except (OSError, ValueError) as e:
            errors.append(f"powa_snapshot_recovery: {e}")
        txn_token = self.txns.begin(srvid, now)

        # databases dimension runs first (priority -3,
        # powa--5.2.0.sql:170-173) so P3/J1 joins see a fresh dimension
        if "databases" in captures:
            try:
                feed = adopt(self.wh.spark, captures["databases"])
                databases.databases_snapshot(self.wh, srvid, feed, now=now)
            except Exception as e:
                errors.append(f"powa_databases_snapshot: {e}")

        order = self._dispatch_order(server)
        for _prio, wave in itertools.groupby(order, key=lambda s: s.priority):
            errors += self._overlap("snapshot", self._snapshot_one, list(wave),
                                    server, captures, now)

        # conditional coalesce (powa--5.2.0.sql:3549-3604)
        phase = (meta["coalesce_seq"] + srvid % SMEAR_MODULUS) % server.powa_coalesce
        if phase == 0:
            errors += self._overlap("aggregate", self._pack, order, srvid)
            meta["aggts"] = now
        # conditional purge on the pass after a coalesce (3606-3661)
        elif phase == 1:
            errors += self._overlap("purge", self._purge_one, order, server,
                                    now)
            # sequenced after the spec purges: the databases purge
            # cascades into the dictionary
            try:
                dictionary.purge_statements(
                    self.wh, srvid, server.retention, now=now
                )
            except Exception as e:
                errors.append(f"powa_statements_dict_purge: {e}")
            try:
                if self.wh.exists(databases.TABLE):
                    databases.purge_databases(
                        self.wh, srvid, server.retention, now=now
                    )
            except Exception as e:
                errors.append(f"powa_databases_purge: {e}")
            meta["purgets"] = now

        meta["errors"] = errors
        self._write_metas(meta)
        # pass complete: every step either committed or is in the error
        # ledger — commit this pass's marker AND clear any stale ones
        # this pass just replayed (commit point of the logical txn)
        self.txns.commit(txn_token)
        self.txns.clear(srvid)
        return len(errors)

    def _overlap(self, step: str, fn, specs, *args) -> list[str]:
        """``fn(spec, *args)`` for every spec at once, each inside its
        own error trap; returns the errors in ``specs`` order."""
        def trapped(spec) -> str | None:
            try:
                fn(spec, *args)
            except Exception as e:  # per-function error trapping
                return f"powa_{spec.name}_{step}: {e}"
            return None

        calls = [functools.partial(trapped, s) for s in specs]
        return [e for e in concurrently(self.wh.spark, *calls) if e]

    def _snapshot_one(self, spec: DatasourceSpec, server: ServerConfig,
                      captures: dict, now: dt.datetime) -> None:
        """One datasource's snapshot step: capture, layout resolution,
        scoping, then its snapshot operator."""
        srvid = server.srvid
        cap = captures.get(spec.name)
        if cap is not None:
            # a caller's frame joins the pass on the engine session (a
            # cross-session plan runs on its left operand's session and
            # conf)
            cap = adopt(self.wh.spark, cap)
        elif server.version is not None:
            # resolve the server's layout epoch for this module (the
            # reference's version-branched *_src functions,
            # powa--5.2.0.sql:4315-5547)
            from .sources.readers import read_staging
            from .sources.versions import MODULE_SOURCES

            source = MODULE_SOURCES.get(spec.name)
            if source is not None:
                cap = read_staging(
                    self.wh, spec, srvid,
                    server_version=server.version, source=source,
                )
        if (
            spec.name == "wait_sampling"
            and cap is not None
            and "dbid" not in cap.columns
        ):
            # local-path raw profile samples: resolve dbid via the
            # statements dictionary (J8, powa--5.2.0.sql:7315-7334)
            from .operators.wait_sampling import resolve_wait_sampling

            cap = resolve_wait_sampling(self.wh, srvid, cap)
        cap = self._apply_db_module_scope(server, spec, srvid, cap)
        if spec.name == "statements":
            self._statements_snapshot(spec, srvid, cap, now)
        elif spec.name == "qualstats":
            # end-to-end wCTE pipeline: gate -> quals dedup -> per-qual
            # rollup -> constvalues (powa--5.2.0.sql:7104-7184)
            from .operators.qualstats import qualstats_snapshot

            qualstats_snapshot(self.wh, srvid, capture=cap)
        else:
            snapshot(self.wh, spec, srvid, capture=cap)

    def _pack(self, spec: DatasourceSpec, srvid: int) -> None:
        calls = [lambda: aggregate(self.wh, spec, srvid)]
        if spec.name == "qualstats":
            # constvalues half of powa_qualstats_aggregate
            # (powa--5.2.0.sql:7193-7233): six ranked arrays; it shares
            # no table with the quals half, so the two pack at once
            from .operators.qualstats import qualstats_aggregate

            calls.append(lambda: qualstats_aggregate(self.wh, srvid))
        concurrently(self.wh.spark, *calls)

    def _purge_one(self, spec: DatasourceSpec, server: ServerConfig,
                   now: dt.datetime) -> None:
        purge(self.wh, spec, server.srvid, retention=server.retention,
              now=now)
        if spec.name == "qualstats":
            from .operators.qualstats import purge_constvalues_history

            purge_constvalues_history(
                self.wh, server.srvid, server.retention, now=now
            )

    def _apply_db_module_scope(self, server: ServerConfig, spec, srvid: int,
                               cap):
        """Per-database db-module scoping: when powa_db_module_config
        carries a dbnames array for this module, keep only capture rows
        whose database resolves to one of those names (the reference's
        collector iterates the dbnames and snapshots per database —
        powa_db_functions.dbnames, powa--5.2.0.sql:402-426).  The name ->
        oid resolution is a broadcast semi-join against the databases
        dimension."""
        if (
            spec.kind != "db_module"
            or server.db_modules is None
            or spec.name not in server.db_modules
            or server.db_modules[spec.name].get("dbnames") is None
        ):
            return cap
        dbnames = server.db_modules[spec.name]["dbnames"]
        if cap is None:
            from .sources.readers import read_staging

            cap = read_staging(self.wh, spec, srvid)
        dim = (
            databases.read_databases(self.wh, srvid)
            .filter(F.col("datname").isin(dbnames))
            .select(F.col("oid").alias(spec.dbid_col))
        )
        return cap.join(F.broadcast(dim), spec.dbid_col, "left_semi")

    def _statements_snapshot(self, spec, srvid: int, cap, now) -> int:
        """Statements pass: ONE capture feeds both the history append and
        the dictionary merge — the reference's wCTE reads the source once
        and fans out (powa--5.2.0.sql:4006-4066).

        On the remote path the staging slice (which carries the `query`
        text column the history tables don't) is read up front and
        persisted, and the staging partition is truncated only AFTER the
        dictionary merge commits (round-5): a crash between the history
        append and the merge used to destroy the merge's only source —
        the query text lives nowhere else — leaving a permanently
        half-applied snapshot.  With truncate-last, every crash point
        replays from intact staging and converges (the append anti-joins
        to nothing, the merge is an upsert).  On a real deployment the
        same guarantee comes from a transactional table format (staging
        consume + merge in one txn)."""
        from .sources.readers import read_staging

        src = cap
        persisted = False
        if src is None:
            src = read_staging(self.wh, spec, srvid).persist()
            persisted = True
        # ONE StagedPass spans the history append AND the dictionary
        # merge: both stage invisibly and publish() is the single commit
        # point — the full wCTE unit of the reference, not just the
        # two history sinks
        sp = StagedPass(self.wh, srvid)
        try:
            n = snapshot(self.wh, spec, srvid, capture=src,
                         drop_staging=False, staged=sp)
            # merge on any non-empty capture, NOT just n > 0: a pure
            # replay (crash landed after the append, before the merge)
            # yields n == 0 with the dictionary rows still missing —
            # the n > 0 gate would skip the merge forever.  The limit(1)
            # probe only runs on the n == 0 path (short-circuit).
            if n > 0 or src.limit(1).count() > 0:
                dictionary.merge_statements(self.wh, srvid, src, now=now,
                                            staged=sp)
            sp.publish()
            # staging truncate is the LAST step (the reference runs it
            # inside the same wCTE, powa--5.2.0.sql:4102-4104;
            # truncate-last is the parquet equivalent of that ordering)
            # — and ONLY on the remote path, where staging was this
            # pass's source: a caller-provided capture never consumed
            # the staged rows, and truncating would silently discard
            # any unprocessed remote batch for this srvid (ADVICE r5)
            staging_t = Warehouse.src_tmp(spec.name)
            if persisted and self.wh.exists(staging_t):
                self.wh.drop_srvid(staging_t, srvid)
            return n
        finally:
            if persisted:
                src.unpersist()

    def reset_server(self, server: ServerConfig) -> None:
        """``powa_reset(srvid)`` (powa--5.2.0.sql:6359-6563)."""
        for spec in self._dispatch_order(server):
            reset(self.wh, spec, server.srvid)
        from .operators.qualstats import reset_qualstats

        reset_qualstats(self.wh, server.srvid)
        self.wh.drop_srvid(dictionary.TABLE, server.srvid)
        self.wh.drop_srvid(databases.TABLE, server.srvid)
        meta = self.read_metas(server.srvid)
        meta.update({"coalesce_seq": 0, "errors": []})
        self._write_metas(meta)
