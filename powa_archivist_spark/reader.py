"""Read-only OUT-OF-PROCESS snapshot reader (r8, VERDICT r7 task 6).

The single-manifest commit (:mod:`powa_archivist_spark.txn`) makes
crashes invisible to every reader that goes through a ``Warehouse`` in
the publishing process: reads resolve pending manifests (under
in-process table locks) before listing files.  An EXTERNAL session —
another Spark driver, a DuckDB shell — pointed straight at the table
directory bypasses that resolution and can observe a fold mid-flight
(some staged files moved, some not; a replace half-retired).

This module closes that gap without a transactional table format:
``SnapshotReader`` resolves a table's LOGICAL file set purely from the
committed manifests plus a directory listing, then pins the result as a
HARD-LINKED snapshot directory.  Three properties make this sound with
zero cooperation from the publisher:

1. **The manifest records every staged file name** per partition leaf
   (txn.py ``_leaves``), and staged part-file names are uuid-unique.
   The post-commit file set of a table is therefore a pure function of
   (live listing ∪ op records): appends ADD their recorded names;
   replaces DROP their leaves' live names (and their ``drops`` leaves)
   and add their own.  Fold progress never changes the answer — a recorded
   file is either still in its stage dir or already at its live path,
   and the resolver tries both.
2. **Folding only ever uses atomic renames** (``os.replace``), so each
   recorded file exists at exactly one of its two candidate paths at
   any instant; a miss at both is a transient in-flight rename and a
   bounded retry converges.
3. **Hard links survive renames**: once a resolved file is linked into
   the snapshot dir, the publisher may move/retire the source freely —
   the snapshot keeps the inode alive.  The snapshot is therefore a
   stable, fully-consistent view ANY engine can scan (Spark, DuckDB,
   pandas), for as long as the caller keeps it.

A whole-resolution retry (default 5) restarts from a fresh manifest +
directory listing when a file vanishes from both candidates — e.g. a
``replace`` committed between our listing and the link.  Each retry
observes a strictly newer state, and passes are seconds apart while
resolution is milliseconds, so this converges in practice; a pathological
publish storm raises after the retry budget rather than returning a torn
view.

Catalog-managed bucketed ledger tables (the streaming dedup digest
ledger, ``BucketedDigestLedger``) resolve the same way: their appends
are ordinary ``append`` ops staged at the table's catalog location, so
the caller passes that ``location=`` to :meth:`snapshot` (an external
engine knows the warehouse dir it's pointed at; it has no session
catalog to ask).  A manifest op of any other format raises, naming the
manifest, rather than resolving to a view without its data.  Still not
covered: tables written by engines other than this package.

Reference analog: readers of powa's one-statement wCTE snapshots
(powa--5.2.0.sql:4006-4108) get this from PostgreSQL MVCC; plain
parquet needs the manifest protocol replayed read-only.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time


class TornSnapshotError(RuntimeError):
    """Resolution could not pin a consistent view within the retry
    budget (pathologically hot publish loop)."""


def _pending_ops(root: str, table: str) -> list[tuple[str, dict]]:
    """(manifest path, op) for every op touching ``table`` in a
    committed-but-unretired manifest, in manifest order (srv dir, then
    intent name — passes on one table are serialized by the publisher,
    so this order is the publish order)."""
    txn_root = os.path.join(root, "_txn")
    if not os.path.isdir(txn_root):
        return []
    ops: list[tuple[str, dict]] = []
    for srv in sorted(os.listdir(txn_root)):
        d = os.path.join(txn_root, srv)
        if not os.path.isdir(d):
            continue
        for name in sorted(os.listdir(d)):
            if not name.endswith(".intent"):
                continue
            p = os.path.join(d, name)
            try:
                with open(p) as f:
                    rec = json.load(f)
            except (OSError, json.JSONDecodeError):
                continue  # being retired / torn: fully-applied or unborn
            ops.extend(
                (p, op) for op in rec.get("ops", [])
                if op.get("table") == table
            )
    return ops


def _live_listing(table_root: str) -> dict[str, dict[str, str]]:
    """relative dir -> {file name -> absolute path}, skipping dot- and
    underscore-prefixed entries (stages, Spark markers)."""
    out: dict[str, dict[str, str]] = {}
    if not os.path.isdir(table_root):
        return out
    for cur, dirs, files in os.walk(table_root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        rel = os.path.relpath(cur, table_root)
        rel = "" if rel == "." else rel
        keep = {
            f: os.path.join(cur, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        }
        if keep:
            out[rel] = keep
    return out


def _resolve(root: str, table: str,
             table_root: str | None = None) -> dict[str, dict[str, list[str]]]:
    """One resolution attempt: relative dir -> {name -> candidate
    absolute paths, in preference order}.  An op stages at its table's
    live root, so its leaves are relative dirs of the table."""
    if table_root is None:
        table_root = os.path.join(root, table)
    out: dict[str, dict[str, list[str]]] = {
        rel: {name: [p] for name, p in names.items()}
        for rel, names in _live_listing(table_root).items()
    }
    for path, op in _pending_ops(root, table):
        kind = op.get("kind")
        if kind not in ("append", "replace") or "leaves" not in op:
            raise ValueError(
                f"manifest {path}: cannot resolve staged op {kind!r} on "
                f"table {table!r}"
            )
        stage = op["stage"]
        live = os.path.dirname(stage)
        if kind == "replace":
            # a replaced or dropped leaf loses its live files (a
            # partition leaf its whole subtree)
            for leaf in [*op["leaves"], *op["drops"]]:
                for rel in [r for r in out if r == leaf
                            or leaf and r.startswith(leaf + "/")]:
                    del out[rel]
        for leaf, names in op["leaves"].items():
            for name in names:
                out.setdefault(leaf, {})[name] = [
                    os.path.join(live, leaf, name),
                    os.path.join(stage, leaf, name),
                ]
    return out


def _link_first(candidates: list[str], dest: str) -> bool:
    """Hard-link the first candidate that exists; True on success.
    Candidates are cycled twice to ride out an in-flight atomic rename
    between them (stage -> live moves only)."""
    for path in candidates + list(reversed(candidates)):
        try:
            os.link(path, dest)
            return True
        except FileExistsError:
            return True
        except OSError:
            continue
    return False


class SnapshotReader:
    """Pin consistent snapshots of warehouse tables for external
    engines.

    >>> r = SnapshotReader("/path/to/warehouse")
    >>> snap = r.snapshot("powa_statements_current")   # a directory
    >>> spark.read.parquet(snap)                       # any session
    >>> duckdb.sql(f"SELECT * FROM read_parquet('{snap}/**/*.parquet',"
    ...            " hive_partitioning=1)")
    >>> r.release(snap)
    """

    def __init__(self, root: str, retries: int = 5) -> None:
        self.root = root
        self.retries = retries
        self._snap_root = os.path.join(root, "_snapshots")

    def snapshot(self, table: str, dest: str | None = None,
                 location: str | None = None) -> str:
        """Resolve ``table`` through the manifest protocol and return a
        hard-linked snapshot directory (hive partition structure
        preserved).  The caller owns the directory; :meth:`release` (or
        plain rmtree) frees it.

        ``location`` (r9): the table's data directory when it is NOT
        ``<root>/<table>`` — i.e. a catalog-managed bucketed ledger
        (``BucketedDigestLedger``), whose location lives in the Spark
        catalog of the publishing session.  External engines pass the
        path they were configured with."""
        last_missing = None
        for _ in range(self.retries):
            resolved = _resolve(self.root, table, location)
            if dest is None:
                os.makedirs(self._snap_root, exist_ok=True)
                out = tempfile.mkdtemp(
                    prefix=f"{table.replace('/', '_')}__",
                    dir=self._snap_root,
                )
            else:
                out = dest
                os.makedirs(out, exist_ok=True)
            ok = True
            for rel, names in resolved.items():
                d = os.path.join(out, rel) if rel else out
                os.makedirs(d, exist_ok=True)
                for name, candidates in names.items():
                    if not _link_first(candidates,
                                       os.path.join(d, name)):
                        ok = False
                        last_missing = candidates
                        break
                if not ok:
                    break
            if ok:
                return out
            shutil.rmtree(out, ignore_errors=True)
            time.sleep(0.02)  # in-flight rename: re-resolve fresh
        raise TornSnapshotError(
            f"could not pin {table!r} in {self.retries} attempts; "
            f"last missing file candidates: {last_missing}"
        )

    def release(self, snap_dir: str) -> None:
        shutil.rmtree(snap_dir, ignore_errors=True)

    def read_spark(self, spark, table: str):
        """Read via ANY SparkSession (not necessarily the publisher's).
        The snapshot dir stays alive until released; use
        ``df.localCheckpoint()`` or finish the action before releasing."""
        return spark.read.parquet(self.snapshot(table))

    def read_duckdb_sql(self, table: str) -> tuple[str, str]:
        """(snapshot_dir, SQL source expression) for a DuckDB scan."""
        snap = self.snapshot(table)
        return snap, (
            f"read_parquet('{snap}/**/*.parquet', hive_partitioning=1,"
            " union_by_name=1)"
        )
