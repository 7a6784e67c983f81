"""Storage maintenance — small-file compaction.

The reference's storage-maintenance knob retunes TOAST packing on the
history tables (``powa_fix_toast_tuple_target``, powa--5.2.0.sql:
7732-7763, D8).  The Spark-native equivalent problem is small files:
every snapshot appends one file per partition per datasource, so a
5-minute cadence writes ~288 files/day/table — scan planning and footer
reads dominate long before data volume does.  ``compact`` is the
OPTIMIZE analog: rewrite a partition into size-targeted files.

Scheduled like the reference schedules coalesce/purge — piggybacked on
the maintenance pass, per srvid, so the smear (`% 20`) spreads the IO.
"""

from __future__ import annotations

import math
import os
import shutil

from ..storage import Warehouse

TARGET_FILE_BYTES = 128 << 20  # one HDFS-ish block per file


def recover_base(wh: Warehouse, parent_dir: str, base: str) -> None:
    """Resolve one interrupted compaction swap, deciding from the full
    (live, scratch, trash) state triple — the markers are not
    independent (r6 code review: handling them one-by-one deleted the
    only surviving copy when a concurrent writer had recreated the live
    dir between the two renames):

    - trash + scratch + live: the swap never completed (a completed
      swap consumes the scratch) and a concurrent append recreated the
      live leaf — MERGE the compacted scratch files into live (names
      are write-UUID-unique), then drop the trash duplicate;
    - trash + scratch: finish the swap (scratch -> live, drop trash);
    - trash + live: swap completed, cleanup died — drop the trash;
    - trash only: first rename landed, write was lost — roll back;
    - scratch + live: crash before any rename — scratch is stale;
    - scratch only: promote it (the only copy of the rows).

    Runs under the owning TABLE's write lock (first path component
    under the warehouse root, or ``base`` itself for a table-root
    swap): every other mutation path serializes on the same lock, so a
    pass-boundary recovery cannot tear an in-flight compact's swap (the
    locks are RLocks — compact calling in while holding the lock is
    fine)."""
    rel = os.path.relpath(parent_dir, wh.root)
    table = base if rel == "." else rel.split(os.sep)[0]
    with wh._write_lock(table):
        live = os.path.join(parent_dir, base)
        scratch = os.path.join(parent_dir, f".__compact__{base}")
        trash = os.path.join(parent_dir, f".__trash__{base}")
        has_live = os.path.isdir(live)
        has_scr = os.path.isdir(scratch)
        has_trash = os.path.isdir(trash)
        if has_trash and has_scr and has_live:
            for f in os.listdir(scratch):
                if f.endswith(".parquet"):
                    os.replace(
                        os.path.join(scratch, f),
                        os.path.join(live, f),
                    )
            shutil.rmtree(scratch, ignore_errors=True)
            shutil.rmtree(trash, ignore_errors=True)
        elif has_trash and has_scr:
            os.replace(scratch, live)
            shutil.rmtree(trash, ignore_errors=True)
        elif has_trash and has_live:
            shutil.rmtree(trash, ignore_errors=True)
        elif has_trash:
            os.replace(trash, live)
        elif has_scr and has_live:
            shutil.rmtree(scratch, ignore_errors=True)
        elif has_scr:
            os.replace(scratch, live)


def _compact_marker_bases(root: str) -> list[tuple[str, str]]:
    """(parent_dir, base) pairs of every compaction marker under root."""
    out: list[tuple[str, str]] = []
    for dirpath, dirs, _files in os.walk(root):
        for d in dirs:
            if d.startswith(".__trash__"):
                out.append((dirpath, d[len(".__trash__"):]))
            elif d.startswith(".__compact__"):
                out.append((dirpath, d[len(".__compact__"):]))
        dirs[:] = [d for d in dirs if not d.startswith(".")]
    return sorted(set(out))


def _recover_interrupted_swaps(wh: Warehouse, root: str) -> None:
    for parent, base in _compact_marker_bases(root):
        recover_base(wh, parent, base)


def recover(wh: Warehouse) -> None:
    """Warehouse-wide compaction-swap recovery — rides the orchestrator
    pass boundary (inside txn.StagedPass.recover's single warehouse
    walk) so a compact() crash is healed at the NEXT PASS, not the next
    compact call: without this, the crashed partition stays invisible
    to every reader in between, and a snapshot replay during that
    window would re-append rows it cannot see (r6 code review)."""
    _recover_interrupted_swaps(wh, wh.root)


def compact(
    wh: Warehouse,
    table: str,
    srvid: int,
    target_bytes: int = TARGET_FILE_BYTES,
    min_files: int = 4,
) -> tuple[int, int]:
    """Rewrite one srvid partition into ``ceil(bytes/target)`` files.

    No-op below ``min_files`` (nothing to win).  Returns
    (files_before, files_after).  Sub-partition directories (e.g.
    ``range_day=``) are compacted independently so partition pruning
    keys survive the rewrite."""
    with wh._write_lock(table):
        _recover_interrupted_swaps(wh, wh.path(table))
        part_root = os.path.join(wh.path(table), f"srvid={srvid}")
        return _compact_tree(wh, part_root, target_bytes, min_files)


def compact_table(
    wh: Warehouse,
    table: str,
    target_bytes: int = TARGET_FILE_BYTES,
    min_files: int = 4,
) -> tuple[int, int]:
    """Compact EVERY leaf of a table regardless of its partition key —
    the srvid-agnostic twin of :func:`compact` for tables partitioned
    on other columns (the ANN cells table) or not at all (the streaming
    dedup ledgers, which append one small file per micro-batch and are
    the warehouse's fastest small-file accumulators).  Run it between
    stream runs; it takes the table write lock like every mutation."""
    with wh._write_lock(table):
        # the TABLE-ROOT swap's markers are siblings of the table dir in
        # the warehouse root (r6 code review: a crash there was invisible
        # to a recovery walk rooted at the — then missing — table path)
        recover_base(wh, wh.root, table)
        _recover_interrupted_swaps(wh, wh.path(table))
        return _compact_tree(wh, wh.path(table), target_bytes, min_files)


def _compact_tree(wh: Warehouse, root: str, target_bytes: int,
                  min_files: int) -> tuple[int, int]:
    if not os.path.isdir(root):
        return (0, 0)
    before_total = after_total = 0
    # leaf directories that directly hold parquet files
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        pq = [f for f in files if f.endswith(".parquet")]
        if not pq:
            continue
        before = len(pq)
        before_total += before
        nbytes = sum(os.path.getsize(os.path.join(dirpath, f)) for f in pq)
        want = max(1, math.ceil(nbytes / target_bytes))
        if before < min_files or want >= before:
            after_total += before
            continue
        df = wh.spark.read.parquet(dirpath)
        # dot-prefixed scratch next to the leaf: hidden to Spark readers
        # and partition discovery, inert if a crash strands it
        tmp = os.path.join(
            os.path.dirname(dirpath),
            f".__compact__{os.path.basename(dirpath)}",
        )
        df.coalesce(want).write.mode("overwrite").parquet(tmp)
        # two-rename swap (same protocol as Warehouse.overwrite): the
        # old rmtree-then-replace left a window where a crash between
        # the recursive delete and the rename made the leaf invisible
        # to readers.  Renames shrink that window to two metadata ops —
        # a crash strands at worst an inert dot-prefixed sibling (the
        # scratch or the trash), never an unreadable partition.
        trash = os.path.join(
            os.path.dirname(dirpath),
            f".__trash__{os.path.basename(dirpath)}",
        )
        if os.path.isdir(trash):
            shutil.rmtree(trash)
        os.replace(dirpath, trash)
        os.replace(tmp, dirpath)
        shutil.rmtree(trash)
        after = len(
            [f for f in os.listdir(dirpath) if f.endswith(".parquet")]
        )
        after_total += after
    return (before_total, after_total)
