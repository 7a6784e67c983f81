"""Warehouse layout: parquet tables, partitioning, append/overwrite helpers.

The reference's physical design (heap tables + GiST/btree indexes + TOAST
tuning, SURVEY.md §4) maps to:

- every table partitioned by ``srvid`` (the universal tenant key,
  powa--5.2.0.sql:120-136) — partition pruning replaces the btree prefix;
- history tables additionally partitioned by ``range_day`` (date of
  range_end) — retention purge (powa--5.2.0.sql:5848-5887) becomes cheap
  partition-wise deletion, and the range-overlap read path prunes whole
  days before parquet min/max stats prune row groups;
- dynamic partition overwrite for "drain the current partition" semantics
  (the reference's DELETE-after-pack, powa--5.2.0.sql:6051-6114).

At 100 TB: srvid × day partitioning bounds every maintenance job to the
partitions it touches; appends never rewrite history; the packed layout
keeps file counts proportional to entities, not snapshots.

No Delta Lake in this environment, so MERGE is implemented as
read-join-overwrite at the partition level (documented per call site);
concurrency control is orchestrator-level per-srvid locking (§3.1).
"""

from __future__ import annotations

import copy
import os
import shutil
import threading
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import engine_session, local_frame
from .specs import ident

#: per-(root, table) write locks.  Concurrent Spark jobs appending to the
#: SAME path share <path>/_temporary under FileOutputCommitter — the
#: first job's commit cleanup deletes the other's in-flight task files,
#: silently losing rows.  The orchestrator lock is per-srvid, so two
#: servers' snapshots legitimately write one table concurrently; all
#: writes within this process serialize here.  Cross-PROCESS writers
#: need a transactional table format (Delta/Iceberg) — documented scale
#: path; the engine's deployment shape is one orchestrator driver.
#: RLocks, not Locks: a read or write holds the table lock while its
#: manifest heal (txn.heal_table) re-acquires it on the same thread to
#: fold pending ops.  The dict is bounded in practice by
#: the fixed table vocabulary (specs x 3 layout tables per root).
_WRITE_LOCKS: dict[tuple[str, str], threading.RLock] = {}
_WRITE_LOCKS_GUARD = threading.Lock()


def _nullable(dtype: T.DataType) -> T.DataType:
    """Recursively null-normalize a type (parquet round-trips lose NOT NULL)."""
    if isinstance(dtype, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True) for f in dtype.fields]
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_nullable(dtype.elementType), True)
    if isinstance(dtype, T.MapType):
        return T.MapType(_nullable(dtype.keyType), _nullable(dtype.valueType), True)
    return dtype


class Warehouse:
    """Root-directory handle for all engine tables."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def engine(self) -> "Warehouse":
        """This warehouse bound to the engine session
        (:func:`~.session.engine_session`): same root and write locks,
        engine-pass posture.  Snapshot, coalesce, purge and fold passes
        run on it; reads stay on the caller's session."""
        eng = engine_session(self.spark)
        if eng is self.spark:
            return self
        view = copy.copy(self)
        view.spark = eng
        return view

    # ---- paths -----------------------------------------------------------

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _heal(self, table: str) -> None:
        """Fold any committed-but-unretired StagedPass manifest ops for
        ``table`` (txn.heal_table) so this access observes the full
        post-commit state — the reader side of the single-manifest
        atomic publish.  No-op (two stat calls) when no pass is in
        flight."""
        from . import txn

        txn.heal_table(self, table)

    def exists(self, table: str) -> bool:
        """True when the table has at least one parquet file VISIBLE to
        Spark — i.e. skipping dot/underscore-prefixed dirs and files,
        exactly like Spark's file index does (a txn.StagedPass stage
        dir full of parquet must not flip a table into existence).
        Resolves pending commit manifests first: a committed-but-not-
        yet-folded append must flip the table into existence."""
        self._heal(table)
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        for _dirpath, dirs, files in os.walk(p):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            if any(
                f.endswith(".parquet") and not f.startswith((".", "_"))
                for f in files
            ):
                return True
        return False

    # ---- IO --------------------------------------------------------------

    def read(self, table: str, schema: Optional[T.StructType] = None) -> DataFrame:
        """Read a table; absent, it is a plan-time-empty ``LocalRelation``.

        Holds the table write lock across manifest-heal + Spark's eager
        file listing (``spark.read.parquet`` builds its file index at
        DataFrame creation): a concurrent StagedPass fold can never
        produce a torn listing — this reader observes the pass either
        fully (manifest committed -> healed first) or not at all."""
        with self._write_lock(table):
            return self._read_locked(table, schema)

    def _read_locked(self, table: str, schema: Optional[T.StructType]) -> DataFrame:
        if not self.exists(table):
            if schema is None:
                raise FileNotFoundError(f"table {table} missing and no schema given")
            return local_frame(self.spark, [], schema)
        if schema is not None:
            # give the READER the schema (null-normalized: parquet reads
            # are always nullable and a NOT NULL nested field is invalid
            # there): partition columns parse to the declared types
            # instead of inference, and a table dir whose data files
            # were all drained (purge/reset leaves the partition tree)
            # reads as empty instead of failing schema inference
            reader_schema = T.StructType(
                [
                    T.StructField(f.name, _nullable(f.dataType), True)
                    for f in schema.fields
                ]
            )
            return (
                self.spark.read.schema(reader_schema)
                .parquet(self.path(table))
                .selectExpr(*[ident(f.name) for f in schema.fields])
            )
        return self.spark.read.parquet(self.path(table))

    def _write_lock(self, table: str) -> threading.RLock:
        key = (self.root, table)
        with _WRITE_LOCKS_GUARD:
            return _WRITE_LOCKS.setdefault(key, threading.RLock())

    def append(self, df: DataFrame, table: str,
               partition_by: Optional[list[str]] = None) -> None:
        with self._write_lock(table):
            self._heal(table)
            w = df.write.mode("append")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self.path(table))

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_by: list[str]) -> None:
        """Dynamic partition overwrite: replace only the partitions present
        in ``df`` (spark.sql.sources.partitionOverwriteMode=dynamic)."""
        with self._write_lock(table):
            self._heal(table)
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*partition_by)
                .parquet(self.path(table))
            )

    def overwrite(self, df: DataFrame, table: str,
                  partition_by: Optional[list[str]] = None) -> None:
        """Full-table overwrite via write-new-then-swap.  The swap is two
        renames (old aside, tmp in) rather than rmtree-then-rename: the
        table-missing window shrinks from a recursive delete of the old
        tree to two metadata operations, and a crash strands at worst an
        inert ``.__old__``/``.__tmp__`` sibling instead of losing the
        table mid-delete."""
        with self._write_lock(table):
            self._heal(table)
            final = self.path(table)
            tmp = final + ".__tmp__"
            old = final + ".__old__"
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(tmp)
            if os.path.isdir(old):
                shutil.rmtree(old)
            if os.path.isdir(final):
                os.replace(final, old)
            os.replace(tmp, final)
            if os.path.isdir(old):
                shutil.rmtree(old)

    def drop_table(self, table: str) -> None:
        with self._write_lock(table):
            self._heal(table)
            p = self.path(table)
            if os.path.isdir(p):
                shutil.rmtree(p)

    def drop_partition(self, table: str, col: str, value) -> None:
        """Partition-wise delete of one ``col=value`` leaf (generic twin
        of :meth:`drop_srvid` for tables partitioned on other keys, e.g.
        the ANN cells table's cell_id).  Takes the table write lock like
        every other mutation.

        Values are restricted to the characters Spark writes verbatim
        into partition dir names: anything needing Spark's %XX path
        escaping (space, ':', '{', ...) would make the raw f-string
        path miss the on-disk dir and the delete silently no-op."""
        import re

        if not re.fullmatch(r"[A-Za-z0-9_.\-]+", str(value)):
            raise ValueError(
                f"partition value {value!r} needs Spark path escaping; "
                "drop_partition only supports verbatim-safe values"
            )
        with self._write_lock(table):
            self._heal(table)
            p = os.path.join(self.path(table), f"{col}={value}")
            if os.path.isdir(p):
                shutil.rmtree(p)

    def drop_srvid(self, table: str, srvid: int) -> None:
        """Partition-wise delete of one server's data (reset semantics,
        powa--5.2.0.sql:6359-6563).  Takes the table write lock: a
        delete racing an append's FileOutputCommitter commit could
        otherwise tear the shared _temporary dir (ADVICE r4)."""
        with self._write_lock(table):
            self._heal(table)
            p = os.path.join(self.path(table), f"srvid={srvid}")
            if os.path.isdir(p):
                shutil.rmtree(p)

    # ---- table-name conventions (mirror the reference's naming) ---------

    @staticmethod
    def current(ds: str) -> str:
        return f"powa_{ds}_history_current"

    @staticmethod
    def current_db(ds: str) -> str:
        return f"powa_{ds}_history_current_db"

    @staticmethod
    def history(ds: str) -> str:
        return f"powa_{ds}_history"

    @staticmethod
    def history_db(ds: str) -> str:
        return f"powa_{ds}_history_db"

    @staticmethod
    def src_tmp(ds: str) -> str:
        return f"powa_{ds}_src_tmp"
