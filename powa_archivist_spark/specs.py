"""Datasource spec kernel.

The reference generates, per datasource, composite record types plus four
generic jobs (snapshot / aggregate / purge / reset) from a literal
``{name, type}[]`` spec fed to ``powa_generic_datatype_setup`` /
``powa_generic_module_setup`` (reference: powa--5.2.0.sql:987-1592; the 16
generic module specs live at powa--5.2.0.sql:1656-1938).

This module is the Spark-native mirror of that idea: a
:class:`DatasourceSpec` dataclass from which StructTypes and generic
DataFrame jobs are derived. ~16 of the ~20 datasources are pure config.

Type-mapping rules (SURVEY.md §1.2):

- ``timestamptz`` fields are *no-agg* (excluded from per-db rollups and
  diff/rate records) — powa--5.2.0.sql:1017,1047-1050.
- ``xid``/``boolean`` fields are *no-minmax* (excluded from the
  mins_in_range / maxs_in_range sketches) — powa--5.2.0.sql:1020,1067-1069.
- rate fields are promoted to double and renamed ``<f>_per_sec`` unless an
  override is declared (e.g. ``total_exec_time -> runtime``) —
  powa--5.2.0.sql:1122-1129,1594-1615.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Optional

from pyspark.sql import types as T

# Scalar type tags mirroring the reference's whitelist
# (powa--5.2.0.sql:1058-1065). Each maps to a Spark type.
_TYPE_MAP: dict[str, T.DataType] = {
    "timestamptz": T.TimestampType(),
    "oid": T.LongType(),
    "bigint": T.LongType(),
    "integer": T.IntegerType(),
    "numeric": T.DecimalType(38, 0),
    "double": T.DoubleType(),
    "text": T.StringType(),
    "name": T.StringType(),
    "inet": T.StringType(),
    "xid": T.LongType(),
    "pg_lsn": T.LongType(),
    "interval": T.DoubleType(),  # seconds
    "boolean": T.BooleanType(),
}

# powa--5.2.0.sql:1017 — fields never aggregated (sums are meaningless)
_NO_AGG_TYPES = {"timestamptz", "xid", "pg_lsn", "text", "name", "inet", "boolean"}
# powa--5.2.0.sql:1020 — fields with no min/max ordering
_NO_MINMAX_TYPES = {"xid", "boolean"}


@dataclass(frozen=True)
class Counter:
    """One cumulative counter column of a datasource."""

    name: str
    dtype: str = "bigint"  # tag into _TYPE_MAP
    rate_name: Optional[str] = None  # override for the per-sec name

    @property
    def spark_type(self) -> T.DataType:
        return _TYPE_MAP[self.dtype]

    @property
    def aggregatable(self) -> bool:
        return self.dtype not in _NO_AGG_TYPES

    @property
    def has_minmax(self) -> bool:
        return self.dtype not in _NO_MINMAX_TYPES

    @property
    def per_sec_name(self) -> str:
        if self.rate_name:
            return self.rate_name
        return f"{self.name}_per_sec"


@dataclass(frozen=True)
class Key:
    """An entity-key column (powa--5.2.0.sql:1298 restricts key types)."""

    name: str
    dtype: str = "oid"  # boolean | integer | name | oid | text

    @property
    def spark_type(self) -> T.DataType:
        return _TYPE_MAP[self.dtype]


@dataclass(frozen=True)
class DatasourceSpec:
    """Declarative description of one datasource.

    Mirrors the spec literals the reference feeds to its generator
    (powa--5.2.0.sql:1656-1938).  ``kind`` is one of ``extension`` /
    ``module`` / ``db_module`` (the three registries of SURVEY.md §1.1).
    """

    name: str
    keys: tuple[Key, ...]
    counters: tuple[Counter, ...]
    kind: str = "module"
    priority: int = 10
    # build the parallel per-db `_db` rollup tables (keyed by dbid only)?
    db_rollup: bool = False
    # name of the key column holding the database oid (for db_rollup)
    dbid_col: str = "dbid"
    external: bool = False  # handwritten, not fully generic
    # gate capture rows to (queryid, dbid, userid) triples present in the
    # statements dictionary (J2 semi-join, powa--5.2.0.sql:7119-7124)
    requires_statements: bool = False
    # staging-only columns that never reach the history tables (e.g. the
    # statements query text, consumed by the dictionary merge —
    # powa_statements_src_tmp has `query text`, powa--5.2.0.sql:1987)
    staging_extra: tuple[Key, ...] = ()
    # minimum monitored-server version supporting this datasource
    # (powa_modules.min_version, powa--5.2.0.sql:1263 + registry calls
    # 1656-1938); dispatch skips the datasource for older servers
    min_version: int = 0

    # ---- derived schemas -------------------------------------------------

    @property
    def key_fields(self) -> list[T.StructField]:
        return [T.StructField(k.name, k.spark_type, True) for k in self.keys]

    @property
    def counter_fields(self) -> list[T.StructField]:
        return [T.StructField(c.name, c.spark_type, True) for c in self.counters]

    @property
    def staging_schema(self) -> T.StructType:
        """`<ds>_src_tmp` landing schema (powa--5.2.0.sql:1275-1357)."""
        return T.StructType(
            [
                T.StructField("srvid", T.IntegerType(), False),
                T.StructField("ts", T.TimestampType(), False),
            ]
            + self.key_fields
            + self.counter_fields
            + [T.StructField(k.name, k.spark_type, True)
               for k in self.staging_extra]
        )

    @property
    def record_schema(self) -> T.StructType:
        """`<ds>_history_record` — ts + every counter (powa--5.2.0.sql:1030-1045)."""
        return T.StructType(
            [T.StructField("ts", T.TimestampType(), False)] + self.counter_fields
        )

    @property
    def minmax_schema(self) -> T.StructType:
        """`<ds>_history_record_minmax` — minus no-minmax fields
        (powa--5.2.0.sql:1067-1075)."""
        return T.StructType(
            [T.StructField("ts", T.TimestampType(), False)]
            + [
                T.StructField(c.name, c.spark_type, True)
                for c in self.counters
                if c.has_minmax
            ]
        )

    @property
    def current_schema(self) -> T.StructType:
        """`<ds>_history_current` — srvid, keys, flat record
        (powa--5.2.0.sql:2140-2150).  We keep the record flat (ts + counters
        as top-level columns) for parquet pruning; the struct is only
        materialized when packing."""
        return T.StructType(
            [T.StructField("srvid", T.IntegerType(), False)]
            + self.key_fields
            + [T.StructField("ts", T.TimestampType(), False)]
            + self.counter_fields
        )

    @property
    def history_schema(self) -> T.StructType:
        """`<ds>_history` — packed rows (powa--5.2.0.sql:2107-2123).

        ``tstzrange`` becomes inclusive (range_start, range_end) columns —
        overlap `&&` is `range_start <= hi AND range_end >= lo`.
        """
        return T.StructType(
            [T.StructField("srvid", T.IntegerType(), False)]
            + self.key_fields
            + [
                T.StructField("range_start", T.TimestampType(), False),
                T.StructField("range_end", T.TimestampType(), False),
                T.StructField("records", T.ArrayType(self.record_schema), False),
                T.StructField("mins_in_range", self.minmax_schema, True),
                T.StructField("maxs_in_range", self.minmax_schema, True),
            ]
        )

    @property
    def agg_counters(self) -> list[Counter]:
        return [c for c in self.counters if c.aggregatable]

    @property
    def minmax_counters(self) -> list[Counter]:
        return [c for c in self.counters if c.has_minmax]

    @property
    def key_names(self) -> list[str]:
        return [k.name for k in self.keys]

    @property
    def counter_names(self) -> list[str]:
        return [c.name for c in self.counters]


# Spec-wide expressions are built as SQL text, one string per column, and
# cross into the JVM in one selectExpr instead of ~10 calls per Column.
def ident(name: str) -> str:
    """``name`` as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def cast_to(expr: str, field: T.StructField) -> str:
    """SQL text of ``expr`` cast to ``field``'s type, named ``field``."""
    return f"CAST({expr} AS {field.dataType.simpleString()}) AS {ident(field.name)}"


def _c(names: str, dtype: str = "bigint") -> list[Counter]:
    return [Counter(n, dtype) for n in names.split()]


# ---------------------------------------------------------------------------
# Registry — mirrors the literal specs at powa--5.2.0.sql:1656-1938 plus the
# handwritten datasources (statements 1980-2022, kcache 2994-3025,
# qualstats 3102-3117, wait_sampling 3206-3214, user_functions 2024-2032,
# all_tables 2049-2086, all_indexes 2034-2047).
# ---------------------------------------------------------------------------

STATEMENTS = DatasourceSpec(
    name="statements",
    kind="extension",
    priority=-2,  # dictionary must exist before dependents (powa--5.2.0.sql:174)
    db_rollup=True,
    external=True,
    keys=(Key("queryid", "oid"), Key("dbid", "oid"), Key("toplevel", "boolean"),
          Key("userid", "oid")),
    staging_extra=(Key("query", "text"),),
    counters=tuple(
        _c("calls")
        + [Counter("total_exec_time", "double", rate_name="runtime")]
        + _c("rows")
        + _c("shared_blks_hit shared_blks_read shared_blks_dirtied shared_blks_written")
        + _c("local_blks_hit local_blks_read local_blks_dirtied local_blks_written")
        + _c("temp_blks_read temp_blks_written")
        + _c(
            "shared_blk_read_time shared_blk_write_time local_blk_read_time "
            "local_blk_write_time temp_blk_read_time temp_blk_write_time",
            "double",
        )
        + _c("plans")
        + [Counter("total_plan_time", "double", rate_name="plantime")]
        + _c("wal_records wal_fpi")
        + [Counter("wal_bytes", "numeric")]
        + _c("jit_functions")
        + _c("jit_generation_time", "double")
        + _c("jit_inlining_count")
        + _c("jit_inlining_time", "double")
        + _c("jit_optimization_count")
        + _c("jit_optimization_time", "double")
        + _c("jit_emission_count")
        + _c("jit_emission_time", "double")
        + _c("jit_deform_count")
        + _c("jit_deform_time", "double")
    ),
)

USER_FUNCTIONS = DatasourceSpec(
    # pg_stat_user_functions is a DB module in the reference registry
    # (powa_db_modules, powa--5.2.0.sql:319-326)
    name="user_functions",
    kind="db_module",
    priority=10,
    db_rollup=True,
    keys=(Key("dbid", "oid"), Key("funcid", "oid")),
    counters=(
        Counter("calls"),
        Counter("total_time", "double"),
        Counter("self_time", "double"),
    ),
)

KCACHE = DatasourceSpec(
    name="kcache",
    kind="extension",
    priority=-1,
    db_rollup=True,
    external=True,
    keys=(Key("queryid", "oid"), Key("top", "boolean"), Key("userid", "oid"),
          Key("dbid", "oid")),
    counters=tuple(
        _c("plan_reads plan_writes")
        + _c("plan_user_time plan_system_time", "double")
        + _c("plan_minflts plan_majflts plan_nswaps plan_msgsnds plan_msgrcvs "
             "plan_nsignals plan_nvcsws plan_nivcsws")
        + _c("exec_reads exec_writes")
        + _c("exec_user_time exec_system_time", "double")
        + _c("exec_minflts exec_majflts exec_nswaps exec_msgsnds exec_msgrcvs "
             "exec_nsignals exec_nvcsws exec_nivcsws")
    ),
)

WAIT_SAMPLING = DatasourceSpec(
    name="wait_sampling",
    kind="extension",
    priority=10,
    db_rollup=True,
    external=True,
    keys=(Key("dbid", "oid"), Key("event_type", "text"), Key("event", "text"),
          Key("queryid", "oid")),
    counters=(Counter("count", "numeric"),),
)

# --- the 16 generic core-stat modules (powa--5.2.0.sql:1656-1938) ----------

MODULE_SPECS: dict[str, DatasourceSpec] = {}


def _module(name: str, keys: tuple[Key, ...], counters: list[Counter],
            priority: int = 10, min_version: int = 0) -> DatasourceSpec:
    spec = DatasourceSpec(
        name=name, kind="module", priority=priority, keys=keys,
        counters=tuple(counters), min_version=min_version,
    )
    MODULE_SPECS[name] = spec
    return spec


PG_REPLICATION_SLOTS = _module(
    # registry powa--5.2.0.sql:1656-1675; src variants 4315-4477
    "pg_replication_slots",
    keys=(Key("slot_name", "text"), Key("plugin", "text"),
          Key("slot_type", "text"), Key("datoid", "oid"),
          Key("temporary", "boolean")),
    counters=[
        Counter("cur_txid", "xid"),
        Counter("current_lsn", "pg_lsn"),
        Counter("active", "boolean"),
        Counter("active_pid", "integer"),
        Counter("slot_xmin", "xid"),
        Counter("catalog_xmin", "xid"),
        Counter("restart_lsn", "pg_lsn"),
        Counter("confirmed_flush_lsn", "pg_lsn"),
        Counter("wal_status", "text"),
        Counter("safe_wal_size"),
        Counter("two_phase", "boolean"),
        Counter("conflicting", "boolean"),
    ],
    min_version=130000,
)

PG_STAT_ACTIVITY = _module(
    # registry powa--5.2.0.sql:1677-1694 — NO key columns: the activity
    # sample is a flat per-server log, packed as one series per srvid
    "pg_stat_activity",
    keys=(),
    counters=[
        Counter("cur_txid", "xid"),
        Counter("datid", "oid"),
        Counter("pid", "integer"),
        Counter("leader_pid", "integer"),
        Counter("usesysid", "oid"),
        Counter("application_name", "text"),
        Counter("client_addr", "inet"),
        Counter("backend_start", "timestamptz"),
        Counter("xact_start", "timestamptz"),
        Counter("query_start", "timestamptz"),
        Counter("state_change", "timestamptz"),
        Counter("state", "text"),
        Counter("backend_xid", "xid"),
        Counter("backend_xmin", "xid"),
        Counter("query_id", "bigint"),
        Counter("backend_type", "text"),
        Counter("clock_ts", "timestamptz"),
    ],
)

PG_STAT_ARCHIVER = _module(
    "pg_stat_archiver",
    keys=(),
    counters=[
        Counter("archived_count"),
        Counter("last_archived_wal", "text"),
        Counter("last_archived_time", "timestamptz"),
        Counter("failed_count"),
        Counter("last_failed_wal", "text"),
        Counter("last_failed_time", "timestamptz"),
        Counter("current_wal", "text"),
    ],
)

PG_STAT_BGWRITER = _module(
    "pg_stat_bgwriter",
    keys=(),
    counters=_c("buffers_clean maxwritten_clean buffers_backend "
                "buffers_backend_fsync buffers_alloc"),
)

PG_STAT_CHECKPOINTER = _module(
    # registry powa--5.2.0.sql:1716-1721; pre-pg17 the collector reads the
    # same five counters off pg_stat_bgwriter's checkpoint_* columns
    # (src 4666-4701)
    "pg_stat_checkpointer",
    keys=(),
    counters=_c("num_timed num_requested")
    + _c("write_time sync_time", "double")
    + _c("buffers_written"),
)

PG_STAT_DATABASE = _module(
    # registry powa--5.2.0.sql:1723-1746; src variants 4704-4799
    "pg_stat_database",
    keys=(Key("datid", "oid"),),
    counters=_c("numbackends", "integer")
    + _c("xact_commit xact_rollback blks_read blks_hit tup_returned tup_fetched "
         "tup_inserted tup_updated tup_deleted conflicts temp_files temp_bytes "
         "deadlocks checksum_failures")
    + [Counter("checksum_last_failure", "timestamptz")]
    + _c("blk_read_time blk_write_time session_time active_time "
         "idle_in_transaction_time", "double")
    + _c("sessions sessions_abandoned sessions_fatal sessions_killed")
    + [Counter("stats_reset", "timestamptz")],
)

PG_STAT_DATABASE_CONFLICTS = _module(
    "pg_stat_database_conflicts",
    keys=(Key("datid", "oid"),),
    counters=_c("confl_tablespace confl_lock confl_snapshot confl_bufferpin "
                "confl_deadlock confl_active_logicalslot"),
)

PG_STAT_IO = _module(
    # registry powa--5.2.0.sql:1758-1775; view introduced pg16, op_bytes
    # split into {read,write,extend}_bytes in pg18 (src 4840-4928)
    "pg_stat_io",
    keys=(Key("backend_type", "text"), Key("object", "text"), Key("context", "text")),
    counters=_c("reads")
    + _c("read_time", "double")
    + _c("writes")
    + _c("write_time", "double")
    + _c("writebacks")
    + _c("writeback_time", "double")
    + _c("extends")
    + _c("extend_time", "double")
    + _c("op_bytes hits evictions reuses fsyncs")
    + _c("fsync_time", "double")
    + [Counter("stats_reset", "timestamptz"),
       Counter("read_bytes", "numeric"), Counter("write_bytes", "numeric"),
       Counter("extend_bytes", "numeric")],
)

PG_STAT_SLRU = _module(
    # registry powa--5.2.0.sql:1831-1840; view introduced pg13 (src 5136)
    "pg_stat_slru",
    keys=(Key("name", "text"),),
    counters=_c("blks_zeroed blks_hit blks_read blks_written blks_exists "
                "flushes truncates")
    + [Counter("stats_reset", "timestamptz")],
)

PG_STAT_WAL = _module(
    # registry powa--5.2.0.sql:1881-1887; view introduced pg14, IO
    # counters moved to pg_stat_io in pg18 (src 5371-5423)
    "pg_stat_wal",
    keys=(),
    counters=_c("wal_records wal_fpi")
    + [Counter("wal_bytes", "numeric")]
    + _c("wal_buffers_full wal_write wal_sync")
    + _c("wal_write_time wal_sync_time", "double")
    + [Counter("stats_reset", "timestamptz")],
)

PG_STAT_REPLICATION = _module(
    # registry powa--5.2.0.sql:1811-1829 — keyless: one all-NULL row is
    # kept even with no walsenders so the UI can graph connection loss
    # (src 5036-5134); pg_lsn aggregates need pg13 -> min_version
    "pg_stat_replication",
    keys=(),
    counters=[
        Counter("current_lsn", "pg_lsn"),
        Counter("pid", "integer"),
        Counter("usename", "text"),
        Counter("application_name", "text"),
        Counter("client_addr", "inet"),
        Counter("backend_start", "timestamptz"),
        Counter("backend_xmin", "xid"),
        Counter("state", "text"),
        Counter("sent_lsn", "pg_lsn"),
        Counter("write_lsn", "pg_lsn"),
        Counter("flush_lsn", "pg_lsn"),
        Counter("replay_lsn", "pg_lsn"),
        Counter("write_lag", "interval"),
        Counter("flush_lag", "interval"),
        Counter("replay_lag", "interval"),
        Counter("sync_priority", "integer"),
        Counter("sync_state", "text"),
        Counter("reply_time", "timestamptz"),
    ],
    min_version=130000,
)

PG_STAT_SUBSCRIPTION = _module(
    # registry powa--5.2.0.sql:1842-1858; src variants 5193-5255
    "pg_stat_subscription",
    keys=(Key("subid", "oid"), Key("subname", "name")),
    counters=[
        Counter("worker_type", "text"),
        Counter("pid", "integer"),
        Counter("leader_pid", "integer"),
        Counter("relid", "oid"),
        Counter("received_lsn", "pg_lsn"),
        Counter("last_msg_send_time", "timestamptz"),
        Counter("last_msg_receipt_time", "timestamptz"),
        Counter("latest_end_lsn", "pg_lsn"),
        Counter("latest_end_time", "timestamptz"),
    ],
    min_version=130000,
)

PG_STAT_SUBSCRIPTION_STATS = _module(
    # registry powa--5.2.0.sql:1860-1879 (subname resolvable via
    # pg_stat_subscription, so not stored); src variants 5258-5369
    "pg_stat_subscription_stats",
    keys=(Key("subid", "oid"),),
    counters=_c("apply_error_count sync_table_error_count")
    + [Counter("stats_reset", "timestamptz")]
    + _c("sync_seq_error_count confl_insert_exists "
         "confl_update_origin_differs confl_update_exists "
         "confl_update_deleted confl_update_missing "
         "confl_delete_origin_differs confl_delete_missing "
         "confl_multiple_unique_conflicts"),
)

PG_STAT_WAL_RECEIVER = _module(
    # registry powa--5.2.0.sql:1889-1905; src variants 5426-5547
    "pg_stat_wal_receiver",
    keys=(Key("slot_name", "text"), Key("sender_host", "text"),
          Key("sender_port", "integer")),
    counters=[
        Counter("pid", "integer"),
        Counter("status", "text"),
        Counter("receive_start_lsn", "pg_lsn"),
        Counter("receive_start_tli", "integer"),
        Counter("last_received_lsn", "pg_lsn"),
        Counter("written_lsn", "pg_lsn"),
        Counter("flushed_lsn", "pg_lsn"),
        Counter("received_tli", "integer"),
        Counter("last_msg_send_time", "timestamptz"),
        Counter("last_msg_receipt_time", "timestamptz"),
        Counter("latest_end_lsn", "pg_lsn"),
        Counter("latest_end_time", "timestamptz"),
        Counter("conninfo", "text"),
    ],
    min_version=130000,
)

PG_STAT_RECOVERY = _module(
    # registry powa--5.2.0.sql:1793-1809 — pg_stat_recovery only exists
    # on pg19+ (src 4976-5034)
    "pg_stat_recovery",
    keys=(),
    counters=[
        Counter("last_replayed_read_lsn", "pg_lsn"),
        Counter("last_replayed_end_lsn", "pg_lsn"),
        Counter("last_replayed_tli", "integer"),
        Counter("replay_end_lsn", "pg_lsn"),
        Counter("replay_end_tli", "integer"),
        Counter("recovery_last_xact_time", "timestamptz"),
        Counter("current_chunk_start_time", "timestamptz"),
        Counter("pause_state", "text"),
    ],
    min_version=190000,
)

PG_STAT_LOCK = _module(
    # registry powa--5.2.0.sql:1777-1791 — pg_stat_lock only exists on
    # pg19+ (src 4930-4974)
    "pg_stat_lock",
    keys=(Key("locktype", "text"),),
    counters=_c("waits wait_time fastpath_exceeded")
    + [Counter("stats_reset", "timestamptz")],
    min_version=190000,
)

# --- remote-only db modules (powa--5.2.0.sql:2034-2086) --------------------

ALL_TABLES = DatasourceSpec(
    name="all_tables",
    kind="db_module",
    priority=10,
    db_rollup=True,
    keys=(Key("dbid", "oid"), Key("relid", "oid")),
    counters=tuple(
        _c("tbl_size seq_scan")
        + [Counter("last_seq_scan", "timestamptz")]
        + _c("seq_tup_read idx_scan")
        + [Counter("last_idx_scan", "timestamptz")]
        + _c("idx_tup_fetch n_tup_ins n_tup_upd n_tup_del n_tup_hot_upd "
             "n_tup_newpage_upd n_liv_tup n_dead_tup n_mod_since_analyze "
             "n_ins_since_vacuum")
        + [Counter("last_vacuum", "timestamptz"),
           Counter("last_autovacuum", "timestamptz"),
           Counter("last_analyze", "timestamptz"),
           Counter("last_autoanalyze", "timestamptz")]
        + _c("vacuum_count autovacuum_count analyze_count autoanalyze_count")
        + _c("heap_blks_read heap_blks_hit idx_blks_read idx_blks_hit "
             "toast_blks_read toast_blks_hit tidx_blks_read tidx_blks_hit")
    ),
)

ALL_INDEXES = DatasourceSpec(
    name="all_indexes",
    kind="db_module",
    priority=10,
    db_rollup=True,
    keys=(Key("dbid", "oid"), Key("relid", "oid"), Key("indexrelid", "oid")),
    counters=tuple(
        _c("idx_size idx_scan")
        + [Counter("last_idx_scan", "timestamptz")]
        + _c("idx_tup_read idx_tup_fetch idx_blks_read idx_blks_hit")
    ),
)

QUALSTATS_SPEC = DatasourceSpec(
    # handled by the dedicated qualstats operators; spec kept for schemas
    name="qualstats",
    kind="extension",
    priority=10,
    external=True,
    requires_statements=True,
    keys=(Key("qualid", "oid"), Key("queryid", "oid"), Key("dbid", "oid"),
          Key("userid", "oid")),
    counters=(
        Counter("occurences"),
        Counter("execution_count"),
        Counter("nbfiltered"),
        Counter("mean_err_estimate_ratio", "double"),
        Counter("mean_err_estimate_num", "double"),
    ),
)

#: every spec, keyed by name — the dispatch registry
#: (mirror of the powa_all_functions view, powa--5.2.0.sql:428-437)
ALL_SPECS: dict[str, DatasourceSpec] = {
    s.name: s
    for s in [
        STATEMENTS,
        USER_FUNCTIONS,
        KCACHE,
        WAIT_SAMPLING,
        QUALSTATS_SPEC,
        ALL_TABLES,
        ALL_INDEXES,
        *MODULE_SPECS.values(),
    ]
}


def get_spec(name: str) -> DatasourceSpec:
    return ALL_SPECS[name]
