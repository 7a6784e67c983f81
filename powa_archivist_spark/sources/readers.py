"""Versioned source readers — the Spark analog of the reference's
``*_src`` functions.

The reference ships one PL/pgSQL reader per datasource with N branches on
the monitored server's version, padding columns that don't exist yet with
``0::bigint`` / ``NULL::pg_lsn`` shims (statements: powa--5.2.0.sql:
3798-4004; the 16 generic modules: 4315-5547).  Catalog and db-module
sources externalize the same idea as data: rows keyed by
``(name, min_version)`` picked via ``ORDER BY min_version DESC LIMIT 1``
(powa--5.2.0.sql:402-426, 457-697).

Here both collapse into two primitives:

- :func:`resolve_versioned` — pick the newest variant not newer than the
  server version (the reference's lateral pick, O2/J7);
- :func:`shim_to_schema` — project an arbitrary source DataFrame onto the
  spec's staging schema, padding missing columns with typed defaults and
  casting present ones (the version shims, P6).

plus the statements-source filters (P1/P2) that the reference applies
inside the scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from ..specs import DatasourceSpec, cast_to, ident

# powa--5.2.0.sql:3879 — utility statements excluded from capture
UTILITY_RE = (
    r"(?is)^\s*(DEALLOCATE|BEGIN|PREPARE\s+TRANSACTION|"
    r"COMMIT\s+PREPARED|ROLLBACK\s+PREPARED)"
)


@dataclass(frozen=True)
class VersionedVariant:
    """One version branch of a source definition."""

    min_version: int  # inclusive server version (pg num format, e.g. 140000)
    payload: object   # query text / column map / reader fn — caller-defined


@dataclass(frozen=True)
class SourceLayout:
    """One layout epoch of a module source: which staging columns the
    monitored server's catalog provides at that version, under which
    source-side names, plus literal defaults the reference injects for
    not-yet-existing columns (``'apply' AS worker_type`` pre-pg17
    powa--5.2.0.sql:5216, ``false AS two_phase`` pre-pg14 :4392,
    ``0::bigint AS checksum_failures`` pre-pg12 :4773).  Columns in
    neither set shim to NULL — the reference's ``NULL::pg_lsn`` /
    ``NULL::bigint`` padding; 0/false paddings are always explicit
    literals in the branches, so they are explicit ``defaults`` here."""

    columns: tuple[str, ...]
    renames: dict[str, str] = field(default_factory=dict)   # dst -> src name
    defaults: dict[str, object] = field(default_factory=dict)  # dst -> literal

    def project(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        present = set(df.columns)
        cols = []
        for f in schema.fields:
            src = self.renames.get(f.name, f.name)
            # context columns stamped by the collector, never versioned:
            # srvid/ts on module staging, dbid on catalog staging
            if f.name in ("srvid", "ts", "dbid") and f.name in present:
                cols.append(cast_to(ident(f.name), f))
            elif (f.name in self.columns or f.name in self.renames) \
                    and src in present:
                cols.append(cast_to(ident(src), f))
            else:
                cols.append(cast_to(_literal(self.defaults.get(f.name)), f))
        return df.selectExpr(*cols)


def _literal(v: object) -> str:
    """SQL text of a layout default: bool, int, str or None."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return "NULL" if v is None else str(v).upper()


@dataclass
class VersionedSource:
    """``(name, min_version)``-keyed source registry entry."""

    name: str
    variants: list[VersionedVariant] = field(default_factory=list)

    def add(self, min_version: int, payload: object) -> "VersionedSource":
        self.variants.append(VersionedVariant(min_version, payload))
        return self


def resolve_versioned(src: VersionedSource, server_version: int) -> object:
    """Newest variant with ``min_version <= server_version``
    (``ORDER BY min_version DESC LIMIT 1``, powa--5.2.0.sql:421-422).

    Raises KeyError when the server is older than every variant — the
    reference returns no row and the datasource is skipped."""
    eligible = [v for v in src.variants if v.min_version <= server_version]
    if not eligible:
        raise KeyError(
            f"{src.name}: no variant for server version {server_version}"
        )
    return max(eligible, key=lambda v: v.min_version).payload


def _default_for(dtype: T.DataType) -> str:
    """Typed shim default: numeric counters read as 0, everything else
    NULL (matches the reference's per-branch shims, e.g.
    ``0::bigint AS jit_functions`` / ``NULL::pg_lsn``)."""
    if isinstance(dtype, (T.LongType, T.IntegerType, T.DoubleType,
                          T.FloatType, T.DecimalType, T.ShortType)):
        return "0"
    return "NULL"


def shim_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: cast matching columns, pad missing
    ones with typed defaults, drop extras."""
    present = set(df.columns)
    return df.selectExpr(*[
        cast_to(ident(f.name) if f.name in present else _default_for(f.dataType), f)
        for f in schema.fields])


def statements_filters(
    df: DataFrame,
    ignored_users: list[str] | None = None,
    query_col: str = "query",
    user_col: str = "username",
) -> DataFrame:
    """The statements-scan filters (powa--5.2.0.sql:3879-3882):
    P1 utility-statement regex exclusion + P2 ignored-users exclusion."""
    if query_col in df.columns:
        df = df.filter(~F.col(query_col).rlike(UTILITY_RE))
    if ignored_users and user_col in df.columns:
        df = df.filter(~F.col(user_col).isin(ignored_users))
    return df


def read_staging(
    wh,
    spec: DatasourceSpec,
    srvid: int,
    server_version: int | None = None,
    source: VersionedSource | None = None,
) -> DataFrame:
    """Full source path: RAW staging read (data lands in the source
    version's column layout) -> optional versioned column-map resolution
    -> schema shim -> srvid filter."""
    from ..storage import Warehouse

    table = Warehouse.src_tmp(spec.name)
    if not wh.exists(table):
        return wh.read(table, spec.staging_schema)  # empty, target schema
    df = wh.read(table)  # raw: columns are whatever the source version wrote
    if source is not None and server_version is not None:
        try:
            payload = resolve_versioned(source, server_version)
        except KeyError:
            # server older than every layout epoch: the reference returns
            # an empty dataset (``WHERE false`` branches, e.g. pg_stat_io
            # on pg15-, powa--5.2.0.sql:4897-4918)
            return local_frame(wh.spark, [], spec.staging_schema)
        if isinstance(payload, SourceLayout):
            return payload.project(df, spec.staging_schema).where(
                f"srvid = {int(srvid)}")
        if isinstance(payload, dict):
            # a rename map names only the versioned columns; the
            # collector context columns (srvid/ts, dbid for catalog
            # feeds) ride along implicitly — dropping them would NULL
            # the shim's ts and empty the srvid filter below
            present = set(df.columns)
            mapped_srcs = set(payload.values())
            context = [
                c for c in ("srvid", "ts", "dbid")
                if c in present and c not in mapped_srcs
                and c not in payload
            ]
            df = df.selectExpr(*map(ident, context), *[
                f"{ident(src)} AS {ident(dst)}"
                for dst, src in payload.items() if src in present])
    return shim_to_schema(df, spec.staging_schema).where(
        f"srvid = {int(srvid)}")
