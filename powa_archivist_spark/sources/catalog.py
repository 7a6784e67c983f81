"""Catalog mirroring — remote servers' pg_catalog snapshots.

Reference (powa--5.2.0.sql):
- 7 mirrored catalogs with versioned src queries keyed by
  ``(catname, min_version)`` (457-697) — version pick handled by
  :func:`..sources.readers.resolve_versioned`;
- ``powa_catalog_generic_snapshot`` (5714-5787): move staged rows into
  the mirror per (srvid, dbid) — a DELETE...RETURNING feeding INSERT in
  Postgres (D3), a partition overwrite here;
- pg_class carries the ``last_refresh`` stamp and runs LAST (priority 99,
  445-448) so a partial snapshot never looks complete;
- refresh-interval gating: databases refreshed within
  ``refresh_interval`` are excluded from the next pass (725-745).
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..storage import Warehouse
from ..txn import StagedPass
from .readers import SourceLayout, VersionedSource, resolve_versioned
from .versions import _vs as _cat_vs  # the same registry builder

# ORDER BY priority: pg_class last — it stamps last_refresh
CATALOGS: list[tuple[str, int]] = [
    ("pg_namespace", 1),
    ("pg_type", 2),
    ("pg_collation", 3),
    ("pg_proc", 4),
    ("pg_language", 5),
    ("pg_attribute", 6),
    ("pg_class", 99),
]


def _schema(spec: str) -> T.StructType:
    """Compact `name:type` DSL -> StructType, with the (srvid, dbid)
    collector context columns prefixed (powa_catalog_* tables all key on
    them, powa--5.2.0.sql:699-723)."""
    fields = [
        T.StructField("srvid", T.IntegerType(), False),
        T.StructField("dbid", T.LongType(), False),
    ]
    for part in spec.split():
        name, dtype = part.split(":")
        fields.append(T.StructField(name, {
            "long": T.LongType(), "int": T.IntegerType(),
            "double": T.DoubleType(), "bool": T.BooleanType(),
            "string": T.StringType(),
            "strings": T.ArrayType(T.StringType()),
            "longs": T.ArrayType(T.LongType()),
        }[dtype], True))
    return T.StructType(fields)


#: mirrored-catalog column surfaces (the SELECT lists of
#: powa_catalog_src_queries, powa--5.2.0.sql:457-687)
CATALOG_SCHEMAS: dict[str, T.StructType] = {
    "pg_class": _schema(
        "oid:long relname:string relnamespace:long relpages:int "
        "reltuples:double reltoastrelid:long relisshared:bool "
        "relpersistence:string relkind:string relnatts:int "
        "relrowsecurity:bool relforcerowsecurity:bool relreplident:string "
        "relispartition:bool reloptions:strings relpartbound:string"),
    "pg_attribute": _schema(
        "attrelid:long attname:string atttypid:long attlen:int attnum:int "
        "attcompression:string attnotnull:bool atthasdef:bool "
        "atthasmissing:bool attidentity:string attgenerated:string "
        "attstattarget:int attcollation:long attoptions:strings "
        "attfdwoptions:strings"),
    "pg_namespace": _schema("oid:long nspname:string"),
    "pg_type": _schema(
        "oid:long typname:string typnamespace:long typlen:int typbyval:bool "
        "typtype:string typcategory:string typispreferred:bool "
        "typisdefined:bool typdelim:string typrelid:long typelem:long "
        "typarray:long typalign:string typstorage:string typnotnull:bool "
        "typbasetype:long typtypmod:int typndims:int typcollation:long "
        "typdefault:string"),
    "pg_collation": _schema(
        "oid:long collname:string collnamespace:long collprovider:string "
        "collisdeterministic:bool collencoding:string collcollate:string "
        "collctype:string colllocale:string collicurules:string "
        "collversion:string"),
    "pg_proc": _schema(
        "oid:long proname:string regprocedure:string pronamespace:long "
        "prolang:long procost:double prorows:double provariadic:long "
        "prokind:string prosecdef:bool proleakproof:bool proisstrict:bool "
        "proretset:bool provolatile:string proparallel:string pronargs:int "
        "prorettype:long proargtypes:longs prosrc:string proconfig:strings"),
    "pg_language": _schema(
        "oid:long lanname:string lanispl:bool lanpltrusted:bool"),
}


_CLASS_BASE = (
    "oid relname relnamespace relpages reltuples reltoastrelid relisshared "
    "relpersistence relkind relnatts relreplident reloptions"
)
_ATTR_BASE = (
    "attrelid attname atttypid attlen attnum attnotnull atthasdef "
    "attstattarget attcollation attoptions attfdwoptions"
)
_COLL_BASE = "oid collname collnamespace collencoding collcollate collctype"
_PROC_BASE = (
    "oid proname regprocedure pronamespace prolang procost prorows "
    "provariadic prosecdef proleakproof proisstrict proretset provolatile "
    "pronargs prorettype proargtypes prosrc proconfig"
)

#: versioned catalog source layouts — the powa_catalog_src_queries
#: registry (powa--5.2.0.sql:467-687) as config data.  Computed columns
#: the reference derives in SQL (pre-10 collprovider CASE :574, pre-11
#: prokind CASE :634-638) can't be recomputed engine-side from landed
#: data and shim to NULL on those epochs.
CATALOG_SOURCES: dict[str, VersionedSource] = {
    "pg_class": _cat_vs(
        "pg_class",
        # base (:471-477): rowsecurity/partition fields are literal false
        (0, SourceLayout(tuple(_CLASS_BASE.split()), defaults={
            "relrowsecurity": False, "relforcerowsecurity": False,
            "relispartition": False})),
        # 9.5 (:480-487): relrowsecurity + relforcerowsecurity added
        (90500, SourceLayout(
            tuple((_CLASS_BASE + " relrowsecurity relforcerowsecurity")
                  .split()),
            defaults={"relispartition": False})),
        # pg10 (:490-497): relispartition + relpartbound added
        (100000, SourceLayout(tuple(
            (_CLASS_BASE + " relrowsecurity relforcerowsecurity "
             "relispartition relpartbound").split()))),
    ),
    "pg_attribute": _cat_vs(
        "pg_attribute",
        # base (:500-509): identity/generated/compression are literal ''
        (0, SourceLayout(tuple(_ATTR_BASE.split()), defaults={
            "attcompression": "", "atthasmissing": False,
            "attidentity": "", "attgenerated": ""})),
        # pg10 (:512-521): attidentity added
        (100000, SourceLayout(tuple((_ATTR_BASE + " attidentity").split()),
                              defaults={"attcompression": "",
                                        "atthasmissing": False,
                                        "attgenerated": ""})),
        # pg11 (:524-533): atthasmissing added
        (110000, SourceLayout(
            tuple((_ATTR_BASE + " attidentity atthasmissing").split()),
            defaults={"attcompression": "", "attgenerated": ""})),
        # pg12 (:536-545): attgenerated added
        (120000, SourceLayout(
            tuple((_ATTR_BASE + " attidentity atthasmissing attgenerated")
                  .split()),
            defaults={"attcompression": ""})),
        # pg14 (:548-557): attcompression added — full layout
        (140000, SourceLayout(tuple(
            (_ATTR_BASE + " attidentity atthasmissing attgenerated "
             "attcompression").split()))),
    ),
    "pg_namespace": _cat_vs(
        "pg_namespace",
        (0, SourceLayout(("oid", "nspname"))),  # :561-563
    ),
    "pg_type": _cat_vs(
        "pg_type",
        (0, SourceLayout(tuple(  # :565-570, version-stable
            "oid typname typnamespace typlen typbyval typtype typcategory "
            "typispreferred typisdefined typdelim typrelid typelem typarray "
            "typalign typstorage typnotnull typbasetype typtypmod typndims "
            "typcollation typdefault".split()))),
    ),
    "pg_collation": _cat_vs(
        "pg_collation",
        # base (:572-580): collprovider is a SQL CASE -> NULL here;
        # collisdeterministic literal true
        (0, SourceLayout(tuple(_COLL_BASE.split()),
                         defaults={"collisdeterministic": True})),
        # pg10 (:583-590): collprovider + collversion added
        (100000, SourceLayout(
            tuple((_COLL_BASE + " collprovider collversion").split()),
            defaults={"collisdeterministic": True})),
        # pg12 (:593-600): collisdeterministic added
        (120000, SourceLayout(tuple(
            (_COLL_BASE + " collprovider collversion collisdeterministic")
            .split()))),
        # pg15 (:603-610): colliculocale added (exposed as colllocale)
        (150000, SourceLayout(
            tuple((_COLL_BASE + " collprovider collversion "
                   "collisdeterministic").split()),
            renames={"colllocale": "colliculocale"})),
        # pg16 (:613-620): collicurules added
        (160000, SourceLayout(
            tuple((_COLL_BASE + " collprovider collversion "
                   "collisdeterministic collicurules").split()),
            renames={"colllocale": "colliculocale"})),
        # pg17 (:623-630): colliculocale renamed to colllocale — full
        (170000, SourceLayout(tuple(
            (_COLL_BASE + " collprovider collversion collisdeterministic "
             "collicurules colllocale").split()))),
    ),
    "pg_proc": _cat_vs(
        "pg_proc",
        # base (:632-643): proparallel literal 'u'; prokind is a SQL CASE
        # over proisagg/proiswindow -> NULL here
        (0, SourceLayout(tuple(_PROC_BASE.split()),
                         defaults={"proparallel": "u"})),
        # 9.6 (:646-656): proparallel added
        (90600, SourceLayout(tuple((_PROC_BASE + " proparallel").split()))),
        # pg11 (:659-668): prokind added (replaces proisagg/proiswindow)
        (110000, SourceLayout(
            tuple((_PROC_BASE + " proparallel prokind").split()))),
        # pg14 (:671-683): prosrc derived via pg_get_function_sqlbody for
        # SQL-body functions — same column surface
        (140000, SourceLayout(
            tuple((_PROC_BASE + " proparallel prokind").split()))),
    ),
    "pg_language": _cat_vs(
        "pg_language",
        (0, SourceLayout(  # :685-687
            ("oid", "lanname", "lanispl", "lanpltrusted"))),
    ),
}


def catalog_src_layout(catname: str, server_version: int) -> SourceLayout:
    """``powa_catalog_src_query(_catname, _server_version_num)``
    (powa--5.2.0.sql:689-699): newest layout not newer than the server."""
    return resolve_versioned(CATALOG_SOURCES[catname], server_version)


#: collector-side FROM/WHERE fragments.  Temporary objects are excluded
#: ("unlikely to be helpful and might bloat the underlying tables",
#: powa--5.2.0.sql:467-468); pg_attribute needs the pg_class join to
#: apply the same persistence filter (:504-509).
_CATALOG_FROM: dict[str, tuple[str, str | None]] = {
    "pg_class": ("pg_catalog.pg_class", "relpersistence != 't'"),
    "pg_attribute": (
        "pg_catalog.pg_attribute a"
        " JOIN pg_catalog.pg_class c ON c.oid = a.attrelid",
        "a.attnum > 0 AND NOT attisdropped AND c.relpersistence != 't'",
    ),
}


def _sql_literal(v: object) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def catalog_src_query(catname: str, server_version: int) -> str:
    """Collector-side capture SQL for one catalog at one server version —
    the ``powa_catalog_src_queries`` payloads (powa--5.2.0.sql:457-687)
    as a RENDERING of the versioned layout config rather than stored
    strings, resolved the way ``powa_catalog_src_query`` does (:689-699).

    The engine never executes these (Spark has no pg_catalog); a remote
    collector asks the engine what to run on the monitored server and
    ships the rows into the catalog staging tables (:5714-5787 ingest).
    Columns the target version lacks are padded in the query itself —
    literal defaults where the reference injects them, NULL otherwise —
    so every epoch lands the full staging schema."""
    layout = catalog_src_layout(catname, server_version)
    cols: list[str] = []
    for f in CATALOG_SCHEMAS[catname].fields:
        if f.name in ("srvid", "dbid"):
            continue  # collector context, stamped on ingest
        src = layout.renames.get(f.name, f.name)
        if f.name in layout.columns or f.name in layout.renames:
            cols.append(src if src == f.name else f"{src} AS {f.name}")
        elif f.name in layout.defaults:
            cols.append(f"{_sql_literal(layout.defaults[f.name])} AS {f.name}")
        else:
            cols.append(f"NULL AS {f.name}")
    from_clause, where = _CATALOG_FROM.get(
        catname, (f"pg_catalog.{catname}", None)
    )
    sql = f"SELECT {', '.join(cols)} FROM {from_clause}"
    if where:
        sql += f" WHERE {where}"
    return sql


def catalog_src_queries(server_version: int) -> dict[str, str]:
    """All catalogs' capture SQL for one server version, in snapshot
    priority order (pg_class last, it stamps last_refresh)."""
    return {
        name: catalog_src_query(name, server_version)
        for name, _prio in sorted(CATALOGS, key=lambda c: c[1])
    }


def stage_catalog(df: DataFrame, catname: str,
                  server_version: int) -> DataFrame:
    """Project a collector-landed catalog batch through the server's
    layout epoch onto the mirror schema (renames applied, literal
    defaults injected, absent columns NULL)."""
    return catalog_src_layout(catname, server_version).project(
        df, CATALOG_SCHEMAS[catname]
    )

DEFAULT_REFRESH_INTERVAL = dt.timedelta(days=365)  # powa--5.2.0.sql:726

REFRESH_FILE = "powa_catalog_refresh.json"


def catalog_table(catname: str) -> str:
    return f"powa_catalog_{catname}"


def catalog_staging(catname: str) -> str:
    return f"powa_catalog_{catname}_src_tmp"


def _refresh_path(wh: Warehouse) -> str:
    return os.path.join(wh.root, REFRESH_FILE)


def load_refresh(wh: Warehouse) -> dict:
    p = _refresh_path(wh)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _save_refresh(wh: Warehouse, state: dict) -> None:
    p = _refresh_path(wh)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f, indent=1)
    os.replace(tmp, p)


def last_refresh(wh: Warehouse, srvid: int, dbid: int) -> dt.datetime | None:
    raw = load_refresh(wh).get(f"{srvid}:{dbid}")
    return dt.datetime.fromisoformat(raw) if raw else None


def dbs_needing_refresh(
    wh: Warehouse,
    srvid: int,
    dbids: list[int],
    now: dt.datetime,
    refresh_interval: dt.timedelta = DEFAULT_REFRESH_INTERVAL,
) -> list[int]:
    """Databases whose mirror is stale (never refreshed or older than the
    interval) — the exclusion of recently-refreshed dbs
    (powa--5.2.0.sql:725-745)."""
    out = []
    for dbid in dbids:
        lr = last_refresh(wh, srvid, dbid)
        if lr is None or lr <= now - refresh_interval:
            out.append(dbid)
    return out


def catalog_snapshot(
    wh: Warehouse,
    srvid: int,
    catname: str,
    staged: DataFrame,
    now: dt.datetime,
) -> int:
    """Generic catalog snapshot for one catalog: replace the mirror's
    (srvid, dbid) slices present in the staged batch (snapshot-replace
    diff D4 — full replace is MERGE with matched-update + not-matched-
    insert + not-matched-by-source-delete in one overwrite).

    pg_class additionally stamps ``last_refresh`` per refreshed dbid
    (powa--5.2.0.sql:5767-5774).  Returns staged row count."""
    staged = staged.cache()
    try:
        n = staged.count()
        if n == 0:
            return 0
        table = catalog_table(catname)
        dbids = [r.dbid for r in staged.select("dbid").distinct().collect()]
        if wh.exists(table):
            # scope the rewrite to THIS server's partition: the read
            # prunes to srvid=N, and the per-srvid staged swap keeps
            # concurrent snapshots of other servers untouched (a
            # full-table overwrite both rewrote every server's mirror
            # and lost concurrent updates through a shared tmp path)
            keep = wh.read(table).filter(
                (F.col("srvid") == srvid) & ~F.col("dbid").isin(dbids)
            )
            merged = keep.unionByName(staged, allowMissingColumns=True)
        else:
            merged = staged
        sp = StagedPass(wh, srvid)
        sp.stage_replace(merged, table)
        sp.publish()
        if catname == "pg_class":
            state = load_refresh(wh)
            for dbid in dbids:
                state[f"{srvid}:{dbid}"] = now.isoformat()
            _save_refresh(wh, state)
        return n
    finally:
        staged.unpersist()


def catalog_snapshot_all(
    wh: Warehouse,
    srvid: int,
    staged_by_cat: dict[str, DataFrame],
    now: dt.datetime,
    server_version: int | None = None,
) -> dict[str, int]:
    """Run all staged catalogs in priority order (pg_class last).

    With ``server_version``, each batch is first projected through the
    server's layout epoch (powa_catalog_src_query resolution,
    powa--5.2.0.sql:689-699) onto the mirror schema."""
    counts = {}
    for catname, _prio in sorted(CATALOGS, key=lambda c: c[1]):
        if catname in staged_by_cat:
            staged = staged_by_cat[catname]
            if server_version is not None:
                staged = stage_catalog(staged, catname, server_version)
            counts[catname] = catalog_snapshot(wh, srvid, catname, staged, now)
    return counts


def catalog_reset(wh: Warehouse, srvid: int) -> None:
    """Drop one server's catalog mirror + refresh stamps (FK-cascade
    analog of powa_catalog_databases deletes, 99_cleanup.sql)."""
    for catname, _ in CATALOGS:
        wh.drop_srvid(catalog_table(catname), srvid)
    state = {
        k: v for k, v in load_refresh(wh).items()
        if not k.startswith(f"{srvid}:")
    }
    _save_refresh(wh, state)
