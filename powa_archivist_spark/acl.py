"""Role-based access control — the reference's grant matrix, enforced.

The reference maps six logical roles onto concrete database roles
(``powa_roles`` table + ``setup_powa_roles``, powa--5.2.0.sql:13-118)
and materializes per-table privileges with ``powa_grant()`` /
``powa_revoke()`` (powa--5.2.0.sql:7533-7729; exercised by
sql/10_acl.sql).  The classification rules, mirrored here exactly:

- ``powa_admin``          — ALL on every relation;
- ``powa_write_all_data`` — read + write on every table;
- ``powa_snapshot``       — read + write on snapshot DATA tables, but
  read-ONLY on the registry/config class (``powa_roles``,
  ``powa_servers``, extension/module/catalog config — :7597-7610);
- ``powa_read_all_data``  — SELECT on everything except ``*_src_tmp``
  staging (:7620-7626);
- ``powa_read_all_metrics`` — SELECT on everything except ``*_src_tmp``
  AND the ``qualstats_constvalues`` tables (:7628-7633 — constvalues
  carry literal query constants, i.e. potential data, not metrics);
- ``powa_signal_backend`` — no table privileges at all (:7606-7607; the
  role only signals backends, which has no warehouse analog).

A lakehouse engine has no database GRANT machinery, so the matrix is
enforced at the storage boundary: :class:`AclWarehouse` wraps a
``Warehouse`` with an actor's role set and raises ``PermissionError``
before any disallowed read or mutation — every operator runs unchanged
on top (they only see the Warehouse protocol).  Role bindings persist
as JSON under ``<root>/_acl/roles.json`` (the ``powa_roles`` analog);
``grants_df`` materializes the effective matrix as a DataFrame for
introspection (the ``powa_grant`` + ``has_table_privilege`` analog that
sql/10_acl.sql asserts against).

At scale this wrapper is defense-in-depth for the single-writer
orchestrator; multi-tenant readers get the same matrix compiled to the
catalog's native grants (Unity/Ranger-style) — the classification
function is the single source of truth either way.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from .session import local_frame
from .storage import Warehouse

POWA_ROLES = (
    "powa_admin",
    "powa_read_all_data",
    "powa_read_all_metrics",
    "powa_write_all_data",
    "powa_snapshot",
    "powa_signal_backend",
)

#: registry/config tables the snapshot role may only read
#: (powa--5.2.0.sql:7597-7610); our engine keeps server/module config in
#: the admin state dir, whose table-shaped views carry these names
CONFIG_TABLES = frozenset({
    "powa_roles", "powa_servers", "powa_extensions",
    "powa_extension_functions", "powa_extension_config",
    "powa_modules", "powa_module_config", "powa_module_functions",
    "powa_db_modules", "powa_db_module_config",
    "powa_db_module_functions", "powa_db_module_src_queries",
    "powa_catalogs", "powa_catalog_src_queries",
})

#: streaming-ledger tables holding document CONTENT — literal tokens and
#: word n-grams, quantized embeddings and their PQ codes or centroids.
#: The ``ann_``/``corpus_`` tables classify by prefix (see privileges).
CONTENT_TABLES = frozenset({
    "kmeans_vectors", "kmeans_centers", "pq_codes", "pq_codebook",
    "retrieval_postings", "novelty_first_owner",
})

READ, WRITE = "read", "write"


def privileges(role: str, table: str) -> frozenset[str]:
    """Effective privilege set of one logical role on one table —
    the powa_grant() classification as a pure function.

    The LLM-pipeline tables classify by the same content rule the
    reference applies to constvalues (:7628-7633): the corpus ledgers
    (raw shingle arrays, document digests), the ANN index tables
    (embeddings) and the ``CONTENT_TABLES`` streaming ledgers
    (embeddings, PQ codes, tokens, n-grams) carry literal document
    CONTENT, so ``powa_read_all_metrics`` — the metrics-only role — is
    excluded from them exactly like from constvalues, while
    ``powa_read_all_data`` reads them all.  Every staged write under
    an ``AclWarehouse`` calls this: it stays O(1)."""
    if role not in POWA_ROLES:
        raise ValueError(f"unknown powa role {role!r}")
    is_staging = table.endswith("_src_tmp")
    is_content = (
        "qualstats_constvalues" in table
        or table.startswith("corpus_")
        or table.startswith("ann_")
        or table in CONTENT_TABLES
    )
    if role == "powa_admin":
        return frozenset({READ, WRITE})
    if role == "powa_write_all_data":
        return frozenset({READ, WRITE})
    if role == "powa_snapshot":
        if table in CONFIG_TABLES:
            return frozenset({READ})
        return frozenset({READ, WRITE})
    if role == "powa_read_all_data":
        return frozenset() if is_staging else frozenset({READ})
    if role == "powa_read_all_metrics":
        if is_staging or is_content:
            return frozenset()
        return frozenset({READ})
    return frozenset()  # powa_signal_backend


def warehouse_tables() -> list[str]:
    """Every table name this engine can create — the grant-matrix
    domain (the reference grants over ``pg_class`` relations of the
    powa schema; this is the lakehouse analog).  Spec-derived history
    tables, the dictionaries, qualstats, catalogs, the streaming
    ledgers, every table of both at-rest ANN indexes, and the
    config-class registry views."""
    from .operators import databases, dictionary, qualstats
    from .pipeline.similarity import IVF, IVFPQ
    from .sources.catalog import CATALOGS, catalog_staging, catalog_table
    from .specs import ALL_SPECS
    from .streaming import (clustering, cms, components, curation, dedup,
                            novelty, pq_ingest, profile, quantiles,
                            retrieval)

    names: set[str] = set(CONFIG_TABLES)
    for spec in ALL_SPECS.values():
        names.add(Warehouse.current(spec.name))
        names.add(Warehouse.history(spec.name))
        names.add(Warehouse.src_tmp(spec.name))
        if spec.db_rollup:
            names.add(Warehouse.current_db(spec.name))
            names.add(Warehouse.history_db(spec.name))
    names |= {
        dictionary.TABLE,
        databases.TABLE,
        qualstats.QUALS_TABLE,
        qualstats.CONSTVALUES_TABLE,
        qualstats.CONSTVALUES_HISTORY_TABLE,
        dedup.LEDGER_TABLE,
        dedup.NEAR_DUP_LEDGER_TABLE,
        curation.REJECT_TABLE,
        clustering.VECTORS_TABLE,
        clustering.CENTERS_TABLE,
        clustering.ASSIGN_TABLE,
        pq_ingest.PQ_CODEBOOK_TABLE,
        pq_ingest.PQ_CODES_TABLE,
        retrieval.POSTINGS_TABLE,
        retrieval.STATS_TABLE,
        components.COMP_LEDGER_TABLE,
        components.COMP_EDGES_TABLE,
        components.COMP_ASSIGN_TABLE,
        components.COMP_REMAP_TABLE,
        profile.HLL_TABLE,
        cms.CMS_TABLE,
        quantiles.KLL_TABLE,
        novelty.OWNERS_TABLE,
        novelty.STATS_TABLE,
        *IVF.tables,
        *IVFPQ.tables,
    }
    for catname, _minv in CATALOGS:
        names.add(catalog_table(catname))
        names.add(catalog_staging(catname))
    return sorted(names)


# ---------------------------------------------------------------------------
# role bindings (the powa_roles table + setup_powa_roles)
# ---------------------------------------------------------------------------

def _roles_path(wh: Warehouse) -> str:
    return os.path.join(wh.root, "_acl", "roles.json")


def setup_powa_roles(
    wh: Warehouse, bindings: dict[str, str | list[str]]
) -> None:
    """Bind each logical role to its member principals.  The reference's
    database roles are GROUPS — any number of members per role (ADVICE
    r5) — so each binding is a list; a bare string binds a single
    member.  Like the reference (powa--5.2.0.sql:30-118), every role
    must be bound and unknown role names are rejected; the write is
    atomic."""
    unknown = set(bindings) - set(POWA_ROLES)
    if unknown:
        raise ValueError(f"unexpected powa_role(s): {sorted(unknown)}")
    missing = set(POWA_ROLES) - set(bindings)
    if missing:
        raise ValueError(f"powa_role(s) not bound: {sorted(missing)}")
    normalized = {
        role: [m] if isinstance(m, str) else sorted(m)
        for role, m in bindings.items()
    }
    p = _roles_path(wh)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(normalized, f, indent=1)
    os.replace(tmp, p)


#: parsed-bindings cache keyed by path: (mtime_ns, bindings) — every
#: guarded warehouse op consults the bindings, and a filesystem read +
#: JSON parse per table operation is pure overhead (ADVICE r5); the
#: mtime probe keeps rebinds (setup/revoke) immediately visible
_ROLES_CACHE: dict[str, tuple[int, dict[str, list[str]]]] = {}


def read_powa_roles(wh: Warehouse) -> dict[str, list[str]]:
    p = _roles_path(wh)
    try:
        mtime = os.stat(p).st_mtime_ns
    except FileNotFoundError:
        _ROLES_CACHE.pop(p, None)
        return {}
    hit = _ROLES_CACHE.get(p)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    with open(p) as f:
        raw = json.load(f)
    bindings = {
        role: [m] if isinstance(m, str) else list(m)
        for role, m in raw.items()
    }
    _ROLES_CACHE[p] = (mtime, bindings)
    return bindings


def roles_of(wh: Warehouse, principal: str) -> frozenset[str]:
    """Logical roles a principal holds under the current bindings."""
    return frozenset(
        role for role, members in read_powa_roles(wh).items()
        if principal in members
    )


def revoke_powa_roles(wh: Warehouse) -> None:
    """powa_revoke() analog: drop every binding (and with it, every
    privilege any principal held through them)."""
    p = _roles_path(wh)
    _ROLES_CACHE.pop(p, None)
    if os.path.exists(p):
        os.remove(p)


# ---------------------------------------------------------------------------
# enforcement at the storage boundary
# ---------------------------------------------------------------------------

class AclWarehouse:
    """A ``Warehouse`` proxy that enforces the grant matrix for one
    actor.  Read surface: ``read`` / ``exists``; mutation surface:
    ``append`` / ``overwrite`` / ``overwrite_partitions`` /
    ``drop_srvid`` / ``drop_table`` (staged writes check through
    ``acl_check_write``).
    Everything else (table-name helpers, ``spark``, ``root``, ``path``)
    passes through, so any operator accepts it in place of the raw
    warehouse."""

    _READS = {"read", "exists"}
    _WRITES = {
        "append", "overwrite", "overwrite_partitions", "drop_srvid",
        "drop_table",
    }

    def __init__(self, wh: Warehouse, principal: str) -> None:
        self._wh = wh
        self.principal = principal

    def _roles(self) -> frozenset[str]:
        return roles_of(self._wh, self.principal)

    def _check(self, op: str, table: str, needed: str) -> None:
        held = self._roles()
        if any(needed in privileges(r, table) for r in held):
            return
        raise PermissionError(
            f"{self.principal!r} (roles {sorted(held) or '[]'}) lacks "
            f"{needed!r} on table {table!r} (operation {op})"
        )

    # txn.StagedPass writes through the filesystem (stage dirs +
    # renames), not the Warehouse write methods — it probes for these
    # hooks so staged sinks stay inside the grant matrix
    def acl_check_write(self, table: str) -> None:
        self._check("stage", table, WRITE)

    def acl_check_read(self, table: str) -> None:
        self._check("stage", table, READ)

    def engine(self) -> "AclWarehouse":
        return AclWarehouse(self._wh.engine(), self.principal)

    def __getattr__(self, name: str):
        attr = getattr(self._wh, name)
        if name in self._READS:
            def guarded_read(table, *a, **k):
                self._check(name, table, READ)
                return attr(table, *a, **k)
            return guarded_read
        if name == "drop_srvid" or name == "drop_table":
            def guarded_drop(table, *a, **k):
                self._check(name, table, WRITE)
                return attr(table, *a, **k)
            return guarded_drop
        if name in self._WRITES:
            # write methods take (df, table, ...)
            def guarded_write(df, table, *a, **k):
                self._check(name, table, WRITE)
                return attr(df, table, *a, **k)
            return guarded_write
        return attr


def grants_df(
    spark: SparkSession, tables: list[str] | None = None
) -> DataFrame:
    """Materialize the effective matrix for introspection — the analog
    of sql/10_acl.sql's has_table_privilege probe grid: one row per
    (table, role) with its privilege set.  Defaults to the FULL table
    inventory (:func:`warehouse_tables`) so every table the warehouse
    can create has grant rows."""
    if tables is None:
        tables = warehouse_tables()
    rows = [
        (t, r, sorted(privileges(r, t)))
        for t in tables
        for r in POWA_ROLES
    ]
    return local_frame(spark, rows,
                       "table string, role string, privileges array<string>")
