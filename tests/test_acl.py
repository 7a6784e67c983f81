"""Grant-matrix parity with the reference's ACL (powa--5.2.0.sql:
7533-7729, asserted by sql/10_acl.sql's has_table_privilege grid) plus
ENFORCEMENT at the storage boundary, which the reference gets from
database GRANTs and this engine gets from the AclWarehouse proxy."""

from __future__ import annotations

import pytest

from powa_archivist_spark.acl import (
    POWA_ROLES,
    AclWarehouse,
    grants_df,
    privileges,
    read_powa_roles,
    revoke_powa_roles,
    roles_of,
    setup_powa_roles,
)
from powa_archivist_spark.specs import PG_STAT_BGWRITER
from powa_archivist_spark.storage import Warehouse

from .conftest import ts

SPEC = PG_STAT_BGWRITER

BINDINGS = {
    "powa_admin": "alice",
    "powa_read_all_data": "webapp",
    "powa_read_all_metrics": "grafana",
    "powa_write_all_data": "loader",
    "powa_snapshot": "collector",
    "powa_signal_backend": "pgbot",
}


def test_matrix_matches_reference_classification():
    """The 10_acl.sql grid, as table-class spot checks."""
    hist = "powa_statements_history"
    staging = "powa_statements_src_tmp"
    constv = "powa_qualstats_constvalues_history_current"
    config = "powa_servers"

    # admin: ALL everywhere
    for t in (hist, staging, constv, config):
        assert privileges("powa_admin", t) == {"read", "write"}
    # write_all_data: read+write everywhere
    assert privileges("powa_write_all_data", staging) == {"read", "write"}
    # snapshot: write on data, read-only on registry/config
    assert privileges("powa_snapshot", hist) == {"read", "write"}
    assert privileges("powa_snapshot", staging) == {"read", "write"}
    assert privileges("powa_snapshot", config) == {"read"}
    # read_all_data: SELECT everywhere except staging
    assert privileges("powa_read_all_data", hist) == {"read"}
    assert privileges("powa_read_all_data", constv) == {"read"}
    assert privileges("powa_read_all_data", staging) == set()
    # read_all_metrics: additionally no constvalues (query constants
    # are data, not metrics)
    assert privileges("powa_read_all_metrics", hist) == {"read"}
    assert privileges("powa_read_all_metrics", constv) == set()
    assert privileges("powa_read_all_metrics", staging) == set()
    # signal_backend: nothing on tables
    for t in (hist, staging, constv, config):
        assert privileges("powa_signal_backend", t) == set()


def test_setup_roles_validates_like_reference(wh):
    """powa_roles rejects unknown roles and NULL/missing bindings
    (powa--5.2.0.sql:30-62)."""
    with pytest.raises(ValueError, match="unexpected"):
        setup_powa_roles(wh, {**BINDINGS, "powa_hacker": "eve"})
    partial = dict(BINDINGS)
    del partial["powa_snapshot"]
    with pytest.raises(ValueError, match="not bound"):
        setup_powa_roles(wh, partial)
    setup_powa_roles(wh, BINDINGS)
    # bindings normalize to member LISTS (roles are groups since r6)
    assert read_powa_roles(wh) == {r: [m] for r, m in BINDINGS.items()}
    assert roles_of(wh, "collector") == {"powa_snapshot"}
    revoke_powa_roles(wh)
    assert read_powa_roles(wh) == {}
    assert roles_of(wh, "collector") == set()


def test_enforcement_at_storage_boundary(spark, wh):
    """The collector can run a snapshot end-to-end through the guarded
    warehouse; readers see history but never staging; the signal role
    touches nothing; and revocation cuts everyone off."""
    from powa_archivist_spark.operators.snapshot import snapshot

    setup_powa_roles(wh, BINDINGS)
    cur_t = Warehouse.current(SPEC.name)
    staging_t = Warehouse.src_tmp(SPEC.name)

    cap = spark.createDataFrame(
        [(1, ts(0), 110, 50, 105, 10, 200)], SPEC.staging_schema
    )
    # operators accept the proxy in place of the raw warehouse
    as_collector = AclWarehouse(wh, "collector")
    assert snapshot(as_collector, SPEC, 1, capture=cap) == 1
    wh.append(cap, staging_t, partition_by=["srvid"])  # raw, for tests

    as_web = AclWarehouse(wh, "webapp")
    assert as_web.read(cur_t).count() == 1
    with pytest.raises(PermissionError, match="src_tmp"):
        as_web.read(staging_t)

    as_grafana = AclWarehouse(wh, "grafana")
    assert as_grafana.read(cur_t).count() == 1
    with pytest.raises(PermissionError):
        as_grafana.append(cap, cur_t)
    with pytest.raises(PermissionError):
        as_grafana.drop_srvid(cur_t, 1)

    as_bot = AclWarehouse(wh, "pgbot")
    with pytest.raises(PermissionError):
        as_bot.read(cur_t)

    # config class: collector reads but cannot write
    with pytest.raises(PermissionError):
        AclWarehouse(wh, "collector").drop_table("powa_servers")

    # powa_revoke(): every privilege disappears
    revoke_powa_roles(wh)
    with pytest.raises(PermissionError):
        as_web.read(cur_t)


def test_grants_df_materializes_matrix(spark):
    df = grants_df(spark, ["powa_statements_history",
                           "powa_statements_src_tmp"])
    assert df.count() == 2 * len(POWA_ROLES)
    got = {(r.table, r.role): r.privileges for r in df.collect()}
    assert got[("powa_statements_src_tmp", "powa_read_all_data")] == []
    assert got[("powa_statements_history", "powa_admin")] == ["read", "write"]


def test_full_orchestrator_pass_under_snapshot_role(spark, wh):
    """The ENTIRE take_snapshot pass (dispatch, snapshot, metas, txn
    markers) runs through the guarded warehouse under the collector
    principal — proving the proxy is drop-in for the orchestrator, not
    just the single snapshot operator — while a reader principal still
    cannot mutate anything the pass created."""
    from powa_archivist_spark.orchestrator import Orchestrator, ServerConfig

    from .conftest import ts as _ts

    setup_powa_roles(wh, BINDINGS)
    as_collector = AclWarehouse(wh, "collector")
    orch = Orchestrator(as_collector, specs={SPEC.name: SPEC})
    cap = spark.createDataFrame(
        [(0, _ts(0), 110, 50, 105, 10, 200)], SPEC.staging_schema
    )
    errs = orch.take_snapshot(
        ServerConfig(srvid=0), captures={SPEC.name: cap}, now=_ts(0)
    )
    assert errs == 0, orch.read_metas(0)["errors"]
    assert wh.read(Warehouse.current(SPEC.name)).count() == 1
    assert orch.txns.pending(0) == []

    with pytest.raises(PermissionError):
        AclWarehouse(wh, "grafana").drop_srvid(Warehouse.current(SPEC.name), 0)

def test_grants_cover_every_creatable_table(spark):
    """r6: the grant matrix's domain is the FULL table inventory —
    every table the warehouse can create (spec histories, dictionaries,
    qualstats, catalogs, the streaming dedup ledgers, the ANN at-rest
    index, config registry) has one grants_df row per role, and the
    content rule classifies the pipeline tables like constvalues."""
    from powa_archivist_spark.acl import warehouse_tables

    from powa_archivist_spark.acl import CONTENT_TABLES
    from powa_archivist_spark.pipeline.similarity import IVF, IVFPQ

    tables = warehouse_tables()
    # the new r5/r6 tables are in the inventory
    for t in ("corpus_digest_ledger", "corpus_neardup_ledger",
              "ann_ivf_cells", "ann_ivf_centroids", "powa_statements",
              "powa_qualstats_constvalues_history"):
        assert t in tables, t
    # every table of both at-rest ANN indexes, and the streaming ledgers
    for t in (*IVF.tables, *IVFPQ.tables, "corpus_rejects",
              "kmeans_vectors", "kmeans_centers", "kmeans_assign",
              "pq_codebook", "pq_codes", "retrieval_postings",
              "retrieval_corpus_stats", "components_ledger",
              "components_edges", "components_assign", "components_remap",
              "profile_hll_registers", "profile_cms_registers",
              "profile_quantile_sketch", "novelty_first_owner",
              "novelty_doc_stats"):
        assert t in tables, t
    assert CONTENT_TABLES <= set(tables)
    g = grants_df(spark)  # defaults to the full inventory
    assert g.count() == len(tables) * len(POWA_ROLES)

    rows = {(r.table, r.role): r.privileges for r in g.collect()}
    # ledgers + ANN index carry document content: data roles read them,
    # the metrics-only role does not; the snapshot role writes them
    for t in ("corpus_digest_ledger", "corpus_neardup_ledger",
              "ann_ivf_cells", "ann_ivf_centroids"):
        assert rows[(t, "powa_read_all_metrics")] == []
        assert rows[(t, "powa_read_all_data")] == ["read"]
        assert rows[(t, "powa_snapshot")] == ["read", "write"]
        assert rows[(t, "powa_admin")] == ["read", "write"]
    # config registry stays read-only for the snapshot role
    assert rows[("powa_servers", "powa_snapshot")] == ["read"]


def test_metrics_role_cannot_read_embedding_ledgers(spark, wh):
    """The streaming k-means vectors (quantized embeddings) and the PQ
    codes are document content like the ANN index tables: the
    metrics-only role gets PermissionError on them through
    AclWarehouse, the data role reads them, and the ledgers that hold
    only ids or aggregates stay readable to the metrics role."""
    setup_powa_roles(wh, BINDINGS)
    for t in ("kmeans_vectors", "pq_codes", "pq_codebook",
              "kmeans_centers", "retrieval_postings",
              "novelty_first_owner"):
        with pytest.raises(PermissionError):
            AclWarehouse(wh, "grafana").read(t)
        assert privileges("powa_read_all_data", t) == {"read"}
    for t in ("kmeans_assign", "components_assign", "retrieval_corpus_stats",
              "profile_hll_registers"):
        assert privileges("powa_read_all_metrics", t) == {"read"}


def test_role_groups_and_rebind_visibility(spark, wh):
    """r6 (ADVICE r5): roles are GROUPS — many members per role — and a
    rebind is visible immediately despite the parsed-bindings cache."""
    setup_powa_roles(wh, {**BINDINGS,
                          "powa_read_all_data": ["webapp", "notebook"]})
    assert roles_of(wh, "webapp") == {"powa_read_all_data"}
    assert roles_of(wh, "notebook") == {"powa_read_all_data"}
    # single-string bindings still parse as one-member groups
    assert roles_of(wh, "alice") == {"powa_admin"}
    # enforcement honors group membership
    for member in ("webapp", "notebook"):
        aw = AclWarehouse(wh, member)
        assert aw.exists("powa_statements_history") in (True, False)
        with pytest.raises(PermissionError):
            aw.read("powa_statements_src_tmp")
    # rebind: drop notebook; the cache must not serve the stale binding
    setup_powa_roles(wh, {**BINDINGS, "powa_read_all_data": ["webapp"]})
    assert roles_of(wh, "notebook") == frozenset()
    with pytest.raises(PermissionError):
        AclWarehouse(wh, "notebook").exists("powa_statements_history")


def test_staged_pass_respects_grant_matrix(spark, wh):
    """r6: StagedPass writes bypass the Warehouse write methods, so the
    stage hooks must enforce the matrix — the snapshot role may stage
    into data tables but NOT into the config registry."""
    from powa_archivist_spark.txn import StagedPass

    setup_powa_roles(wh, BINDINGS)
    aw = AclWarehouse(wh, "collector")  # powa_snapshot
    df = spark.createDataFrame([(1, 7)], "srvid int, v long")
    sp = StagedPass(aw, 1)
    sp.stage_append(df, "powa_statements_history_current")  # allowed
    with pytest.raises(PermissionError):
        sp.stage_append(df, "powa_servers")
    with pytest.raises(PermissionError):
        sp.stage_replace(df, "powa_roles")
    sp.publish()
    assert wh.read("powa_statements_history_current").count() == 1
