"""Dump formatted physical plans for the headline queries to PLANS.md —
committed evidence of the plan properties the engine depends on at scale
(pushed filters, pruned read schemas, broadcast joins, whole-stage
codegen spans, no cartesian products).

Usage: python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

HEADLINE = [
    "q01_pricing_summary",
    "q05_nation_volume",
    "events_range_read",
    "events_rate",
    "events_topk_per_group",
    "constvalues_topk",
    "events_interval_join",
    "events_asof_click",
    "dedup_exact",
    "dedup_jaccard_pairs",
    "multimodal_binary_near_dup",
    "text_repetition",
    "dedup_minhash_lsh",
    "corpus_bloom_decontam",
    "corpus_quality_gate",
    "corpus_vocab_topk",
    "knn_ivf_topk",
    "emb_near_dup_blocked",
    "corpus_prep_funnel",
    "docs_rrf_hybrid",
    "docs_ngram_novelty",
    "dedup_minhash_recall",
    # r11-r13 headliners (VERDICT r12 task 3: every query added since
    # r10 with a plan worth auditing)
    "docs_bm25_wand",
    "docs_bm25_rm3",
    "corpus_pack_ffd",
    "ann_nprobe_tuning",
    "dedup_components",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entry_mod
    from powa_archivist_spark.session import get_spark

    spark = get_spark("explain_report")
    qs = entry_mod.queries()
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `python tools/explain_report.py {sf_dir}`.",
        "Things to look for: `PushedFilters` / pruned `ReadSchema` on every",
        "scan, `BroadcastHashJoin` on dimension joins, wide",
        "`WholeStageCodegen` spans, zero `CartesianProduct` nodes.",
        "",
    ]
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # strip volatile ids (#123, plan_id) so the committed file diffs
        # only on real plan changes
        plan = re.sub(r"#\d+[L]?", "#x", plan)
        plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
        plan = re.sub(re.escape(sf_dir), "<sf>", plan)
        # the node list is the structure; per-node detail sections add
        # ~10x bulk — keep the tree plus scan details (pushdown evidence)
        tree, _, details = plan.partition("\n\n")
        scan_details = "\n".join(
            block
            for block in details.split("\n\n")
            if block.strip()
            and "Scan parquet" in block.strip().splitlines()[0]
        )
        out.append(f"## {name}\n\n```\n{tree.strip()}")
        if scan_details:
            out.append(f"\n{scan_details.strip()}")
        out.append("```\n")
        cart = "CartesianProduct" in plan
        print(f"{name}: {'CARTESIAN!' if cart else 'ok'}", file=sys.stderr)
        assert not cart, name
    out.extend(_at_rest_serving_plans(spark, sf_dir))
    Path(__file__).resolve().parents[1].joinpath("PLANS.md").write_text(
        "\n".join(out)
    )
    print("wrote PLANS.md")
    return 0


def _at_rest_serving_plans(spark, sf_dir: str) -> list[str]:
    """Plans of the at-rest indexes' SERVING READS (r13, VERDICT r12
    task 3).  The declared lifecycle queries (ann_ivfpq_at_rest,
    stream_kmeans_staleness, stream_components_ledger, ...) build state
    in a temp warehouse and return a checkpointed result — their
    driver-facing plan is one ExistingRDD leaf.  What a deployment
    audits is the read it serves against the at-rest tables, so this
    section builds each index once and explains THAT plan — the
    partition-pruned probe, the bounded staleness aggregates, the
    broadcast-remap assignment view."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity
    from powa_archivist_spark.storage import Warehouse
    from powa_archivist_spark.streaming.clustering import (
        kmeans_staleness, process_kmeans_batch)
    from powa_archivist_spark.streaming.components import (
        components_assignment, process_components_batch)

    out = ["## At-rest serving reads (state built in a temp warehouse)\n"]
    scratch = tempfile.mkdtemp(prefix="plans_atrest_")
    try:
        wh = Warehouse(spark, scratch)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        similarity.IVFPQ.build(wh, emb.filter("vec_id % 5 != 4"),
                               n_cells_target=8)
        similarity.IVFPQ.upsert(wh, emb.filter("vec_id % 5 = 4"))
        q = emb.filter("vec_id in (0, 1, 2)")
        seam: dict = {}
        similarity.IVFPQ.probe_tuning(
            wh, emb, query_ids=[0, 1, 2], k=5, nprobes=(1, 2),
            plan_out=seam,
        )
        process_kmeans_batch(wh, emb.filter("vec_id % 2 = 0"), 0, k=4)
        process_kmeans_batch(wh, emb.filter("vec_id % 2 = 1"), 1, k=4)
        process_components_batch(wh, docs.filter("doc_id % 2 = 0"), 0)
        process_components_batch(wh, docs.filter("doc_id % 2 = 1"), 1)
        serving = [
            ("IVFPQ.probe (base+delta, pruned to probed cells)",
             similarity.IVFPQ.probe(wh, q, k=5, nprobe=2)),
            ("IVFPQ.probe_tuning scoring pass (shared, pruned)",
             seam["scored"]),
            ("kmeans_staleness (two bounded aggregates)",
             kmeans_staleness(wh)),
            ("components_assignment (immutable assign x broadcast remap)",
             components_assignment(wh)),
        ]
        for title, df in serving:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            plan = re.sub(r"#\d+[L]?", "#x", plan)
            plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
            plan = re.sub(re.escape(scratch), "<wh>", plan)
            plan = re.sub(re.escape(sf_dir), "<sf>", plan)
            tree, _, details = plan.partition("\n\n")
            scan_details = "\n".join(
                block for block in details.split("\n\n")
                if block.strip()
                and "Scan parquet" in block.strip().splitlines()[0]
            )
            assert "CartesianProduct" not in plan, title
            out.append(f"### {title}\n\n```\n{tree.strip()}")
            if scan_details:
                out.append(f"\n{scan_details.strip()}")
            out.append("```\n")
            print(f"at-rest: {title}: ok", file=sys.stderr)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


if __name__ == "__main__":
    raise SystemExit(main())
