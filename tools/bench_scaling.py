"""100x-posture bench (VERDICT r5 task 6): run the most expensive
queries at sf0.1 AND at the derived sf1 (tools/scale_testdata.py, 10x
rows), and record the per-query scaling exponent

    alpha = log(t_sf1 / t_sf0.1) / log(10)

alpha ~ 1.0 is linear (ideal for scan/agg/join work), < 1 means fixed
overhead still dominates at sf0.1, > ~1.15 is a red flag (super-linear
— the shape that breaks at 100 TB) and gets a PERF.md root-cause.

An unlabelled run merges its entries into BENCH_SCALING.json (committed
artifact) and stamps it with the run's own scale factors; bench.py folds
it into BENCH_FULL.json under "scaling".  A ``--label`` run only prints
its record and leaves the artifact alone.

Usage: python tools/bench_scaling.py [query ...]
Env:   SPARK_GRAFT_SF1_DIR (default <repo>/.scaled/sf1)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

#: the 10 most expensive sf0.1 queries of the r5 bench — the ones whose
#: scaling behavior decides the 100 TB story
DEFAULT_QUERIES = [
    "stream_near_dup_ledger",
    "multimodal_binary_near_dup",
    "dedup_components",
    "qualstats_snapshot_topk",
    "wait_sampling_snapshot_resolved",
    "dedup_simhash",
    "emb_semantic_dedup",
    "dedup_minhash_lsh",
    "corpus_decontam",
    "doc_fingerprints",
]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _components_fixed_prefix(spark, sf_dir):
    """dedup_components with the pair strategy HELD FIXED (prefix) at
    both scale factors.  The as-declared query uses strategy="probe",
    which correctly routes the 31-token sf0.1 corpus to the O(1)-verify
    bitmask path but must fall back to prefix filtering once the scaled
    corpus's vocabulary exceeds 63 — so its raw exponent measures the
    routing cliff, not the algorithm.  This variant isolates the
    algorithm's own scaling."""
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    pairs = dedup.jaccard_pairs(docs, threshold=0.8, strategy="prefix")
    comp = dedup.connected_components(pairs, docs)
    return comp.select(
        "doc_id", "component",
        (F.col("doc_id") == F.col("component")).alias("is_kept"),
    )


def _semantic_dedup_lsh_k_scaled(spark, sf_dir):
    """emb_semantic_dedup_lsh with PRODUCTION LSH sizing: plane count
    k = ceil(log2(N / target_occupancy)), so bucket occupancy — and
    therefore candidate-pair work — stays constant as the corpus grows.
    The declared query pins k=4 for its static SQL oracle; with fixed k
    the candidate count is N^2/2^k (quadratic, measured alpha 2.66 over
    sf1->sf3) — this variant isolates the algorithm under the sizing a
    real deployment always applies, exactly like ann's n_cells_target."""
    import math
    import random

    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import dedup, similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    k = max(4, math.ceil(math.log2(max(2, n / 32))))
    rng = random.Random(42)
    planes = [
        [int(round(rng.gauss(0, 1) * 1000)) for _ in range(64)]
        for _ in range(k)
    ]
    pairs = similarity.embedding_near_dup_pairs_lsh(
        emb, min_dot_q=350_000_000_000, planes=planes, id_col="vec_id"
    ).select("a_id", "b_id")
    comp = dedup.connected_components(pairs, emb.select("vec_id"),
                                      id_col="vec_id")
    return comp.select(
        "vec_id", "component",
        (F.col("vec_id") == F.col("component")).alias("is_kept"),
    )


EXTRA_QUERIES = {
    "dedup_components[prefix-fixed]": _components_fixed_prefix,
    "emb_semantic_dedup_lsh[k-scaled]": _semantic_dedup_lsh_k_scaled,
}


def _ann_upsert_setup(spark, sf_dir):
    """r7 (VERDICT r6 task 4): isolate the UPSERT's own cost.  Build the
    IVF index over the sf_dir corpus OUTSIDE the timed window; the timed
    run then upserts a FIXED-SIZE batch (500 re-embedded vectors with
    fresh ids, constant across scale factors) through the full
    non-assume_new_ids path (replaced-id semi-join + staged tree
    publish).  Expected alpha ~ 0: the rewrite touches only the batch's
    target cells; drift above ~0.2 would implicate the stale-cells
    discovery scan of the whole index."""
    import tempfile

    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity
    from powa_archivist_spark.storage import Warehouse

    wh = Warehouse(spark, tempfile.mkdtemp(prefix="ann_upsert_bench_"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # production IVF sizing: hold the cell count fixed so the upsert's
    # assignment cost doesn't inherit the corpus's linear cell growth
    similarity.IVF.build(wh, emb, n_cells_target=200)
    batch = (
        spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .orderBy("vec_id").limit(500)
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    return {"wh": wh, "batch": batch, "gen": 0}


def _ann_upsert_run(spark, ctx):
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity

    # fresh ids per run: the timed operation is the INGEST upsert (new
    # vectors through the full discovery + staged publish path), not a
    # same-id re-embedding rewrite
    ctx["gen"] += 1
    offset = 10_000_000 * ctx["gen"]
    batch = ctx["batch"].select(
        (F.col("vec_id") + F.lit(offset)).alias("vec_id"), "embedding"
    )
    similarity.IVF.upsert(ctx["wh"], batch)


def _ivfpq_upsert_setup(spark, sf_dir):
    """r12 (VERDICT r11 task 4): isolate the at-rest IVF-PQ upsert's
    own cost — build the index over the sf_dir corpus OUTSIDE the
    timed window (production cell sizing), then time upserting a
    FIXED-SIZE batch (500 vectors, fresh ids, constant across scale
    factors) through the full non-assume_new_ids path.  Expected
    alpha ~ 0, same contract as ann_index_upsert[fixed-batch]: the
    encode is batch x (cells + codebook) work against broadcast dims
    and the rewrite touches only the batch's runs."""
    import tempfile

    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity
    from powa_archivist_spark.storage import Warehouse

    wh = Warehouse(spark, tempfile.mkdtemp(prefix="ivfpq_upsert_bench_"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.IVFPQ.build(wh, emb, m=8, n_cells_target=200,
                           n_codes_target=64)
    batch = (
        spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .orderBy("vec_id").limit(500)
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    return {"wh": wh, "batch": batch, "gen": 0}


def _ivfpq_upsert_run(spark, ctx):
    from pyspark.sql import functions as F

    from powa_archivist_spark.pipeline import similarity

    ctx["gen"] += 1
    offset = 10_000_000 * ctx["gen"]
    batch = ctx["batch"].select(
        (F.col("vec_id") + F.lit(offset)).alias("vec_id"), "embedding"
    )
    similarity.IVFPQ.upsert(ctx["wh"], batch)


#: staged entries: (setup(spark, sf_dir) -> ctx, run(spark, ctx)) —
#: setup is UNTIMED (index build), run is the measured operation
STAGED_QUERIES = {
    "ann_index_upsert[fixed-batch]": (_ann_upsert_setup, _ann_upsert_run),
    "ann_ivfpq_upsert[fixed-batch]": (_ivfpq_upsert_setup,
                                      _ivfpq_upsert_run),
}


def main() -> int:
    args = sys.argv[1:]
    # --big-dir DIR --big-sf N --label L: compare base against an
    # arbitrary derived SF (r7 task 7: sf1 -> sf3 second-decade check)
    big_dir = None
    big_sf = 1.0
    base_sf = 0.1
    label = None
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    while args and args[0].startswith("--"):
        flag = args.pop(0)
        if flag == "--big-dir":
            big_dir = args.pop(0)
        elif flag == "--big-sf":
            big_sf = float(args.pop(0))
        elif flag == "--base-dir":
            base_dir = args.pop(0)
        elif flag == "--base-sf":
            base_sf = float(args.pop(0))
        elif flag == "--label":
            label = args.pop(0)
        else:
            print(f"unknown flag {flag}", file=sys.stderr)
            return 2
    only = args or DEFAULT_QUERIES
    sf1_dir = big_dir or os.environ.get(
        "SPARK_GRAFT_SF1_DIR", str(REPO / ".scaled" / "sf1")
    )
    if not os.path.isdir(sf1_dir):
        print(f"missing {sf1_dir}; run tools/scale_testdata.py first",
              file=sys.stderr)
        return 2
    rows_factor = big_sf / base_sf

    import __spark_entry__ as entry_mod
    from powa_archivist_spark.session import get_spark

    spark = get_spark("bench_scaling")
    qs = {**entry_mod.queries(), **EXTRA_QUERIES}

    def warm(sf_dir: str) -> None:
        for name in TABLES:
            p = f"{sf_dir}/{name}.parquet"
            if os.path.exists(p):
                spark.read.parquet(p).limit(1).collect()

    warm(base_dir)
    spark.range(2).mapInPandas(lambda it: it, "id long").count()

    def run(name: str, sf_dir: str) -> float:
        if name in STAGED_QUERIES:
            setup, runner = STAGED_QUERIES[name]
            ctx = setup(spark, sf_dir)
            try:
                runner(spark, ctx)              # warm the staged path
                t0 = time.time()
                runner(spark, ctx)
                return time.time() - t0
            finally:
                shutil.rmtree(ctx["wh"].root, ignore_errors=True)
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    out: dict[str, dict] = {}
    for name in only:
        if name in STAGED_QUERIES:
            continue                            # staged queries self-warm
        t_base = run(name, base_dir)
        print(f"scaling {name}: base {t_base:.2f}s", file=sys.stderr,
              flush=True)
    warm(sf1_dir)
    base_key = f"sf{base_sf:g}_sec"
    big_key = f"sf{big_sf:g}_sec"
    for name in only:
        t_base = run(name, base_dir)         # second, warmed sample
        t_big = run(name, sf1_dir)
        alpha = math.log(t_big / t_base) / math.log(rows_factor)
        # normalize to the artifact's bracket convention so ad-hoc
        # labels ("sf1->sf3") and pre-bracketed ones land identically
        tag = label if (not label or label.startswith("[")) else f"[{label}]"
        entry_name = f"{name}{tag}" if tag else name
        out[entry_name] = {
            base_key: round(t_base, 2),
            big_key: round(t_big, 2),
            "exponent": round(alpha, 2),
            "rows_factor": rows_factor,
        }
        print(
            f"scaling {entry_name}: {base_key} {t_base:.2f}s  "
            f"{big_key} {t_big:.2f}s  alpha {alpha:.2f}",
            file=sys.stderr, flush=True,
        )

    rec = {
        "protocol": "n=1 warmed, alpha=log(t_big/t_base)/log(rows_factor)",
        "sf_base": base_sf,
        "sf_big": big_sf,
        "rows_factor": rows_factor,
        "queries": out,
    }
    if label is None:
        path = REPO / "BENCH_SCALING.json"
        if path.exists():
            with open(path) as f:
                rec["queries"] = {**json.load(f).get("queries", {}), **out}
        with open(path, "w") as f:
            json.dump(rec, f, indent=1)
    print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
