"""Tests of the lifecycle benchmark itself.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, layers, trace  # noqa: E402
from perfbench import run as bench  # noqa: E402


def test_same_seed_same_rows():
    a = gen.FleetGen(5, [0, 1, 2], gen.dt.timedelta(hours=8))
    b = gen.FleetGen(5, [0, 1, 2], gen.dt.timedelta(hours=8))
    # draw b's ticks in another order first: rows must not depend on it
    b.staging("statements", 2, 9)
    b.raw_wait_samples(0, 4)
    assert gen.digest(a, range(12)) == gen.digest(b, range(12))
    c = gen.FleetGen(6, [0, 1, 2], gen.dt.timedelta(hours=8))
    assert gen.digest(a, range(12)) != gen.digest(c, range(12))


def test_generator_exercises_resets_and_sparse_entity():
    g = gen.FleetGen(1, [1], gen.dt.timedelta(hours=8))
    calls = [g.staging("statements", 1, i)[0][6] for i in range(8)]
    assert any(b < a for a, b in zip(calls, calls[1:]))  # a counter reset
    sparse_q = g.servers[1].queries[1][0]
    seen = [any(r[2] == sparse_q for r in g.staging("statements", 1, i))
            for i in range(6)]
    assert seen == [True, False, False, True, False, False]


def test_printed_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] \
        == list(bench.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == layers.catalogue()
    assert {w["name"] for w in spec["workloads"]} \
        == {"fleet_ingest", "deep_history_mixed"}


def test_self_time_and_job_attribution():
    spans = [
        {"id": 1, "name": "tick", "parent": None, "group": "g1",
         "t0": 0.0, "t1": 10.0, "attrs": {}},
        {"id": 2, "name": "a", "parent": 1, "group": "g2",
         "t0": 1.0, "t1": 4.0, "attrs": {}},
        {"id": 3, "name": "b", "parent": 1, "group": None,
         "t0": 3.0, "t1": 9.0, "attrs": {}},
    ]
    assert trace.covered([(1.0, 4.0), (3.0, 9.0)]) == 8.0
    jobs = {0: {"group": "g2", "t0": 2.0}, 1: {"group": None, "t0": 5.0},
            2: {"group": None, "t0": 2.5}}
    own = trace.attribute_jobs(spans, jobs)
    # untagged jobs land on the innermost grouped span open at submit
    assert [len(own[i]) for i in (1, 2)] == [1, 2]


@pytest.fixture(scope="module")
def spark():
    from powa_archivist_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    return get_spark("perfbench_tests", master="local[2]", shuffle_partitions=2)


@pytest.mark.parametrize("name", ["fleet_ingest", "deep_history_mixed"])
def test_tiny_workload_passes_its_checks(spark, name):
    from perfbench import checks, workloads

    full = workloads.PLANS[name]
    ticks = [s for s in full.schedule if s[0] == "tick"][:2]
    plan = dataclasses.replace(
        full, history_servers=full.history_servers[:4], history_days=3,
        schedule=(*ticks, *full.reads[:2]), reads=())
    d = os.path.join(ROOT, ".perfbench", f"test-{os.getpid()}-{name}")
    try:
        t0 = time.perf_counter()
        cache = os.path.join(d, "cache")
        workloads.build(spark, plan, cache)
        fleet, _reps = workloads.setup(spark, plan, 3, d, cache)
        ops = workloads.run_loop(fleet, plan, 3, 0)
        problems = checks.run_all(fleet, ops)
        assert problems == []
        assert sum(o.failed for o in ops) == 0
        assert {o.kind for o in ops} == {"tick", "read"}
        assert time.perf_counter() - t0 < 60
    finally:
        shutil.rmtree(d, ignore_errors=True)
