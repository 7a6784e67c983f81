"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the engine-pass posture, fixed once per engine session (see
#: engine_session); shuffle partitions are added at build time
ENGINE_CONF = {
    # AQE materializes every Exchange as its own scheduler job, and an
    # engine pass runs dozens of multi-exchange micro-statements: the
    # per-stage job overhead dominates at bounded batch sizes, where
    # runtime re-planning buys nothing
    "spark.sql.adaptive.enabled": "false",
    # bounded take()/limit probes read everything small: one job over
    # every partition beats executeTake's 1 -> 4x escalation
    "spark.sql.limit.initialNumPartitions": "100000",
}

_ENGINE_GUARD = threading.Lock()


def engine_session(spark: SparkSession) -> SparkSession:
    """The engine-pass session of ``spark``: built once with
    ``newSession()`` (own SQL conf, shared context, cache and catalog)
    and fixed in the engine posture.

    Snapshot passes, coalesce, purge and streaming folds are bounded per
    (srvid, batch) by the snapshot contract: dozens of tiny jobs whose
    latency is fixed per-job and per-task cost.  The analytics posture
    (AQE on, exchanges planned ``initialPartitionNum`` wide so partition
    size stays bounded on corpus-scale shuffles) pays 256 tasks per
    exchange there, and never coalesces under a persisted frame.  The
    engine session plans every exchange at ``defaultParallelism`` (the
    cluster's core count) with AQE off, so the two postures never share
    a conf and analytics planned during a pass keep their own.

    Idempotent: the engine session of an engine session is itself."""
    eng = getattr(spark, "_engine_session", None)
    if eng is not None:
        return eng
    with _ENGINE_GUARD:
        eng = getattr(spark, "_engine_session", None)
        if eng is None:
            eng = spark.newSession()
            conf = dict(ENGINE_CONF)
            conf["spark.sql.shuffle.partitions"] = str(
                spark.sparkContext.defaultParallelism)
            for k, v in conf.items():
                eng.conf.set(k, v)
            eng._engine_session = eng
            spark._engine_session = eng
    return eng


def adopt(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Re-home ``df`` on ``spark``: the same logical plan (cached data
    still matches), planned and run under ``spark``'s conf.  A frame
    from another session would otherwise drag its posture into the
    pass — a cross-session join runs on its LEFT operand's session."""
    if df._jdf.sparkSession().equals(spark._jsparkSession):
        return df
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan())
    return DataFrame(jdf, spark)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side ``rows`` as a JVM ``LocalRelation`` of ``schema``
    (StructType or DDL) via Arrow: empty prunes at plan time, and no task
    runs a Python worker (a row-list ``createDataFrame`` is a PythonRDD)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*map(schema.toInternal, rows))) or [()] * len(arrow)
    arrays = [pa.array(c, f.type) for c, f in zip(cols, arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)


def observe_rows(df: DataFrame):
    """``df`` with its row count observed on the job that runs it, and a
    thunk that reads the count once that job has finished: the count
    rides the write instead of running a job of its own."""
    obs = Observation()
    return (df.observe(obs, F.count(F.lit(1)).alias("rows")),
            lambda: obs.get["rows"])


def concurrently(spark: SparkSession, *calls) -> list:
    """Run independent thunks at once, at most ``defaultParallelism``
    wide (an engine pass is a burst of tiny jobs whose latency is fixed
    per-job cost); returns their results in call order and re-raises the
    first failure once all have finished.  One thunk runs inline.
    Workers inherit the caller's local properties (job group,
    description), so the jobs stay on the caller's tag."""
    if len(calls) <= 1:
        return [c() for c in calls]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def inherit(c):
        # one copy of the caller's properties per thunk: Spark SQL writes
        # each query's execution id into them while it runs
        wrap = inheritable_thread_target(spark)
        return c if wrap is spark else wrap(c)  # spark: pinned mode off

    width = min(len(calls), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=width) as pool:
        futs = [pool.submit(inherit(c)) for c in calls]
    return [f.result() for f in futs]


def _default_driver_memory() -> str:
    """Half the host's memory, capped at 16g."""
    try:
        with open("/proc/meminfo") as f:
            kib = int(f.readline().split()[1])  # MemTotal
    except (OSError, ValueError, IndexError):
        return "16g"
    return f"{min(16 * 1024, kib // 2048)}m"


def get_spark(app_name: str = "powa_archivist_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Session tuned for the target: AQE on (runtime re-plan / skew-join /
    partition coalescing), UTC, Arrow for the pandas seams.

    On a real cluster, master/memory come from spark-submit; the local
    defaults mirror the driver's harness (local[$SPARK_GRAFT_CPUS])."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r10 (BENCH_STAGES_r10.json): with shuffle.partitions fixed at
        # the core count, per-partition shuffle volume grows linearly
        # with data and the hash aggregate/join falls into sort+spill —
        # measured as dedup_components' cands stage going alpha 2.77 in
        # TIME at alpha 1.00 in ROWS (sf1->sf3).  The AQE posture that
        # holds at any scale: plan exchanges WIDE (initialPartitionNum)
        # and let AQE coalesce small outputs back down — partition SIZE
        # stays bounded as data grows, small queries still end up with
        # few tasks.  On a 1000-executor cluster this number would be
        # in the tens of thousands.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", "256"),
        )
        # r10 (BENCH_STAGES_r10.json, verify stage): a keyed join whose
        # build side is just past the 10MB broadcast threshold planned
        # as sort-merge — at sf3 that sorts 100M+ wide candidate rows
        # twice and spills (measured time alpha 2.44 at rows alpha
        # 1.00).  Prefer shuffled-hash when one side can build a local
        # map (bounded per-partition build under the wide initial
        # partition count); genuinely huge-both-sides joins still plan
        # sort-merge.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # r11 (BENCH_STAGES_r11.json, dedup_components verify stage): a
        # ~40MB dim (118k token-set rows) attached to 104M candidate
        # pairs planned as shuffled-hash — the PAIR side shuffled twice
        # carrying both token arrays (~50GB of shuffle at sf3, the
        # single-box I/O cliff: 218-1144s across identical runs).  AQE
        # converts a join to broadcast from the MEASURED runtime size of
        # the build side, so raising only the adaptive threshold lets
        # bounded dims (set arrays, shingle arrays, dictionaries) stream
        # the big side map-only while genuinely-large sides still plan
        # keyed joins.  The static estimate-based threshold stays at its
        # default — pre-runtime estimates lie.
        # MEMORY FLOOR (r12): 64MB of serialized build side can
        # deserialize to several hundred MB of JVM hash-relation per
        # executor.  This setting assumes >= 4 GB executor heaps (the
        # local[32]/128GiB harness and any reasonable 100TB-cluster
        # sizing clear it); on small-heap executors (< 2 GB) export
        # SPARK_GRAFT_AUTO_BROADCAST=8m to restore a conservative bound
        # rather than editing code.
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_AUTO_BROADCAST", "64m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no call-site capture (a stack walk + py4j calls) per Column call
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        # long sessions run hundreds of generated-code classes; the JVM
        # default 240m code cache silently flush-thrashes once full and
        # expression-heavy queries degrade 10-30x late in a session
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # testdata events.parquet carries TIMESTAMP(NANOS) — read as long,
        # converted to micros in the loader shim (queries.t)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
