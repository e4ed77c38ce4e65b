"""SparkSession factory tuned for this engine, and the two session-scoped
primitives every stage uses: ``materialize`` (the one lineage cut) and
``session_memo`` (the one per-session memo).

Defaults target local[N] testing but the settings are the ones that matter on
a real cluster too: AQE on (runtime re-plan, skew-join handling, partition
coalescing), Arrow for any pandas interchange, UTC session timezone so date
metrics are deterministic.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 24g: the local driver JVM also
    hosts the executors, and the Python workers need the rest."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(24, int(ram_gb // 2)))}g"


def get_spark(app_name: str = "dataops_testgen_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        # The engine's plans are codegen-heavy (a table profile alone emits
        # dozens of generated classes); with the JVM's default 240 MB
        # reserved code cache a long session can fill it, at which point
        # the JIT stalls/flushes and individual queries intermittently run
        # 5-10x slower (observed: same profile query 2.5 s vs 29 s across
        # bench runs). 512 MB + explicit flushing keeps the JIT steady.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing")
        # STATIC conf (must be set at session build, not runtime).
        # One profile→infer→screen cycle emits ~240 codegen units; the
        # default 100-entry source→class cache thrashes, so EVERY fresh
        # table re-pays Janino compilation of the same inference-cascade
        # sources (string literals ride references[], so the generated
        # source is identical across tables — measured: 240 compiles on
        # table 1, ~1 on table 2 once the cache can hold a cycle). Turns
        # the per-fresh-table compile tax into a once-per-session cost.
        .config("spark.sql.codegen.cache.maxEntries",
                os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 captures a Python call site for every Column/DataFrame
        # op when dataFrameDebugging is on (the default): a conf read, a
        # PySparkCurrentOrigin.set and a .clear — 3 extra py4j round trips
        # plus a stack walk PER OP. The engine's plans are built from
        # thousands of Column ops per fresh table (profiler ~60 exprs x
        # cols, the 622-rule cascade, fused screens), so this tripled the
        # driver-side build cost of every seat (measured: col-op 3.3 ms ->
        # 1.3 ms; apply_inference build 3.1 s -> ~1 s). Standard
        # production setting; only error-message call-site info is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # the profiler and CAT engine overlap independent aggregation jobs
        # from a thread pool (profiler.py / cat.py); FIFO would let one
        # wide job starve the others on a busy cluster — FAIR round-robins
        # task slots across the concurrently submitted jobs, preserving the
        # overlap that local[N] gets for free
        .config("spark.scheduler.mode", "FAIR")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Plans that are already a materialized leaf: a prior checkpoint, a bare
# relation scan, driver-local rows, the V2 reader's scan. Cutting lineage
# there only copies the data.
_LEAVES = ("LogicalRDD", "LogicalRelation", "LocalRelation",
           "DataSourceV2Relation")


def _is_leaf(df) -> bool:
    try:
        name = df._jdf.queryExecution().logical().getClass().getSimpleName()
    except Exception:
        return False
    return name in _LEAVES


def materialize(df, eager: bool = False):
    """Cut ``df``'s lineage: the engine's one hand-off between stages.

    Returns ``df`` unchanged when its plan is already a leaf, else
    ``df.localCheckpoint(eager=eager)``. Callers say only *where* a cut
    pays (an intermediate consumed several times, or a deep plan that
    later stages would re-analyze); ``eager=True`` runs the job now.
    """
    if _is_leaf(df):
        return df
    return df.localCheckpoint(eager=eager)


# (applicationId, key) -> value. Entries hold py4j handles (Columns,
# DataFrames) that die with their session, so keying on the application
# id keeps a restarted session from reusing them.
_MEMO: dict[tuple, object] = {}
_MEMO_LOCK = threading.Lock()


def session_memo(spark: SparkSession, key, build):
    """``build()``'s value, computed once per (Spark application, key).

    A miss evicts every other application's entries. The lock covers only
    lookup, insert and evict: ``build`` runs outside it, so builds may run
    concurrently from a thread pool and may themselves read the memo. On a
    same-key race the first value inserted wins.
    """
    k = (spark.sparkContext.applicationId, key)
    with _MEMO_LOCK:
        if k in _MEMO:
            return _MEMO[k]
    got = build()
    with _MEMO_LOCK:
        for stale in [x for x in _MEMO if x[0] != k[0]]:
            del _MEMO[stale]
        return _MEMO.setdefault(k, got)


def ensure_parallelism(df, min_partitions: int | None = None):
    """Round-robin repartition a DataFrame whose scan produced fewer
    partitions than the cluster has cores.

    Small-file inputs (one or two parquet row groups) otherwise pin every
    expression-heavy aggregate — the profiler's ~20 regex metrics per string
    column, CAT's fused measures, shingle explosion — to one or two tasks
    while the rest of the cluster idles. At real scale the scan already
    yields plenty of partitions and this is a no-op; the shuffle it adds on
    small inputs is a few MB. Compute-bound ops should call this, not tune
    spark.sql.files.maxPartitionBytes globally (which would explode the
    partition count on large inputs).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
