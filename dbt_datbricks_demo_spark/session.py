"""SparkSession factory.

Centralizes the settings every entry point needs:
  - AQE on (runtime coalescing, broadcast decisions, skew-join splitting) —
    at 100 TB this is what keeps shuffle partition counts sane without
    hand-tuning per query.
  - UTC session timezone — ``hour``/``dayofweek``/``date_trunc`` are
    timezone-sensitive (SURVEY.md §7 hard-parts #7).
  - Arrow enabled for the Pandas-UDF operators (similarity/multimodal).
  - shuffle partitions default sized for local[32] testing; on a real
    cluster AQE coalesces from a deliberately high initial number.
  - the package's parent directory on the Python workers' path. Workers
    (Arrow UDFs, ``mapInPandas``) unpickle functions that import this
    package by name, and they do not inherit the driver's ``sys.path``:
    a driver started outside the repository directory otherwise fails
    inside its first UDF with ``ModuleNotFoundError``. The path is the
    driver's own, which is right for local mode; on a cluster the
    package must be installed on the executors.
  - PySpark's DataFrame query-context capture off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
    every ``F.*`` and DataFrame call makes about ten extra py4j round
    trips to record its Python call site: building ``fct_device_summary``'s
    plan sends ~2 100 py4j commands with it on, ~500 with it off. The cost: a runtime error's query context no longer
    names the Python line that built the failing expression (analysis
    errors such as a missing column still name the column).
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
    turns it back on. PySpark reads the flag once per process, at its
    first call with an active session, so it is set in the builder.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "dbt_datbricks_demo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session, with the settings the module docstring
    lists; ``extra_conf`` entries override them (among them the
    DataFrame query-context capture, off here)."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # InferFiltersFromGenerate turns explode(expensive_array_expr)
        # into a size(...)>0 filter that predicate-pushdown then clones
        # BELOW the repartition exchange — the whole array expression
        # (minhash shingles, n-grams) re-executes on the narrow pre-
        # shuffle side, single-threaded, before the real computation
        # runs again post-shuffle. For this engine staged expensive
        # arrays are the norm, so the rule is globally excluded.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ContextCleaner reclaims shuffle files / broadcast blocks / RDD
        # metadata only when driver GC collects their weak references; in
        # a large, rarely-collected heap the cleanup debt accumulates
        # across a many-query session. The default periodic-GC interval
        # (30min) is longer than a whole session here.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # local[N] runs every executor thread inside this one JVM heap — size
        # it for N concurrent tasks, not for a lone driver (GC stalls at 8g)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # the default 100-entry generated-class cache thrashes on a
        # 100+-query session (every query re-pays Janino compile on its
        # second run); static conf, so it must be set before the JVM
        # starts. Memory cost is bounded: classes, not data.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    extra = dict(extra_conf or {})
    worker_path = [_PACKAGE_PARENT, extra.pop(_WORKER_PATH, "")]
    builder = builder.config(_WORKER_PATH, os.pathsep.join(p for p in worker_path if p))
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
