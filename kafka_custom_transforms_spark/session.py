"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case and merely *also* works locally:

  - AQE on (runtime re-planning, skew-join splitting, partition coalescing).
  - Arrow on (any unavoidable Pandas-UDF slow path pays vectorized transfer).
  - ``spark.sql.shuffle.partitions`` sized to the local core count here; on a
    real cluster leave it to AQE's coalescing with a high initial value
    (e.g. 2000+) or set ``spark.sql.adaptive.coalescePartitions.*``.
  - Broadcast threshold left at default 10 MB; operators that *know* a side is
    small (dimension tables, query vectors, centroids) broadcast explicitly.
  - Python workers fork from the engine's daemon (:data:`DAEMON_MODULE`),
    PySpark's own daemon with archive import caches kept across tasks: every
    Python task otherwise re-reads the directories of ``pyspark.zip``, the
    py4j zip and the spark-core jar (a median 291 ms per task on 4 vCPUs;
    see ``daemon``). The workers import it, and every package UDF, by module
    name, so ``spark.executorEnv.PYTHONPATH`` starts with the directory that
    holds the package, ahead of any value in ``extra_conf``: workers import
    the package wherever the driver runs, whatever its ``PYTHONPATH``. Opt
    out with ``extra_conf={"spark.python.daemon.module": "pyspark.daemon"}``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The module Python workers fork from (``spark.python.daemon.module``).
DAEMON_MODULE = "kafka_custom_transforms_spark.daemon"
# The Python workers' PYTHONPATH, and the directory that holds the package.
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "kafka_custom_transforms_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver testdata stores TIMESTAMP(NANOS), which Spark 4 rejects
        # by default; read nanos as longs session-wide (load_table converts
        # them back losslessly). Declared here so it is an explicit session
        # property, not a surprise side effect of the first table read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Round-3 testdata stores TIMESTAMP(MICROS) NTZ; load_table casts to
        # session-local timestamps. UTC pins that cast to an identity on the
        # stored micros, matching the DuckDB oracle's naive reading.
        .config("spark.sql.session.timeZone", "UTC")
        # Wide aggregates (128-permutation MinHash, 60-bit SimHash votes)
        # must stay inside whole-stage codegen: the interpreted fallback is
        # 10-30x slower once JIT call sites go megamorphic. Default is 100.
        .config("spark.sql.codegen.maxFields", "400")
        # Many distinct generated classes per session (one per query shape);
        # the JVM default code cache fills up, after which the JIT stops
        # compiling and fresh codegen runs interpreted (10-30x slower, and it
        # looks like random per-query slowdowns). Reserve a big cache.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    path = conf.get(_WORKER_PATH)
    conf[_WORKER_PATH] = os.pathsep.join([_PACKAGE_PARENT, path] if path else [_PACKAGE_PARENT])
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
