"""SparkSession factory.

Local-mode testing on ``local[N]``, but every default here is chosen so
the same plans survive a multi-executor cluster at 100 TB: AQE on
(runtime coalesce + skew-join handling), shuffle partitions sized to
the parallelism, Arrow enabled for the Pandas-UDF slow path, and a
pinned UTC session timezone so results are reproducible against the
DuckDB oracle and across cluster timezones.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package, so every Python worker can import it
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "trace-data-pipeline-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    cpus = cpus or default_cpus()
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MB input splits: right for wide parquet scans at cluster scale
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # r17: PySpark's DataFrame-debugging call-site capture walks the
        # Python stack and makes two extra JVM round-trips on EVERY
        # DataFrame method — profiled at ~1 s of the ~1.4 s it took to
        # CONSTRUCT the stage-1 plan (py4j latency dominated). Pure
        # error-attribution sugar, no execution semantics; off for the
        # engine's sessions exactly as a production job would run it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # workers import pyspark from its installed package, not from the
        # archives Spark puts on their path (see worker_daemon.py)
        .config("spark.python.daemon.module", "trace_data_pipeline_spark.worker_daemon")
    )
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (_ENGINE_ROOT, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
