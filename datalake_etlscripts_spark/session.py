"""SparkSession factory.

Local testing runs ``local[N]`` (single JVM); the same configuration
scales to a multi-executor cluster because everything below is either
harmless locally (AQE, broadcast thresholds) or sized from the
environment. Nothing here assumes single-node execution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = max(8, os.cpu_count() or 8)


def get_spark(
    app_name: str = "datalake_etlscripts_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE on: runtime coalescing, skew-join splitting, dynamic join
      strategy switch — the knobs that matter at 100 TB.
    - UTC session timezone so timestamps compare bit-exact with
      external oracles (DuckDB) and across clusters.
    - Arrow enabled for every pandas interchange (Pandas UDFs,
      ``toPandas``) — the vectorized slow path instead of pickle.
    - shuffle partitions sized to cores locally; on a real cluster AQE
      coalescing makes the initial number mostly irrelevant.
    - no Python call-site capture per Column/function call
      (``dataFrameDebugging``): each captured call costs several py4j
      round trips, hundreds per versioned-ingest batch. Errors keep
      their class and message, without the Python call-site context.
      PySpark reads this once per process, at the first Column call.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
