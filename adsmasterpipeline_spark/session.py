"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configuration is
chosen so the same logical plans scale to a multi-executor cluster:
AQE for runtime re-planning (skew joins, partition coalescing),
UTC session timezone (oracle comparability), Arrow for the few
Pandas-UDF paths, INT64 microsecond parquet timestamps (footer stats).

``spark.python.sql.dataFrameDebugging.enabled`` is off. With it on
(PySpark's default) every Column and function call records its Python
call site in the JVM: an active-session lookup, a conf read, a JVM
class lookup, a set/clear pair and a stack walk, a dozen or so py4j
round trips per call. Building one dispatch plan makes thousands of
such calls. PySpark caches the setting process-wide at the first
wrapped call, so it is set here, in the builder. Errors keep their SQL
query context; they lose only its Python call-site fragment.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(app_name: str = "adsmasterpipeline_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # INT64 timestamps carry min/max in the parquet footer (INT96
        # ones carry none), which TxnTable reads as per-file stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers import this package by name: give them its
        # parent directory so UDF queries run from any working directory
        .config("spark.executorEnv.PYTHONPATH",
                str(Path(__file__).resolve().parents[1]))
        # managed-table targets (rebuild-swap tests) go
        # under tmp, never the repo working directory
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/spark-graft-warehouse"))
    )
    return builder.getOrCreate()
