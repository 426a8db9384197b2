"""Skew mitigation (SURVEY §4 / the 100 TB checklist).

AQE's skew-join handling (enabled in session.py) splits oversized
shuffle partitions at runtime. Two input shapes stay outside its
reach, and this module covers them:

- ``spread_small_scan``: a scan with fewer partitions than task slots
  (one unsplittable file) is round-robined to ``defaultParallelism``
  so the per-row work above it runs on every core;
- ``salted_agg_count``: a per-key count under key skew is
  pre-aggregated on (key, random salt) and then combined, bounding
  the per-task state of the first stage.

Both leave results unchanged; only the physical distribution moves
(asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Input-skew fix (guide §2.5 "one huge unsplittable file"):
    when the upstream scan yields fewer partitions than the session
    has task slots — one small parquet file at every local bench/test
    tier, or a single unsplittable input at deployment — round-robin
    repartition to ``defaultParallelism`` so the expensive per-row
    work ABOVE the scan (higher-order shingle/hash folds, normalize +
    split chains) runs on every core instead of one. At real scale the
    scan already carries >= slots partitions and this is a NO-OP: no
    shuffle is added where the input is already parallel, so nothing
    here is tuned to local mode. Callers pass the slim projection
    (id + text) so the shuffled bytes, when the shuffle happens at
    all, are the raw input columns, never derived arrays.

    Results are unchanged — only physical distribution moves, and
    every consumer in this engine is order-insensitive (the oracle
    gate compares sorted rows)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def salted_agg_count(df: DataFrame, key: str, salt: int = 8) -> DataFrame:
    """Two-stage aggregation under key skew: pre-aggregate on
    (key, salt), then combine. (Spark's partial aggregation already
    does this for algebraic aggs — this form is for when the first
    stage must bound per-task state, e.g. collect-like aggs.)"""
    stage1 = (df.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
              .groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_c")))
    return stage1.groupBy(key).agg(F.sum("_c").alias("count"))
