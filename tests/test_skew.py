"""Salted aggregation equivalence test."""

from __future__ import annotations

from pyspark.sql import functions as F

from adsmasterpipeline_spark.operators.skew import salted_agg_count


def _skewed(spark):
    # key 0 holds ~50% of rows
    return spark.range(0, 20_000).select(
        F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 100)
        .alias("k"), F.col("id").alias("v"))


def test_salted_agg_count(spark):
    df = _skewed(spark)
    got = {r["k"]: r["count"] for r in salted_agg_count(df, "k").collect()}
    want = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    assert got == want
