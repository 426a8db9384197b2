"""TxnTable file stats and read schemas come from parquet footers.
The stats must equal a Spark min/max/count aggregate of each file in
the ``_stat_encode`` domain the probes compare in, and a read must
have the schema Spark would infer."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from adsmasterpipeline_spark.sinks.txnlake import _stat_encode, txn_table

COLS = ("id", "updated", "day", "n", "z")


def _aggregate_stats(spark, t, rel: str) -> dict:
    """The stats the table recorded before footer stats: one Spark
    aggregate over the file."""
    r = (spark.read.parquet(os.path.join(t.path, rel))
         .agg(F.min(t.key).alias("mn"), F.max(t.key).alias("mx"),
              F.count(F.lit(1)).alias("n"),
              *[F.min(c).alias(f"mn_{c}") for c in COLS],
              *[F.max(c).alias(f"mx_{c}") for c in COLS])
         .collect()[0])
    return {"min_key": r["mn"], "max_key": r["mx"], "rows": r["n"],
            "cols": {c: {"mn": _stat_encode(r[f"mn_{c}"]),
                         "mx": _stat_encode(r[f"mx_{c}"])}
                     for c in COLS}}


def _frame(spark, n: int, start: int = 0):
    base = dt.datetime(2023, 5, 1, 12, 0, 0)
    rows = [(f"ÄB{i:05d}é", i,
             base + dt.timedelta(seconds=i, microseconds=i * 13),
             dt.date(2020, 1, 1) + dt.timedelta(days=i % 500),
             None if i % 3 else i * 2,
             None)
            for i in range(start, start + n)]
    return spark.createDataFrame(
        rows, "bibcode string, id long, updated timestamp, day date, "
              "n long, z long")


def test_footer_stats_equal_aggregate(spark, tmp_path):
    import pyarrow.parquet as pq
    t = txn_table(spark, str(tmp_path / "t"), stats_cols=COLS,
                  cluster_writes=True, rows_per_file=2000)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("parquet.block.size", "16384")
    hconf.set("parquet.block.size.row.check.min", "10")
    try:
        t.overwrite(_frame(spark, 5000))
    finally:
        hconf.unset("parquet.block.size")
        hconf.unset("parquet.block.size.row.check.min")
    adds = t.live_adds()
    assert len(adds) == 3
    groups = [pq.read_metadata(os.path.join(t.path, p)).num_row_groups
              for p in adds]
    assert max(groups) > 1                 # multi-row-group files
    for p, s in adds.items():
        assert s == {"path": p, **_aggregate_stats(spark, t, p)}
        assert s["cols"]["z"] == {"mn": None, "mx": None}   # all null
        assert s["cols"]["n"]["mn"] is not None
    # a merge that deletes every row of the file it touches writes a
    # zero-row part; the part is dropped, not referenced
    first = min(adds, key=lambda p: adds[p]["min_key"])
    gone = (spark.read.parquet(os.path.join(t.path, first))
            .select("bibcode"))
    v = t.merge(_frame(spark, 0), deleted_keys=gone)
    assert t.history()[-1]["adds"] == 0
    commit_dirs = [d for d in os.listdir(os.path.join(t.path, "data"))
                   if d.startswith(f"commit-{v:08d}-")]
    assert all(not n.endswith(".parquet") for d in commit_dirs
               for n in os.listdir(os.path.join(t.path, "data", d)))
    # a merge's rewrite and insert files: the same equality
    t.merge(_frame(spark, 10, start=4990).withColumn("n", F.lit(None)
                                                      .cast("long")))
    for p, s in t.live_adds().items():
        assert s == {"path": p, **_aggregate_stats(spark, t, p)}


def test_footer_schema_equals_inferred(spark, tmp_path):
    t = txn_table(spark, str(tmp_path / "t"), key="id")
    df = spark.range(50).select(
        "id", (F.col("id") * 2).alias("v"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.array(F.col("id")).alias("a"))
    assert not df.schema["id"].nullable
    t.overwrite(df)
    t.merge(spark.range(45, 55).select(
        "id", F.lit(0).cast("long").alias("v"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.array(F.col("id")).alias("a")))
    files = [os.path.join(t.path, p) for p in t.live_files()]
    assert t.read().schema == spark.read.parquet(*files).schema
    assert t.read().count() == 55


def test_int96_files_read_with_no_timestamp_stats(spark, tmp_path):
    key = "spark.sql.parquet.outputTimestampType"
    prior = spark.conf.get(key)
    t = txn_table(spark, str(tmp_path / "t"), stats_cols=COLS)
    spark.conf.set(key, "INT96")
    try:
        t.overwrite(_frame(spark, 20).coalesce(1))
    finally:
        spark.conf.set(key, prior)
    (s,) = t.live_adds().values()
    assert s["cols"]["updated"] == {"mn": None, "mx": None}
    assert s["cols"]["id"] == {"mn": 0, "mx": 19}
    assert s["rows"] == 20
    cut = dt.datetime(2023, 5, 1, 12, 0, 10)
    got = t.read_for_range("updated", lo=cut)
    assert t.last_read_probe["candidate_files"] == list(t.live_adds())
    assert sorted(r["id"] for r in got.collect()) == list(range(10, 20))
    assert t.read().schema == spark.read.parquet(
        *[os.path.join(t.path, p) for p in t.live_files()]).schema
