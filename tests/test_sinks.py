"""Sink writer tests: metrics MERGE upsert with column defaults
(adsmp/tests/test_metrics_update.py:83-166 scenarios) and directory
sinks."""

from __future__ import annotations

import json

from adsmasterpipeline_spark.sinks.writers import (
    metrics_upsert, write_solr_dir, write_text_files,
)


def _batch(spark, rows):
    return spark.createDataFrame(
        [(b, json.dumps(m)) for b, m in rows], "bibcode string, metrics string")


def test_metrics_insert_defaults(spark):
    out = metrics_upsert(None, _batch(spark, [
        ("B1", {"citation_num": 5, "citations": ["x"]}),
        ("B2", {}),
    ])).collect()
    rows = {r["bibcode"]: r for r in out}
    assert rows["B1"]["citation_num"] == 5
    assert rows["B1"]["citations"] == ["x"]
    # server-side defaults (adsmp/models.py:203-211)
    assert rows["B2"]["author_num"] == 1
    assert rows["B2"]["citation_num"] == 0
    assert rows["B2"]["citations"] == []
    assert rows["B2"]["refereed"] is False


def test_metrics_update_mixed_batch(spark):
    existing = metrics_upsert(None, _batch(spark, [
        ("B1", {"citation_num": 5}), ("B2", {"citation_num": 1})])).cache()
    merged = metrics_upsert(existing, _batch(spark, [
        ("B2", {"citation_num": 9}),   # update
        ("B3", {"citation_num": 2}),   # insert
    ])).cache()
    rows = {r["bibcode"]: r for r in merged.collect()}
    assert set(rows) == {"B1", "B2", "B3"}
    assert rows["B1"]["citation_num"] == 5   # untouched survivor
    assert rows["B2"]["citation_num"] == 9   # incoming wins
    assert rows["B3"]["citation_num"] == 2


def test_dir_sinks(spark, tmp_path):
    docs = spark.createDataFrame([("B1", '{"a":1}')], "bibcode string, doc string")
    write_solr_dir(docs, str(tmp_path / "solr"))
    back = spark.read.json(str(tmp_path / "solr"))
    assert back.count() == 1

    write_text_files([("robots.txt", "Sitemap: x\n")], str(tmp_path / "txt"))
    assert (tmp_path / "txt" / "robots.txt").read_text() == "Sitemap: x\n"
