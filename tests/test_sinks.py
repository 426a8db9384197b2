"""Sink writer tests: metrics rows with column defaults and their
upsert into the metrics TxnTable sink
(adsmp/tests/test_metrics_update.py:83-166 scenarios), and directory
sinks."""

from __future__ import annotations

import datetime as dt
import json

from adsmasterpipeline_spark.sinks.writers import (
    metrics_upsert, write_solr_dir, write_text_files,
)


def _batch(spark, rows):
    return spark.createDataFrame(
        [(b, json.dumps(m)) for b, m in rows], "bibcode string, metrics string")


def test_metrics_insert_defaults(spark):
    out = metrics_upsert(_batch(spark, [
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


def test_metrics_update_mixed_batch(spark, tmp_path):
    """Two dispatches into the metrics TxnTable sink: the second
    upserts, so an untouched row survives, the incoming row wins and a
    new key is inserted."""
    from adsmasterpipeline_spark.dispatch import dispatch_step
    from adsmasterpipeline_spark.schemas import EVENT_SCHEMA
    from adsmasterpipeline_spark.sinks.txnlake import txn_table
    from adsmasterpipeline_spark.storage import empty_records, merge_updates

    sinks = str(tmp_path / "sinks")

    def dispatch(rows):
        events = spark.createDataFrame(
            [(b, t, "active", json.dumps(p), dt.datetime(2024, 1, 1))
             for b, m in rows
             for t, p in (("bib_data", {"bibcode": b}), ("metrics", m))],
            EVENT_SCHEMA)
        records, _ = merge_updates(empty_records(spark), events)
        dispatch_step(records.localCheckpoint(), sinks, "overwrite",
                      force=True)

    dispatch([("B1", {"citation_num": 5}), ("B2", {"citation_num": 1})])
    dispatch([("B2", {"citation_num": 9}),    # update
              ("B3", {"citation_num": 2})])   # insert
    rows = {r["bibcode"]: r for r in
            txn_table(spark, f"{sinks}/metrics").read().collect()}
    assert set(rows) == {"B1", "B2", "B3"}
    assert rows["B1"]["citation_num"] == 5   # untouched survivor
    assert rows["B2"]["citation_num"] == 9   # incoming wins
    assert rows["B3"]["citation_num"] == 2


def test_dir_sinks(spark, tmp_path):
    docs = spark.createDataFrame([("B1", '{"a":1}')], "bibcode string, doc string")
    write_solr_dir(docs, str(tmp_path / "solr"), "overwrite")
    back = spark.read.json(str(tmp_path / "solr"))
    assert back.count() == 1

    write_text_files([("robots.txt", "Sitemap: x\n")], str(tmp_path / "txt"))
    assert (tmp_path / "txt" / "robots.txt").read_text() == "Sitemap: x\n"
