"""Tests for readiness, checksum suppression, sink batches, and
mark_processed (P2-P5, O1-O3) — including the idempotence property:
a second dispatch right after mark_processed produces zero sink rows
(SURVEY §5 'adopt' item d)."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from adsmasterpipeline_spark.dispatch import (
    failed_filter, incremental_filter, links_batch, mark_processed,
    metrics_batch, readiness_filter, reindex, solr_batch,
)
from adsmasterpipeline_spark.schemas import EVENT_SCHEMA
from adsmasterpipeline_spark.storage import empty_records, merge_updates


def ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def _records(spark, with_orcid=True, with_nonbib=True):
    rows = [("B1", "bib_data", "active",
             json.dumps({"bibcode": "B1", "title": ["T"],
                         "links_data": [json.dumps({"url": "http://x/abs/1",
                                                    "access": "open"})]}),
             ts(1)),
            ("B1", "metrics", "active", json.dumps({"citations": ["C"]}), ts(2))]
    if with_orcid:
        rows.append(("B1", "orcid_claims", "active",
                     json.dumps({"verified": ["0-1"]}), ts(3)))
    if with_nonbib:
        rows.append(("B1", "nonbib_data", "active",
                     json.dumps({"boost": 0.5, "data_links_rows":
                                 [{"url": ["http://y"]}]}), ts(4)))
    ev = spark.createDataFrame(rows, EVENT_SCHEMA)
    recs, _ = merge_updates(empty_records(spark), ev,
                            now=F.lit(ts(9)).cast("timestamp"))
    return recs


@pytest.mark.slow
def test_readiness(spark):
    complete = _records(spark)
    assert readiness_filter(complete).count() == 1
    incomplete = _records(spark, with_orcid=False)
    assert readiness_filter(incomplete).count() == 0
    # force mode needs only bib_data (P2 force branch)
    assert readiness_filter(incomplete, force=True).count() == 1


@pytest.mark.slow
def test_incremental_and_failed_filters(spark):
    recs = _records(spark)
    assert incremental_filter(recs, ts(5)).count() == 1
    assert incremental_filter(recs, ts(20)).count() == 0
    # processed > updated -> skipped
    done = recs.withColumn("processed", F.lit(ts(30)).cast("timestamp"))
    assert incremental_filter(done, ts(5)).count() == 0
    failed = recs.withColumn("status", F.lit("solr-failed"))
    assert failed_filter(failed).count() == 1
    assert failed_filter(recs).count() == 0


@pytest.mark.slow
def test_dispatch_checksum_idempotence(spark):
    recs = _records(spark).cache()
    batches = reindex(recs)
    solr1 = batches["solr"].cache()
    met1 = batches["metrics"].cache()
    links1 = batches["links"].cache()
    assert solr1.count() == 1
    assert met1.count() == 1
    assert links1.count() == 1

    # writeback: record checksums as processed
    recs2 = mark_processed(recs, solr1.select("bibcode", "checksum"), "solr",
                           now=F.lit(ts(10)).cast("timestamp"))
    recs2 = mark_processed(recs2, met1.select("bibcode", "checksum"),
                           "metrics", now=F.lit(ts(10)).cast("timestamp"))
    recs2 = mark_processed(recs2, links1.select("bibcode", "checksum"),
                           "datalinks", now=F.lit(ts(10)).cast("timestamp"))
    recs2 = recs2.cache()
    row = recs2.collect()[0]
    assert row["status"] == "success"
    assert row["solr_processed"] == ts(10)
    assert row["solr_checksum"].startswith("0x")

    # second dispatch: nothing changed -> zero rows everywhere
    again = reindex(recs2)
    assert again["solr"].count() == 0
    assert again["metrics"].count() == 0
    assert again["links"].count() == 0
    # unless checksums are ignored (force reindex variant)
    assert reindex(recs2, ignore_checksums=True)["solr"].count() == 1


def test_links_nonbib_preferred_and_bib_fallback(spark):
    with_nb = links_batch(_records(spark))
    rows = json.loads(with_nb.collect()[0]["data_links_rows"])
    assert rows[0]["url"] == ["http://y"]

    bib_only = links_batch(_records(spark, with_nonbib=False))
    rows = json.loads(bib_only.collect()[0]["data_links_rows"])
    assert [r["link_sub_type"] for r in rows] == ["EPRINT_HTML", "EPRINT_PDF"]
    assert rows[1]["url"] == ["http://x/pdf/1"]  # /abs/ -> /pdf/ (F13)


def test_metrics_batch_payload(spark):
    b = metrics_batch(_records(spark)).collect()[0]
    assert json.loads(b["metrics"])["citations"] == ["C"]
    assert b["checksum"].startswith("0x")


def test_solr_batch_has_identifier(spark):
    doc = solr_batch(_records(spark)).collect()[0]
    assert "B1" in doc["identifier"]


def test_dispatch_plan_py4j_budget(spark, monkeypatch):
    """Building the dispatch plan stays within a py4j round-trip
    budget: ``get_spark`` turns off PySpark's per-call DataFrame
    origin capture, which costs a dozen or so round trips on every
    Column and function call (about 15,000 for this plan with it on,
    about 5,000 with it off)."""
    from py4j.clientserver import ClientServerConnection

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    recs = _records(spark).localCheckpoint()
    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, *a, **k):
        calls[0] += 1
        return send(self, *a, **k)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    batches = reindex(recs)
    monkeypatch.undo()
    assert set(batches) >= {"solr", "metrics", "links"}
    assert calls[0] <= 8000, calls[0]
