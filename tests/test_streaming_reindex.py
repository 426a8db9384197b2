"""Streaming reindex end-to-end: dispatch + checksum suppression +
mark_processed through readStream/foreachBatch with
Trigger.AvailableNow — proving streaming output equals the batch
``reindex`` pipeline and that redelivery produces zero sink rows
(checksum idempotence ACROSS micro-batches).

Reference analogue: the cron-driven incremental loop
(/root/reference/run.py:103-232) + checksum suppression
(/root/reference/adsmp/tasks.py:396-421).
"""

from __future__ import annotations

import pytest
import datetime as dt
import json

from pyspark.sql import functions as F


def _event(bibcode, typ, payload, ts):
    return {"bibcode": bibcode, "type": typ, "status": "active",
            "payload": json.dumps(payload), "event_ts": ts}


def _events_batch1():
    return [
        _event("S1", "bib_data", {"bibcode": "S1", "title": ["one"]},
               "2024-01-01T00:00:00.000Z"),
        _event("S1", "nonbib_data", {"boost": 0.5},
               "2024-01-01T00:00:01.000Z"),
        _event("S1", "orcid_claims", {"verified": []},
               "2024-01-01T00:00:02.000Z"),
        _event("S2", "bib_data", {"bibcode": "S2", "title": ["two"]},
               "2024-01-01T00:00:03.000Z"),
        _event("S2", "metrics", {"citation_num": 3},
               "2024-01-01T00:00:04.000Z"),
    ]


def _events_batch2():
    return [
        # real change for S2
        _event("S2", "bib_data", {"bibcode": "S2", "title": ["two v2"]},
               "2024-01-02T00:00:00.000Z"),
    ]


def _run_streaming(spark, tmp_path, name, batches):
    from adsmasterpipeline_spark.streaming.ingest import StreamingReindex

    base = tmp_path / name
    events_dir = base / "events"
    events_dir.mkdir(parents=True)
    now = F.lit(dt.datetime(2024, 3, 1)).cast("timestamp")
    sr = StreamingReindex(spark, str(events_dir), str(base / "records"),
                          str(base / "ckpt"), str(base / "sinks"),
                          force=True, now=now)
    for i, batch in enumerate(batches):
        (events_dir / f"b{i}.json").write_text(
            "\n".join(json.dumps(e) for e in batch))
        sr.run_available_now()
    return base


def _solr_rows(spark, path):
    df = spark.read.json(str(path))
    return {(r["bibcode"], r["doc"]) for r in
            df.select("bibcode", "doc").collect()}


@pytest.mark.slow
def test_streaming_reindex_equals_batch_and_idempotent(spark, tmp_path):
    """Two AvailableNow runs == one batch reindex over the same
    events; a third run redelivering identical content emits ZERO
    sink rows."""
    from adsmasterpipeline_spark.dispatch import reindex
    from adsmasterpipeline_spark.schemas import EVENT_SCHEMA
    from adsmasterpipeline_spark.storage import empty_records, merge_updates
    from adsmasterpipeline_spark.transform import solr_docs_json

    b1, b2 = _events_batch1(), _events_batch2()
    base = _run_streaming(spark, tmp_path, "s", [b1, b2])

    # batch twin: one merge of ALL events, one dispatch
    now = F.lit(dt.datetime(2024, 3, 1)).cast("timestamp")
    ev = spark.createDataFrame(
        [(e["bibcode"], e["type"], e["status"], e["payload"],
          dt.datetime.fromisoformat(e["event_ts"].replace("Z", "+00:00"))
          .replace(tzinfo=None))
         for e in b1 + b2], EVENT_SCHEMA)
    recs, _ = merge_updates(empty_records(spark), ev, now=now)
    batch_solr = reindex(recs.localCheckpoint(), force=True)["solr"]
    mtime = [c for c in batch_solr.columns
             if c.endswith("_mtime") or c == "update_timestamp"]
    want = {(r["bibcode"], r["doc"]) for r in
            solr_docs_json(batch_solr.drop("checksum", *mtime)).collect()}

    def _strip_scix(doc_set):
        # scix_id is STICKY: streaming assigned S2's at epoch 0 and
        # correctly kept it when epoch 1 updated the record, while the
        # one-shot batch twin assigns from the final state — so the
        # ids legitimately differ. Compare everything else; stickiness
        # itself is asserted below.
        out = set()
        for b, doc in doc_set:
            d = json.loads(doc)
            d.pop("scix_id", None)
            out.add((b, json.dumps(d, sort_keys=True)))
        return out

    got = _solr_rows(spark, base / "sinks" / "solr")
    # streaming appended S2's doc twice (v1 then v2) — the FINAL doc
    # per key must match the batch run; earlier epochs are superseded
    final = {}
    sdf = spark.read.json(str(base / "sinks" / "solr"))
    for r in sdf.orderBy("_epoch").collect():
        final[r["bibcode"]] = r["doc"]
    assert _strip_scix(set(final.items())) == _strip_scix(want)
    # scix_id stickiness across epochs: S2 indexed twice, same id both
    scix_by_epoch = [json.loads(r["doc"]).get("scix_id")
                     for r in sdf.where("bibcode = 'S2'")
                     .orderBy("_epoch").collect()]
    assert len(scix_by_epoch) == 2
    assert scix_by_epoch[0] == scix_by_epoch[1]
    # and the batch-run doc set is a subset of everything streamed
    assert {b for b, _ in want} <= {b for b, _ in got}

    # records table carries the writeback state
    from adsmasterpipeline_spark.sinks.txnlake import txn_table
    recs_stream = txn_table(spark, str(base / "records")).read()
    assert {r["bibcode"] for r in
            recs_stream.where("solr_checksum is not null")
            .collect()} == {"S1", "S2"}

    # --- redelivery: same content, new file -> zero new sink rows
    sinks_before = spark.read.json(
        str(base / "sinks" / "solr")).count()
    events_dir = base / "events"
    (events_dir / "redelivered.json").write_text(
        "\n".join(json.dumps(e) for e in b1 + b2))
    from adsmasterpipeline_spark.streaming.ingest import StreamingReindex
    sr = StreamingReindex(spark, str(events_dir), str(base / "records"),
                          str(base / "ckpt"), str(base / "sinks"),
                          force=True, now=now)
    sr.run_available_now()
    assert spark.read.json(
        str(base / "sinks" / "solr")).count() == sinks_before
    # metrics + links sinks also silent on replay
    mdir = base / "sinks" / "metrics"
    assert spark.read.parquet(str(mdir)) \
        .groupBy("bibcode").count().where("count > 1").count() == 0
