"""Unit tests for the keyed merge core (M1-M8) — upsert,
last-writer-wins, delete, changelog, scix_id, watermark KV."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from adsmasterpipeline_spark.schemas import EVENT_SCHEMA
from adsmasterpipeline_spark.storage import (
    KeyValueStore, delete_obsolete_records, empty_records, fold_events,
    merge_updates,
)


def ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def ev(bibcode, typ, payload, day, hour=0, status="active"):
    return (bibcode, typ, status,
            json.dumps(payload) if payload is not None else None, ts(day, hour))


@pytest.fixture()
def events_df(spark):
    rows = [
        ev("B1", "bib_data", {"bibcode": "B1", "title": ["t1"]}, 1),
        ev("B1", "bib_data", {"bibcode": "B1", "title": ["t2"]}, 2),  # newer wins
        ev("B1", "metrics", {"citations": ["X"]}, 3),
        ev("B2", "bib_data", {"bibcode": "B2"}, 1),
        ev("B3", "bib_data", {"bibcode": "B3"}, 1),
        ev("B3", None, None, 2, status="deleted"),
    ]
    rows[5] = ("B3", "bib_data", "deleted", None, ts(2))
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def test_fold_last_writer_wins(spark, events_df):
    folded = {r["bibcode"]: r for r in fold_events(events_df).collect()}
    assert json.loads(folded["B1"]["new_bib_data"])["title"] == ["t2"]
    assert folded["B1"]["new_bib_data_updated"] == ts(2)
    assert json.loads(folded["B1"]["new_metrics"])["citations"] == ["X"]
    assert folded["B1"]["is_delete"] is False
    assert folded["B3"]["is_delete"] is True


@pytest.mark.slow
def test_merge_insert_update_delete(spark, events_df):
    recs, log = merge_updates(empty_records(spark), events_df,
                              now=F.lit(ts(10)).cast("timestamp"))
    rows = {r["bibcode"]: r for r in recs.collect()}
    # B3 was deleted by its newest event -> not present
    assert set(rows) == {"B1", "B2"}
    assert json.loads(rows["B1"]["bib_data"])["title"] == ["t2"]
    assert rows["B1"]["bib_data_updated"] == ts(2)
    assert rows["B1"]["metrics_updated"] == ts(3)
    # ids deterministic & contiguous in bibcode order
    assert [rows[b]["id"] for b in sorted(rows)] == [1, 2]
    # scix_id generated from bib_data, stable format
    assert rows["B1"]["scix_id"].startswith("scix:")
    assert len(rows["B1"]["scix_id"]) == len("scix:XXXX-XXXX-XXXX")

    # second batch: update B1 keeps id/scix_id, bumps only changed cols
    ev2 = spark.createDataFrame(
        [("B1", "fulltext", "active", json.dumps({"body": "text"}), ts(5))],
        EVENT_SCHEMA)
    recs2, _ = merge_updates(recs, ev2, now=F.lit(ts(11)).cast("timestamp"))
    r1 = recs2.where("bibcode = 'B1'").collect()[0]
    assert r1["id"] == rows["B1"]["id"]
    assert r1["scix_id"] == rows["B1"]["scix_id"]
    assert json.loads(r1["fulltext"])["body"] == "text"
    assert r1["bib_data_updated"] == ts(2)  # untouched
    assert r1["updated"] == ts(11)

    # changelog captured pre-images for the updated columns
    entries = log.collect()
    assert all(e["created"] == ts(10) for e in entries)
    b1_types = {e["type"] for e in entries if e["key"] == "B1"}
    assert {"bib_data", "metrics"} <= b1_types
    assert any(e["type"] == "deleted" for e in entries if e["key"] == "B3")


def test_delete_then_newer_update_wipes(spark):
    """[update q@t1, delete@t2, update p@t3] must behave like the
    reference's serial replay: the delete wipes q and every pre-delete
    record column; the surviving row carries ONLY p (ADVICE round 1)."""
    now = F.lit(ts(10)).cast("timestamp")
    batch1 = spark.createDataFrame([
        ev("B1", "bib_data", {"bibcode": "B1", "title": ["old"]}, 1),
        ev("B1", "metrics", {"citations": ["C"]}, 1),
    ], EVENT_SCHEMA)
    recs, _ = merge_updates(empty_records(spark), batch1, now=now)
    recs = recs.cache()
    old_scix = recs.collect()[0]["scix_id"]

    batch2 = spark.createDataFrame([
        ev("B1", "fulltext", "q-body", 2),          # pre-delete -> wiped
        ("B1", "bib_data", "deleted", None, ts(3)),  # delete@t3
        ev("B1", "bib_data", {"bibcode": "B1", "title": ["new"]}, 4),
    ], EVENT_SCHEMA)
    folded = fold_events(batch2).collect()[0]
    assert folded["is_delete"] is False
    assert folded["last_delete_ts"] == ts(3)
    assert folded["new_fulltext"] is None            # superseded by delete
    assert json.loads(folded["new_bib_data"])["title"] == ["new"]

    recs2, log = merge_updates(recs, batch2, now=now)
    r = recs2.collect()
    assert len(r) == 1
    row = r[0]
    # fresh-record contents: only the post-delete payload survives
    assert json.loads(row["bib_data"])["title"] == ["new"]
    assert row["metrics"] is None                    # pre-delete record col
    assert row["fulltext"] is None                   # pre-delete batch winner
    assert row["metrics_updated"] is None
    assert row["bib_data_updated"] == ts(4)
    # scix_id regenerated from the new bib_data, not the wiped one
    assert row["scix_id"] != old_scix
    assert row["scix_id"].startswith("scix:")
    # the wipe is logged even though the bibcode survives the batch
    assert any(e["type"] == "deleted" for e in log.collect())


def test_delete_tie_loses_same_ts_update(spark):
    """An update with event_ts == the delete's ts is superseded
    (deterministic delete-wins tiebreak)."""
    batch = spark.createDataFrame([
        ev("B1", "bib_data", {"bibcode": "B1"}, 2),
        ("B1", "bib_data", "deleted", None, ts(2)),
    ], EVENT_SCHEMA)
    folded = fold_events(batch).collect()[0]
    assert folded["is_delete"] is True
    assert folded["new_bib_data"] is None


@pytest.mark.slow
def test_merge_scalable_insert_ids_match_window(spark, events_df):
    """Bootstrap-sized batches route insert ids through
    assign_sequential; numbering must be bit-identical to the window
    path and the merged plan must have no single-partition exchange."""
    now = F.lit(ts(10)).cast("timestamp")
    small, _ = merge_updates(empty_records(spark), events_df, now=now)
    big, _ = merge_updates(empty_records(spark), events_df, now=now,
                           scalable_insert_threshold=0)
    assert sorted(tuple(r) for r in small.collect()) \
        == sorted(tuple(r) for r in big.collect())

    from adsmasterpipeline_spark.plans.explain import single_partition_exchanges
    assert single_partition_exchanges(big) == 0


def test_merge_idempotent_replay(spark, events_df):
    """Replaying the same batch must not change the table (idempotent
    MERGE, §2.10 exactly-once-effect)."""
    now = F.lit(ts(10)).cast("timestamp")
    recs, _ = merge_updates(empty_records(spark), events_df, now=now)
    recs = recs.cache()
    recs2, _ = merge_updates(recs, events_df, now=now)
    a = sorted([tuple(r) for r in recs.collect()])
    b = sorted([tuple(r) for r in recs2.collect()])
    assert a == b


def test_delete_obsolete(spark, events_df):
    recs, _ = merge_updates(empty_records(spark), events_df,
                            now=F.lit(ts(10)).cast("timestamp"))
    # no bib-less rows here -> no-op
    assert delete_obsolete_records(recs, ts(20)).count() == recs.count()
    stripped = recs.withColumn("bib_data", F.lit(None).cast("string"))
    assert delete_obsolete_records(stripped, ts(5)).count() == recs.count()
    assert delete_obsolete_records(stripped, ts(20)).count() == 0


def test_scix_id_flag_modes(spark, events_df):
    """update/force/reset semantics of task_update_scixid
    (adsmp/tasks.py:210-275)."""
    from adsmasterpipeline_spark.storage import update_scix_ids
    now = F.lit(ts(10)).cast("timestamp")
    recs, _ = merge_updates(empty_records(spark), events_df, now=now)
    recs = recs.cache()
    orig = {r["bibcode"]: r["scix_id"] for r in recs.collect()}
    assert all(v for v in orig.values())  # merge assigned ids

    # reset: ids go to null (scoped to a bibcode list)
    reset_b1 = update_scix_ids(recs, "reset", ["B1"]).cache()
    got = {r["bibcode"]: r["scix_id"] for r in reset_b1.collect()}
    assert got["B1"] is None and got["B2"] == orig["B2"]

    # update: only missing ids are (re)generated — same bib_data ->
    # same id; existing ids untouched
    upd = {r["bibcode"]: r["scix_id"]
           for r in update_scix_ids(reset_b1, "update").collect()}
    assert upd["B1"] == orig["B1"]
    assert upd["B2"] == orig["B2"]

    # update after bib_data changed -> regenerated id differs
    mutated = reset_b1.withColumn(
        "bib_data",
        F.when(F.col("bibcode") == "B1",
               F.lit(json.dumps({"bibcode": "B1", "title": ["other"]})))
        .otherwise(F.col("bib_data")))
    upd2 = {r["bibcode"]: r["scix_id"]
            for r in update_scix_ids(mutated, "update").collect()}
    assert upd2["B1"] is not None and upd2["B1"] != orig["B1"]

    # force: regenerates even when an id exists; no bib_data -> null
    stripped = recs.withColumn(
        "bib_data", F.when(F.col("bibcode") == "B2", None)
        .otherwise(F.col("bib_data")))
    forced = {r["bibcode"]: r["scix_id"]
              for r in update_scix_ids(stripped, "force").collect()}
    assert forced["B1"] == orig["B1"]  # same fields -> same sha2
    assert forced["B2"] is None

    import pytest as _pytest
    with _pytest.raises(ValueError):
        update_scix_ids(recs, "bogus")


@pytest.mark.slow
def test_kv_watermark(spark, tmp_path):
    kv = KeyValueStore(spark, str(tmp_path / "kv"))
    assert kv.get("last.reindex.normal") is None
    kv.put("last.reindex.normal", "2024-01-01T00:00:00")
    kv.put("last.reindex.forced", "2024-02-01T00:00:00")
    assert kv.get("last.reindex.normal") == "2024-01-01T00:00:00"
    kv.put("last.reindex.normal", "2024-03-01T00:00:00")
    assert kv.get("last.reindex.normal") == "2024-03-01T00:00:00"
    assert kv.get("last.reindex.forced") == "2024-02-01T00:00:00"


def test_kv_failed_put_keeps_earlier_keys(spark, tmp_path, monkeypatch):
    """A put that fails during its write must not lose the watermarks
    already stored: the old value stays readable. Every write
    primitive a store could use fails: a Spark write job (the frame it
    writes fails in its task) and an atomic file swap
    (``os.replace``)."""
    import os

    kv = KeyValueStore(spark, str(tmp_path / "kv"))
    kv.put("last.reindex.normal", "2024-01-01T00:00:00")
    kv.put("last.outbox.boost.version", "3")

    def boom(*_a, **_k):
        raise OSError("injected write failure")

    failing = spark.range(1).select(
        F.expr("raise_error('injected write failure')")
        .cast("string").alias("key"), F.lit("x").alias("value"))
    monkeypatch.setattr(os, "replace", boom)
    monkeypatch.setattr(spark, "createDataFrame",
                        lambda *_a, **_k: failing)
    try:
        with pytest.raises(Exception):
            kv.put("last.reindex.normal", "2024-02-01T00:00:00")
    finally:
        monkeypatch.undo()
    assert kv.get("last.reindex.normal") == "2024-01-01T00:00:00"
    assert kv.get("last.outbox.boost.version") == "3"


def test_kv_corrupt_store_raises(spark, tmp_path):
    """An unreadable store raises instead of reading as empty (a
    missing watermark would silently rescan or replay)."""
    import os
    path = tmp_path / "kv"
    kv = KeyValueStore(spark, str(path))
    assert kv.get("k") is None                 # missing store: empty
    kv.put("k", "v")
    files = [os.path.join(r, n) for r, _, ns in os.walk(path) for n in ns] \
        if path.is_dir() else [str(path)]
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"\x00not a store\x00")
    with pytest.raises(Exception):
        kv.get("k")
