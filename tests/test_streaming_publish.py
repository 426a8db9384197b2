"""Streaming ingestion into the records TxnTable: an INSERT epoch
must not scan the table for max(id) — id numbering folds from the
per-file stats (O(batch) epochs even on insert-heavy streams) — plus
log-listing bounds and clean commit failures mid-stream.

Reference analogue: Postgres autoincrement PK
(adsmp/models.py:49).
"""

from __future__ import annotations

import json
import os
import time

import pytest


def _event(bibcode, i):
    return {"bibcode": bibcode, "type": "bib_data", "status": "active",
            "payload": json.dumps({"bibcode": bibcode,
                                   "title": [f"t{i}"]}),
            "event_ts": f"2024-01-01T00:00:{i % 60:02d}.000Z"}


def _write_events(events_dir, name, rows):
    with open(os.path.join(events_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _make_ingest(spark, tmp_path):
    from adsmasterpipeline_spark.streaming.ingest import StreamingIngest
    base = tmp_path / "txn"
    events_dir = base / "events"
    events_dir.mkdir(parents=True)
    ing = StreamingIngest(
        spark, str(events_dir), str(base / "records"),
        str(base / "ckpt"),
        txn_opts={"cluster_writes": True, "rows_per_file": 4})
    return ing, str(events_dir)


@pytest.mark.slow
def test_txn_insert_epoch_never_scans_table(spark, tmp_path):
    """VERDICT r6 #1 done-criterion (unit side): with id stats
    present, an epoch that inserts brand-new keys completes with
    TxnTable.read POISONED — the only way to number the inserts is
    the driver-side stat fold. Ids continue from the true table max
    with no collisions."""
    from adsmasterpipeline_spark.sinks.txnlake import TxnTable

    ing, events_dir = _make_ingest(spark, tmp_path)
    _write_events(events_dir, "boot.json",
                  [_event(f"B{i:03d}", i) for i in range(8)])
    ing.run_available_now()
    t = ing._txn()
    ids0 = {r["bibcode"]: r["id"] for r in
            t.read().select("bibcode", "id").collect()}
    assert set(ids0.values()) == set(range(1, 9))

    _write_events(events_dir, "ins.json",
                  [_event(f"N{i}", i) for i in range(3)]
                  + [_event("B001", 99)])          # mixed insert+update
    orig_read = TxnTable.read
    TxnTable.read = lambda self, *a, **k: (_ for _ in ()).throw(
        AssertionError("insert epoch scanned the table for max(id)"))
    try:
        ing.run_available_now()
    finally:
        TxnTable.read = orig_read

    rows = {r["bibcode"]: r["id"] for r in
            t.read().select("bibcode", "id").collect()}
    assert len(rows) == 11
    assert len(set(rows.values())) == 11, "id collision"
    assert {rows[f"N{i}"] for i in range(3)} == {9, 10, 11}
    assert rows["B001"] == ids0["B001"]            # update kept its id


@pytest.mark.slow
def test_txn_stream_auto_cleanup_bounds_log_listing(spark, tmp_path):
    """Long-running stream with auto-compact + auto-cleanup: the
    _txn/ entry-file count stays bounded by the checkpoint tail
    instead of growing one file per epoch, while state, replay
    detection and reads stay correct."""
    from adsmasterpipeline_spark.streaming.ingest import StreamingIngest

    base = tmp_path / "acl"
    events_dir = base / "events"
    events_dir.mkdir(parents=True)
    ing = StreamingIngest(
        spark, str(events_dir), str(base / "records"),
        str(base / "ckpt"), fmt="txn",
        txn_opts={"cluster_writes": True, "rows_per_file": 64,
                  "checkpoint_every": 3, "auto_compact_every": 3,
                  "auto_cleanup_log": True})
    for e in range(10):
        _write_events(str(events_dir), f"e{e}.json",
                      [_event(f"B{e:02d}{i}", i) for i in range(4)])
        ing.run_available_now()
    t = ing._txn()
    assert t.read().count() == 40
    log = os.path.join(str(base / "records"), "_txn")
    entries = [n for n in os.listdir(log)
               if n.endswith(".json") and not n.startswith("checkpoint")]
    # 10 epochs + compacts committed ~13 versions; the cleaned log
    # keeps only the post-checkpoint tail
    assert len(entries) <= 6, sorted(entries)
    assert t.version() >= 10


@pytest.mark.slow
def test_txn_stream_commit_failure_epoch_fails_clean_then_retries(
        spark, tmp_path, monkeypatch):
    """Streaming ingest routes through TxnTable.merge, so a failed
    commit fails the epoch MID-STREAM. The failure must be clean — the
    table version and live rows are untouched, and the files the
    failed attempt staged are unreferenced orphans that vacuum
    collects — and a retry of the SAME epoch (same offsets, same app
    txn id) commits exactly once."""
    from adsmasterpipeline_spark.sinks.txnlake import TxnTable

    ing, events_dir = _make_ingest(spark, tmp_path)
    _write_events(events_dir, "boot.json",
                  [_event(f"G{i}", i) for i in range(4)])
    ing.run_available_now()                                      # v0
    t = ing._txn()
    data_root = os.path.join(ing.records_path, "data")
    dirs0 = set(os.listdir(data_root))

    orig_commit = TxnTable._commit
    fired = []

    def commit_fails_once(self, *a, **k):
        if not fired:
            fired.append(1)
            raise RuntimeError("injected commit failure")
        return orig_commit(self, *a, **k)

    monkeypatch.setattr(TxnTable, "_commit", commit_fails_once)
    _write_events(events_dir, "next.json",
                  [_event("OK1", 9), _event("G9", 9)])
    with pytest.raises(Exception, match="injected commit failure"):
        ing.run_available_now()

    # clean failure: no commit landed, the live rows are unchanged
    assert t.version() == 0
    assert {r["bibcode"] for r in t.read().collect()} == \
        {f"G{i}" for i in range(4)}
    staged = set(os.listdir(data_root)) - dirs0
    assert staged

    # the replayed epoch re-reads the same source path with the same
    # epoch id, so the retry carries the SAME app txn id and commits
    # exactly once
    ing.run_available_now()
    assert t.version() == 1
    rows = {r["bibcode"] for r in t.read().collect()}
    assert rows == {f"G{i}" for i in range(4)} | {"OK1", "G9"}

    # nothing replays on a further tick (txn-id idempotence intact)
    ing.run_available_now()
    assert t.version() == 1

    # the failed attempt's staged dir is referenced by no commit:
    # vacuum collects its files, and the emptied dir on the next pass
    live = set(t.live_files())
    assert not any(p.split("/")[1] in staged for p in live)
    deleted = t.vacuum(min_age_seconds=0)
    assert {p.split("/")[1] for p in deleted} >= staged
    time.sleep(1.0)                # the emptied dir ages past cutoff
    t.vacuum(min_age_seconds=0)
    assert not staged & set(os.listdir(data_root))
    assert t.read().count() == 6
