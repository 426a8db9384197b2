"""TxnTable: the REAL executed MERGE path — file-granular
copy-on-write, tombstones, idempotent replay, time travel, and
commit atomicity. These tests run actual merges against actual
committed files (no stubbed table object anywhere), closing the
round-3/4 gap where MERGE semantics only ever ran against a stub.

Reference analogue: the per-row transactional upsert at
/root/reference/adsmp/app.py:45-77, recast set-at-a-time.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json as _json
import os
import traceback

import pytest
from pyspark.sql import functions as F

from adsmasterpipeline_spark.sinks.txnlake import txn_table


def _recs(spark, rows):
    return spark.createDataFrame(rows, "bibcode string, v long")


def _file_hashes(path):
    out = {}
    for root, _dirs, files in os.walk(os.path.join(path, "data")):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(root, name)
                out[os.path.relpath(p, path)] = hashlib.sha256(
                    open(p, "rb").read()).hexdigest()
    return out


def _full_fold(spark, batch_files):
    """The reference state for a streamed event sequence: each batch
    file folded into the WHOLE in-memory table by
    ``storage.merge_updates``, in arrival order."""
    from adsmasterpipeline_spark.schemas import EVENT_SCHEMA
    from adsmasterpipeline_spark.storage import empty_records, merge_updates

    recs = empty_records(spark)
    for f in batch_files:
        recs, _ = merge_updates(
            recs, spark.read.schema(EVENT_SCHEMA).json(str(f)))
        recs = recs.localCheckpoint()
    return recs


@pytest.mark.slow
def test_txn_merge_matches_full_rewrite(spark, tmp_path):
    """Incremental MERGE result == recomputing the whole table:
    upserts land, survivors persist, tombstones delete — fed the
    touched rows and delete keys merge_updates produces."""
    from adsmasterpipeline_spark.schemas import EVENT_SCHEMA
    from adsmasterpipeline_spark.storage import empty_records, merge_updates

    now = F.lit(dt.datetime(2024, 1, 10)).cast("timestamp")
    ev1 = spark.createDataFrame([
        ("B1", "bib_data", "active", _json.dumps({"bibcode": "B1"}),
         dt.datetime(2024, 1, 1)),
        ("B2", "bib_data", "active", _json.dumps({"bibcode": "B2"}),
         dt.datetime(2024, 1, 1)),
    ], EVENT_SCHEMA)
    recs1, _ = merge_updates(empty_records(spark), ev1, now=now)
    t = txn_table(spark, str(tmp_path / "records"))
    t.overwrite(recs1.localCheckpoint())

    ev2 = spark.createDataFrame([
        ("B2", "metrics", "active", _json.dumps({"citations": ["x"]}),
         dt.datetime(2024, 1, 2)),
        ("B3", "bib_data", "active", _json.dumps({"bibcode": "B3"}),
         dt.datetime(2024, 1, 2)),
        ("B1", "bib_data", "deleted", None, dt.datetime(2024, 1, 2)),
    ], EVENT_SCHEMA)
    stored = t.read()
    recs2, _ = merge_updates(stored, ev2, now=now)
    recs2 = recs2.localCheckpoint()
    touched = recs2.join(ev2.select("bibcode").distinct(), "bibcode",
                         "left_semi").localCheckpoint()
    deleted = ev2.where("status = 'deleted'").select("bibcode").distinct()
    t.merge(touched, deleted)

    got = sorted(tuple(r) for r in t.read().collect())
    want = sorted(tuple(r) for r in recs2.collect())
    assert got == want
    assert {r[0] for r in got} == {"B2", "B3"}


def test_txn_merge_rewrites_only_touched_files(spark, tmp_path):
    """The 100-TB property: a merge touching one key rewrites ONLY the
    file(s) containing it — every other data file stays byte-identical
    AND stays referenced (re-listed, not re-written)."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, key="bibcode")
    # two partitions by key -> B-keys and C-keys land in separate files
    base = _recs(spark, [("B1", 1), ("B2", 2), ("C1", 3), ("C2", 4)])
    t.overwrite(base.repartition(2, "bibcode"))
    before = _file_hashes(path)
    live0 = set(t.live_files())
    assert len(live0) >= 2, "need >=2 data files for the property"

    t.merge(_recs(spark, [("B1", 99), ("D1", 5)]))
    after = _file_hashes(path)
    live1 = set(t.live_files())

    # every surviving original file is byte-identical
    for f in live0 & live1:
        assert before[f] == after[f]
    # at least one original file survived (the one without B1), and
    # at least one was replaced (the one with B1)
    assert live0 & live1, "untouched file must stay referenced"
    assert live0 - live1, "touched file must be de-referenced"
    rows = {r["bibcode"]: r["v"] for r in t.read().collect()}
    assert rows == {"B1": 99, "B2": 2, "C1": 3, "C2": 4, "D1": 5}


def test_txn_tombstones_and_replay_order(spark, tmp_path):
    """whenMatchedDelete semantics: deleted keys disappear; a LATER
    upsert of a deleted key re-inserts it (delete-then-newer-update
    replay, the storage.py M3 scenario at the sink layer)."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    t.overwrite(_recs(spark, [("B1", 1), ("B2", 2)]))
    # delete B1; also exercise changed+deleted same batch: the delete
    # wins over the update in one merge (upserts exclude deleted keys)
    t.merge(_recs(spark, [("B1", 7)]),
            deleted_keys=spark.createDataFrame([("B1",), ("B1",)],
                                               "bibcode string"))
    assert {r["bibcode"] for r in t.read().collect()} == {"B2"}
    # newer update re-inserts
    t.merge(_recs(spark, [("B1", 9)]))
    rows = {r["bibcode"]: r["v"] for r in t.read().collect()}
    assert rows == {"B1": 9, "B2": 2}


def test_txn_idempotent_app_txn(spark, tmp_path):
    """Replaying a merge with the same app_txn_id is a no-op: same
    version, identical live-file set, zero bytes changed — the
    sink-failure replay contract (Delta's txn action)."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    t.overwrite(_recs(spark, [("B1", 1)]))
    v1 = t.merge(_recs(spark, [("B2", 2)]), app_txn_id="batch-42")
    live = t.live_files()
    hashes = _file_hashes(path)
    v2 = t.merge(_recs(spark, [("B2", 2)]), app_txn_id="batch-42")
    assert v2 == v1
    assert t.live_files() == live
    assert _file_hashes(path) == hashes
    assert t.read().count() == 2


def test_txn_time_travel_and_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    assert t.version() == -1
    t.overwrite(_recs(spark, [("B1", 1)]))
    t.merge(_recs(spark, [("B1", 2), ("B2", 2)]))
    assert t.version() == 1
    assert {(r["bibcode"], r["v"]) for r in
            t.read(as_of=0).collect()} == {("B1", 1)}
    assert {(r["bibcode"], r["v"]) for r in
            t.read().collect()} == {("B1", 2), ("B2", 2)}


def test_txn_concurrent_commit_conflict(spark, tmp_path):
    """Two writers racing for one version: exactly one wins; the loser
    gets a retryable error and the table is NOT torn (winner's commit
    fully visible)."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    t.overwrite(_recs(spark, [("B1", 1)]))
    # simulate the race: another writer takes version 1 first
    winner = txn_table(spark, path)
    winner.merge(_recs(spark, [("B2", 2)]))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t._commit(1, ["data/x.parquet"], [], "merge", None)
    assert {r["bibcode"] for r in t.read().collect()} == {"B1", "B2"}
    # no stray temp files left behind
    assert not [n for n in os.listdir(os.path.join(path, "_txn"))
                if n.startswith(".tmp")]


@pytest.mark.slow
def test_streaming_ingest_on_txn_table(spark, tmp_path):
    """Streaming ingestion publishing through the TxnTable: state
    equals the full-table merge_updates fold of the same batches,
    versions advance per micro-batch, and a REPLAYED epoch (foreachBatch's at-least-once contract after
    a crash-restart) is a no-op — the epoch's app txn id is already
    in the log, so file set and bytes are unchanged. End-to-end
    exactly-once state without delta-spark."""
    import json

    from adsmasterpipeline_spark.streaming.ingest import StreamingIngest

    events_dir = tmp_path / "t" / "events"
    events_dir.mkdir(parents=True)
    b1 = [{"bibcode": "S1", "type": "bib_data", "status": "active",
           "payload": json.dumps({"bibcode": "S1", "title": ["one"]}),
           "event_ts": "2024-01-01T00:00:00.000Z"},
          {"bibcode": "S2", "type": "bib_data", "status": "active",
           "payload": json.dumps({"bibcode": "S2"}),
           "event_ts": "2024-01-01T00:00:01.000Z"}]
    b2 = [{"bibcode": "S1", "type": "fulltext", "status": "active",
           "payload": json.dumps({"body": "B"}),
           "event_ts": "2024-01-02T00:00:00.000Z"}]
    ing_t = StreamingIngest(spark, str(events_dir),
                            str(tmp_path / "t" / "records"),
                            str(tmp_path / "t" / "ckpt"))
    (events_dir / "b1.json").write_text(
        "\n".join(json.dumps(e) for e in b1))
    ing_t.run_available_now()
    (events_dir / "b2.json").write_text(json.dumps(b2[0]))
    ing_t.run_available_now()

    t = ing_t._txn()
    assert t.version() == 1          # one commit per micro-batch
    drop = {"created", "updated", "processed"}  # wall-clock stamps
    cols = [c for c in t.read().columns if c not in drop]

    def state(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    want = _full_fold(spark, [events_dir / "b1.json",
                              events_dir / "b2.json"])
    assert state(t.read()) == state(want)

    # crash-replay: re-apply epoch 1's batch with the same epoch id —
    # the txn log already has ckpt#epoch-1, so nothing changes
    live_before = t.live_files()
    hashes_before = _file_hashes(str(tmp_path / "t" / "records"))
    from adsmasterpipeline_spark.schemas import EVENT_SCHEMA
    replay = spark.createDataFrame(
        [("S1", "fulltext", "active", '{"body": "B"}',
          dt.datetime(2024, 1, 2))], EVENT_SCHEMA)
    ing_t._apply_batch(replay, epoch_id=1)
    assert t.version() == 1
    assert t.live_files() == live_before
    assert _file_hashes(str(tmp_path / "t" / "records")) == hashes_before


@pytest.mark.slow
def test_txn_merge_into_empty_table_and_crash_orphans(spark, tmp_path):
    """Bootstrap-by-merge (no prior commit: every row inserts) and
    crash recovery: an orphan data directory from a crashed attempt
    (files written, commit never published) neither blocks the retry
    nor leaks into reads. Also: a path WITH A SPACE round-trips
    through input_file_name()'s percent-encoding."""
    path = str(tmp_path / "t t")          # space exercises URI decode
    t = txn_table(spark, path)
    assert t.merge(_recs(spark, [("B1", 1)])) == 0   # insert-only boot
    assert {r["bibcode"] for r in t.read().collect()} == {"B1"}

    # fake a crashed attempt: data dir exists, no log entry for it
    orphan = os.path.join(path, "data", "commit-00000001-deadbeef")
    os.makedirs(orphan)
    _recs(spark, [("ZZ", 99)]).write.mode("overwrite").parquet(orphan)

    v = t.merge(_recs(spark, [("B1", 2), ("B2", 2)]))
    assert v == 1
    rows = {r["bibcode"]: r["v"] for r in t.read().collect()}
    assert rows == {"B1": 2, "B2": 2}     # orphan ZZ never surfaces


def test_txn_merge_probe_skips_out_of_range_files(spark, tmp_path):
    """Round-6 file skipping (VERDICT r5 #1): per-file key min/max
    stats recorded at write time prune the merge probe DRIVER-SIDE —
    a narrow-key batch merged into a many-file table opens only the
    files whose key range can contain an affected key; out-of-range
    files are never opened (not even for the tagged probe scan).
    Reference analogue: the B-tree-indexed upsert at
    /root/reference/adsmp/app.py:45-77 — the stats ARE the
    file-skipping index."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    # range-partitioned write -> files are key-clustered
    base = _recs(spark, [(f"K{i:04d}", i) for i in range(400)])
    t.overwrite(base.repartitionByRange(8, "bibcode"))
    adds = t.live_adds()
    assert len(adds) >= 4, "need a many-file table"
    for s in adds.values():
        assert s and s["min_key"] is not None and s["rows"] > 0

    # batch touches two keys from ONE narrow range
    t.merge(_recs(spark, [("K0001", 999), ("K0002", 998)]))
    probe = t.last_merge_probe
    assert probe is not None
    # pruning must beat the full scan: candidates < live files, and
    # every file whose range excludes K0001/K0002 was skipped
    assert len(probe["candidate_files"]) < probe["live_files"]
    for p in set(adds) - set(probe["candidate_files"]):
        s = adds[p]
        assert s["max_key"] < "K0001" or s["min_key"] > "K0002"
    # touched ⊆ candidates, and correctness is intact
    assert set(probe["touched_files"]) <= set(probe["candidate_files"])
    rows = {r["bibcode"]: r["v"] for r in t.read().collect()}
    assert rows["K0001"] == 999 and rows["K0002"] == 998
    assert len(rows) == 400

    # insert-only narrow batch beyond every range: zero candidates
    t.merge(_recs(spark, [("Z9999", 1)]))
    assert t.last_merge_probe["candidate_files"] == []
    assert t.read().count() == 401


@pytest.mark.slow
def test_txn_log_checkpointing(spark, tmp_path):
    """Round-6 log checkpointing (VERDICT r5 #2, ADVICE r5 medium):
    every N commits the folded state lands in a checkpoint file; a
    fresh handle's snapshot reads the checkpoint + tail ONLY (counted
    via the _load_json choke point), while version() and time travel
    — including to pre-checkpoint versions — are unchanged."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, checkpoint_every=3)
    t.overwrite(_recs(spark, [("B1", 1)]))                    # v0
    for i in range(1, 8):                                      # v1..v7
        t.merge(_recs(spark, [(f"B{i + 1}", i + 1)]),
                app_txn_id=f"batch-{i}")
    assert t.version() == 7
    log = os.path.join(path, "_txn")
    cps = [n for n in os.listdir(log) if n.startswith("checkpoint-")]
    assert sorted(cps) == ["checkpoint-00000003.json",
                           "checkpoint-00000006.json"]

    # fresh handle: snapshot must read 1 checkpoint + 1 tail entry,
    # NOT the 8 commit entries
    t2 = txn_table(spark, path, checkpoint_every=3)
    reads = []
    orig = t2._load_json
    t2._load_json = lambda p: (reads.append(os.path.basename(p)),
                               orig(p))[1]
    snap = t2._snapshot()
    assert snap.version == 7
    assert reads == ["checkpoint-00000006.json", "00000007.json"]
    # idempotence state survives the checkpoint (txn_ids folded in)
    assert t2.seen_txn("batch-2") and t2.seen_txn("batch-7")
    assert not t2.seen_txn("batch-99")
    assert t2.read().count() == 8

    # time travel ACROSS the boundary: as_of=4 starts from cp-3 + one
    # entry; as_of=2 (pre-checkpoint) folds the retained full log
    assert t2.read(as_of=4).count() == 5
    assert t2.read(as_of=2).count() == 3
    assert {r["bibcode"] for r in t2.read(as_of=0).collect()} == {"B1"}

    # replayed txn id is still a no-op after checkpointing
    v = t2.merge(_recs(spark, [("B3", 3)]), app_txn_id="batch-2")
    assert v == 7


def test_txn_legacy_string_adds_still_fold(spark, tmp_path):
    """Entries written before per-file stats (adds as plain path
    strings) still fold, and stat-less files are always merge
    candidates — never incorrectly skipped."""
    import json

    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    t.overwrite(_recs(spark, [("B1", 1)]))
    # rewrite the v0 entry to the round-5 string-adds shape
    entry_path = os.path.join(path, "_txn", "00000000.json")
    e = json.load(open(entry_path))
    e["adds"] = [a["path"] for a in e["adds"]]
    json.dump(e, open(entry_path, "w"))

    assert t.live_adds() == {f: None for f in t.live_files()}
    t.merge(_recs(spark, [("B1", 2)]))
    # every stat-less file had to be a candidate (no pruning possible)
    assert set(t.last_merge_probe["candidate_files"]) == set(t.live_files(as_of=0))
    assert set(t.last_merge_probe["touched_files"]) <= \
        set(t.last_merge_probe["candidate_files"])
    assert {(r["bibcode"], r["v"]) for r in t.read().collect()} == {("B1", 2)}


@pytest.mark.slow
def test_streaming_txn_delete_writes_tombstone(spark, tmp_path):
    """ADVICE r5 (high): a status='deleted' event flowing through
    StreamingIngest must tombstone the key in the TxnTable — without
    deleted_keys the old row stays live and is resurrected by the
    next epoch's read. The full-table merge_updates fold of the same
    batches is the reference state."""
    import json

    from adsmasterpipeline_spark.streaming.ingest import StreamingIngest

    events_dir = tmp_path / "t" / "events"
    events_dir.mkdir(parents=True)
    b1 = [{"bibcode": "S1", "type": "bib_data", "status": "active",
           "payload": json.dumps({"bibcode": "S1"}),
           "event_ts": "2024-01-01T00:00:00.000Z"},
          {"bibcode": "S2", "type": "bib_data", "status": "active",
           "payload": json.dumps({"bibcode": "S2"}),
           "event_ts": "2024-01-01T00:00:01.000Z"}]
    b2 = [{"bibcode": "S1", "type": "bib_data", "status": "deleted",
           "payload": None,
           "event_ts": "2024-01-02T00:00:00.000Z"}]
    ing_t = StreamingIngest(spark, str(events_dir),
                            str(tmp_path / "t" / "records"),
                            str(tmp_path / "t" / "ckpt"))
    (events_dir / "b1.json").write_text(
        "\n".join(json.dumps(e) for e in b1))
    ing_t.run_available_now()
    (events_dir / "b2.json").write_text(json.dumps(b2[0]))
    ing_t.run_available_now()

    want = _full_fold(spark, [events_dir / "b1.json",
                              events_dir / "b2.json"])
    got = ing_t._txn().read()
    # the deleted key is GONE from the txn table (no resurrection),
    # matching the full-table fold
    assert {r["bibcode"] for r in got.collect()} == {"S2"}
    assert {r["bibcode"] for r in want.collect()} == {"S2"}
    drop = {"created", "updated", "processed"}
    cols = [c for c in got.columns if c not in drop]
    assert (sorted(tuple(r) for r in got.select(*cols).collect())
            == sorted(tuple(r) for r in want.select(*cols).collect()))


@pytest.mark.slow
def test_txn_compact_bin_packs_small_files(spark, tmp_path):
    """OPTIMIZE: many per-epoch small files fold into few clustered
    ones in ONE atomic commit — data identical, large files untouched,
    time travel to pre-compact versions intact, and the post-compact
    table still prunes merges by key range."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, cluster_writes=True, rows_per_file=400)
    t.overwrite(_recs(spark, [(f"K{i:05d}", i) for i in range(800)]))
    big = set(t.live_files())
    # 6 micro-batch merges -> 6 small files (plus rewrites)
    for e in range(6):
        t.merge(_recs(spark, [(f"N{e}{i:03d}", e * 1000 + i)
                              for i in range(20)]))
    before_files = t.live_files()
    before_rows = sorted(tuple(r) for r in t.read().collect())
    v_pre = t.version()

    v = t.compact()
    assert v == v_pre + 1
    after = t.live_adds()
    assert len(after) < len(before_files)
    # the two big bootstrap files (400 rows each) were NOT rewritten
    assert big & set(after), "large files must survive compaction"
    assert sorted(tuple(r) for r in t.read().collect()) == before_rows
    # compacted files carry stats -> merge probe still prunes
    t.merge(_recs(spark, [("K00001", -1)]))
    assert len(t.last_merge_probe["candidate_files"]) < len(after)
    # time travel to the pre-compact version still folds correctly
    assert t.read(as_of=v_pre).count() == len(before_rows)
    # idempotent when nothing qualifies
    assert t.compact() in (v, v + 1)  # a second pass may no-op or fold remainder
    n_before = t.read().count()
    assert t.compact() == t.version()  # now certainly a no-op
    assert t.read().count() == n_before


def test_txn_vacuum_and_history(spark, tmp_path):
    """VACUUM deletes exactly the files unreachable from the retained
    snapshots — de-referenced rewrites older than the horizon and
    crashed-attempt orphans — while reads and time travel WITHIN the
    horizon stay intact; history() reports the DESCRIBE-HISTORY
    shape."""
    import glob

    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    t.overwrite(_recs(spark, [("B1", 1), ("B2", 2)]))           # v0
    for i in range(4):                                           # v1..v4
        t.merge(_recs(spark, [("B1", 10 + i)]),
                app_txn_id=f"b{i}")
    # orphan from a crashed attempt at a version other writers have
    # since taken (v2 <= latest: its commit can only ever conflict,
    # so it is collectable; an orphan staged ABOVE latest is
    # protected as possibly in-flight — see
    # test_vacuum_protects_inflight_staged_dirs)
    orphan_dir = os.path.join(path, "data", "commit-00000002-dead0000")
    os.makedirs(orphan_dir)
    _recs(spark, [("ZZ", 0)]).write.mode("overwrite").parquet(orphan_dir)

    hist = t.history()
    assert [h["version"] for h in hist] == [0, 1, 2, 3, 4]
    assert hist[0]["operation"] == "overwrite"
    assert hist[2] == {"version": 2, "operation": "merge",
                       "ts_ms": hist[2]["ts_ms"],
                       "adds": hist[2]["adds"], "removes": 1,
                       "dvs": 0, "app_txn_id": "b1"}
    assert isinstance(hist[2]["ts_ms"], int)   # commit wall time recorded

    rows_now = sorted(tuple(r) for r in t.read().collect())
    rows_v3 = sorted(tuple(r) for r in t.read(as_of=3).collect())

    # default min-age guard protects freshly-written files (they may
    # belong to an in-flight writer) — nothing qualifies yet
    assert t.vacuum(keep_versions=2) == []
    deleted = t.vacuum(keep_versions=2, min_age_seconds=0)  # horizon v3
    # the orphan is gone, and at least one old rewrite was dropped
    assert not os.path.exists(orphan_dir) or not os.listdir(orphan_dir)
    assert any("dead0000" in d for d in deleted)
    assert len(deleted) > 1

    # current read and horizon-internal time travel are intact
    assert sorted(tuple(r) for r in t.read().collect()) == rows_now
    assert sorted(tuple(r) for r in t.read(as_of=3).collect()) == rows_v3
    # every live-referenced file still exists on disk
    for f in t.live_files():
        assert os.path.exists(os.path.join(path, f))
    # pre-horizon time travel now (correctly) fails to resolve files
    import pytest as _pytest
    with _pytest.raises(Exception):
        t.read(as_of=0).collect()
    # vacuum is idempotent
    assert t.vacuum(keep_versions=2, min_age_seconds=0) == []


@pytest.mark.parametrize("seed", [7, 23, 41])
@pytest.mark.slow
def test_txn_randomized_lifecycle_matches_model(spark, tmp_path, seed):
    """Model-based check of the WHOLE lifecycle: a seeded random
    sequence of merge/delete/dv_delete (deletion vectors)/overwrite/
    compact/vacuum/cleanup_log/
    restore/set_constraint/drop_constraint ops (checkpoints firing
    every 3 commits) must keep the table equal to a plain dict model
    after every step — the same style of test that caught the
    round-5 order-proxy byte bug. Vacuum keeps enough versions that
    the current snapshot is always intact; cleanup_log interleaving
    proves retention + vacuum's horizon fallback never touch live
    data (the ADVICE r7 loss scenario); CHECK constraints gate the
    model's merges exactly like the table's (round 10: a violating
    merge must refuse and change NOTHING, a violating set_constraint
    must refuse registration, restore may refuse when resurrected
    rows violate a later constraint)."""
    import random

    rng = random.Random(seed)
    path = str(tmp_path / "t")
    t = txn_table(spark, path, checkpoint_every=3,
                  cluster_writes=bool(seed % 2), rows_per_file=64)
    model: dict[str, int] = {}
    keys = [f"K{i:03d}" for i in range(40)]

    def check():
        got = {r["bibcode"]: r["v"] for r in t.read().collect()} \
            if model else None
        if model:
            assert got == model
        else:
            # empty table: every row deleted -> read of live files
            # yields zero rows (or no files at all on empty bootstrap)
            try:
                assert t.read().count() == 0
            except FileNotFoundError:
                pass

    t.overwrite(_recs(spark, [(k, 0) for k in keys[:10]]))
    model.update({k: 0 for k in keys[:10]})
    check()
    # every committed version's model state, for restore targets
    models_by_version = {t.version(): dict(model)}

    def check_feed(v_before, prev_model):
        """The change feed for the step's transition must equal the
        model diff (and be EMPTY for compact) — skipped only when
        cleanup_log already removed the transition's entry (the feed
        then refuses, which is its contract)."""
        v_after = t.version()
        if v_after <= v_before:
            return
        try:
            feed = t.changes(v_before, v_after).collect()
        except ValueError:
            return
        except FileNotFoundError:
            # a dv_delete can empty the WHOLE table; a later
            # metadata-only window then has no live schema to shape
            # even an empty feed with (the documented read() mirror)
            assert not model
            return
        got = {(r["bibcode"], r["_change_type"]): r["v"] for r in feed}
        want = {}
        for k in model.keys() - prev_model.keys():
            want[(k, "insert")] = model[k]
        for k in prev_model.keys() - model.keys():
            want[(k, "delete")] = prev_model[k]
        for k in model.keys() & prev_model.keys():
            if model[k] != prev_model[k]:
                want[(k, "update_preimage")] = prev_model[k]
                want[(k, "update_postimage")] = model[k]
        assert got == want

    constraints: dict[str, int] = {}       # name -> lim for "v < lim"
    for step in range(10):
        op = rng.choice(["merge", "merge", "merge", "mor_merge",
                         "delete", "dv_delete", "compact", "vacuum",
                         "cleanup", "restore", "constraint"])
        v_before, prev_model = t.version(), dict(model)
        if op in ("merge", "mor_merge"):
            mor = op == "mor_merge"
            ups = {rng.choice(keys): step * 100 + i for i in range(4)}
            dels = ({rng.choice(list(model))}
                    if model and rng.random() < 0.5 else set())
            ups = {k: v for k, v in ups.items() if k not in dels}
            if any(v >= lim for lim in constraints.values()
                   for v in ups.values()):
                # the model says this batch violates a CHECK: the
                # merge must refuse and commit NOTHING (version and
                # state both unchanged)
                with pytest.raises(ValueError, match="CHECK"):
                    t.merge(_recs(spark, list(ups.items())),
                            deleted_keys=spark.createDataFrame(
                                [(k,) for k in dels] or [("~none~",)],
                                "bibcode string"),
                            merge_on_read=mor)
                assert t.version() == v_before
            else:
                t.merge(_recs(spark, list(ups.items())),
                        deleted_keys=spark.createDataFrame(
                            [(k,) for k in dels] or [("~none~",)],
                            "bibcode string"),
                        merge_on_read=mor)
                model.update(ups)
                for k in dels:
                    model.pop(k, None)
        elif op == "constraint":
            if constraints and rng.random() < 0.5:
                name = rng.choice(sorted(constraints))
                t.drop_constraint(name)
                constraints.pop(name)
            else:
                lim = (step + rng.choice([1, 4])) * 100
                name = f"cap{step}"
                if any(v >= lim for v in model.values()):
                    with pytest.raises(ValueError,
                                       match="existing table data"):
                        t.set_constraint(name, f"v < {lim}")
                    assert t.version() == v_before
                else:
                    t.set_constraint(name, f"v < {lim}")
                    constraints[name] = lim
        elif op == "delete":
            if not model:
                continue
            k = rng.choice(list(model))
            t.merge(_recs(spark, []).limit(0),
                    deleted_keys=spark.createDataFrame(
                        [(k,)], "bibcode string"))
            model.pop(k)
        elif op == "dv_delete":
            # merge-on-read delete (deletion vectors): by key batch
            # or by predicate, interleaved with every other op — the
            # read, the feed, restore targets, and constraints must
            # all see through the vectors
            if not model:
                continue
            if rng.random() < 0.5:
                picked = rng.sample(sorted(model),
                                    k=min(3, len(model)))
                t.delete(keys=spark.createDataFrame(
                    [(k,) for k in picked], "bibcode string"))
                for k in picked:
                    model.pop(k)
            else:
                cut = rng.choice(sorted(model.values()))
                t.delete(where=f"v >= {cut}")
                model = {k: v for k, v in model.items() if v < cut}
        elif op == "compact":
            t.compact()
        elif op == "vacuum":
            t.vacuum(keep_versions=3, min_age_seconds=0)
        elif op == "restore":
            tgt = rng.randrange(0, t.version() + 1)
            try:
                t.restore(tgt)
            except ValueError:
                continue   # target below retention: allowed refusal
            model = dict(models_by_version[tgt])
        else:
            t.cleanup_log()
        models_by_version[t.version()] = dict(model)
        check()
        check_feed(v_before, prev_model)

    # replaying the whole history through time travel still resolves
    # for the retained horizon (a run whose dv_deletes emptied the
    # table ends with no live files — read() then refuses by design)
    try:
        assert t.read(as_of=t.version()).count() == len(model)
    except FileNotFoundError:
        assert not model


def test_txn_restore(spark, tmp_path):
    """Delta RESTORE: one metadata-only commit makes the current state
    equal read(as_of=target) — zero data files written or copied,
    history moves FORWARD (the undone versions stay time-travelable),
    the change feed serves the restore as the row-level diff between
    the two states, and a target below the retention horizon REFUSES
    instead of committing dangling references."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    t.overwrite(_recs(spark, [("B1", 1), ("B2", 2)]))            # v0
    t.merge(_recs(spark, [("B2", 22), ("C1", 3)]))               # v1
    t.merge(_recs(spark, [("D1", 4)]),
            deleted_keys=spark.createDataFrame(
                [("B1",)], "bibcode string"))                    # v2

    want_v1 = sorted(tuple(r) for r in t.read(as_of=1).collect())
    hashes_before = _file_hashes(path)

    v = t.restore(1)                                             # v3
    assert v == 3
    assert sorted(tuple(r) for r in t.read().collect()) == want_v1
    # metadata-only: not one data byte written, moved, or rewritten
    assert _file_hashes(path) == hashes_before
    assert t.history()[-1]["operation"] == "restore"
    # the undone version is still inspectable via time travel
    got_v2 = {r["bibcode"]: r["v"] for r in t.read(as_of=2).collect()}
    assert got_v2 == {"B2": 22, "C1": 3, "D1": 4}

    # the feed serves the restore as a row-level diff: B1 comes back,
    # D1 goes away, untouched B2/C1 survivors cancel
    feed = {(r["bibcode"], r["_change_type"]): r["v"]
            for r in t.changes(2, 3).collect()}
    assert feed == {("B1", "insert"): 1, ("D1", "delete"): 4}

    # restoring to the current state is a no-op (no empty commit)
    assert t.restore(1) == 3
    # idempotent replay via app txn id
    assert t.restore(2, app_txn_id="undo-undo") == 4
    assert t.restore(2, app_txn_id="undo-undo") == 4

    # a further merge on top of the restored state behaves normally
    t.merge(_recs(spark, [("B2", 222)]))                         # v5
    got = {r["bibcode"]: r["v"] for r in t.read().collect()}
    assert got == {"B2": 222, "C1": 3, "D1": 4}

    # refusals: out of range, and below the vacuum horizon
    with pytest.raises(ValueError, match="restore"):
        t.restore(99)
    t.restore(1)                                                 # v6
    t.merge(_recs(spark, [("E1", 5)]))                           # v7
    t.vacuum(keep_versions=2, min_age_seconds=0)
    with pytest.raises(ValueError, match="vacuum"):
        t.restore(2)          # v2's files were collected


def test_txn_restore_vacuum_toctou(spark, tmp_path):
    """ADVICE r9 (medium): the files restore resurrects are old and
    unreferenced by any retained snapshot until the restore commit
    lands, so vacuum's min_age guard did not protect them — a vacuum
    that computed its protected set before the restore commit could
    unlink them after the existence check, committing dangling refs.
    Two arms: (1) prevention — restore touch-refreshes its targets'
    mtimes, so an age-guarded vacuum interleaved right before the
    commit skips them and the restore lands readable; (2) detection —
    a vacuum that ignores the age guard still unlinks them, and the
    post-commit re-verify rolls FORWARD with a compensating commit to
    the pre-restore state and raises, never leaving a dangling head."""
    import os

    def build(path):
        t = txn_table(spark, path, rows_per_file=1000)
        t.overwrite(_recs(spark, [("B1", 1), ("B2", 2)]))        # v0
        t.merge(_recs(spark, [("B1", 11), ("B2", 22)]))          # v1
        t.merge(_recs(spark, [("B1", 111)]))                     # v2
        # age v0/v1's files well past any test-scale min_age window
        for root, _d, files in os.walk(os.path.join(path, "data")):
            for n in files:
                old = 1_000_000_000
                os.utime(os.path.join(root, n), (old, old))
        return t

    def interleave_vacuum(t, min_age):
        """Patch _commit so a vacuum (whose protected set is computed
        INSIDE the call — i.e. before the restore entry exists) runs
        between restore's existence check and its commit publish."""
        orig = t._commit

        def patched(version, adds, removes, operation, app_txn_id,
                    **kw):
            if operation == "restore" and not getattr(
                    patched, "fired", False):
                patched.fired = True
                txn_table(spark, t.path, rows_per_file=1000).vacuum(
                    keep_versions=1, min_age_seconds=min_age)
            return orig(version, adds, removes, operation,
                        app_txn_id, **kw)

        t._commit = patched

    # arm 1: honest vacuum (min_age guard) — touch-refresh protects
    # the resurrected files, the restore lands and reads clean
    p1 = str(tmp_path / "t1")
    t1 = build(p1)
    interleave_vacuum(t1, min_age=3600.0)
    v = t1.restore(0)
    assert v == 3
    got = {r["bibcode"]: r["v"] for r in t1.read().collect()}
    assert got == {"B1": 1, "B2": 2}

    # arm 2: age-guard-ignoring vacuum (the documented "only when no
    # writer can be in flight" contract violated) — the re-verify
    # detects the loss, compensates, and raises; the table head is
    # the PRE-restore state with zero dangling references
    p2 = str(tmp_path / "t2")
    t2 = build(p2)
    interleave_vacuum(t2, min_age=0.0)
    with pytest.raises(ValueError, match="concurrent vacuum"):
        t2.restore(0)
    t2b = txn_table(spark, p2, rows_per_file=1000)
    assert t2b.history()[-2:][0]["operation"] == "restore"   # v3: lost
    assert t2b.history()[-1]["operation"] == "restore"       # v4: comp
    got = {r["bibcode"]: r["v"] for r in t2b.read().collect()}
    assert got == {"B1": 111, "B2": 22}


def test_txn_restore_races_vacuum_threads(spark, tmp_path):
    """Restore added to the concurrent-maintenance races (ADVICE r9):
    a restorer thread flip-flops the table between two states while a
    vacuum thread loops with keep_versions=1 — so the state NOT
    currently live is always below the horizon and only the
    touch-refresh window protects it. Invariant: every restore either
    returns a version whose snapshot reads completely, or raises the
    documented refusal — and the final head always reads with zero
    dangling file references."""
    import threading

    path = str(tmp_path / "t")
    t = txn_table(spark, path, rows_per_file=1000)
    t.overwrite(_recs(spark, [("B1", 1), ("B2", 2)]))            # v0
    t.merge(_recs(spark, [("B1", 11), ("B3", 3)]))               # v1
    state_a = sorted(tuple(r) for r in t.read(as_of=0).collect())
    state_b = sorted(tuple(r) for r in t.read(as_of=1).collect())

    errors: list[Exception] = []
    ok = {"restores": 0, "refusals": 0}
    stop = threading.Event()

    def restorer():
        tr = txn_table(spark, path, rows_per_file=1000)
        want = [(0, state_a), (1, state_b)]
        i = 0
        try:
            while not stop.is_set() and ok["restores"] < 8:
                target, want_rows = want[i % 2]
                i += 1
                try:
                    v = tr.restore(target, retries=16)
                except ValueError:
                    ok["refusals"] += 1      # documented refusal path
                    continue
                got = sorted(tuple(r)
                             for r in tr.read(as_of=v).collect())
                assert got == want_rows, (v, target, got)
                ok["restores"] += 1
        except Exception as exc:
            errors.append(traceback.format_exc())

    def vacuumer():
        tv = txn_table(spark, path, rows_per_file=1000)
        try:
            while not stop.is_set():
                tv.vacuum(keep_versions=1, min_age_seconds=2.0)
        except Exception as exc:
            errors.append(traceback.format_exc())

    rth = threading.Thread(target=restorer)
    vth = threading.Thread(target=vacuumer)
    rth.start()
    vth.start()
    rth.join(timeout=600)
    stop.set()
    vth.join(timeout=600)

    assert not errors, "\n".join(str(e) for e in errors)
    assert ok["restores"] >= 8, ok
    final = sorted(tuple(r)
                   for r in txn_table(spark, path).read().collect())
    assert final in (state_a, state_b)


@pytest.mark.slow
def test_txn_check_constraints(spark, tmp_path):
    """Delta CHECK constraints: set_constraint validates EXISTING data
    before registering, every merge/overwrite batch is validated
    before a single file is written (NULL violates, like Delta),
    restore validates the rows it would resurrect, the constraint is
    a metadata-only commit the change feed skips, and it survives
    checkpoint + cleanup_log."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, checkpoint_every=2)
    t.overwrite(_recs(spark, [("B1", 1), ("B2", 2)]))            # v0

    # existing data violates -> refuse, nothing registered
    with pytest.raises(ValueError, match="existing table data"):
        t.set_constraint("v_small", "v < 2")
    assert t.constraints() == {}
    assert t.version() == 0

    assert t.set_constraint("v_pos", "v > 0") == 1               # v1
    assert t.constraints() == {"v_pos": "v > 0"}

    # a valid batch passes; a violating one refuses BEFORE any commit
    # (validated against the STAGED files post-write — see
    # test_txn_constraint_validation_is_write_side)
    t.merge(_recs(spark, [("C1", 3)]))                           # v2
    with pytest.raises(ValueError, match="v_pos"):
        t.merge(_recs(spark, [("D1", -5)]))
    with pytest.raises(ValueError, match="v_pos"):
        t.merge(_recs(spark, [("D1", None)]))     # NULL violates
    with pytest.raises(ValueError, match="v_pos"):
        t.overwrite(_recs(spark, [("D1", -5)]))
    assert t.version() == 2
    assert {r["bibcode"]: r["v"] for r in t.read().collect()} == \
        {"B1": 1, "B2": 2, "C1": 3}

    # the feed skips the metadata-only commit; the window still serves
    feed = {(r["bibcode"], r["_change_type"]) for r in
            t.changes(0, 2).collect()}
    assert feed == {("C1", "insert")}

    # survives checkpoint + cleanup_log on a FRESH handle
    t.merge(_recs(spark, [("E1", 5)]))                           # v3
    t.merge(_recs(spark, [("F1", 6)]))                           # v4 -> cp
    assert t.cleanup_log() != []
    t2 = txn_table(spark, path, checkpoint_every=2)
    assert t2.constraints() == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="v_pos"):
        t2.merge(_recs(spark, [("G1", 0)]))

    # restore validates resurrected rows: drop, write a violator,
    # overwrite it away, re-add the constraint, then try to restore
    assert t2.drop_constraint("v_pos") == 5                      # v5
    t2.merge(_recs(spark, [("N1", -9)]))                         # v6
    t2.merge(_recs(spark, [("N1", 9)]))                          # v7
    t2.set_constraint("v_pos", "v > 0")                          # v8
    with pytest.raises(ValueError, match="restored from version 6"):
        t2.restore(6)
    with pytest.raises(ValueError, match="no such constraint"):
        t2.drop_constraint("nope")


def test_txn_constraint_validation_is_write_side(spark, tmp_path):
    """ADVICE r9: validation must see the SAME materialization as the
    write. The round-9 shape validated the input plan and then
    recomputed it for the write — a non-deterministic source could
    land rows that were never validated. Now the staged parquet files
    themselves are validated before the commit: (1) a
    non-deterministic batch whose WRITTEN rows violate is refused
    even if a fresh recompute might pass; (2) a refusal deletes the
    staged files — no orphans; (3) a passing write costs no extra
    input-plan execution."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    t.overwrite(_recs(spark, [("B1", 1)]))                       # v0
    t.set_constraint("v_pos", "v > 0")                           # v1

    def data_files():
        out = []
        for root, _d, files in os.walk(os.path.join(path, "data")):
            out += [os.path.join(root, n) for n in files
                    if n.endswith(".parquet")]
        return sorted(out)

    committed = data_files()

    # non-deterministic batch: rand() makes ~half the rows violate on
    # ANY materialization — the written rows are what gets checked,
    # so the refusal is decided by the actual staged bytes
    nd = (spark.range(200)
          .select(F.concat(F.lit("N"), F.col("id")).alias("bibcode"),
                  F.when(F.rand(seed=7) > 0.5, F.lit(5))
                  .otherwise(F.lit(-5)).cast("long").alias("v")))
    with pytest.raises(ValueError, match="v_pos"):
        t.merge(nd)
    # ... and the staged files were cleaned up, not orphaned
    assert data_files() == committed
    assert t.version() == 1

    # a violating overwrite cleans up too
    with pytest.raises(ValueError, match="v_pos"):
        t.overwrite(_recs(spark, [("Z1", -1)]))
    assert data_files() == committed

    # a constraint that no longer RESOLVES against the written batch
    # (overwrite never compares schemas) must also land on the
    # ValueError contract AND clean up the staged files — not escape
    # as a raw AnalysisException with orphans (code-review r10)
    other = spark.createDataFrame([("Z1", 1)], "bibcode string, w long")
    with pytest.raises(ValueError, match="validation failed"):
        t.overwrite(other)
    assert data_files() == committed
    assert t.version() == 1


def test_txn_set_constraint_error_contract_and_names(spark, tmp_path):
    """ADVICE r9: set_constraint validates the expression EAGERLY —
    malformed SQL and unresolvable columns raise ValueError (the JSON
    error contract's exception), never a raw Spark ParseException /
    AnalysisException from a later write; and a constraint NAME that
    is not a legal column alias (dots, backticks, spaces) must not
    break validation aggregates for subsequent writes."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    t.overwrite(_recs(spark, [("B1", 1)]))                       # v0

    with pytest.raises(ValueError, match="parse"):
        t.set_constraint("bad_syntax", "v >< 1")
    with pytest.raises(ValueError, match="resolve"):
        t.set_constraint("bad_col", "no_such_column > 0")
    with pytest.raises(ValueError, match="non-empty"):
        t.set_constraint("", "v > 0")
    assert t.constraints() == {} and t.version() == 0

    # hostile alias names: positional aggregate aliases keep every
    # later write's validation working
    weird = "chk.v`x` pos"
    assert t.set_constraint(weird, "v > 0") == 1                 # v1
    t.merge(_recs(spark, [("C1", 3)]))                           # v2
    with pytest.raises(ValueError, match=r"chk\.v"):
        t.merge(_recs(spark, [("D1", -5)]))
    assert t.drop_constraint(weird) == 3


def test_txn_bloom_prunes_hash_partitioned_files(spark, tmp_path):
    """Bloom file skipping: on a HASH-partitioned table every file
    spans the full key range, so min/max pruning keeps all of them —
    the per-file key bloom still skips the files that cannot contain
    a batch key. Control: the same layout without blooms prunes
    nothing."""
    rows = [(f"K{i:04d}", i) for i in range(400)]

    def build(sub, bloom_bits):
        path = str(tmp_path / sub)
        t = txn_table(spark, path, bloom_bits=bloom_bits)
        t.overwrite(_recs(spark, rows).repartition(8, "bibcode"))
        return t

    t = build("bloomed", 4096)
    adds = t.live_adds()
    assert len(adds) >= 6
    for s in adds.values():
        assert s.get("bloom") and s["bloom_bits"] == 4096
        # hash layout: every file's range spans ~everything
        assert s["min_key"] < "K0100" and s["max_key"] > "K0300"

    t.merge(_recs(spark, [("K0007", -7)]))
    probe = t.last_merge_probe
    # the key lives in exactly one file; bloom must cut the candidate
    # set far below the live count (false positives allowed but rare
    # at this fill ratio)
    assert len(probe["candidate_files"]) <= 2
    assert probe["touched_files"] and \
        set(probe["touched_files"]) <= set(probe["candidate_files"])
    got = {r["bibcode"]: r["v"] for r in t.read().collect()}
    assert got["K0007"] == -7 and len(got) == 400

    # control: same layout without blooms — range+containment alone
    # keeps strictly more candidates (it can only rule a file out
    # when the key falls outside its [min,max] or in a gap)
    t0 = build("plain", 0)
    t0.merge(_recs(spark, [("K0007", -7)]))
    assert len(t0.last_merge_probe["candidate_files"]) > \
        len(probe["candidate_files"])

    # absent key: bloom proves no file can contain it -> zero
    # candidates, pure insert
    t.merge(_recs(spark, [("ZZZZ", 1)]))
    assert t.last_merge_probe["candidate_files"] == []
    assert t.read().count() == 401


@pytest.mark.slow
def test_streaming_txn_survives_delete_everything_epoch(spark, tmp_path):
    """Crash-loop regression (round-6 review): an epoch whose deletes
    remove EVERY remaining row leaves the table live-empty (a commit
    with zero adds). The next epoch must merge against an empty
    records frame and re-insert — not die in read_for_keys with
    FileNotFoundError and have foreachBatch retry the same batch
    forever."""
    import json

    from adsmasterpipeline_spark.streaming.ingest import StreamingIngest

    events_dir = tmp_path / "events"
    events_dir.mkdir(parents=True)
    ing = StreamingIngest(spark, str(events_dir),
                          str(tmp_path / "records"),
                          str(tmp_path / "ckpt"), fmt="txn")

    def write(name, evs):
        (events_dir / name).write_text(
            "\n".join(json.dumps(e) for e in evs))

    write("b1.json", [{"bibcode": "S1", "type": "bib_data",
                       "status": "active",
                       "payload": json.dumps({"bibcode": "S1"}),
                       "event_ts": "2024-01-01T00:00:00.000Z"}])
    ing.run_available_now()
    write("b2.json", [{"bibcode": "S1", "type": "bib_data",
                       "status": "deleted", "payload": None,
                       "event_ts": "2024-01-02T00:00:00.000Z"}])
    ing.run_available_now()
    assert ing._load_records().count() == 0     # live-empty, no crash
    write("b3.json", [{"bibcode": "S2", "type": "bib_data",
                       "status": "active",
                       "payload": json.dumps({"bibcode": "S2"}),
                       "event_ts": "2024-01-03T00:00:00.000Z"}])
    ing.run_available_now()                     # would crash pre-fix
    assert {r["bibcode"] for r in ing._load_records().collect()} == {"S2"}


def test_txn_corrupt_checkpoint_falls_back_to_log(spark, tmp_path):
    """A corrupt checkpoint file (truncated copy, bad sector) must
    degrade to the full-log fold the retained entries always allow —
    not wedge every operation."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, checkpoint_every=2)
    t.overwrite(_recs(spark, [("B1", 1)]))
    t.merge(_recs(spark, [("B2", 2)]))
    t.merge(_recs(spark, [("B3", 3)]))
    cp = os.path.join(path, "_txn", "checkpoint-00000002.json")
    assert os.path.exists(cp)
    open(cp, "w").write("{ truncated garbage")
    assert t.read().count() == 3                # full-log fallback
    assert t.merge(_recs(spark, [("B4", 4)])) == 3
    assert t.read().count() == 4


def test_txn_checkpoint_txn_id_retention(spark, tmp_path):
    """Checkpoints carry only the app txn ids of the trailing
    retention window, so checkpoint size and driver snapshot state
    stop growing with total epochs; replay detection inside the
    window still works."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, checkpoint_every=2)
    t.txn_retention_commits = 3
    t.overwrite(_recs(spark, [("B0", 0)]), app_txn_id="e0")
    for i in range(1, 7):
        t.merge(_recs(spark, [(f"B{i}", i)]), app_txn_id=f"e{i}")
    import json
    cp = json.load(open(os.path.join(path, "_txn",
                                     "checkpoint-00000006.json")))
    assert cp["txn_ids"] == ["e4", "e5", "e6"]   # window of 3
    assert t.seen_txn("e6") and t.seen_txn("e4")
    assert not t.seen_txn("e0")                  # aged out, documented
    # replay of an in-window epoch is still a no-op
    v = t.merge(_recs(spark, [("B6", 99)]), app_txn_id="e6")
    assert v == 6


@pytest.mark.slow
def test_streaming_auto_compact_bounds_file_count(spark, tmp_path):
    """auto_compact_every: an unbounded micro-batch stream otherwise
    adds one small file per epoch; with periodic OPTIMIZE the live
    file count tracks data volume, not epoch count, and the table
    state is unchanged."""
    import json

    from adsmasterpipeline_spark.streaming.ingest import StreamingIngest

    events_dir = tmp_path / "events"
    events_dir.mkdir(parents=True)
    ing = StreamingIngest(
        spark, str(events_dir), str(tmp_path / "records"),
        str(tmp_path / "ckpt"), fmt="txn",
        txn_opts={"cluster_writes": True, "rows_per_file": 10_000,
                  "auto_compact_every": 4})

    for e in range(9):
        (events_dir / f"b{e}.json").write_text("\n".join(
            json.dumps({"bibcode": f"S{e}-{i}", "type": "bib_data",
                        "status": "active",
                        "payload": json.dumps({"bibcode": f"S{e}-{i}"}),
                        "event_ts": f"2024-01-{e + 1:02d}T00:00:00.000Z"})
            for i in range(5)))
        ing.run_available_now()

    t = ing._txn()
    # 9 epochs, compactions folded the per-epoch files: far fewer
    # live files than epochs
    assert len(t.live_files()) < 5
    assert any(h["operation"] == "compact" for h in t.history())
    assert ing._load_records().count() == 45


def _recs_ts(spark, rows):
    """(bibcode, id, updated) rows — the records-table stats shape."""
    return spark.createDataFrame(
        rows, "bibcode string, id long, updated timestamp")


def test_txn_stats_cols_and_max_stat(spark, tmp_path):
    """Round-7 (VERDICT r6 tasks 1+3): every add records min/max for
    the configured non-key stats columns; max_stat folds the
    table-wide max id DRIVER-SIDE (zero data files opened, asserted
    through a poisoned read) — the autoincrement-PK property the
    reference gets from Postgres (adsmp/models.py:49)."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path)          # default stats_cols id,updated
    t0 = dt.datetime(2024, 1, 1)
    t.overwrite(_recs_ts(spark, [(f"B{i}", i, t0) for i in range(1, 5)])
                .repartitionByRange(2, "bibcode"))
    for s in t.live_adds().values():
        assert s and "cols" in s
        assert s["cols"]["id"]["mx"] is not None
        assert s["cols"]["updated"]["mn"] == "2024-01-01 00:00:00.000000"
    # max over files' id stats, no scan: poison read() to prove it
    orig_read = type(t).read
    type(t).read = lambda self, *a, **k: (_ for _ in ()).throw(
        AssertionError("max_stat must not scan the table"))
    try:
        assert t.max_stat("id") == 4
        assert t.max_stat("bibcode") == "B4"     # key stats path
        assert t.max_stat("nonexistent") is None  # unknown -> fallback
    finally:
        type(t).read = orig_read
    # merge inserts continue the stat fold
    t.merge(_recs_ts(spark, [("B9", 9, dt.datetime(2024, 2, 1))]))
    assert t.max_stat("id") == 9
    # a live file WITHOUT the stat (legacy) degrades to None, never a
    # wrong answer
    entry = os.path.join(path, "_txn", "00000000.json")
    e = _json.load(open(entry))
    for a in e["adds"]:
        a.pop("cols", None)
    _json.dump(e, open(entry, "w"))
    assert t.max_stat("id") is None


@pytest.mark.slow
def test_txn_read_for_range_prunes_files(spark, tmp_path):
    """Round-7 (VERDICT r6 task 3): the incremental watermark scan
    (P4, dispatch.incremental_filter's `updated >= since`) over a txn
    table opens ONLY files whose updated-range reaches the watermark.
    Streaming-written tables are naturally time-clustered (each epoch
    commits files spanning just that epoch's timestamps), so the cron
    tick — the reference's hottest query, run.py:147-151 — reads
    O(recent files), not O(table)."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    day = lambda d: dt.datetime(2024, 1, d)
    t.overwrite(_recs_ts(spark, [(f"A{i}", i, day(1)) for i in range(4)]))
    t.merge(_recs_ts(spark, [(f"B{i}", 10 + i, day(10)) for i in range(4)]))
    t.merge(_recs_ts(spark, [(f"C{i}", 20 + i, day(20)) for i in range(4)]))
    live = t.live_adds()
    assert len(live) >= 3

    got = t.read_for_range("updated", lo=day(15))
    rows = {r["bibcode"] for r in got.collect()}
    assert rows == {f"C{i}" for i in range(4)}
    probe = t.last_read_probe
    assert probe["live_files"] >= 3
    # files whose whole updated-range predates the watermark were
    # NEVER candidates (the done-criterion of VERDICT r6 task 3)
    for p in set(live) - set(probe["candidate_files"]):
        assert live[p]["cols"]["updated"]["mx"] < "2024-01-15"
    assert len(probe["candidate_files"]) < probe["live_files"]

    # bounded range + exactness vs an unpruned filter
    mid = t.read_for_range("updated", lo=day(5), hi=day(15))
    assert {r["bibcode"] for r in mid.collect()} == \
        {f"B{i}" for i in range(4)}
    # a file without the stat is always a candidate
    entry = os.path.join(path, "_txn", "00000001.json")
    e = _json.load(open(entry))
    for a in e["adds"]:
        a.pop("cols", None)
    _json.dump(e, open(entry, "w"))
    t.read_for_range("updated", lo=day(25))
    assert any(p in t.last_read_probe["candidate_files"]
               for p in {a["path"] if isinstance(a, dict) else a
                         for a in e["adds"]})


@pytest.mark.slow
def test_txn_checkpoint_carries_txn_ids_forward(spark, tmp_path):
    """ADVICE r6: _maybe_checkpoint reuses the previous checkpoint's
    (version, txn_id) pairs instead of re-reading every entry in the
    retention window — entry-file opens during a checkpoint are
    bounded by the TAIL since the last checkpoint, while replay
    detection stays complete."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, checkpoint_every=3)
    t.overwrite(_recs(spark, [("B0", 0)]), app_txn_id="e0")
    for i in range(1, 6):                                  # v1..v5
        t.merge(_recs(spark, [(f"B{i}", i)]), app_txn_id=f"e{i}")
    # next merge commits v6 -> checkpoint at 6; count which ENTRY
    # files _load_json opens during that commit's checkpoint
    reads: list[str] = []
    orig = t._load_json
    t._load_json = lambda p: (reads.append(os.path.basename(p)),
                              orig(p))[1]
    try:
        t.merge(_recs(spark, [("B6", 6)]), app_txn_id="e6")
    finally:
        t._load_json = orig
    cp6 = _json.load(open(os.path.join(path, "_txn",
                                       "checkpoint-00000006.json")))
    assert set(cp6["txn_ids"]) == {f"e{i}" for i in range(7)}
    assert [v for v, _ in cp6["txn_pairs"]] == list(range(7))
    # entries BEFORE the carried-from checkpoint (v<=3) must not be
    # re-read while building checkpoint 6
    entry_reads = [r for r in reads if not r.startswith("checkpoint")]
    assert not any(r in ("00000000.json", "00000001.json",
                         "00000002.json", "00000003.json")
                   for r in entry_reads), entry_reads
    # detection still complete after the carry-forward
    t2 = txn_table(spark, path, checkpoint_every=3)
    assert t2.seen_txn("e1") and t2.seen_txn("e6")
    assert t2.merge(_recs(spark, [("B1", 99)]), app_txn_id="e1") == 6


@pytest.mark.slow
def test_txn_checkpoint_pointer_self_corrects(spark, tmp_path):
    """ADVICE r6: an older checkpointer whose pointer replace lands
    AFTER a newer checkpoint's must detect the newer on-disk
    checkpoint and republish it — the pointer never stays regressed."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, checkpoint_every=3)
    t.overwrite(_recs(spark, [("B0", 0)]))
    for i in range(1, 7):                                  # cp 3, 6
        t.merge(_recs(spark, [(f"B{i}", i)]))
    log = os.path.join(path, "_txn")
    assert t._read_last_checkpoint() == 6
    # simulate the lost race: the v3 writer's replace lands last
    os.remove(os.path.join(log, "_last_checkpoint"))
    t._publish_checkpoint_pointer(3)
    # self-correction saw checkpoint-6 on disk and republished it
    assert t._read_last_checkpoint() == 6


@pytest.mark.slow
def test_txn_cleanup_log_bounds_listing(spark, tmp_path):
    """Round-7 log retention (the SCALE.md r6 honest gap: _txn/
    listing grew O(total commits) forever): cleanup_log deletes
    entries superseded by the latest checkpoint and old checkpoint
    files. Current reads, replay detection and FUTURE checkpoints
    survive; time travel to a removed version RAISES instead of
    silently folding a partial log."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, checkpoint_every=3)
    t.overwrite(_recs(spark, [("B0", 0)]), app_txn_id="e0")
    for i in range(1, 8):                                   # v1..v7
        t.merge(_recs(spark, [(f"B{i}", i)]), app_txn_id=f"e{i}")
    log = os.path.join(path, "_txn")
    n_before = len([n for n in os.listdir(log) if n.endswith(".json")])

    deleted = t.cleanup_log()
    # entries <= cp 6 gone, tail (v7) + newest checkpoints retained
    assert "00000000.json" in deleted and "00000006.json" in deleted
    survivors = sorted(n for n in os.listdir(log)
                       if n.endswith(".json")
                       and not n.startswith("checkpoint"))
    assert survivors == ["00000007.json"]
    assert len(deleted) + len(
        [n for n in os.listdir(log) if n.endswith(".json")]) == n_before

    # fresh handle: state intact, replay detection intact
    t2 = txn_table(spark, path, checkpoint_every=3)
    assert t2.version() == 7
    assert t2.read().count() == 8
    assert t2.seen_txn("e5")
    assert t2.merge(_recs(spark, [("B5", 99)]),
                    app_txn_id="e5") == 7            # replay no-op
    # time travel above the retained checkpoint works; below raises
    assert t2.read(as_of=7).count() == 8
    with pytest.raises(ValueError, match="cleanup_log"):
        t2.read(as_of=2)
    # the NEXT checkpoint builds fine from carry-forward + tail
    t2.merge(_recs(spark, [("B8", 8)]), app_txn_id="e8")    # v8
    t2.merge(_recs(spark, [("B9", 9)]), app_txn_id="e9")    # v9 -> cp
    assert t2._read_last_checkpoint() == 9
    t3 = txn_table(spark, path, checkpoint_every=3)
    assert t3.seen_txn("e9") and t3.seen_txn("e1")
    # vacuum still runs with the cleaned log head
    t3.vacuum(keep_versions=2, min_age_seconds=0)
    assert t3.read().count() == 10


def test_txn_merge_conflict_retry(spark, tmp_path):
    """Optimistic concurrency (Delta's conflict-then-rebase loop): a
    writer whose snapshot went stale loses the version race with
    CommitConflict; merge(retries=N) re-runs the WHOLE merge against
    the fresh snapshot — both writers' rows land, and the loser's
    first-attempt files stay unreferenced orphans."""
    from adsmasterpipeline_spark.sinks.txnlake import CommitConflict

    path = str(tmp_path / "t")
    a = txn_table(spark, path)
    b = txn_table(spark, path)
    a.overwrite(_recs(spark, [("B1", 1), ("B2", 2)]))

    # writer B captures a snapshot, then writer A commits v1 first
    stale = b._snapshot()
    orig = b._snapshot

    calls = {"n": 0}

    def stale_once(as_of=None):
        calls["n"] += 1
        if calls["n"] == 1 and as_of is None:
            return stale
        return orig(as_of)

    a.merge(_recs(spark, [("B2", 22)]))          # v1 (A wins)
    b._snapshot = stale_once
    with pytest.raises(CommitConflict):
        b.merge(_recs(spark, [("B3", 3)]))       # stale -> v1 conflict
    calls["n"] = 0
    b._snapshot = stale_once
    v = b.merge(_recs(spark, [("B3", 3)]), retries=2)
    assert v == 2
    rows = {r["bibcode"]: r["v"] for r in a.read().collect()}
    assert rows == {"B1": 1, "B2": 22, "B3": 3}


@pytest.mark.slow
def test_txn_concurrent_writers_threads(spark, tmp_path):
    """REAL concurrency, not a simulated stale snapshot: four threads
    each apply four merges to the SAME table through merge(retries=)
    — the os.link version race serializes them; every batch lands
    exactly once, version count equals total commits, and replayed
    app_txn_ids stay idempotent across writers."""
    import threading

    path = str(tmp_path / "t")
    t0 = txn_table(spark, path)
    t0.overwrite(_recs(spark, [("SEED", 0)]))

    n_writers, n_batches = 4, 4
    errors: list[Exception] = []

    def writer(w: int):
        try:
            t = txn_table(spark, path)
            for b in range(n_batches):
                rows = [(f"W{w}B{b}K{i}", w * 100 + b) for i in range(3)]
                t.merge(_recs(spark, rows), app_txn_id=f"w{w}-b{b}",
                        retries=32)
        except Exception as exc:           # surface into the assert
            errors.append(traceback.format_exc())

    threads = [threading.Thread(target=writer, args=(w,))
               for w in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, "\n".join(str(e) for e in errors)

    t = txn_table(spark, path)
    assert t.version() == n_writers * n_batches      # every commit landed
    rows = {r["bibcode"] for r in t.read().collect()}
    assert len(rows) == 1 + n_writers * n_batches * 3
    # replaying any writer's txn id is a no-op from any handle
    v = t.merge(_recs(spark, [("SEED", 99)]), app_txn_id="w2-b1")
    assert v == n_writers * n_batches
    assert {r["v"] for r in t.read().collect()
            if r["bibcode"] == "SEED"} == {0}


def test_txn_schema_evolution(spark, tmp_path):
    """Delta mergeSchema parity: with schema_evolution=True a merge
    whose batch carries a NEW column widens the table — survivors
    keep nulls for it, reads merge per-file footers so pre-widening
    files surface the column, and stats pruning keeps working.
    Strict mode (default) fails loudly on the same drift."""
    path = str(tmp_path / "t")
    strict = txn_table(spark, path)
    strict.overwrite(_recs(spark, [("B1", 1), ("B2", 2)]))
    widened = spark.createDataFrame(
        [("B2", 22, "en"), ("B3", 3, "de")],
        "bibcode string, v long, lang string")
    with pytest.raises(Exception):
        strict.merge(widened)              # strict: loud failure

    evo = txn_table(spark, path, schema_evolution=True)
    evo.merge(widened)
    rows = {r["bibcode"]: (r["v"], r["lang"])
            for r in evo.read().collect()}
    assert rows == {"B1": (1, None), "B2": (22, "en"),
                    "B3": (3, "de")}
    # point reads across old+new files see the merged schema too
    keyed = evo.read_for_keys(
        spark.createDataFrame([("B1",), ("B3",)], "bibcode string"))
    got = {r["bibcode"]: r["lang"] for r in keyed.collect()}
    assert got == {"B1": None, "B3": "de"}
    # narrowing batch back-fills nulls for the missing column
    evo.merge(_recs(spark, [("B4", 4)]))
    assert {r["bibcode"]: r["lang"] for r in
            evo.read().collect()}["B4"] is None


@pytest.mark.slow
def test_txn_snapshot_refuses_cleaned_midwindow(spark, tmp_path):
    """ADVICE r8 (data-loss severity): with checkpoints {3, 6}
    retained and entries <= 6 removed by cleanup_log, _snapshot(4)
    used to seed from checkpoint 3 and silently return version-3
    state AS IF it were version 4 — time travel went stale against
    the cleanup_log raise contract, and vacuum (whose protected set
    comes from _snapshot(as_of=horizon)) under-protected and deleted
    files STILL LIVE at the horizon: permanent loss. Now the
    mid-window fold refuses, and vacuum's ValueError fallback
    protects from the oldest reconstructable checkpoint >= horizon
    instead."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, checkpoint_every=3)
    t.overwrite(_recs(spark, [("B0", 0)]))                  # v0
    for i in range(1, 9):                   # v1..v8, cps at 3 and 6
        t.merge(_recs(spark, [(f"B{i}", i)]))               # inserts
    t.cleanup_log()          # entries <= 6 gone; cps {3, 6} retained
    assert {3, 6} <= set(t._checkpoint_versions())

    # time travel BETWEEN retained cp 3 and the cleaned horizon must
    # refuse (previously: silently returned v3 state)
    with pytest.raises(ValueError, match="reconstruct version 4"):
        t.read(as_of=4)
    # exact retained checkpoints and the live tail still resolve
    assert t.read(as_of=3).count() == 4
    assert t.read(as_of=6).count() == 7
    assert t.read(as_of=8).count() == 9

    # the ADVICE repro: vacuum with a horizon inside the cleaned
    # window (latest 8, keep 5 -> horizon 4). Insert-only workload
    # means EVERY file ever added is still live — vacuum must delete
    # nothing, and the table must stay fully readable.
    deleted = t.vacuum(keep_versions=5, min_age_seconds=0)
    # only _SUCCESS/.crc write-marker junk may go — never a data file
    # (insert-only workload: every parquet ever added is still live)
    assert not [d for d in deleted if d.endswith(".parquet")]
    for f in t.live_files():
        assert os.path.exists(os.path.join(path, f))
    assert t.read().count() == 9


def test_txn_checkpoint_migrates_legacy_txn_ids(spark, tmp_path):
    """ADVICE r8: a pre-r7 checkpoint has only the flat txn_ids set
    (no txn_pairs). Once cleanup_log deletes the entries it
    superseded, the next checkpoint's full-window rebuild can only
    fold SURVIVING entries — without the migration the cleaned
    versions' replay-detection ids vanish and a redelivered epoch
    double-applies. The fix merges the legacy ids (tagged at the old
    checkpoint's version) into the carried pairs."""
    import json

    path = str(tmp_path / "t")
    t = txn_table(spark, path, checkpoint_every=3)
    t.overwrite(_recs(spark, [("B0", 0)]), app_txn_id="a0")  # v0
    for i in range(1, 4):                         # v1..v3 -> cp 3
        t.merge(_recs(spark, [(f"B{i}", i)]), app_txn_id=f"a{i}")
    cp3 = t._checkpoint_path(3)
    data = json.load(open(cp3))
    assert "a2" in data["txn_ids"]
    del data["txn_pairs"]                  # simulate a pre-r7 checkpoint
    os.unlink(cp3)
    json.dump(data, open(cp3, "w"))
    t.cleanup_log(keep_checkpoints=1)      # entries <= 3 deleted

    for i in range(4, 7):                         # v4..v6 -> cp 6
        t.merge(_recs(spark, [(f"B{i}", i)]), app_txn_id=f"a{i}")
    assert t._read_last_checkpoint() == 6
    cp6 = json.load(open(t._checkpoint_path(6)))
    assert {"a0", "a1", "a2", "a3"} <= set(cp6["txn_ids"])

    # fresh handle: replaying a CLEANED epoch is still a no-op
    t2 = txn_table(spark, path, checkpoint_every=3)
    assert t2.seen_txn("a2")
    v = t2.merge(_recs(spark, [("B2", 999)]), app_txn_id="a2")
    assert v == 6                                   # replay no-op
    assert {r["v"] for r in t2.read().collect()
            if r["bibcode"] == "B2"} == {2}


def test_txn_empty_result_schema_under_evolution(spark, tmp_path):
    """ADVICE r8: the zero-candidate fallback took its schema from
    ONE arbitrary live file; with schema_evolution that file may
    predate a widening merge, so the empty frame lacked the newer
    columns and downstream selects failed only on the empty-result
    path. Now the empty frame merges ALL live footers."""
    path = str(tmp_path / "t")
    evo = txn_table(spark, path, schema_evolution=True)
    evo.overwrite(_recs(spark, [("A1", 1)]))       # narrow, FIRST file
    widened = spark.createDataFrame(
        [("M1", 2, "en")], "bibcode string, v long, lang string")
    evo.merge(widened)

    # key beyond every file's range -> zero candidates
    miss = spark.createDataFrame([("ZZZ",)], "bibcode string")
    out = evo.read_for_keys(miss)
    assert evo.last_read_probe["candidate_files"] == []
    assert out.count() == 0
    assert "lang" in out.columns
    out.select("lang").collect()            # post-widening column usable

    rng = evo.read_for_range("bibcode", lo="Y0", hi="Z9")
    assert rng.count() == 0 and "lang" in rng.columns


def test_txn_compact_conflict_retry(spark, tmp_path):
    """VERDICT r7 #3: compact() commits through the same os.link CAS
    as merge but had no rebase path. Now compact(retries=N) re-runs
    against the fresh snapshot on CommitConflict — the small-file set
    re-evaluates, so a file a racing merge just rewrote is never
    referenced stale."""
    from adsmasterpipeline_spark.sinks.txnlake import CommitConflict

    path = str(tmp_path / "t")
    a = txn_table(spark, path, rows_per_file=1000)
    b = txn_table(spark, path, rows_per_file=1000)
    a.overwrite(_recs(spark, [("B1", 1)]))                   # v0
    a.merge(_recs(spark, [("B2", 2)]))                       # v1
    a.merge(_recs(spark, [("B3", 3)]))                       # v2

    stale = b._snapshot()
    orig = b._snapshot
    calls = {"n": 0}

    def stale_once(as_of=None):
        calls["n"] += 1
        if calls["n"] == 1 and as_of is None:
            return stale
        return orig(as_of)

    a.merge(_recs(spark, [("B2", 22)]))          # v3: snapshot now stale
    b._snapshot = stale_once
    with pytest.raises(CommitConflict):
        b.compact()                              # default: still raises
    calls["n"] = 0
    b._snapshot = stale_once
    v = b.compact(retries=2)                     # rebase succeeds
    assert v == 4
    rows = {r["bibcode"]: r["v"] for r in a.read().collect()}
    assert rows == {"B1": 1, "B2": 22, "B3": 3}  # racing merge's write kept
    hist = {h["version"]: h["operation"] for h in a.history()}
    assert hist[4] == "compact"


@pytest.mark.slow
def test_txn_concurrent_writers_with_compactor(spark, tmp_path):
    """The round-7 4-thread merge race extended with a COMPACTING
    writer (VERDICT r7 #3 done-criterion): merges and compacts race
    through the version CAS; every merge lands exactly once, compact
    commits interleave without losing or duplicating any row, and the
    final table equals the union of all writers' batches."""
    import threading

    path = str(tmp_path / "t")
    t0 = txn_table(spark, path, rows_per_file=1000)
    t0.overwrite(_recs(spark, [("SEED", 0)]))

    n_writers, n_batches = 3, 3
    errors: list[Exception] = []
    stop = threading.Event()

    def writer(w: int):
        try:
            t = txn_table(spark, path, rows_per_file=1000)
            for b in range(n_batches):
                rows = [(f"W{w}B{b}K{i}", w * 100 + b) for i in range(3)]
                t.merge(_recs(spark, rows), app_txn_id=f"w{w}-b{b}",
                        retries=64)
        except Exception as exc:
            errors.append(traceback.format_exc())

    def compactor():
        try:
            t = txn_table(spark, path, rows_per_file=1000)
            while not stop.is_set():
                t.compact(retries=64)
        except Exception as exc:
            errors.append(traceback.format_exc())

    threads = [threading.Thread(target=writer, args=(w,))
               for w in range(n_writers)]
    cth = threading.Thread(target=compactor)
    for th in threads:
        th.start()
    cth.start()
    for th in threads:
        th.join(timeout=600)
    stop.set()
    cth.join(timeout=600)
    assert not errors, "\n".join(str(e) for e in errors)

    t = txn_table(spark, path)
    hist = t.history()
    n_compacts = sum(1 for h in hist if h["operation"] == "compact")
    assert t.version() == n_writers * n_batches + n_compacts
    rows = {r["bibcode"]: r["v"] for r in t.read().collect()}
    expect = {"SEED": 0}
    for w in range(n_writers):
        for b in range(n_batches):
            expect.update({f"W{w}B{b}K{i}": w * 100 + b
                           for i in range(3)})
    assert rows == expect


@pytest.mark.parametrize("seed", [3, 11, 29])
@pytest.mark.slow
def test_txn_concurrent_maintenance_feed_complete_or_raises(
        spark, tmp_path, seed):
    """VERDICT r8 task 7: the thread races extended to the FULL
    lifecycle op set — merging writers race a maintenance thread that
    interleaves compact / vacuum / cleanup_log through the version
    CAS, while a change-feed reader polls ``changes()`` over sliding
    windows the whole time. The property under test is the feed's
    complete-or-refuse contract UNDER concurrency: every window the
    feed SERVES must replay the ``v_lo`` snapshot exactly into the
    ``v_hi`` snapshot (a partial or stale feed fails the replay);
    windows it cannot serve (entry cleaned by cleanup_log, pre-image
    collected by vacuum, file lost to a concurrent delete mid-scan)
    must raise — never return silently truncated rows. Afterwards the
    table must equal the deterministic union of all writers' batches,
    proving maintenance never touched live data."""
    import random
    import threading
    import time

    path = str(tmp_path / "t")
    t0 = txn_table(spark, path, checkpoint_every=3, rows_per_file=64)
    t0.overwrite(_recs(spark, [("SEED", 0)]))

    n_writers, n_batches = 2, 4
    errors: list[Exception] = []
    mismatches: list[tuple] = []
    stats = {"served_verified": 0, "refused": 0, "unverifiable": 0}
    stop = threading.Event()

    def writer(w: int):
        try:
            t = txn_table(spark, path, checkpoint_every=3,
                          rows_per_file=64)
            for b in range(n_batches):
                ups = [(f"W{w}S{i}", w * 1000 + b) for i in range(4)]
                ups += [(f"W{w}B{b}N{i}", b) for i in range(2)]
                dels = [f"W{w}B{b - 2}N0"] if b >= 2 else ["~none~"]
                t.merge(_recs(spark, ups),
                        deleted_keys=spark.createDataFrame(
                            [(k,) for k in dels], "bibcode string"),
                        app_txn_id=f"w{w}-b{b}", retries=64)
        except Exception as exc:
            errors.append(traceback.format_exc())

    def maintenance():
        # min_age_seconds=2 mirrors Delta's modification-time guard
        # (a racing writer's written-not-yet-committed files stay
        # protected) and keep_versions=10 keeps the horizon safely
        # behind any in-flight op's snapshot — Delta's retention
        # contract: vacuum below a snapshot a reader still holds can
        # fail that reader. Early pre-images still age out mid-test,
        # so the reader really hits the refusal path.
        mrng = random.Random(seed + 1)
        try:
            t = txn_table(spark, path, checkpoint_every=3,
                          rows_per_file=64)
            while not stop.is_set():
                op = mrng.choice(["compact", "vacuum", "cleanup"])
                if op == "compact":
                    t.compact(retries=64)
                elif op == "vacuum":
                    t.vacuum(keep_versions=10, min_age_seconds=2.0)
                else:
                    t.cleanup_log(keep_versions=8)
                time.sleep(0.05)
        except Exception as exc:
            errors.append(traceback.format_exc())

    def reader():
        rrng = random.Random(seed + 2)
        t = txn_table(spark, path, checkpoint_every=3,
                      rows_per_file=64)

        def state(v):
            if v < 0:
                return {}
            return {r["bibcode"]: r["v"]
                    for r in t.read(as_of=v).collect()}

        while not stop.is_set():
            v_hi = t.version()
            if v_hi < 1:
                continue
            v_lo = max(-1, v_hi - rrng.randint(1, 3))
            try:
                feed = t.changes(v_lo, v_hi).collect()
            except Exception:
                # refusal (cleaned entry / vacuumed pre-image) or a
                # mid-scan loss surfaced as a read error: the contract
                # allows raising, never a silent partial feed
                stats["refused"] += 1
                continue
            try:
                base, post = state(v_lo), state(v_hi)
            except Exception:
                # an ENDPOINT snapshot itself fell below the retention
                # horizon between serve and verify: can't judge this one
                stats["unverifiable"] += 1
                continue
            replayed = dict(base)
            for r in sorted(feed, key=lambda r: r["_commit_version"]):
                if r["_change_type"] in ("insert", "update_postimage"):
                    replayed[r["bibcode"]] = r["v"]
                elif r["_change_type"] == "delete":
                    replayed.pop(r["bibcode"], None)
            if replayed == post:
                stats["served_verified"] += 1
            else:
                mismatches.append((v_lo, v_hi, replayed, post))

    writers = [threading.Thread(target=writer, args=(w,))
               for w in range(n_writers)]
    mth = threading.Thread(target=maintenance)
    rth = threading.Thread(target=reader)
    for th in writers:
        th.start()
    mth.start()
    rth.start()
    for th in writers:
        th.join(timeout=600)
    stop.set()
    mth.join(timeout=600)
    rth.join(timeout=600)

    assert not errors, "\n".join(str(e) for e in errors)
    assert not mismatches, mismatches[:3]
    # the reader genuinely observed served feeds under concurrency
    assert stats["served_verified"] >= 1, stats

    t = txn_table(spark, path)
    rows = {r["bibcode"]: r["v"] for r in t.read().collect()}
    expect = {"SEED": 0}
    for w in range(n_writers):
        for i in range(4):
            expect[f"W{w}S{i}"] = w * 1000 + (n_batches - 1)
        for b in range(n_batches):
            expect[f"W{w}B{b}N1"] = b
            if b >= n_batches - 2:     # N0 of older batches deleted
                expect[f"W{w}B{b}N0"] = b
    assert rows == expect


def _snapshot_diff(t, v_lo, v_hi):
    """Oracle for the change feed: the full-snapshot key diff of
    read(as_of=v_lo) vs read(as_of=v_hi) — what the feed must equal
    NET of intermediate states (computed here only across adjacent
    version pairs so intermediate transitions are visible too)."""
    def rows(v):
        if v < 0:
            return {}
        try:
            return {r["bibcode"]: tuple(r) for r in
                    t.read(as_of=v).collect()}
        except FileNotFoundError:
            return {}
    out = []
    for v in range(v_lo + 1, v_hi + 1):
        a, b = rows(v - 1), rows(v)
        for k in b.keys() - a.keys():
            out.append((*b[k], "insert", v))
        for k in a.keys() - b.keys():
            out.append((*a[k], "delete", v))
        for k in a.keys() & b.keys():
            if a[k] != b[k]:
                out.append((*a[k], "update_preimage", v))
                out.append((*b[k], "update_postimage", v))
    return sorted(out)


@pytest.mark.slow
def test_txn_changes_equals_snapshot_diff(spark, tmp_path):
    """VERDICT r7 task 1 done-criterion: changes(v_lo, v_hi) equals
    the full-snapshot diff of read(as_of) pairs across overwrite /
    merge / delete / compact commits — compact emits ZERO changes —
    and the feed opens ONLY the commits' touched files (probe),
    never the table."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, rows_per_file=1000)
    t.overwrite(_recs(spark, [("B1", 1), ("B2", 2), ("C1", 3)])
                .repartition(2, "bibcode"))                      # v0
    t.merge(_recs(spark, [("B2", 22), ("D1", 4)]))               # v1
    t.merge(_recs(spark, [("E1", 5)]),
            deleted_keys=spark.createDataFrame(
                [("B1",)], "bibcode string"))                    # v2
    assert t.compact() == 3                                      # v3
    t.merge(_recs(spark, [("E1", 55), ("F1", 6)]))               # v4

    # full-range feed (from table birth) == snapshot-pair diff
    full = t.changes(-1)
    rows = full.collect()
    got = sorted(tuple(r)[:-1] for r in rows)   # drop _commit_timestamp
    assert got == _snapshot_diff(t, -1, 4)
    # compact contributed nothing
    assert not [r for r in got if r[-1] == 3]
    # every change row carries the commit's wall time (Delta CDF's
    # _commit_timestamp; version stays the ordering authority)
    assert all(r["_commit_timestamp"] is not None for r in rows)

    # sub-ranges agree too (the consumer's incremental contract)
    for lo, hi in [(0, 2), (1, 4), (2, 3), (3, 4)]:
        got = sorted(tuple(r)[:-1] for r in t.changes(lo, hi).collect())
        assert got == _snapshot_diff(t, lo, hi), (lo, hi)

    # probe: the v4 feed read only commit 4's touched files
    t.changes(3, 4).collect()
    probe = t.last_changes_probe
    assert probe["commits"] == 1
    assert 0 < len(probe["files_read"]) < probe["live_files"] + 4
    e4 = _json.load(open(os.path.join(path, "_txn", "00000004.json")))
    touched4 = {a["path"] if isinstance(a, dict) else a
                for a in e4["adds"]} | set(e4["removes"])
    assert set(probe["files_read"]) == touched4

    # empty range: zero rows, table schema + feed columns
    empty = t.changes(4, 4)
    assert empty.count() == 0
    assert {"_change_type", "_commit_version"} <= set(empty.columns)

    # survivors never masquerade as changes: a merge touching one key
    # in a multi-key file emits exactly that key's pre/post pair
    t.merge(_recs(spark, [("B2", 222)]))                         # v5
    feed5 = t.changes(4, 5).collect()
    assert sorted((r["bibcode"], r["_change_type"]) for r in feed5) == [
        ("B2", "update_postimage"), ("B2", "update_preimage")]


@pytest.mark.slow
def test_txn_changes_refuses_cleaned_or_vacuumed(spark, tmp_path):
    """CDF retention contract (Delta parity): the feed needs the
    range's log entries AND data files — cleanup_log'd entries or
    vacuumed pre-image files raise instead of yielding a partial
    feed. Bounds are validated."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, checkpoint_every=3)
    t.overwrite(_recs(spark, [("B0", 0)]))
    for i in range(1, 8):                                  # v1..v7
        t.merge(_recs(spark, [(f"B{i}", i)]))
    with pytest.raises(ValueError, match="v_lo <= v_hi"):
        t.changes(5, 2)
    with pytest.raises(ValueError, match="latest committed"):
        t.changes(0, 99)

    t.cleanup_log()                        # entries <= cp 6 removed
    with pytest.raises(ValueError, match="cleanup_log"):
        t.changes(1, 7)
    assert t.changes(6, 7).count() == 1    # surviving tail still feeds

    path2 = str(tmp_path / "t2")
    t2 = txn_table(spark, path2)
    t2.overwrite(_recs(spark, [("B1", 1)]))                # v0
    t2.merge(_recs(spark, [("B1", 2)]))                    # v1 rewrites v0's file
    t2.merge(_recs(spark, [("B1", 3)]))                    # v2
    t2.vacuum(keep_versions=2, min_age_seconds=0)          # v0 file gone
    with pytest.raises(ValueError, match="vacuum"):
        t2.changes(0, 2)
    assert t2.changes(1, 2).count() == 2   # pre+post pair survives


def test_txn_changes_schema_evolution(spark, tmp_path):
    """Feed across a widening merge: pre-images from narrow files
    surface the new column as null; change rows carry the widened
    schema."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, schema_evolution=True)
    t.overwrite(_recs(spark, [("B1", 1), ("B2", 2)]))      # v0 narrow
    widened = spark.createDataFrame(
        [("B2", 22, "en"), ("B3", 3, "de")],
        "bibcode string, v long, lang string")
    t.merge(widened)                                       # v1 widens
    feed = {(r["bibcode"], r["_change_type"]): (r["v"], r["lang"])
            for r in t.changes(0, 1).collect()}
    assert feed == {
        ("B2", "update_preimage"): (2, None),
        ("B2", "update_postimage"): (22, "en"),
        ("B3", "insert"): (3, "de"),
    }


def test_lost_file_error_classifier():
    """ADVICE r10: the rebase trigger matches on exception TYPE plus
    cause chain — a non-Spark exception merely embedding
    'FileNotFoundException' in its message must not be treated as a
    stale-snapshot race, while Python's own FileNotFoundError (the
    listdir-vs-open race) and Spark's missing-path classes must."""
    from pyspark.errors import AnalysisException

    from adsmasterpipeline_spark.sinks.txnlake import (
        TableStateError, _is_lost_file_error,
    )

    assert _is_lost_file_error(FileNotFoundError("[Errno 2] gone"))
    assert not _is_lost_file_error(TableStateError("no data"))
    assert not _is_lost_file_error(
        ValueError("log mentions FileNotFoundException verbatim"))
    assert not _is_lost_file_error(RuntimeError("PATH_NOT_FOUND-ish"))
    wrapped = RuntimeError("outer")
    wrapped.__cause__ = FileNotFoundError("inner gone")
    assert _is_lost_file_error(wrapped)
    assert _is_lost_file_error(
        AnalysisException("[PATH_NOT_FOUND] Path does not exist: x"))
    assert not _is_lost_file_error(
        AnalysisException("[UNRESOLVED_COLUMN] nope"))


def test_snapshot_retries_listdir_open_race(spark, tmp_path):
    """The round-10 maintenance-race flake distilled: _entry_files()
    lists the log, a concurrent cleanup_log unlinks an entry before
    the fold opens it — a raw FileNotFoundError from a healthy table.
    _snapshot must re-list and converge instead of surfacing the
    race (which no caller's rebase trigger used to match)."""
    t = txn_table(spark, str(tmp_path / "t"), checkpoint_every=2)
    t.overwrite(_recs(spark, [("A", 1)]))
    t.merge(_recs(spark, [("B", 2)]))
    t.merge(_recs(spark, [("C", 3)]))

    real = t._entry_files()
    calls = {"n": 0}

    def racing():
        calls["n"] += 1
        if calls["n"] == 1:
            ghost = os.path.join(t._log_dir(), "00000099.json")
            return real + [(99, ghost)]   # listed, then unlinked
        return real

    t._entry_files = racing
    snap = t._snapshot()
    assert calls["n"] == 2                # first fold lost the race
    assert snap.version == 2
    rows = {r["bibcode"]: r["v"] for r in t.read().collect()}
    assert rows == {"A": 1, "B": 2, "C": 3}

    # a PERSISTENTLY missing file still raises (bounded retry, no
    # infinite loop on real corruption)
    calls["broken"] = True

    def always_ghost():
        ghost = os.path.join(t._log_dir(), "00000099.json")
        return real + [(99, ghost)]

    t._entry_files = always_ghost
    with pytest.raises(FileNotFoundError):
        t._snapshot()


def test_delete_on_empty_table_refuses_without_burning_retries(
        spark, tmp_path):
    """The deliberate no-committed-data refusal subclasses
    FileNotFoundError for the caller contract but is NOT a
    stale-snapshot race: a retry budget must not rebase on it."""
    t = txn_table(spark, str(tmp_path / "t"))
    calls = {"n": 0}
    orig = t._snapshot

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    t._snapshot = counting
    with pytest.raises(FileNotFoundError):
        t.delete(keys=_recs(spark, [("A", 1)]).select("bibcode"),
                 retries=5)
    assert calls["n"] == 1                # refused once, no rebase


def test_predicate_pruning_soundness_fuzz():
    """Pure-python soundness fuzz of the delete(where=) interval
    parser: a file is NEVER pruned while a row in its [min, max]
    range could match (2k random conjunct/disjunct predicates vs
    brute-force row evaluation), unparseable shapes all fall back to
    'keep every file', and ISO datetime boundaries stay sound."""
    import random

    from adsmasterpipeline_spark.sinks.txnlake import (
        _parse_predicate, _pred_may_match,
    )

    rng = random.Random(7)
    ops = {"=": lambda a, b: a == b, "!=": lambda a, b: a != b,
           "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
           ">": lambda a, b: a > b, ">=": lambda a, b: a >= b}
    for _ in range(2000):
        mn = rng.randint(-50, 50)
        mx = mn + rng.randint(0, 30)
        rows = [mn, mx] + [rng.randint(mn, mx) for _ in range(3)]
        preds = [("k", rng.choice(list(ops)), rng.randint(-60, 60))
                 for _ in range(rng.randint(1, 3))]
        conj = rng.choice([" AND ", " OR "])
        sql = conj.join(f"k {op} {lit}" for _, op, lit in preds)
        node = _parse_predicate(sql)
        assert node is not None, sql
        may = _pred_may_match(node, lambda c: (mn, mx))
        if conj == " AND ":
            truth = any(all(ops[op](r, lit) for _, op, lit in preds)
                        for r in rows)
        else:
            truth = any(ops[op](r, lit) for r in rows
                        for _, op, lit in preds)
        assert may or not truth, f"unsound prune: {sql} [{mn},{mx}]"

    for s in ("f(k) = 3", "NOT k = 3", "k IS NULL", "k = other_col",
              "k LIKE 'a%'", "k + 1 = 3", "k IN (1, 2", "k BETWEEN 1",
              "", "k = 3 extra", "k == == 3"):
        assert _parse_predicate(s) is None, s

    stat = lambda c: ("2020-01-01 00:00:00.000000",       # noqa: E731
                      "2020-06-01 00:00:00.000000")
    n = _parse_predicate("updated <= TIMESTAMP '2020-01-01 00:00:00'")
    assert _pred_may_match(n, stat)    # boundary instant: candidate
    assert not _pred_may_match(
        _parse_predicate("updated <= '2019-12-31'"), stat)
    assert _pred_may_match(
        _parse_predicate("updated >= '2020-06-01'"), stat)
    # IN / BETWEEN shapes
    assert _pred_may_match(
        _parse_predicate("k IN (99, -3)"), lambda c: (-5, 0))
    assert not _pred_may_match(
        _parse_predicate("k IN (99, 100)"), lambda c: (-5, 0))
    assert _pred_may_match(
        _parse_predicate("k BETWEEN -1 AND 99"), lambda c: (-5, 0))
    assert not _pred_may_match(
        _parse_predicate("k BETWEEN 1 AND 99"), lambda c: (-5, 0))


def test_vacuum_protects_inflight_staged_dirs(spark, tmp_path):
    """The round-10/11 maintenance-race flake's root cause: a writer
    slower than ``min_age_seconds`` between staging its data files
    and publishing its commit lost them to a concurrent vacuum (the
    mtime guard is a heuristic, not a guarantee). Staged commit/DV
    dirs encode their target version; vacuum must protect any dir
    staged ABOVE the committed latest (its commit can still land) no
    matter how old — and may collect it once the version is taken
    (its writer can only ever CommitConflict)."""
    path = str(tmp_path / "t")
    t = txn_table(spark, path, key="id")
    df = spark.range(10).select("id", (F.col("id") * 2).alias("v"))
    t.overwrite(df)                                   # latest = 0

    # stage an in-flight attempt for version 1, then age it far past
    # any retention window
    adds = t._write_data(df, 1)
    assert adds
    staged = {os.path.join(path, a["path"]) for a in adds}
    for p in staged | {os.path.dirname(next(iter(staged)))}:
        os.utime(p, (1, 1))
    t.vacuum(keep_versions=1, min_age_seconds=0)
    assert all(os.path.exists(p) for p in staged), \
        "vacuum collected an in-flight staged dir above latest"
    # its commit can indeed still land
    t._commit(1, adds, [], "merge", None)
    assert {r["id"] for r in t.read().collect()} == set(range(10))

    # a staged dir AT OR BELOW latest is doomed (version taken):
    # collectable once aged
    orphan = t._write_data(df, 1)                 # latest is already 1
    opaths = {os.path.join(path, a["path"]) for a in orphan}
    for p in opaths | {os.path.dirname(next(iter(opaths)))}:
        os.utime(p, (1, 1))
    deleted = t.vacuum(keep_versions=1, min_age_seconds=0)
    assert {a["path"] for a in orphan} <= set(deleted)


def test_lost_file_error_matches_empty_staged_dir(spark, tmp_path):
    """A read.parquet over a dir whose files a concurrent vacuum
    collected raises UNABLE_TO_INFER_SCHEMA — the lost-input shape
    when the directory itself survives. It must classify as a
    rebase trigger (round-11 flake hardening)."""
    from adsmasterpipeline_spark.sinks.txnlake import \
        _is_lost_file_error
    d = str(tmp_path / "hollow")
    os.makedirs(d)
    open(os.path.join(d, "_SUCCESS"), "w").close()
    try:
        spark.read.parquet(d).collect()
        raise AssertionError("expected an analysis error")
    except Exception as exc:
        assert _is_lost_file_error(exc), exc
