"""TxnTable DELETE: ``delete(keys=|where=)`` is a copy-on-write
rewrite of the files holding a matching row — the same rewrite step a
MERGE takes, with no upserts. Files without a matching row are kept
byte-identical; the change feed reports each deleted row once, at the
version that deleted it.

Reference analogue: the reference deletes records with ``MERGE ...
WHEN MATCHED DELETE`` and ``DELETE FROM records WHERE ...``
(adsmp/app.py:242-259 in the reference).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adsmasterpipeline_spark.sinks.txnlake import txn_table

from test_txnlake import _file_hashes


def _ids(spark, vals):
    return spark.createDataFrame([(int(v),) for v in vals], "id long")


def _table(spark, path, n=100, rows_per_file=25, **kw):
    t = txn_table(spark, str(path), key="id", cluster_writes=True,
                  rows_per_file=rows_per_file, **kw)
    df = spark.range(n).select(F.col("id"),
                               (F.col("id") * 2).alias("v"))
    assert t.overwrite(df) == 0
    return t


def _entry(t, v):
    return t._load_json(dict(t._entry_files())[v])


def _feed_counts(t, lo):
    return {(r["_commit_version"], r["_change_type"]): r["n"]
            for r in t.changes(lo).groupBy(
                "_commit_version", "_change_type")
            .agg(F.count(F.lit(1)).alias("n")).collect()}


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    """A key-batch delete removes exactly the files holding a deleted
    key and adds their survivors; every other file stays
    byte-identical, the candidate pruning engages, and the entry
    records its keys like a merge."""
    t = _table(spark, tmp_path / "t")
    before = _file_hashes(t.path)
    v = t.delete(keys=_ids(spark, [3, 42, 77]))
    assert v == 1
    e = _entry(t, 1)
    assert e["operation"] == "delete" and e["keys"] == [3, 42, 77]
    assert len(e["removes"]) == 3
    assert (sum(e["remove_stats"].values())
            - sum(a["rows"] for a in e["adds"])) == 3
    after = _file_hashes(t.path)
    kept = set(before) - set(e["removes"])
    assert {p: after[p] for p in kept} == {p: before[p] for p in kept}
    assert set(t.live_files()) == kept | {a["path"] for a in e["adds"]}
    probe = t.last_delete_probe
    assert len(probe["candidate_files"]) < probe["live_files"]
    assert sorted(probe["touched_files"]) == sorted(e["removes"])
    got = sorted(r["id"] for r in t.read().collect())
    assert got == sorted(set(range(100)) - {3, 42, 77})
    assert t.read(as_of=0).count() == 100       # time travel intact


def test_delete_keys_equals_merge_delete(spark, tmp_path, monkeypatch):
    """``delete(keys=K)`` and ``merge(<empty>, deleted_keys=K)`` on the
    same seeded table leave equal rows and equal change feeds; the
    delete never goes through the public ``merge``."""
    import random

    rng = random.Random(5)
    keys = sorted(rng.sample(range(200), 17)) + [1000]  # one absent
    a = _table(spark, tmp_path / "a", n=200, rows_per_file=40)
    b = _table(spark, tmp_path / "b", n=200, rows_per_file=40)

    def no_merge(*_a, **_k):
        raise AssertionError("delete() called merge()")

    monkeypatch.setattr(a, "merge", no_merge)
    assert a.delete(keys=_ids(spark, keys)) == 1
    monkeypatch.undo()
    empty = spark.createDataFrame([], "id long, v long")
    assert b.merge(empty, deleted_keys=_ids(spark, keys)) == 1

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(a.read()) == rows(b.read())
    assert rows(a.changes(0).drop("_commit_timestamp")) == \
        rows(b.changes(0).drop("_commit_timestamp"))
    assert a.changes(0).count() == 17
    assert _entry(a, 1)["keys"] == _entry(b, 1)["keys"]


def test_delete_where_null_semantics(spark, tmp_path):
    """A predicate delete keeps a row whose predicate is NULL and
    deletes a null-key row that matches — for a SQL string and a
    Column alike; a key delete never matches a null key."""
    rows = [(1, 1), (2, 9), (3, None), (None, 7), (None, 2), (4, 6)]
    for i, where in enumerate(("v > 5", F.col("v") > 5)):
        t = txn_table(spark, str(tmp_path / f"t{i}"), key="id")
        t.overwrite(spark.createDataFrame(rows, "id long, v long"))
        assert t.delete(where=where) == 1
        got = sorted((r["id"] is None, r["id"], r["v"] is None, r["v"])
                     for r in t.read().collect())
        assert got == [(False, 1, False, 1), (False, 3, True, None),
                       (True, None, False, 2)]
        feed = sorted((r["id"], r["v"]) for r in t.changes(0).collect())
        # the feed never emits null keys: the deleted null-key row
        # is the one delete it leaves out
        assert feed == [(2, 9), (4, 6)]
    t = txn_table(spark, str(tmp_path / "k"), key="id")
    t.overwrite(spark.createDataFrame(rows, "id long, v long"))
    assert t.delete(keys=spark.createDataFrame(
        [(None,), (1,)], "id long")) == 1
    assert t.read().where("id IS NULL").count() == 2
    assert t.read().count() == 5


def test_delete_overlapping_deletes_and_feed_exactly_once(spark,
                                                          tmp_path):
    """A second delete overlapping the first deletes only the rows
    still present, and the change feed reports each row's deletion
    exactly once, at the version that deleted it."""
    t = _table(spark, tmp_path / "t")
    t.delete(keys=_ids(spark, range(0, 20)))            # v1
    t.delete(where="id < 30")                           # v2: 10 new
    e = _entry(t, 2)
    assert (sum(e["remove_stats"].values())
            - sum(a["rows"] for a in e["adds"])) == 10
    # every field the delete entry carries has a reader: the fold,
    # the feed and vacuum (adds, removes), cli lake delete
    # (remove_stats); a predicate delete records no keys
    assert set(e) == {"version", "operation", "ts_ms", "adds", "removes",
                      "remove_stats"}
    assert t.read().count() == 70
    assert _feed_counts(t, 0) == {(1, "delete"): 20, (2, "delete"): 10}
    ids_v2 = sorted(r["id"] for r in t.changes(1, 2).collect())
    assert ids_v2 == list(range(20, 30))


def test_delete_full_file_death_drops_the_file(spark, tmp_path):
    """When every remaining row of a file is deleted the file is
    removed with no add in its place, and the rows an earlier delete
    took do not re-report in the feed."""
    t = _table(spark, tmp_path / "t", n=50, rows_per_file=25)  # 2 files
    t.delete(keys=_ids(spark, range(0, 10)))             # v1: rewrite
    v = t.delete(where="id < 25")                        # v2: file dies
    e = _entry(t, 2)
    assert len(e["removes"]) == 1 and e["adds"] == []
    assert list(e["remove_stats"].values()) == [15]
    assert t.read().count() == 25
    assert len(t.live_files()) == 1
    assert _feed_counts(t, 0) == {(1, "delete"): 10, (2, "delete"): 15}
    assert v == 2


def test_delete_idempotent_replay_and_noop(spark, tmp_path):
    """app_txn_id replay is a no-op, and a delete that matches
    nothing commits nothing (no empty commits)."""
    t = _table(spark, tmp_path / "t")
    v = t.delete(keys=_ids(spark, [1, 2]), app_txn_id="epoch-9")
    assert v == 1
    assert t.delete(keys=_ids(spark, [3, 4]), app_txn_id="epoch-9") == 1
    assert t.read().count() == 98
    assert t.delete(keys=_ids(spark, [100000])) == 1     # no match
    assert t.delete(where="v < 0") == 1                  # no match
    assert t.version() == 1
    with pytest.raises(ValueError, match="exactly one"):
        t.delete()
    with pytest.raises(ValueError, match="exactly one"):
        t.delete(keys=_ids(spark, [1]), where="v > 0")


def test_delete_read_for_range_and_keys(spark, tmp_path):
    """The stat-pruned point and range reads see the delete."""
    t = _table(spark, tmp_path / "t")
    t.delete(keys=_ids(spark, [10, 11]))
    got = sorted(r["id"] for r in
                 t.read_for_keys(_ids(spark, [10, 11, 12])).collect())
    assert got == [12]
    rng = sorted(r["id"] for r in
                 t.read_for_range("id", 9, 13).collect())
    assert rng == [9, 12, 13]


def test_delete_where_stat_pruned(spark, tmp_path):
    """A stat-checkable predicate delete prunes candidate files
    against the per-file [min, max] ranges instead of scanning every
    live file — with rescan-equality parity against the unpruned
    result."""
    t = _table(spark, tmp_path / "t", n=400, rows_per_file=50)  # 8 files
    v = t.delete(where="id >= 100 AND id < 150")
    assert v == 1
    probe = t.last_delete_probe
    assert probe["live_files"] == 8
    assert len(probe["candidate_files"]) < probe["live_files"]
    assert len(probe["candidate_files"]) <= 2   # clustered: 1 file +
    got = sorted(r["id"] for r in t.read().collect())
    assert got == sorted(set(range(400)) - set(range(100, 150)))

    # richer shapes prune too; unparseable ones fall back to all files
    t.delete(where="id IN (200, 201) OR id BETWEEN 390 AND 391")
    assert len(t.last_delete_probe["candidate_files"]) <= 3
    got = sorted(r["id"] for r in t.read().collect())
    assert got == sorted(set(range(400)) - set(range(100, 150))
                         - {200, 201, 390, 391})
    t.delete(where="pmod(id, 400) = 399")        # function: no pruning
    probe = t.last_delete_probe                  # all LIVE files scanned
    assert len(probe["candidate_files"]) == probe["live_files"]
    assert t.read().count() == 400 - 50 - 4 - 1


def test_merge_rebases_on_vacuumed_candidate(spark, tmp_path):
    """A writer whose snapshot went stale past the retention horizon
    can plan a read of a file a concurrent vacuum collected (found by
    the 3-thread maintenance race at high contention). With a retry
    budget the merge must RE-PLAN against a fresh snapshot — the same
    rebase Delta's conflict protocol does — and other refusals must
    NOT be swallowed by the new retry arm."""
    t = _table(spark, tmp_path / "t")
    orig = t._prune_candidates
    calls = {"n": 0}

    def ghosting(live, affected):
        out = orig(live, affected)
        calls["n"] += 1
        if calls["n"] == 1:
            # a candidate whose file a racing vacuum just unlinked
            return out + ["data/commit-00000000-dead0000/gone.parquet"]
        return out

    t._prune_candidates = ghosting
    upd = spark.createDataFrame([(1, 111)], "id long, v long")
    assert t.merge(upd, retries=2) == 1
    assert calls["n"] >= 2             # first attempt lost, re-planned
    assert t.read().where("id = 1").collect()[0]["v"] == 111

    # without a budget the loss surfaces (raise, never silent)
    calls["n"] = 0
    with pytest.raises(Exception, match="PATH_NOT_FOUND|not exist"):
        t.merge(spark.createDataFrame([(2, 222)], "id long, v long"))

    # the retry arm is NARROW: a drifted batch's schema refusal
    # raises through it on the first attempt, committing nothing
    from pyspark.errors import AnalysisException

    def counting(live, affected):
        calls["n"] += 1
        return orig(live, affected)

    t._prune_candidates = counting
    calls["n"] = 0
    v0 = t.version()
    with pytest.raises(AnalysisException):
        t.merge(spark.createDataFrame([(3, "x")], "id long, w string"),
                retries=3)
    assert calls["n"] == 1 and t.version() == v0

    # delete() gets the same rebase
    t._prune_candidates = ghosting
    calls["n"] = 0
    v0 = t.version()
    assert t.delete(keys=_ids(spark, [5]), retries=2) == v0 + 1
    assert calls["n"] >= 2

