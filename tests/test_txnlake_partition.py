"""Hive-style partition columns + dynamic partition overwrite
(Delta's ``partitionedBy`` / ``replaceWhere``, VLDB'20 + public Delta
docs) for TxnTable. Every data file holds exactly ONE combination of
partition values (writer-enforced, stats-verified), the values ride
the per-file stats as exact point ranges so every stat-pruning path
prunes partitions for free, and ``overwrite(replace_where=...)``
atomically swaps out exactly the matching partitions' files.

Reference analogue: the reference re-ingests a bibcode list by
re-running the whole pipeline over it (/root/reference/run.py); the
partitioned lake replaces one source shard in O(that partition).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from adsmasterpipeline_spark.sinks.txnlake import txn_table

from test_txnlake import _file_hashes


def _ptable(spark, tmp_path, **kw):
    t = txn_table(spark, str(tmp_path / "t"), key="id",
                  partition_by=("seg",), cluster_writes=True,
                  rows_per_file=50, **kw)
    df = spark.range(90).select(
        "id",
        F.element_at(F.array(F.lit("A"), F.lit("B"), F.lit("C")),
                     (F.col("id") % 3 + 1).cast("int")).alias("seg"),
        (F.col("id") * 10).alias("v"))
    assert t.overwrite(df) == 0
    return t


def test_partition_files_are_pure_and_record_values(spark, tmp_path):
    t = _ptable(spark, tmp_path)
    snap = t._snapshot()
    vals = set()
    for p, s in snap.live.items():
        part = s["part"]
        assert set(part) == {"seg"}
        vals.add(part["seg"])
        # the file really holds only its recorded value
        distinct = (spark.read.parquet(os.path.join(t.path, p))
                    .select("seg").distinct().collect())
        assert [r["seg"] for r in distinct] == [part["seg"]]
        # and the mirrored column stats are the point range
        assert s["cols"]["seg"]["mn"] == s["cols"]["seg"]["mx"] \
            == part["seg"]
    assert vals == {"A", "B", "C"}


def test_read_where_prunes_to_one_partition(spark, tmp_path):
    t = _ptable(spark, tmp_path)
    got = {r["id"] for r in t.read_where("seg = 'B'").collect()}
    assert got == {i for i in range(90) if i % 3 == 1}
    probe = t.last_read_probe
    snap = t._snapshot()
    expect = sorted(p for p, s in snap.live.items()
                    if s["part"]["seg"] == "B")
    assert probe["candidate_files"] == expect
    assert len(probe["candidate_files"]) < probe["live_files"]


def test_replace_where_swaps_exactly_one_partition(spark, tmp_path):
    t = _ptable(spark, tmp_path)
    before = _file_hashes(t.path)
    snap0 = t._snapshot()
    keep = {p for p, s in snap0.live.items()
            if s["part"]["seg"] != "B"}
    newb = spark.createDataFrame(
        [(1000 + i, "B", -1) for i in range(5)],
        "id long, seg string, v long")
    assert t.overwrite(newb, replace_where="seg = 'B'") == 1
    # untouched partitions' files survive byte-identical
    after = _file_hashes(t.path)
    snap1 = t._snapshot()
    assert keep <= set(snap1.live)
    for p in keep:
        assert after[p] == before[p]
    # old B files are gone from the live set, new ones carry B only
    assert all(snap1.live[p]["part"]["seg"] == "B"
               for p in set(snap1.live) - keep)
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    expect = {i: i * 10 for i in range(90) if i % 3 != 1}
    expect.update({1000 + i: -1 for i in range(5)})
    assert rows == expect


def test_replace_where_feed_is_deletes_plus_inserts(spark, tmp_path):
    t = _ptable(spark, tmp_path)
    newb = spark.createDataFrame(
        [(1000, "C", 7)], "id long, seg string, v long")
    v = t.overwrite(newb, replace_where="seg = 'C'")
    feed = t.changes(v - 1, v).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], set()).add(r["id"])
    assert by_type["delete"] == {i for i in range(90) if i % 3 == 2}
    assert by_type["insert"] == {1000}
    assert set(by_type) == {"delete", "insert"}


def test_replace_where_refuses_rows_outside_predicate(spark, tmp_path):
    t = _ptable(spark, tmp_path)
    v0 = t.version()
    bad = spark.createDataFrame(
        [(1000, "B", 0), (1001, "A", 0)],
        "id long, seg string, v long")
    with pytest.raises(ValueError, match="replace_where"):
        t.overwrite(bad, replace_where="seg = 'B'")
    assert t.version() == v0
    # the refused write leaves no orphan staged files
    dirs = {os.path.dirname(p) for p in t._snapshot().live}
    on_disk = {os.path.join("data", d)
               for d in os.listdir(os.path.join(t.path, "data"))}
    assert on_disk == dirs


def test_replace_where_refuses_non_partition_predicate(spark, tmp_path):
    t = _ptable(spark, tmp_path)
    b = spark.createDataFrame([(1, "B", 0)],
                              "id long, seg string, v long")
    with pytest.raises(ValueError, match="only partition columns"):
        t.overwrite(b, replace_where="v = 1")
    with pytest.raises(ValueError, match="statically checkable"):
        t.overwrite(b, replace_where="length(seg) = 1")
    # unpartitioned table refuses outright
    t2 = txn_table(spark, str(tmp_path / "u"), key="id")
    t2.overwrite(spark.range(3).select("id"))
    with pytest.raises(ValueError, match="partitioned table"):
        t2.overwrite(spark.range(3).select("id"),
                     replace_where="id = 1")


def test_replace_where_compound_predicates(spark, tmp_path):
    t = _ptable(spark, tmp_path)
    newb = spark.createDataFrame(
        [(2000, "A", 1), (2001, "C", 1)],
        "id long, seg string, v long")
    v = t.overwrite(newb, replace_where="seg IN ('A', 'C')")
    rows = {r["id"] for r in t.read().collect()}
    assert rows == ({i for i in range(90) if i % 3 == 1}
                    | {2000, 2001})
    # != form: replace everything that is not B
    snap = t._snapshot()
    assert all(s["part"]["seg"] == "B" or s["part"]["seg"] in
               ("A", "C") for s in snap.live.values())
    v2 = t.overwrite(newb, replace_where="seg != 'B'")
    assert v2 == v + 1
    rows = {r["id"] for r in t.read().collect()}
    assert rows == ({i for i in range(90) if i % 3 == 1}
                    | {2000, 2001})


def test_null_partition_value_round_trips(spark, tmp_path):
    t = txn_table(spark, str(tmp_path / "t"), key="id",
                  partition_by=("seg",))
    df = spark.createDataFrame(
        [(0, "A", 1), (1, None, 2), (2, None, 3)],
        "id long, seg string, v long")
    t.overwrite(df)
    snap = t._snapshot()
    nulls = [p for p, s in snap.live.items()
             if s["part"]["seg"] is None]
    assert nulls
    got = {(r["id"], r["seg"], r["v"]) for r in t.read().collect()}
    assert got == {(0, "A", 1), (1, None, 2), (2, None, 3)}
    # comparisons never match NULL: the null partition survives a
    # replace, and a null-seg batch row is refused (NULL violates)
    t.overwrite(spark.createDataFrame([(10, "A", 9)],
                                      "id long, seg string, v long"),
                replace_where="seg = 'A'")
    got = {r["id"] for r in t.read().collect()}
    assert got == {1, 2, 10}
    with pytest.raises(ValueError, match="replace_where"):
        t.overwrite(
            spark.createDataFrame([(11, None, 9)],
                                  "id long, seg string, v long"),
            replace_where="seg = 'A'")


def test_replace_where_idempotent_replay(spark, tmp_path):
    t = _ptable(spark, tmp_path)
    newb = spark.createDataFrame([(1000, "B", -1)],
                                 "id long, seg string, v long")
    v = t.overwrite(newb, replace_where="seg = 'B'",
                    app_txn_id="rw-1")
    assert t.overwrite(newb, replace_where="seg = 'B'",
                       app_txn_id="rw-1") == v
    assert t.version() == v
    assert t.read().where("seg = 'B'").count() == 1


def test_merge_and_compact_preserve_partition_purity(spark, tmp_path):
    t = _ptable(spark, tmp_path)
    ups = spark.createDataFrame(
        [(1, "B", 111), (3000, "A", 5), (3001, "C", 6)],
        "id long, seg string, v long")
    t.merge(ups)
    t.compact(small_rows_threshold=10_000)   # bin-pack everything
    snap = t._snapshot()
    for p, s in snap.live.items():
        part = s["part"]
        distinct = (spark.read.parquet(os.path.join(t.path, p))
                    .select("seg").distinct().collect())
        assert [r["seg"] for r in distinct] == [part["seg"]]
    rows = {r["id"]: (r["seg"], r["v"]) for r in t.read().collect()}
    assert rows[1] == ("B", 111)
    assert rows[3000] == ("A", 5) and rows[3001] == ("C", 6)
    assert len(rows) == 92


def test_replace_where_refuses_unpartitioned_history(spark, tmp_path):
    """Files written BEFORE partition_by have no part values: a
    replace_where over them must refuse (file-granular replacement
    would be unsound), not guess."""
    path = str(tmp_path / "t")
    t0 = txn_table(spark, path, key="id")
    t0.overwrite(spark.createDataFrame(
        [(0, "A", 1)], "id long, seg string, v long"))
    t1 = txn_table(spark, path, key="id", partition_by=("seg",))
    with pytest.raises(ValueError, match="no partition values"):
        t1.overwrite(spark.createDataFrame(
            [(1, "A", 2)], "id long, seg string, v long"),
            replace_where="seg = 'A'")


def test_partition_by_rejects_key_and_reserved(spark, tmp_path):
    with pytest.raises(ValueError, match="table key"):
        txn_table(spark, str(tmp_path / "a"), key="id",
                  partition_by=("id",))
    with pytest.raises(ValueError, match="deletion-vector"):
        txn_table(spark, str(tmp_path / "b"), key="id",
                  partition_by=("_dv_file",))


def test_partitioned_write_requires_partition_columns(spark, tmp_path):
    t = txn_table(spark, str(tmp_path / "t"), key="id",
                  partition_by=("seg",))
    with pytest.raises(ValueError, match="missing partition column"):
        t.overwrite(spark.range(3).select("id"))


def test_partitioned_dv_delete_and_restore(spark, tmp_path):
    """Deletion vectors compose with partitioning: a DV delete masks
    rows inside partition-pure files without rewriting them, and the
    partition metadata survives restore."""
    t = _ptable(spark, tmp_path)
    before = _file_hashes(t.path)
    assert t.delete(where="v >= 600") == 1
    after = _file_hashes(t.path)
    assert all(after[p] == h for p, h in before.items())  # no rewrite
    got = {r["id"] for r in t.read_where("seg = 'A'").collect()}
    assert got == {i for i in range(90) if i % 3 == 0 and i * 10 < 600}
    t.restore(0)
    assert t.read().count() == 90
    assert all(s["part"]["seg"] in ("A", "B", "C")
               for s in t._snapshot().live.values())


def test_partitioning_is_table_metadata(spark, tmp_path):
    """The partition declaration lives in the LOG (Delta's
    metaData.partitionColumns): a handle reopened WITHOUT
    partition_by adopts it (and keeps writing partition-pure files),
    a conflicting handle refuses, and the declaration survives
    checkpoints + cleanup_log."""
    path = str(tmp_path / "t")
    _ptable(spark, tmp_path)                  # declares ("seg",)

    t2 = txn_table(spark, path, key="id")     # no partition_by
    ups = spark.createDataFrame(
        [(5000, "A", 1), (5001, "C", 2)],
        "id long, seg string, v long")
    t2.merge(ups)
    assert t2.partition_by == ("seg",)        # adopted at op time
    snap = t2._snapshot()
    new_files = [p for p, s in snap.live.items()
                 if s["part"]["seg"] in ("A", "C")
                 and s.get("rows") == 1]
    assert new_files                          # merge wrote pure files

    t3 = txn_table(spark, path, key="id", partition_by=("v",))
    with pytest.raises(ValueError, match="partitioned by"):
        t3.merge(ups)
    # ... but a FULL overwrite may re-partition
    assert t3.overwrite(ups) > 0
    assert txn_table(spark, path, key="id").read_where(
        "v = 1").count() == 1
    t4 = txn_table(spark, path, key="id")
    t4.merge(spark.createDataFrame([(1, "B", 2)],
                                   "id long, seg string, v long"))
    assert t4.partition_by == ("v",)


@pytest.mark.slow
def test_partition_declaration_survives_cleanup_log(spark, tmp_path):
    path = str(tmp_path / "t")
    t = txn_table(spark, path, key="id", partition_by=("seg",),
                  checkpoint_every=2)
    df = spark.createDataFrame([(0, "A", 1)],
                               "id long, seg string, v long")
    t.overwrite(df)
    for i in range(4):
        t.merge(spark.createDataFrame([(i + 1, "B", i)],
                                      "id long, seg string, v long"))
    t.cleanup_log(keep_versions=1)
    t5 = txn_table(spark, path, key="id")
    t5.merge(spark.createDataFrame([(99, "C", 9)],
                                   "id long, seg string, v long"))
    assert t5.partition_by == ("seg",)
    snap = t5._snapshot()
    assert snap.partition_by == ("seg",)
    assert all(s.get("part", {}).get("seg") in ("A", "B", "C")
               for s in snap.live.values() if s.get("rows") == 1)


@pytest.mark.parametrize("seed", [5, 17])
@pytest.mark.slow
def test_txn_partitioned_lifecycle_matches_model(spark, tmp_path, seed):
    """The randomized lifecycle model test, PARTITIONED: a seeded
    random sequence of merge / dv_delete /
    replace_where / compact / vacuum / cleanup_log / restore ops on a
    table partitioned by a derived segment column must (a) keep the
    table equal to a plain dict model after every step, (b) keep
    EVERY live file partition-pure with recorded part values, and
    (c) serve every step's change feed as exactly the model diff —
    proving the round-11 feature composes with the whole lifecycle,
    not just the scripted oracle paths."""
    import random

    rng = random.Random(seed)
    path = str(tmp_path / "t")
    segs = ["A", "B", "C"]

    def seg_of(k: str) -> str:
        return segs[int(k[1:]) % 3]

    def recs(pairs):
        return spark.createDataFrame(
            [(k, seg_of(k), int(v)) for k, v in pairs],
            "bibcode string, seg string, v long")

    t = txn_table(spark, path, checkpoint_every=3,
                  cluster_writes=bool(seed % 2), rows_per_file=64,
                  partition_by=("seg",))
    keys = [f"K{i:03d}" for i in range(40)]
    model: dict[str, int] = {}
    t.overwrite(recs([(k, 0) for k in keys[:12]]))
    model.update({k: 0 for k in keys[:12]})
    models_by_version = {t.version(): dict(model)}

    def check():
        if model:
            got = {r["bibcode"]: (r["seg"], r["v"])
                   for r in t.read().collect()}
            assert got == {k: (seg_of(k), v)
                           for k, v in model.items()}
        else:
            try:
                assert t.read().count() == 0
            except FileNotFoundError:
                pass
        snap = t._snapshot()
        for p, s in snap.live.items():
            part = (s or {}).get("part")
            assert part and part["seg"] in segs, (p, s)

    def check_feed(v_before, prev_model):
        v_after = t.version()
        if v_after <= v_before:
            return
        try:
            feed = t.changes(v_before, v_after).collect()
        except (ValueError, FileNotFoundError):
            return                      # retention refusal: allowed
        got = {(r["bibcode"], r["_change_type"]): r["v"]
               for r in feed}
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

    for step in range(12):
        op = rng.choice(["merge", "merge", "dv_delete", "replace",
                         "replace", "compact", "vacuum", "cleanup",
                         "restore"])
        v_before, prev_model = t.version(), dict(model)
        if op == "merge":
            ups = {rng.choice(keys): step * 100 + i for i in range(4)}
            dels = ({rng.choice(list(model))}
                    if model and rng.random() < 0.5 else set())
            ups = {k: v for k, v in ups.items() if k not in dels}
            t.merge(recs(list(ups.items())),
                    deleted_keys=spark.createDataFrame(
                        [(k,) for k in dels] or [("~none~",)],
                        "bibcode string"))
            model.update(ups)
            for k in dels:
                model.pop(k, None)
        elif op == "dv_delete":
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
        elif op == "replace":
            sv = rng.choice(segs)
            pool = [k for k in keys if seg_of(k) == sv]
            picked = rng.sample(pool, k=rng.randint(0, 4))
            newpairs = [(k, step * 100 + 50 + i)
                        for i, k in enumerate(picked)]
            t.overwrite(recs(newpairs),
                        replace_where=f"seg = '{sv}'")
            model = {k: v for k, v in model.items()
                     if seg_of(k) != sv}
            model.update(dict(newpairs))
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


def test_replace_where_empty_batch_drops_partition(spark, tmp_path):
    """replaceWhere with a ZERO-ROW batch is a partition drop: the
    matching files are removed atomically, nothing is staged, and
    the feed serves pure deletes."""
    t = _ptable(spark, tmp_path)
    empty = spark.createDataFrame([], "id long, seg string, v long")
    v = t.overwrite(empty, replace_where="seg = 'C'")
    assert {r["seg"] for r in t.read().collect()} == {"A", "B"}
    e = t._load_json(dict(t._entry_files())[v])
    assert e["adds"] == [] and e["removes"]
    feed = t.changes(v - 1, v).collect()
    assert {r["_change_type"] for r in feed} == {"delete"}
    assert {r["id"] for r in feed} \
        == {i for i in range(90) if i % 3 == 2}


def test_compact_where_scopes_to_one_partition(spark, tmp_path):
    """OPTIMIZE ... WHERE: a scoped compact bin-packs only the
    matching partition's files; every other partition's files stay
    byte-identical AND keep their live references."""
    t = _ptable(spark, tmp_path)
    snap0 = t._snapshot()
    others = {p for p, s in snap0.live.items()
              if s["part"]["seg"] != "B"}
    b_before = {p for p, s in snap0.live.items()
                if s["part"]["seg"] == "B"}
    assert len(b_before) > 1
    before = _file_hashes(t.path)
    v = t.compact(small_rows_threshold=10_000, where="seg = 'B'")
    assert v == 1
    snap1 = t._snapshot()
    assert others <= set(snap1.live)          # untouched refs survive
    after = _file_hashes(t.path)
    for p in others:
        assert after[p] == before[p]
    newb = set(snap1.live) - others
    assert newb.isdisjoint(b_before)          # B got rewritten...
    assert all(snap1.live[p]["part"]["seg"] == "B" for p in newb)
    assert len(newb) < len(b_before)          # ...and bin-packed
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows == {i: i * 10 for i in range(90)}
    # unparseable scope refuses instead of compacting the world
    with pytest.raises(ValueError, match="statically checkable"):
        t.compact(where="length(seg) = 1")


def test_compact_zorder_scoped_to_partition(spark, tmp_path):
    """OPTIMIZE ZORDER BY ... WHERE: re-lay ONE partition on the
    Morton curve; other partitions' files untouched."""
    t = _ptable(spark, tmp_path)
    snap0 = t._snapshot()
    others = {p for p, s in snap0.live.items()
              if s["part"]["seg"] != "A"}
    before = _file_hashes(t.path)
    t.compact(zorder_by=("id", "v"), where="seg = 'A'")
    snap1 = t._snapshot()
    assert others <= set(snap1.live)
    after = _file_hashes(t.path)
    for p in others:
        assert after[p] == before[p]
    assert all(snap1.live[p]["part"]["seg"] == "A"
               for p in set(snap1.live) - others)
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows == {i: i * 10 for i in range(90)}
