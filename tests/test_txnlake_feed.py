"""The key-scoped change feed: a merge entry records its affected
``keys``, and ``changes()`` restricts that commit's images to them
before diffing every commit of the range in one plan. The feed must
equal the unscoped diff of a copy whose entries carry no ``keys`` in
rows and schema, applying it to ``read(as_of=lo)`` must give
``read(as_of=hi)``, and building it must launch no Spark job. A feed
projected onto some columns must be the feed of the projected table,
and the sitemap selections must read the same keys from it as from
the full feed."""

from __future__ import annotations

import json
import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from adsmasterpipeline_spark.sinks import txnlake
from adsmasterpipeline_spark.sinks.txnlake import txn_table

SCHEMA = ("bibcode string, v long, note string, "
          "updated timestamp, tags map<string,string>")
DRIFTED = "bibcode string, v long, note string, lang string"


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _rows(df) -> list[str]:
    return sorted(r[0] for r in
                  df.select(F.to_json(F.struct("*"))).collect())


def _strip_keys(src: str, dst: str) -> None:
    """A copy of the table whose log entries carry no ``keys`` (the
    shape every entry had before they were recorded)."""
    shutil.copytree(src, dst)
    log = os.path.join(dst, "_txn")
    for name in os.listdir(log):
        if name[:1].isdigit():
            p = os.path.join(log, name)
            with open(p) as f:
                e = json.load(f)
            e.pop("keys", None)
            with open(p, "w") as f:
                json.dump(e, f)


def _read(t, v: int, columns=None):
    df = t.read(as_of=v)
    return df if columns is None else df.select(t.key, *columns)


def _apply_feed(t, lo: int, hi: int, columns=None) -> list[str]:
    """``read(as_of=lo)`` with ``changes(lo, hi)`` applied in version
    order, as sorted JSON rows over ``read(as_of=hi)``'s columns; with
    ``columns``, the feed and both reads projected onto them."""
    cols = _read(t, hi, columns).columns
    state = ({} if lo < 0 else
             {r[t.key]: r.asDict()
              for r in _read(t, lo, columns).collect()})
    first = {"delete": 0, "update_preimage": 0,
             "insert": 1, "update_postimage": 1}
    feed = sorted(t.changes(lo, hi, columns=columns).collect(),
                  key=lambda r: (r["_commit_version"],
                                 first[r["_change_type"]]))
    for r in feed:
        k = r[t.key]
        if first[r["_change_type"]] == 0:
            assert k in state, (lo, hi, r)
            del state[k]
        else:
            assert k not in state, (lo, hi, r)
            state[k] = r.asDict()
    return sorted(json.dumps({c: row.get(c) for c in cols},
                             sort_keys=True, default=str)
                  for row in state.values())


def _table_rows(t, v: int, columns=None) -> list[str]:
    return sorted(json.dumps(r.asDict(), sort_keys=True, default=str)
                  for r in _read(t, v, columns).collect())


def _walk(spark, path: str, seed: int) -> list[int]:
    """Seeded merges (inserts, updates, no-op redeliveries, deletes),
    one deletion-vector delete and one overwrite with a drifted
    schema; returns the versions of the keyed merges."""
    import datetime as dt
    rng = random.Random(seed)
    t = txn_table(spark, path, cluster_writes=True, rows_per_file=16)
    model: dict[str, tuple] = {}

    def row(k, v):
        note = None if v % 3 == 0 else f"n{v}é"
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=v * 7)
        tags = None if v % 4 == 0 else {"b": str(v), "a": "x"}
        return (k, v, note, ts, tags)

    boot = [row(f"K{i:03d}", i) for i in range(40)]
    model.update({r[0]: r for r in boot})
    t.overwrite(spark.createDataFrame(boot, SCHEMA))
    merged = []
    nxt = 40
    for step in range(6):
        keys = sorted(model)
        batch = {}
        for k in rng.sample(keys, 4):                 # updates
            batch[k] = row(k, model[k][1] + 100)
        for k in rng.sample(keys, 2):                 # redeliveries
            batch.setdefault(k, model[k])
        for _ in range(3):                            # inserts
            k = f"K{nxt:03d}"
            nxt += 1
            batch[k] = row(k, nxt)
        dels = [k for k in rng.sample(keys, 2) if k not in batch]
        v = t.merge(spark.createDataFrame(list(batch.values()), SCHEMA),
                    deleted_keys=spark.createDataFrame(
                        [(k,) for k in dels], "bibcode string"))
        merged.append(v)
        model.update(batch)
        for k in dels:
            model.pop(k)
        if step == 2:
            gone = rng.sample(sorted(model), 3)
            t.delete(keys=spark.createDataFrame(
                [(k,) for k in gone], "bibcode string"))
            for k in gone:
                model.pop(k)
    # drifted schema: `updated` and `tags` go, `lang` comes
    t.overwrite(spark.createDataFrame(
        [(k, r[1], r[2], "en") for k, r in model.items()], DRIFTED))
    for step in range(2):
        keys = sorted(model)
        batch = [(k, model[k][1] + 7, None, "de")
                 for k in rng.sample(keys, 3)]
        batch.append((f"Z{step}", 1, "new", None))
        merged.append(t.merge(spark.createDataFrame(batch, DRIFTED)))
    return merged


@pytest.mark.parametrize("seed", [5])
def test_keyed_feed_equals_unscoped_feed(spark, tmp_path, seed):
    path = str(tmp_path / "t")
    merged = _walk(spark, path, seed)
    t = txn_table(spark, path)
    entries = {h["version"]: h for h in t.history()}
    assert [entries[v]["operation"] for v in merged] == ["merge"] * 8
    with open(os.path.join(path, "_txn", f"{merged[0]:08d}.json")) as f:
        first = json.load(f)
    assert first["keys"] == sorted(first["keys"]) and first["keys"]

    legacy = str(tmp_path / "legacy")
    _strip_keys(path, legacy)
    old = txn_table(spark, legacy)
    latest = t.version()
    for lo, hi in [(-1, latest), (0, 3), (3, 5), (latest - 3, latest),
                   (merged[-1] - 1, merged[-1])]:
        got, want = t.changes(lo, hi), old.changes(lo, hi)
        assert got.schema == want.schema, (lo, hi)
        assert got.columns == want.columns
        g, w = _rows(got), _rows(want)
        assert g == w, (lo, hi)
        assert t.last_changes_probe == old.last_changes_probe
        assert _apply_feed(t, lo, hi) == _table_rows(t, hi), (lo, hi)
    # the walk really changed rows of every kind
    kinds = {r[0] for r in t.changes(-1).select("_change_type")
             .distinct().collect()}
    assert kinds == {"insert", "update_preimage", "update_postimage",
                     "delete"}


def test_keyed_feed_builds_without_jobs(spark, tmp_path):
    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    t.overwrite(spark.createDataFrame(
        [(f"K{i}", i) for i in range(20)], "bibcode string, v long"))
    for i in range(3):
        t.merge(spark.createDataFrame(
            [(f"K{i}", 100 + i), (f"N{i}", i)], "bibcode string, v long"))
    files = t.live_files()
    j0 = _jobs(spark)
    feed = t.changes(0)
    scan = t._read_files(files)
    assert _jobs(spark) == j0
    assert scan.columns == ["bibcode", "v"]
    got = sorted((r["bibcode"], r["_change_type"], r["_commit_version"])
                 for r in feed.collect())
    assert got == sorted(
        [(f"K{i}", c, i + 1) for i in range(3)
         for c in ("update_preimage", "update_postimage")]
        + [(f"N{i}", "insert", i + 1) for i in range(3)])


def test_merge_above_in_limit_records_no_keys(spark, tmp_path,
                                              monkeypatch):
    """Above _IN_KEY_LIMIT a merge filters with joins on the pinned
    keys and records no ``keys``; its feed is the unscoped diff."""
    monkeypatch.setattr(txnlake, "_IN_KEY_LIMIT", 2)
    path = str(tmp_path / "t")
    t = txn_table(spark, path)
    t.overwrite(spark.createDataFrame(
        [(f"K{i}", i) for i in range(10)], "bibcode string, v long"))
    small = t.merge(spark.createDataFrame(
        [("K1", 101), ("N1", 1)], "bibcode string, v long"))
    big = t.merge(
        spark.createDataFrame([("K2", 102), ("K3", 103), ("N2", 2)],
                              "bibcode string, v long"),
        deleted_keys=spark.createDataFrame([("K4",)], "bibcode string"))
    entries = {}
    for v in (small, big):
        with open(os.path.join(path, "_txn", f"{v:08d}.json")) as f:
            entries[v] = json.load(f)
    assert entries[small]["keys"] == ["K1", "N1"]
    assert "keys" not in entries[big]
    got = sorted((r["bibcode"], r["_change_type"], r["v"])
                 for r in t.changes(small).collect())
    assert got == sorted(
        [("K2", "update_preimage", 2), ("K2", "update_postimage", 102),
         ("K3", "update_preimage", 3), ("K3", "update_postimage", 103),
         ("N2", "insert", 2), ("K4", "delete", 4)])
    assert sorted(r["bibcode"] for r in t.read_for_keys(
        spark.createDataFrame([("K2",), ("K4",), ("N2",)],
                              "bibcode string")).collect()) == ["K2", "N2"]
    assert _apply_feed(t, 0, big) == _table_rows(t, big)


RECORDS = ("bibcode string, id long, bib_data string, status string, "
           "bib_data_updated timestamp, solr_processed timestamp, "
           "nonbib_data string")


def _records_walk(spark, path: str, seed: int) -> tuple[int, int]:
    """Seeded merges over a records-shaped table: inserts, updates of
    each column alone (the sitemap selections' columns and the
    unread ``nonbib_data``), no-op redeliveries and deletes, one
    deletion-vector delete and one overwrite; returns the overwrite's
    version and the latest."""
    import datetime as dt
    rng = random.Random(seed)
    t = txn_table(spark, path, cluster_writes=True, rows_per_file=16)
    day = dt.datetime(2024, 1, 1)
    statuses = [None, "active", "solr-failed", "retrying"]
    model = {}
    for i in range(40):
        k = f"K{i:03d}"
        model[k] = (k, i, None if i % 7 == 0 else f'{{"t": {i}}}',
                    statuses[i % 4], day + dt.timedelta(hours=i),
                    None if i % 3 == 0 else day, f"nb{i}")
    t.overwrite(spark.createDataFrame(list(model.values()), RECORDS))
    col = {"bib_data": 2, "status": 3, "bib_data_updated": 4,
           "solr_processed": 5, "nonbib_data": 6}
    nxt = 40

    def changed(r, name, step):
        r = list(r)
        r[col[name]] = {
            "bib_data": None if r[2] and step % 2 else f'{{"s": {step}}}',
            "status": statuses[(statuses.index(r[3]) + 1) % 4],
            "bib_data_updated": day + dt.timedelta(days=step + 1),
            "solr_processed": (None if r[5] and step % 2
                               else day + dt.timedelta(days=step + 2)),
            "nonbib_data": f"nb{step}-{r[1]}"}[name]
        return tuple(r)

    def merge(step):
        nonlocal nxt
        keys = sorted(model)
        batch = {}
        picked = rng.sample(keys, 10)
        for k, name in zip(picked, list(col) * 2):    # updates
            batch[k] = changed(model[k], name, step)
        for k in rng.sample(keys, 2):                 # redeliveries
            batch.setdefault(k, model[k])
        for _ in range(2):                            # inserts
            k = f"K{nxt:03d}"
            batch[k] = (k, nxt, f'{{"t": {nxt}}}', None,
                        day + dt.timedelta(days=step), None, "nb")
            nxt += 1
        dels = [k for k in rng.sample(keys, 2) if k not in batch]
        t.merge(spark.createDataFrame(list(batch.values()), RECORDS),
                deleted_keys=spark.createDataFrame(
                    [(k,) for k in dels], "bibcode string"))
        model.update(batch)
        for k in dels:
            model.pop(k)

    for step in range(5):
        merge(step)
        if step == 2:
            gone = rng.sample(sorted(model), 3)
            t.delete(keys=spark.createDataFrame(
                [(k,) for k in gone], "bibcode string"))
            for k in gone:
                model.pop(k)
    for k in rng.sample(sorted(model), 5):
        model[k] = changed(model[k], "status", 9)
    t.overwrite(spark.createDataFrame(list(model.values()), RECORDS))
    over = t.version()
    for step in range(6, 8):
        merge(step)
    return over, t.version()


def _auto_selection_full_feed(feed, sitemap):
    """The auto selection from the unprojected feed: inserts, plus
    update pairs whose bib_data_updated or solr_processed moved."""
    flagged = sitemap.where("update_flag").select("bibcode")
    inserts = feed.where(
        F.col("_change_type") == "insert").select("bibcode")
    pre = feed.where(F.col("_change_type") == "update_preimage").select(
        "bibcode", "_commit_version",
        F.col("bib_data_updated").alias("_pre_b"),
        F.col("solr_processed").alias("_pre_s"))
    post = feed.where(F.col("_change_type") == "update_postimage").select(
        "bibcode", "_commit_version",
        F.col("bib_data_updated").alias("_post_b"),
        F.col("solr_processed").alias("_post_s"))
    moved = (pre.join(post, ["bibcode", "_commit_version"])
             .where(~F.col("_pre_b").eqNullSafe(F.col("_post_b"))
                    | ~F.col("_pre_s").eqNullSafe(F.col("_post_s")))
             .select("bibcode"))
    return (inserts.union(moved).distinct()
            .join(flagged, "bibcode", "left_anti"))


def _cleanup_selection_full_feed(feed, sitemap):
    """The cleanup selection from the unprojected feed: keys whose
    latest image is a delete or fails the inclusion predicate."""
    from pyspark.sql import Window as W
    from adsmasterpipeline_spark import sitemap as sm
    finals = feed.where(F.col("_change_type").isin(
        "insert", "delete", "update_postimage"))
    w = W.partitionBy("bibcode").orderBy(F.col("_commit_version").desc())
    latest = (finals.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1).drop("_rn"))
    gone = latest.where(
        F.col("_change_type") == "delete").select("bibcode")
    present = latest.where(F.col("_change_type") != "delete")
    no_longer = present.join(
        sm.should_include(present).select("bibcode"),
        "bibcode", "left_anti").select("bibcode")
    return (sitemap.join(gone.union(no_longer).distinct(), "bibcode",
                         "left_semi").select("bibcode").distinct())


def test_projected_feed_is_feed_of_projected_table(spark, tmp_path):
    from adsmasterpipeline_spark import sitemap as sm
    path = str(tmp_path / "t")
    over, latest = _records_walk(spark, path, 11)
    t = txn_table(spark, path)
    assert [h["operation"] for h in t.history()].count("delete") == 1
    def sitemap_at(lo):
        """A sitemap as the ticks up to ``lo`` leave it: only keys
        included at ``lo`` (the premise of the cleanup selection),
        some flagged dirty."""
        if lo < 0:
            return spark.createDataFrame(
                [(f"K{i:03d}", i % 5 == 0) for i in range(0, 60, 2)],
                "bibcode string, update_flag boolean")
        return sm.should_include(t.read(as_of=lo)).select(
            "bibcode", (F.col("id") % 5 == 0).alias("update_flag"))

    ranges = [(-1, latest), (0, 3), (2, 5), (over - 2, over),
              (over, latest), (latest - 1, latest)]
    for columns, select, full in (
            (sm.AUTO_FEED_COLUMNS, sm.auto_update_selection_from_feed,
             _auto_selection_full_feed),
            (sm.CLEANUP_FEED_COLUMNS, sm.cleanup_selection_from_feed,
             _cleanup_selection_full_feed)):
        for lo, hi in ranges:
            feed = t.changes(lo, hi, columns=columns)
            assert feed.columns == ["bibcode", *columns, "_change_type",
                                    "_commit_version", "_commit_timestamp"]
            assert (_apply_feed(t, lo, hi, columns)
                    == _table_rows(t, hi, columns)), (columns, lo, hi)
            sitemap = sitemap_at(lo)
            got = {r[0] for r in select(feed, sitemap).collect()}
            want = {r[0] for r in full(t.changes(lo, hi), sitemap)
                    .collect()}
            assert got == want, (columns, lo, hi)
        # updates of unread columns only leave no update pair behind
        n_full = t.changes(-1, latest).where(
            "_change_type = 'update_postimage'").count()
        n_proj = t.changes(-1, latest, columns=columns).where(
            "_change_type = 'update_postimage'").count()
        assert 0 < n_proj < n_full, columns
    # a DV-free range builds without a Spark job
    j0 = _jobs(spark)
    t.changes(over, latest, columns=sm.AUTO_FEED_COLUMNS)
    assert _jobs(spark) == j0
    assert t.changes(latest, latest, columns=sm.AUTO_FEED_COLUMNS).columns \
        == ["bibcode", *sm.AUTO_FEED_COLUMNS, "_change_type",
            "_commit_version", "_commit_timestamp"]
    for lo in (over, latest):
        with pytest.raises(ValueError, match="nope"):
            t.changes(lo, latest, columns=("nope",))
