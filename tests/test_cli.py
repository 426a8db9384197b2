"""End-to-end CLI lifecycle test (in-process — the cmd functions use
getOrCreate, so they reuse the test session)."""

from __future__ import annotations

import json

import pytest

from adsmasterpipeline_spark.cli import main


@pytest.fixture()
def events_dir(tmp_path):
    d = tmp_path / "events"
    d.mkdir()
    rows = []
    for i in range(4):
        b = f"E{i:02d}"
        for t, p in (("bib_data", {"bibcode": b, "title": [f"T{i}"]}),
                     ("orcid_claims", {"verified": ["0-1"]}),
                     ("nonbib_data", {"boost": 0.1,
                                      "data_links_rows": [{"url": ["http://u"]}]})):
            rows.append({"bibcode": b, "type": t, "status": "active",
                         "payload": json.dumps(p),
                         "event_ts": f"2024-01-0{i + 1}T00:00:00.000Z"})
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    return d


@pytest.mark.slow
def test_cli_lifecycle(spark, tmp_path, events_dir, capsys):
    data = str(tmp_path / "data")

    assert main(["ingest", "--events", str(events_dir), "--data", data]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) \
        == {"records": 4}

    assert main(["reindex", "--data", data]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"solr": 4, "metrics": 0, "links": 4, "probes": {
        "writeback_merge": {"live_files": 1, "candidate_files": 1,
                            "touched_files": 1}}}

    # idempotent second run (checksums + watermark persisted on disk)
    assert main(["reindex", "--data", data]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"solr": 0, "metrics": 0, "links": 0, "probes": {
        "watermark_scan": {"live_files": 1, "candidate_files": 0}}}

    assert main(["sitemap", "--data", data, "--action", "bootstrap"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 4
    assert (tmp_path / "data" / "sitemap_files" / "ads"
            / "sitemap_bib_1.xml").exists()

    assert main(["rebuild", "--data", data, "--min-docs", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"docs": 4, "swapped": True}

    # failed acceptance gate: nonzero exit, live sink untouched
    assert main(["rebuild", "--data", data, "--min-docs", "99"]) == 1
    assert (tmp_path / "data" / "sinks" / "solr").exists()

    assert main(["gc", "--data", data, "--cutoff", "2030-01-01"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kept"] == 4  # all rows have bib_data -> not GC'd

    # scixid flag modes round-trip through the CLI
    assert main(["scixid", "--data", data, "--flag", "reset"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"flag": "reset", "with_scix_before": 4,
                   "with_scix_after": 0}
    assert main(["scixid", "--data", data, "--flag", "update"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["with_scix_after"] == 4


@pytest.mark.slow
def test_sitemap_update_is_incremental(spark, tmp_path, events_dir, capsys):
    """After bootstrap stamps filename_lastmoddate, an update run with
    no newer records must re-flag nothing and re-render nothing — the
    reference's incremental contract (lastmod set at generation time,
    adsmp/tasks.py:1040-1048)."""
    data = str(tmp_path / "data")
    assert main(["ingest", "--events", str(events_dir), "--data", data]) == 0
    assert main(["sitemap", "--data", data, "--action", "bootstrap"]) == 0
    capsys.readouterr()

    table = spark.read.parquet(str(tmp_path / "data" / "sitemap"))
    assert table.where("update_flag").count() == 0
    assert table.where("filename_lastmoddate IS NULL").count() == 0

    # second run: same records, nothing newer than the stamped lastmod
    assert main(["sitemap", "--data", data, "--action", "update"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files"] == 0

    # records updated after the stamp DO get re-rendered
    from pyspark.sql import functions as F

    from adsmasterpipeline_spark.sinks.txnlake import txn_table
    t = txn_table(spark, str(tmp_path / "data" / "records"))
    t.merge(t.read().where("bibcode = 'E00'").withColumn(
        "bib_data_updated",
        F.current_timestamp() + F.expr("INTERVAL 1 DAY")).localCheckpoint())
    assert main(["sitemap", "--data", data, "--action", "update"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files"] == 2  # one dirty file x two sites


@pytest.mark.slow
def test_cli_scoped_reindex_diag_delete_outbox(spark, tmp_path, events_dir,
                                               capsys):
    """The run.py parity verbs: -b/-n scoped reindex (watermark must
    NOT advance), -d/-k diag, --delete, and -a outbox."""
    data = str(tmp_path / "data")
    assert main(["ingest", "--events", str(events_dir), "--data", data]) == 0
    capsys.readouterr()

    # scoped reindex: only the listed bibcode dispatches
    bibfile = tmp_path / "bibs.txt"
    bibfile.write_text("E01\n")
    assert main(["reindex", "--data", data, "--bibcodes", str(bibfile)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["solr"] == 1
    # the incremental watermark must not have advanced
    from adsmasterpipeline_spark.storage import KeyValueStore
    kv = KeyValueStore(spark, str(tmp_path / "data" / "kv"))
    assert kv.get("last.reindex.normal") is None

    # a full run still sees the other three as pending
    assert main(["reindex", "--data", data]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["solr"] == 3

    # diag reflects the dispatch state
    assert main(["diag", "--data", data]) == 0
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d["records"] == 4 and d["with_bib_data"] == 4
    assert d["solr_pending"] == 0 and d["failed"] == 0
    assert "last.reindex.normal" in d["kv"]

    # failed reselection: nothing failed -> empty batches
    assert main(["reindex", "--data", data, "--failed"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"solr": 0, "metrics": 0, "links": 0}

    # outbox derivation: no affs in the fixture -> augment skips all
    # (reference app.py:648-653); boost fires for every bib_data row
    assert main(["outbox", "--data", data, "--kind", "augment"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["requests"] == 0
    assert main(["outbox", "--data", data, "--kind", "boost"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["requests"] == 4
    assert (tmp_path / "data" / "outbox" / "boost").exists()

    # delete: records shrink, tombstones written, sitemap pruned
    assert main(["sitemap", "--data", data, "--action", "bootstrap"]) == 0
    capsys.readouterr()
    assert main(["delete", "--data", data, "--bibcodes", str(bibfile)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["deleted"] == 1
    from adsmasterpipeline_spark.sinks.txnlake import txn_table
    assert txn_table(spark, str(tmp_path / "data" / "records")) \
        .read().count() == 3
    assert (tmp_path / "data" / "sinks" / "solr_deletes").exists()
    smt = spark.read.parquet(str(tmp_path / "data" / "sitemap"))
    assert smt.where("bibcode = 'E01'").count() == 0


@pytest.mark.slow
def test_cli_corpus_prep(spark, tmp_path, capsys):
    """The corpus verb runs the full hygiene->scrub->dedup->split chain
    and its summary is consistent with the written parquet."""
    from tests.conftest import SF_DIR

    out = tmp_path / "corpus"
    rc = main(["corpus", "--sf-dir", SF_DIR, "--out", str(out)])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = spark.read.parquet(str(out))
    assert got.count() == summary["neardup_kept"]
    assert summary["input_docs"] >= summary["hygiene_kept"] \
        >= summary["exact_kept"] >= summary["neardup_kept"] > 0
    splits = {r["split"]: r["count"]
              for r in got.groupBy("split").count().collect()}
    assert sum(splits.values()) == summary["neardup_kept"]
    assert set(splits) <= {"train", "val", "test"}
    assert splits["train"] == summary["split_train"]
    # deterministic: a second run reproduces the same corpus
    out2 = tmp_path / "corpus2"
    main(["corpus", "--sf-dir", SF_DIR, "--out", str(out2)])
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in spark.read.parquet(str(out2)).collect())
    assert a == b


def test_cli_corpus_rejects_bad_split_pcts(tmp_path):
    """train+val > 100 (or negatives) would silently empty a split —
    the verb must refuse up front."""
    from tests.conftest import SF_DIR
    for tr, va in ((95, 10), (-1, 5), (90, -2), (101, 0)):
        with pytest.raises(SystemExit):
            main(["corpus", "--sf-dir", SF_DIR,
                  "--out", str(tmp_path / "x"),
                  "--train-pct", str(tr), "--val-pct", str(va)])


@pytest.mark.slow
def test_cli_lake_maintenance(spark, tmp_path, capsys):
    """`lake history|compact|vacuum`: the TxnTable lifecycle is
    operable from the CLI — compact shrinks the file count, vacuum
    reports deletions, history lists every commit."""
    import json

    from adsmasterpipeline_spark.cli import main
    from adsmasterpipeline_spark.sinks.txnlake import txn_table

    path = str(tmp_path / "records")
    t = txn_table(spark, path, cluster_writes=True, rows_per_file=100)
    t.overwrite(spark.createDataFrame(
        [(f"B{i:04d}", i) for i in range(200)], "bibcode string, v long"))
    for e in range(4):
        t.merge(spark.createDataFrame(
            [(f"N{e}{i}", i) for i in range(5)], "bibcode string, v long"))

    assert main(["lake", "history", "--path", path]) == 0
    hist = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hist["version"] == 4 and len(hist["history"]) == 5

    assert main(["lake", "compact", "--path", path]) == 0
    comp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert comp["files_after"] < comp["files_before"]

    # change-data-feed summary BEFORE vacuum collects pre-images:
    # 4 merges x 5 inserts each on top of the 200-row bootstrap;
    # the compact commit contributes nothing
    assert main(["lake", "changes", "--path", path,
                 "--since-version", "0"]) == 0
    ch = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ch["changes"] == {"insert": 20}
    assert ch["probe"]["files_read"] > 0

    assert main(["lake", "vacuum", "--path", path,
                 "--keep-versions", "1",
                 "--min-age-seconds", "0"]) == 0
    vac = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert vac["deleted_files"] > 0
    assert t.read().count() == 220

    # cleanup-log: young table (no checkpoint yet) is a no-op; after
    # enough commits to checkpoint, superseded entries are deleted
    assert main(["lake", "cleanup-log", "--path", path]) == 0
    cl = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cl["deleted_log_files"] == 0
    for e in range(5):                       # -> version >= 10 -> cp
        t.merge(spark.createDataFrame(
            [(f"M{e}", e)], "bibcode string, v long"))
    assert main(["lake", "cleanup-log", "--path", path]) == 0
    cl = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cl["deleted_log_files"] > 0
    assert t.read().count() == 225           # state intact

    # changes over a range whose pre-images were vacuumed / whose log
    # entries were cleaned: an EXPECTED operational state — the CLI
    # keeps its JSON contract (error object + nonzero exit) instead
    # of an uncaught traceback (ADVICE r8); the feed itself still
    # refuses to serve a partial answer
    assert main(["lake", "changes", "--path", path,
                 "--since-version", "0"]) == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "error" in err and err["range"]["v_lo"] == 0


def test_cli_lake_delete(spark, tmp_path, capsys):
    """`lake delete --expr P`: copy-on-write delete from the CLI —
    reports deleted_rows (the removed files' rows minus the rows
    written back) and files_rewritten (the commit's adds), and a
    malformed predicate reports on the JSON error contract instead of
    a raw Spark traceback."""
    import json

    from adsmasterpipeline_spark.cli import main
    from adsmasterpipeline_spark.sinks.txnlake import txn_table

    path = str(tmp_path / "records")
    t = txn_table(spark, path)
    t.overwrite(spark.createDataFrame(
        [("B1", 1), ("B2", 2), ("C1", 3)], "bibcode string, v long"))

    assert main(["lake", "delete", "--path", path,
                 "--expr", "v >= 2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1 and out["deleted_rows"] == 2
    entry = t._load_json(dict(t._entry_files())[1])
    assert out["files_rewritten"] == len(entry["adds"])
    assert out["files_dropped"] == len(entry["removes"]) > 0
    assert {r["bibcode"] for r in t.read().collect()} == {"B1"}

    # nothing matched: no commit, zero rows reported
    assert main(["lake", "delete", "--path", path,
                 "--expr", "v >= 99"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1 and out["deleted_rows"] == 0

    # malformed / unresolvable predicates: JSON contract, exit 1
    assert main(["lake", "delete", "--path", path,
                 "--expr", "nope_col > ("]) == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "error" in err
    assert main(["lake", "delete", "--path", path,
                 "--expr", "nope_col > 0"]) == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "error" in err and "resolve" in err["error"]


@pytest.mark.slow
def test_cli_sitemap_auto_incremental_from_change_feed(spark, tmp_path,
                                                       capsys):
    """VERDICT r8 task 4 — second wired CDF consumer: `sitemap
    --action auto --fmt txn --incremental` selects from the records
    change feed keyed off the KV version watermark. The selection
    equals the rescan derivation on the same table, the feed opens
    only the delta commits' files (probe), the touched file is
    re-rendered, and an idle tick selects nothing."""
    import os as _os

    from adsmasterpipeline_spark import sitemap as sm
    from adsmasterpipeline_spark.sinks.txnlake import txn_table

    data = str(tmp_path / "data")
    ev0 = _mk_events(tmp_path, "ev0", [f"K{i:03d}" for i in range(32)], 1)
    assert main(["ingest", "--events", str(ev0), "--data", data,
                 "--fmt", "txn", "--rows-per-file", "8"]) == 0
    out_dir = str(tmp_path / "files")
    assert main(["sitemap", "--data", data, "--action", "bootstrap",
                 "--fmt", "txn", "--out", out_dir]) == 0
    capsys.readouterr()

    # baseline incremental run: covers the bootstrap window (all 32
    # keys due — the watermark says "never emitted") and advances the
    # watermark to the current version
    assert main(["sitemap", "--data", data, "--action", "auto",
                 "--fmt", "txn", "--incremental", "--out", out_dir]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r1["selected"] == 32 and r1["feed"]["v_lo"] == -1
    assert r1["files"] >= 1

    # delta: touch two keys (event time 2024-01-20 vs bootstrap's
    # 2024-01-01)
    ev1 = _mk_events(tmp_path, "ev1", ["K003", "K007"], 20, full=False)
    assert main(["ingest", "--events", str(ev1), "--data", data,
                 "--fmt", "txn", "--rows-per-file", "8"]) == 0
    capsys.readouterr()

    # EQUALITY on the same table state: the feed-derived selection ==
    # the rescan selection with a cutoff between the two event times
    t = txn_table(spark, _os.path.join(data, "records"))
    existing = spark.read.parquet(_os.path.join(data, "sitemap"))
    v_hi = t.version()
    want = {r["bibcode"] for r in sm.auto_update_selection(
        t.read(), existing, "2024-01-10").collect()}
    got = {r["bibcode"] for r in sm.auto_update_selection_from_feed(
        t.changes(r1["feed"]["v_hi"], v_hi, columns=sm.AUTO_FEED_COLUMNS),
        existing).collect()}
    assert got == want == {"K003", "K007"}

    # e2e: the incremental run selects exactly those two, reads only
    # the delta commit's files, and re-renders the touched file(s)
    assert main(["sitemap", "--data", data, "--action", "auto",
                 "--fmt", "txn", "--incremental", "--out", out_dir]) == 0
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2["selected"] == 2
    assert 0 < r2["feed"]["files_read"] < r2["feed"]["live_files"]
    assert r2["files"] >= 1

    # idle tick: watermark is current -> nothing selected, no files
    assert main(["sitemap", "--data", data, "--action", "auto",
                 "--fmt", "txn", "--incremental", "--out", out_dir]) == 0
    r3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r3["selected"] == 0 and r3["feed"]["files_read"] == 0


@pytest.mark.slow
def test_cli_sitemap_cleanup_incremental_from_change_feed(
        spark, tmp_path, capsys):
    """VERDICT r9 task 3 — third wired CDF consumer: `sitemap --action
    cleanup --fmt txn --incremental` derives the invalidation set
    (records deleted OR no longer should_include) from the records
    change feed keyed off its own KV version watermark, instead of
    the reference's full-table rescan per run (adsmp/tasks.py:482-583).
    Selection equality with the rescan cleanup on the same table,
    O(changed files) probe, and idle-tick no-op are all asserted."""
    import os as _os

    from pyspark.sql import functions as F

    from adsmasterpipeline_spark import sitemap as sm
    from adsmasterpipeline_spark.sinks.txnlake import txn_table

    data = str(tmp_path / "data")
    ev0 = _mk_events(tmp_path, "ev0", [f"K{i:03d}" for i in range(32)], 1)
    assert main(["ingest", "--events", str(ev0), "--data", data,
                 "--fmt", "txn", "--rows-per-file", "8"]) == 0
    out_dir = str(tmp_path / "files")
    assert main(["sitemap", "--data", data, "--action", "bootstrap",
                 "--fmt", "txn", "--out", out_dir]) == 0
    capsys.readouterr()

    # baseline incremental cleanup: everything valid, nothing removed,
    # watermark advances to current
    assert main(["sitemap", "--data", data, "--action", "cleanup",
                 "--fmt", "txn", "--incremental", "--out", out_dir]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r1["removed"] == 0 and r1["rows"] == 32
    assert r1["feed"]["v_lo"] == -1

    # delta 1: delete two records via tombstone events
    d = tmp_path / "ev_del"
    d.mkdir()
    rows = [{"bibcode": b, "type": "bib_data", "status": "deleted",
             "payload": "{}", "event_ts": "2024-01-20T00:00:00.000Z"}
            for b in ("K003", "K007")]
    (d / "del.json").write_text("\n".join(json.dumps(r) for r in rows))
    assert main(["ingest", "--events", str(d), "--data", data,
                 "--fmt", "txn", "--rows-per-file", "8"]) == 0
    # delta 2: flip one record to a non-included status
    t = txn_table(spark, _os.path.join(data, "records"))
    t.merge(t.read().where("bibcode = 'K005'")
            .withColumn("status", F.lit("solr-failed"))
            .localCheckpoint())
    capsys.readouterr()

    # EQUALITY on the same table state: feed-derived invalidation ==
    # rescan cleanup's removal set
    existing = spark.read.parquet(_os.path.join(data, "sitemap"))
    survivors_rescan, _ = sm.cleanup(existing, t.read())
    want = ({r["bibcode"] for r in existing.select("bibcode").collect()}
            - {r["bibcode"] for r in
               survivors_rescan.select("bibcode").collect()})
    got = {r["bibcode"] for r in sm.cleanup_selection_from_feed(
        t.changes(r1["feed"]["v_hi"], t.version(),
                  columns=sm.CLEANUP_FEED_COLUMNS), existing).collect()}
    assert got == want == {"K003", "K005", "K007"}

    # e2e: the incremental run removes exactly those three, reads only
    # the delta commits' files, and re-renders the affected file
    assert main(["sitemap", "--data", data, "--action", "cleanup",
                 "--fmt", "txn", "--incremental", "--out", out_dir]) == 0
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2["removed"] == 3 and r2["rows"] == 29
    assert 0 < r2["feed"]["files_read"] < r2["feed"]["live_files"]
    assert r2["files"] >= 1
    left = {r["bibcode"] for r in spark.read.parquet(
        _os.path.join(data, "sitemap")).select("bibcode").collect()}
    assert not left & {"K003", "K005", "K007"} and len(left) == 29

    # idle tick: watermark current -> no-op, zero files opened
    assert main(["sitemap", "--data", data, "--action", "cleanup",
                 "--fmt", "txn", "--incremental", "--out", out_dir]) == 0
    r3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r3["removed"] == 0 and r3["feed"]["files_read"] == 0


def test_cli_maintenance_verbs_on_txn_records(spark, tmp_path, capsys):
    """diag, gc, scixid, rebuild and delete operate on the records
    TxnTable that ingest writes (``records/_txn`` + ``records/data``),
    and each reports the table's live row counts."""
    import os as _os

    from adsmasterpipeline_spark.sinks.txnlake import txn_table

    data = str(tmp_path / "data")
    ev0 = _mk_events(tmp_path, "ev0", [f"K{i:03d}" for i in range(16)], 1)
    assert main(["ingest", "--events", str(ev0), "--data", data,
                 "--fmt", "txn", "--rows-per-file", "4"]) == 0
    # second batch overlaps: one update, one insert, and one bib-less
    # record that gc will collect
    ev1 = _mk_events(tmp_path, "ev1", ["K003", "K100"], 20, full=False)
    (ev1 / "g.json").write_text(json.dumps(
        {"bibcode": "G000", "type": "nonbib_data", "status": "active",
         "payload": json.dumps({"boost": 0.2}),
         "event_ts": "2024-01-20T00:00:00.000Z"}))
    assert main(["ingest", "--events", str(ev1), "--data", data,
                 "--fmt", "txn", "--rows-per-file", "4"]) == 0
    capsys.readouterr()
    t = txn_table(spark, _os.path.join(data, "records"))
    assert len(t.live_files()) > 1

    def last():
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def live(where="true"):
        return t.read().where(where).count()

    assert main(["diag", "--data", data]) == 0
    d = last()
    assert d["records"] == live() == 18
    assert d["with_bib_data"] == live("bib_data IS NOT NULL") == 17
    assert d["with_scix_id"] == live("scix_id IS NOT NULL")

    assert main(["gc", "--data", data, "--cutoff", "2100-01-01"]) == 0
    assert last() == {"deleted": 1, "kept": 17}
    assert live() == 17 and live("bibcode = 'G000'") == 0

    assert main(["scixid", "--data", data, "--flag", "reset"]) == 0
    assert last() == {"flag": "reset", "with_scix_before": 17,
                      "with_scix_after": 0}
    assert live("scix_id IS NOT NULL") == 0
    assert main(["scixid", "--data", data, "--flag", "update"]) == 0
    assert last() == {"flag": "update", "with_scix_before": 0,
                      "with_scix_after": 17}
    assert live("scix_id IS NOT NULL") == 17

    assert main(["rebuild", "--data", data]) == 0
    assert last() == {"docs": live(), "swapped": True}

    v0 = t.version()
    bibfile = tmp_path / "del.txt"
    bibfile.write_text("K003\n")
    assert main(["delete", "--data", data, "--bibcodes", str(bibfile)]) == 0
    assert last()["deleted"] == 1
    assert live() == 16 and live("bibcode = 'K003'") == 0
    assert _os.path.isdir(_os.path.join(data, "records", "_txn"))
    assert t.version() > v0


def _mk_events(tmp_path, name, bibs, day, full=True):
    d = tmp_path / name
    d.mkdir()
    rows = []
    for i, b in enumerate(bibs):
        types = (("bib_data", {"bibcode": b, "title": [f"T{b}"]}),
                 ("orcid_claims", {"verified": ["0-1"]}),
                 ("nonbib_data", {"boost": 0.1})) if full else \
                (("bib_data", {"bibcode": b, "title": [f"T{b}v2"]}),)
        for t, p in types:
            rows.append({"bibcode": b, "type": t, "status": "active",
                         "payload": json.dumps(p),
                         "event_ts": f"2024-01-{day:02d}T00:00:"
                                     f"{i % 60:02d}.000Z"})
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    return d


class _SitemapModel:
    """The sitemap commands' outputs computed in Python from the
    records table: file assignment continuing from the highest-index
    file, dirty files rendered whole from the reference templates,
    each index listing every file with its latest lastmod, rendered
    files stamped and every flag cleared after a command."""

    def __init__(self, spark, data, out, per_file):
        import os
        from adsmasterpipeline_spark.sinks.txnlake import txn_table
        self.spark, self.out, self.per_file = spark, out, per_file
        self.table_path = os.path.join(data, "sitemap")
        self.t = txn_table(spark, os.path.join(data, "records"))
        self.rows: dict[str, dict] = {}
        self.files: dict[str, str] = {}

    def records(self, v=None):
        from pyspark.sql import functions as F
        df = self.t.read() if v is None else self.t.read(as_of=v)
        return {r["bibcode"]: r.asDict() for r in df.select(
            "bibcode", "id", "scix_id", "bib_data", "status",
            "bib_data_updated", "solr_processed",
            F.date_format("bib_data_updated", "yyyy-MM-dd").alias("day"))
            .collect()}

    @staticmethod
    def included(r):
        return (r["bib_data"] is not None
                and r["status"] not in ("solr-failed", "retrying"))

    @staticmethod
    def index_of(fname):
        return int(fname[len("sitemap_bib_"):-len(".xml")])

    def add(self, recs):
        """Append new records in id order after the current file."""
        counts: dict[str, int] = {}
        for r in self.rows.values():
            counts[r["file"]] = counts.get(r["file"], 0) + 1
        idx, n = 1, 0
        if counts:
            last = max(counts, key=self.index_of)
            idx, n = self.index_of(last), counts[last]
            if n >= self.per_file:
                idx, n = idx + 1, 0
        for rn, r in enumerate(sorted(recs, key=lambda r: r["id"])):
            self.rows[r["bibcode"]] = {
                "record_id": r["id"], "bibcode": r["bibcode"],
                "scix_id": r["scix_id"], "upd": r["bib_data_updated"],
                "day": r["day"], "lastmod": None, "flag": True,
                "file": f"sitemap_bib_{(rn + n) // self.per_file + idx}.xml"}

    def finish(self, emptied=()):
        """Render, stamp and clear as a command does; return the
        expected (files, table rows)."""
        import html
        from adsmasterpipeline_spark import sitemap as sm
        dirty = {r["file"] for r in self.rows.values() if r["flag"]}
        names = sorted({r["file"] for r in self.rows.values()},
                       key=self.index_of)
        for site, conf in sm.SITES.items():
            pre, post = conf["abs_url_pattern"].split("{bibcode}")
            for f in dirty:
                entries = sorted(
                    (r["record_id"], f"\n<url><loc>{pre}"
                     f"{html.escape(r['bibcode'])}{post}</loc><lastmod>"
                     f"{r['day']}</lastmod></url>")
                    for r in self.rows.values() if r["file"] == f)
                self.files[f"{site}/{f}"] = (
                    sm._URLSET_HEADER + "".join(e for _, e in entries)
                    + "\n</urlset>")
            for f in emptied:
                self.files.pop(f"{site}/{f}", None)
            index = [sm._INDEX_HEADER]
            for f in names:
                last = max(r["lastmod"] or r["upd"]
                           for r in self.rows.values() if r["file"] == f)
                index.append(
                    "\n            <sitemap>\n"
                    f"            <loc>{conf['sitemap_url']}/{f}</loc>\n"
                    f"            <lastmod>{last.date().isoformat()}"
                    "</lastmod>\n            </sitemap>")
            self.files[f"{site}/sitemap_index.xml"] = (
                "".join(index) + "\n</sitemapindex>")
            self.files[f"{site}/robots.txt"] = sm.render_robots_txt(site)
        # the stamp is the command's own timestamp: read it back, one
        # value on every row of every rendered file
        got = {r["bibcode"]: r for r in
               self.spark.read.parquet(self.table_path).collect()}
        stamps = {got[b]["filename_lastmoddate"]
                  for b, r in self.rows.items() if r["file"] in dirty}
        assert len(stamps) <= 1 and None not in stamps
        for r in self.rows.values():
            if r["file"] in dirty:
                r["lastmod"] = next(iter(stamps))
            r["flag"] = False
        want = sorted((r["record_id"], r["bibcode"], r["scix_id"], r["upd"],
                       r["file"], r["lastmod"], False)
                      for r in self.rows.values())
        return len(dirty) * len(sm.SITES), want

    def written(self):
        import os
        return {f"{site}/{name}": open(os.path.join(self.out, site, name),
                                       encoding="utf-8").read()
                for site in os.listdir(self.out)
                for name in os.listdir(os.path.join(self.out, site))}

    def table(self):
        return sorted(tuple(r) for r in
                      self.spark.read.parquet(self.table_path).select(
                          "record_id", "bibcode", "scix_id",
                          "bib_data_updated", "sitemap_filename",
                          "filename_lastmoddate", "update_flag").collect())


def test_cli_sitemap_commands_match_model(spark, tmp_path, capsys,
                                          monkeypatch):
    """bootstrap, ``auto --incremental`` and ``cleanup --incremental``
    over four-record files, the cleanup emptying one whole file and
    part of another: every XML file, both indexes, the table rows and
    each command's JSON line equal the model's."""
    import os

    from pyspark.sql import functions as F

    from adsmasterpipeline_spark import sitemap as sm
    from adsmasterpipeline_spark.storage import KeyValueStore

    monkeypatch.setattr(sm, "MAX_RECORDS_PER_SITEMAP", 4)
    data, out = str(tmp_path / "data"), str(tmp_path / "files")

    def run(*argv):
        assert main([*argv, "--data", data]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def sitemap(action):
        line = run("sitemap", "--action", action, "--out", out,
                   *(["--incremental"] if action != "bootstrap" else []))
        for k in ("files_read", "live_files"):
            line.get("feed", {}).pop(k, None)
        return line

    run("ingest", "--events", str(_mk_events(
        tmp_path, "ev0", [f"K{i:03d}" for i in range(12)], 1)),
        "--rows-per-file", "4")
    m = _SitemapModel(spark, data, out, 4)
    m.add([r for r in m.records().values() if m.included(r)])
    line = sitemap("bootstrap")
    files, rows = m.finish()
    assert line == {"rows": 12, "files": files}
    assert files == 6 and m.written() == m.files and m.table() == rows

    v0 = m.t.version()
    kv = KeyValueStore(spark, os.path.join(data, "kv"))
    for k in ("last.sitemap.auto.version", "last.sitemap.cleanup.version"):
        kv.put(k, str(v0))
    # one record moves, two are new (they open a fourth file)
    for name, keys, day, full in (("ev1", ["K001"], 20, False),
                                  ("ev2", ["K012", "K013"], 21, True)):
        run("ingest", "--events",
            str(_mk_events(tmp_path, name, keys, day, full=full)),
            "--rows-per-file", "4")
    v1 = m.t.version()
    before, after = m.records(v0), m.records(v1)
    sel = {b for b, r in after.items() if b not in before
           or (r["bib_data_updated"], r["solr_processed"])
           != (before[b]["bib_data_updated"], before[b]["solr_processed"])}
    incoming = [after[b] for b in sel if m.included(after[b])]
    m.add([r for r in incoming if r["bibcode"] not in m.rows])
    for r in incoming:
        m.rows[r["bibcode"]].update(flag=True, upd=r["bib_data_updated"],
                                    day=r["day"])
    line = sitemap("auto")
    files, rows = m.finish()
    assert line == {"rows": 14, "files": files, "selected": 3,
                    "feed": {"v_lo": v0, "v_hi": v1}}
    assert files == 4 and m.written() == m.files and m.table() == rows

    # delete every record of file 2 and one of file 1, and fail one
    # of file 3
    by_file: dict[str, list] = {}
    for b, r in sorted(m.rows.items()):
        by_file.setdefault(r["file"], []).append(b)
    gone = by_file["sitemap_bib_2.xml"] + by_file["sitemap_bib_1.xml"][:1]
    d = tmp_path / "ev_del"
    d.mkdir()
    (d / "del.json").write_text("\n".join(json.dumps(
        {"bibcode": b, "type": "bib_data", "status": "deleted",
         "payload": "{}", "event_ts": "2024-01-22T00:00:00.000Z"})
        for b in gone))
    run("ingest", "--events", str(d), "--rows-per-file", "4")
    failed = by_file["sitemap_bib_3.xml"][0]
    m.t.merge(m.t.read().where(F.col("bibcode") == failed)
              .withColumn("status", F.lit("solr-failed")).localCheckpoint())
    v2 = m.t.version()
    now = m.records()
    removed = {b for b in m.rows
               if b not in now or not m.included(now[b])}
    per_file: dict[str, list] = {}
    for b, r in m.rows.items():
        per_file.setdefault(r["file"], []).append(b in removed)
    emptied = sorted(f for f, hit in per_file.items() if all(hit))
    for b in removed:
        del m.rows[b]
    for r in m.rows.values():
        r["flag"] = any(per_file[r["file"]])
    line = sitemap("cleanup")
    files, rows = m.finish(emptied)
    assert line == {
        "rows": 8, "files": files, "removed": 6,
        "emptied": ["sitemap_bib_2.xml"], "feed": {"v_lo": v0, "v_hi": v2}}
    assert emptied == ["sitemap_bib_2.xml"] and files == 4
    assert m.written() == m.files and m.table() == rows


@pytest.mark.slow
def test_cli_txn_reindex_probes(spark, tmp_path, capsys):
    """VERDICT r6 tasks 3+4 e2e: cli ingest+reindex on fmt=txn — the
    watermark scan, the records writeback MERGE, and the metrics
    MERGE all report stat-pruned probes (candidate < live), results
    identical to what the parquet path would compute."""
    data = str(tmp_path / "data")
    # bootstrap a clustered multi-file records table
    ev0 = _mk_events(tmp_path, "ev0", [f"K{i:03d}" for i in range(64)], 1)
    assert main(["ingest", "--events", str(ev0), "--data", data,
                 "--fmt", "txn", "--rows-per-file", "8"]) == 0
    capsys.readouterr()
    # first reindex (no watermark): seeds metrics table + checksums
    assert main(["reindex", "--data", data, "--fmt", "txn",
                 "--rows-per-file", "8"]) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["solr"] == 64 and out1["metrics"] == 0
    # probe: writeback merged into a many-file table with pruning
    wb = out1["probes"]["writeback_merge"]
    assert wb["live_files"] >= 8
    # incremental touch of a narrow key slice, later event-day
    ev1 = _mk_events(tmp_path, "ev1", ["K001", "K002"], 20, full=False)
    assert main(["ingest", "--events", str(ev1), "--data", data,
                 "--fmt", "txn", "--rows-per-file", "8"]) == 0
    ing = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # ingest merge probe: narrow batch -> candidates < live
    assert ing["probe"]["candidate_files"] < ing["probe"]["live_files"]
    # cron tick: watermark scan must skip files whose updated-range
    # predates the watermark (the bootstrap-era files)
    assert main(["reindex", "--data", data, "--fmt", "txn",
                 "--rows-per-file", "8",
                 "--since", "2020-01-01T00:00:00+00:00"]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    ws = out2["probes"].get("watermark_scan")
    assert ws is not None and ws["live_files"] > 2
    # only K001/K002 changed since their merge; solr re-emits just
    # those (checksum suppression for the rest)
    assert out2["solr"] == 2
    # the records table stayed COMPLETE through the subset writebacks
    from adsmasterpipeline_spark.sinks.txnlake import txn_table
    import os as _os
    t = txn_table(spark, _os.path.join(data, "records"))
    assert t.read().count() == 64
    rows = {r["bibcode"]: r["solr_processed"]
            for r in t.read().select("bibcode",
                                     "solr_processed").collect()}
    assert all(v is not None for v in rows.values())
    # metrics table exists as a txn table when the batch is nonempty
    # (this fixture emits no metrics payloads, so it may be absent —
    # the merge probe shape is covered by the nonzero-path tool run)


@pytest.mark.slow
def test_cli_outbox_incremental_from_change_feed(spark, tmp_path, capsys):
    """VERDICT r7 task 1 wired consumer: `outbox --fmt txn
    --incremental` derives boost requests from the TxnTable change
    feed — first run covers the bootstrap, an idle run emits zero, a
    delta run emits exactly the touched keys while reading only the
    delta commits' files (probe), and the emitted version advances
    only after the outbox write. Each batch lands in its own
    per-version subdirectory (ADVICE r8): a delta run must NOT
    clobber an earlier batch the adapter has not drained yet —
    those requests are derived exactly once and the watermark has
    already moved past their versions."""
    data = str(tmp_path / "data")
    ev0 = _mk_events(tmp_path, "ev0", [f"K{i:03d}" for i in range(32)], 1)
    assert main(["ingest", "--events", str(ev0), "--data", data,
                 "--fmt", "txn", "--rows-per-file", "8"]) == 0
    capsys.readouterr()

    out_dir = str(tmp_path / "ob")
    assert main(["outbox", "--data", data, "--kind", "boost",
                 "--fmt", "txn", "--incremental", "--out", out_dir]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r1["requests"] == 32                 # bootstrap: every record
    assert r1["feed"]["v_lo"] == -1
    assert r1["batch_dir"].startswith(out_dir)  # per-version subdir

    # idle: no new commits -> zero requests, zero files read
    assert main(["outbox", "--data", data, "--kind", "boost",
                 "--fmt", "txn", "--incremental", "--out", out_dir]) == 0
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2["requests"] == 0 and r2["feed"]["files_read"] == 0

    # delta: touch two keys, next run emits exactly those two and the
    # feed opened only the delta commit's files, not the table
    ev1 = _mk_events(tmp_path, "ev1", ["K003", "K007"], 20, full=False)
    assert main(["ingest", "--events", str(ev1), "--data", data,
                 "--fmt", "txn", "--rows-per-file", "8"]) == 0
    capsys.readouterr()
    assert main(["outbox", "--data", data, "--kind", "boost",
                 "--fmt", "txn", "--incremental", "--out", out_dir]) == 0
    r3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r3["requests"] == 2
    assert 0 < r3["feed"]["files_read"] < r3["feed"]["live_files"]
    assert r3["batch_dir"] != r1["batch_dir"]   # distinct batch dirs
    reqs = {r["bibcode"] for r in spark.read.json(r3["batch_dir"]).collect()}
    assert reqs == {"K003", "K007"}
    # the UNDRAINED bootstrap batch survives the delta run intact —
    # the old shared-directory overwrite silently dropped it
    assert spark.read.json(r1["batch_dir"]).count() == 32
    # the request payload matches the full-rescan derivation for the
    # same keys (content parity, not just key parity)
    capsys.readouterr()
    full = str(tmp_path / "ob_full")
    assert main(["outbox", "--data", data, "--kind", "boost",
                 "--fmt", "txn", "--out", full]) == 0
    want = {r["bibcode"]: r["bib_data"] for r in
            spark.read.json(full).collect() if r["bibcode"] in reqs}
    got = {r["bibcode"]: r["bib_data"] for r in
           spark.read.json(r3["batch_dir"]).collect()}
    assert got == want


def test_cli_lake_compact(spark, tmp_path, capsys):
    """`lake compact`: bin-packs the small files a delete left behind
    into one, rows unchanged, and reports the file counts. Z-order
    compaction is gone from the table, so `--zorder` is refused as an
    unknown flag instead of being accepted and ignored."""
    import json

    from adsmasterpipeline_spark.cli import main
    from adsmasterpipeline_spark.sinks.txnlake import txn_table

    path = str(tmp_path / "records")
    t = txn_table(spark, path, key="id", cluster_writes=True,
                  rows_per_file=32)
    t.overwrite(spark.range(128).selectExpr(
        "id", "pmod(id * 37, 127) as a", "pmod(id * 53, 113) as b"))
    t.delete(where="id in (0, 40, 80, 120)")
    before = sorted(tuple(r) for r in t.read().collect())
    assert len(before) == 124

    assert main(["lake", "compact", "--path", path, "--key", "id",
                 "--rows-per-file", "128"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 2
    assert out["files_before"] >= 2 and out["files_after"] == 1
    assert sorted(tuple(r) for r in t.read().collect()) == before
    assert t.changes(1, 2).count() == 0          # layout-only commit

    with pytest.raises(SystemExit):
        main(["lake", "compact", "--path", path, "--key", "id",
              "--zorder", "a,b"])
    assert t.version() == 2
    assert t.read().count() == 124
