"""CLI entry points — the run.py-equivalent surface (SURVEY §2.9 O2,
O7, O8; reference run.py:103-232, :366-424, :499-518).

Each subcommand is one deterministic Spark job; the Celery
choreography collapses into sequential actions. The records table is
a log-structured TxnTable (sinks/txnlake.py) at ``<data>/records``.

    python -m adsmasterpipeline_spark.cli ingest   --events DIR --data DIR
    python -m adsmasterpipeline_spark.cli reindex  --data DIR [--force] [--since TS]
    python -m adsmasterpipeline_spark.cli sitemap  --data DIR --action bootstrap|update|auto
    python -m adsmasterpipeline_spark.cli validate --left DIR --right DIR
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark():
    from .session import get_spark
    s = get_spark("adsmasterpipeline_cli")
    s.sparkContext.setLogLevel("WARN")
    return s


def _records_path(data_dir: str) -> str:
    return os.path.join(data_dir, "records")


def _records_txn(spark, data_dir: str, **opts):
    from .sinks.txnlake import txn_table
    return txn_table(spark, _records_path(data_dir), **opts)


def cmd_ingest(args) -> int:
    """Batch-apply an update-event directory (JSON lines with the
    EVENT_SCHEMA) into the records table; appends the changelog.

    The merge is ``storage.ingest_step``, the one every streaming
    epoch runs: only the rows of stat-pruned candidate files are read,
    and the publish is a file-granular MERGE, so the cost is
    O(touched files + batch), not O(table)."""
    from .dispatch import merge_probe
    from .schemas import EVENT_SCHEMA
    from .storage import ingest_step
    spark = _spark()
    events = spark.read.schema(EVENT_SCHEMA).json(args.events)
    out: dict = {}
    t = _records_txn(spark, args.data, cluster_writes=True,
                     rows_per_file=args.rows_per_file)
    merged, changelog, deleted = ingest_step(t, events)
    n = merged.count()
    if t.version() >= 0:
        t.merge(merged, deleted_keys=deleted)
        out["probe"] = merge_probe(t)
    else:
        t.overwrite(merged)
    changelog.write.mode("append").parquet(os.path.join(args.data, "changelog"))
    out["records"] = n
    print(json.dumps(out))
    return 0


def cmd_reindex(args) -> int:
    """Incremental dispatch: watermark scan, then
    ``dispatch.dispatch_step`` (readiness -> checksum diff -> the three
    sink writes -> mark processed), then the writeback MERGE, then
    advance the watermark (rollback semantics: the watermark only
    moves after every sink write succeeded). The solr and links dirs
    hold this run's dispatch only.

    ``--bibcodes FILE`` restricts the run to a bibcode list (run.py
    -b/-n); ``--failed`` reselects rows whose last dispatch failed
    (run.py --index_failed)."""
    from pyspark.sql import functions as F
    from .dispatch import dispatch_step, failed_filter, merge_probe
    from .sources import bibcode_list
    from .storage import KeyValueStore
    spark = _spark()
    probes: dict = {}
    kv = KeyValueStore(spark, os.path.join(args.data, "kv"))
    wm_key = "last.reindex.forced" if args.force else "last.reindex.normal"
    since = args.since or (None if args.force else kv.get(wm_key))

    t = _records_txn(spark, args.data)
    if (since is not None
            and not (args.bibcodes or args.failed)):
        # the cron tick (run.py:147-151, the reference's hottest
        # query): stat-pruned watermark scan — files whose
        # updated-range predates the watermark are never opened.
        # incremental_filter still applies the exact row predicate
        # downstream.
        import datetime as dt
        lo = since
        if isinstance(lo, str):
            lo = dt.datetime.fromisoformat(
                lo.replace("Z", "+00:00"))
        records = t.read_for_range("updated", lo=lo).cache()
        p = t.last_read_probe or {}
        probes["watermark_scan"] = {
            "live_files": p.get("live_files"),
            "candidate_files": len(p.get("candidate_files", []))}
    else:
        records = t.read().cache()

    scope = records
    if args.bibcodes:
        scope = scope.join(F.broadcast(bibcode_list(spark, args.bibcodes)),
                           "bibcode", "left_semi")
        since = None  # an explicit list overrides the watermark scan
    if args.failed:
        scope = failed_filter(scope)
        since = None

    step = dispatch_step(records, args.out or os.path.join(args.data, "sinks"),
                         "overwrite", scope=scope, since=since,
                         force=args.force,
                         ignore_checksums=args.ignore_checksums,
                         rows_per_file=args.rows_per_file)
    probes.update(step["probes"])
    # `records` may be the watermark-PRUNED subset — the writeback is
    # a keyed MERGE of the touched rows, never a full-table rewrite
    # (which would truncate the table to the subset). A row is touched
    # exactly when its key went to a sink, so the sink counts say
    # whether there is anything to write back.
    if any(step["counts"].values()):
        # drop the cached scan of the table's files first: a live
        # cache entry over the same parquet paths would hijack the
        # merge's input_file_name() probe (served from memory, no
        # file context) and degrade its touched-file detection
        records.unpersist()
        t.merge(step["touched"])
        probes["writeback_merge"] = merge_probe(t)
    if not (args.bibcodes or args.failed):
        # a scoped run never saw the full table — advancing the
        # incremental watermark would silently skip everything else
        import datetime as dt
        kv.put(wm_key, dt.datetime.now(dt.timezone.utc).isoformat())
    counts = step["counts"]
    if probes:
        counts["probes"] = probes
    print(json.dumps(counts))
    return 0


def cmd_sitemap(args) -> int:
    """O8/O10 sitemap maintenance. ``--action auto`` is the
    update_sitemaps_auto cron shape (run.py:558-628): select
    recently-touched records, flag/extend the table, regenerate dirty
    files. With ``--incremental`` the selection comes from the
    records TxnTable's change feed, projected onto the columns the
    selection reads and keyed off a KV version watermark — O(changed
    files) instead of the rescan's O(table), with the feed probe in
    the output JSON and the watermark advancing only after the
    sitemap table write succeeded (same rollback contract as
    ``outbox --incremental``); the selected records are then fetched
    via the stat-pruned ``read_for_keys``, so the table scan is
    O(files containing selected keys) too. Rescan mode (``--since``)
    remains as the equality oracle.

    The table is read with ``SITEMAP_SCHEMA`` (no inference job). The
    new table is pinned and one per-file ``sitemap.catalogue`` of it
    gives the files to render, both indexes, the files whose
    ``filename_lastmoddate`` is stamped and the ``rows`` total."""
    from pyspark.sql import functions as F
    from . import sitemap as sm
    from .schemas import SITEMAP_SCHEMA
    spark = _spark()
    table_path = os.path.join(args.data, "sitemap")
    extra: dict = {}
    kv_advance = None

    def read_table():
        return spark.read.schema(SITEMAP_SCHEMA).parquet(table_path)

    if args.action == "auto":
        existing = read_table()
        if args.incremental:
            from .storage import KeyValueStore
            t = _records_txn(spark, args.data)
            kv = KeyValueStore(spark, os.path.join(args.data, "kv"))
            vk = "last.sitemap.auto.version"
            v_lo = int(kv.get(vk) or -1)
            v_hi = t.version()
            if v_hi <= v_lo:
                print(json.dumps({
                    "rows": 0, "files": 0, "selected": 0,
                    "feed": {"v_lo": v_lo, "v_hi": v_hi,
                             "files_read": 0, "live_files": None}}))
                return 0
            feed = t.changes(v_lo, v_hi, columns=sm.AUTO_FEED_COLUMNS)
            sel = sm.auto_update_selection_from_feed(feed, existing) \
                .localCheckpoint()
            p = t.last_changes_probe or {}
            extra["feed"] = {"v_lo": v_lo, "v_hi": v_hi,
                             "files_read": len(p.get("files_read", [])),
                             "live_files": p.get("live_files")}
            incoming = t.read_for_keys(sel)
            kv_advance = (kv, vk, v_hi)
        else:
            if not args.since:
                raise SystemExit(
                    "sitemap --action auto needs --since TS (rescan "
                    "mode) or --incremental (change feed)")
            records = _records_txn(spark, args.data).read()
            sel = sm.auto_update_selection(records, existing, args.since) \
                .localCheckpoint()
            incoming = records.join(F.broadcast(sel), "bibcode",
                                    "left_semi")
        extra["selected"] = sel.count()
        # Feed mode flags the selected rows dirty UNCONDITIONALLY:
        # the feed already proved their bib_data_updated /
        # solr_processed moved, which is strictly more precise than
        # add_records' `bib_data_updated > filename_lastmoddate`
        # heuristic (event times can lag the wall-clock render stamp,
        # e.g. a backfill — the rescan mode keeps the reference's
        # heuristic and would skip those).
        table = sm.add_records(existing, incoming,
                               force=args.force or kv_advance is not None)
    elif args.action == "cleanup":
        # O9 — the reference's sitemap cleanup rescans the FULL records
        # table per run (adsmp/tasks.py:482-583; the rescan branch
        # keeps that shape as the equality oracle). With
        # ``--incremental`` the invalidation set comes from the change
        # feed instead, keyed off its own KV version watermark — the
        # last rescanning consumer now reads O(changed files) per tick.
        existing = read_table()
        if args.incremental:
            from .storage import KeyValueStore
            t = _records_txn(spark, args.data)
            kv = KeyValueStore(spark, os.path.join(args.data, "kv"))
            vk = "last.sitemap.cleanup.version"
            v_lo = int(kv.get(vk) or -1)
            v_hi = t.version()
            if v_hi <= v_lo:
                # idle tick: nothing to derive, nothing to scan
                print(json.dumps({
                    "rows": None, "files": 0,
                    "removed": 0, "emptied": [],
                    "feed": {"v_lo": v_lo, "v_hi": v_hi,
                             "files_read": 0, "live_files": None}}))
                return 0
            feed = t.changes(v_lo, v_hi, columns=sm.CLEANUP_FEED_COLUMNS)
            sel = sm.cleanup_selection_from_feed(feed, existing) \
                .localCheckpoint()
            p = t.last_changes_probe or {}
            extra["feed"] = {"v_lo": v_lo, "v_hi": v_hi,
                             "files_read": len(p.get("files_read", [])),
                             "live_files": p.get("live_files")}
            extra["removed"] = sel.count()
            table, emptied = sm.remove_records(existing, sel)
            kv_advance = (kv, vk, v_hi)
        else:
            records = _records_txn(spark, args.data).read()
            # one materialized selection, one remove pass (the naive
            # existing.count() - table.count() executed the whole
            # cleanup join pipeline twice) — identical to sm.cleanup
            valid = sm.should_include(records).select("bibcode")
            sel = (existing.select("bibcode")
                   .join(valid, "bibcode", "left_anti")
                   .distinct().localCheckpoint())
            extra["removed"] = sel.count()
            table, emptied = sm.remove_records(existing, sel)
        extra["emptied"] = emptied
    elif args.action == "bootstrap":
        table = sm.bootstrap(_records_txn(spark, args.data).read())
    else:
        records = _records_txn(spark, args.data).read()
        existing = read_table()
        table = sm.add_records(existing, records, force=args.force)
    table = table.localCheckpoint()
    cat = sm.catalogue(table)
    out = args.out or os.path.join(args.data, "sitemap_files")
    only_dirty = args.action != "bootstrap"
    total = sm.write_sites(table, out, cat, only_dirty=only_dirty)
    # Stamp filename_lastmoddate on every row of a regenerated file
    # (the reference sets it at generation time, adsmp/tasks.py:1040-1048)
    # so add_records' dirty predicate `bib_data_updated > lastmod` stays
    # meaningful — without the stamp every later `--action update` would
    # re-flag and re-render everything.
    stamp = F.current_timestamp()
    if only_dirty:
        stamp = (F.when(F.col("sitemap_filename").isin(sm.dirty_files(cat)),
                        stamp)
                 .otherwise(F.col("filename_lastmoddate")))
    cleared = (table.withColumn("filename_lastmoddate", stamp)
               .withColumn("update_flag", F.lit(False)))
    if args.action == "cleanup":
        # removal can EMPTY whole sitemap files: their XML must go too
        # (the reference deletes the emptied file rows + regenerates,
        # adsmp/tasks.py:545-583). Deleted BEFORE the table overwrite
        # so a crash between the two is retryable: the rerun
        # re-derives the same emptied set from the unchanged table
        # (the watermark only advances after the write), whereas
        # deleting after the write would orphan the XML forever on a
        # crash between write and delete (code-review r10).
        for site in sm.SITES:
            for fname in extra.get("emptied", []):
                fp = os.path.join(out, site, fname)
                if os.path.exists(fp):
                    os.remove(fp)
    cleared.write.mode("overwrite").parquet(table_path)
    if kv_advance is not None:
        kv, vk, v_hi = kv_advance      # only after the table write
        kv.put(vk, str(v_hi))
    print(json.dumps({"rows": sum(r["rows"] for r in cat), "files": total,
                      **extra}))
    return 0


def cmd_rebuild(args) -> int:
    """O7 — full rebuild with core swap (run.py:366-424,
    scripts/reindex.py:51-165): force-transform EVERY record into a
    staging sink dir, verify the acceptance gate (min doc count — the
    analogue of MIN_COMMITTED_DOCS), then atomically swap the staging
    dir over the live one. No checksum suppression: a rebuild is the
    recovery path for sink corruption."""
    import shutil
    from .dispatch import reindex
    from .transform import solr_docs_json
    spark = _spark()
    records = _records_txn(spark, args.data).read()
    batches = reindex(records, force=True, ignore_checksums=True)
    solr = batches["solr"]
    live = args.out or os.path.join(args.data, "sinks", "solr")
    staging = live + ".rebuild"
    mtime_cols = [c for c in solr.columns
                  if c.endswith("_mtime") or c == "update_timestamp"]
    solr_docs_json(solr.drop("checksum", *mtime_cols)) \
        .write.mode("overwrite").json(staging)
    n = spark.read.json(staging).count()
    if n < args.min_docs:
        shutil.rmtree(staging)
        print(json.dumps({"error": "acceptance gate failed",
                          "docs": n, "min_docs": args.min_docs}))
        return 1
    if os.path.exists(live):
        shutil.rmtree(live)
    os.rename(staging, live)
    print(json.dumps({"docs": n, "swapped": True}))
    return 0


def cmd_gc(args) -> int:
    """M8 — delete obsolete records (run.py:258-293): drop rows with no
    bib_data whose last update predates the cutoff, as one keyed
    copy-on-write DELETE on the records TxnTable."""
    from .storage import delete_obsolete_records
    spark = _spark()
    t = _records_txn(spark, args.data)
    records = t.read()
    before = records.count()
    gone = (records.select("bibcode")
            .join(delete_obsolete_records(records, args.cutoff)
                  .select("bibcode"), "bibcode", "left_anti")
            .localCheckpoint())
    deleted = gone.count()
    if deleted:
        t.delete(keys=gone)
    print(json.dumps({"deleted": deleted, "kept": before - deleted}))
    return 0


def cmd_scixid(args) -> int:
    """M7 scix_id maintenance (task_update_scixid flag modes,
    adsmp/tasks.py:210-275): update / force / reset over the records
    table, optionally limited to a bibcode list file (one per line).
    Only rows whose scix_id changed are MERGEd back."""
    from pyspark.sql import functions as F

    from .storage import update_scix_ids
    spark = _spark()
    t = _records_txn(spark, args.data)
    records = t.read()
    bibs = None
    if args.bibcodes:
        with open(args.bibcodes, encoding="utf-8") as f:
            bibs = [ln.strip() for ln in f if ln.strip()]
    before = records.where("scix_id IS NOT NULL").count()
    prev = records.select("bibcode", F.col("scix_id").alias("_prev"))
    changed = (update_scix_ids(records, args.flag, bibs)
               .join(prev, "bibcode")
               .where(~F.col("scix_id").eqNullSafe(F.col("_prev")))
               .drop("_prev").localCheckpoint())
    if changed.count():
        t.merge(changed)
    after = t.read().where("scix_id IS NOT NULL").count()
    print(json.dumps({"flag": args.flag, "with_scix_before": before,
                      "with_scix_after": after}))
    return 0


def cmd_diag(args) -> int:
    """run.py -d/-k parity: one JSON of table + dispatch health and
    the KV store contents — the operational at-a-glance check."""
    from pyspark.sql import functions as F
    from .storage import KeyValueStore
    spark = _spark()
    records = _records_txn(spark, args.data).read()
    agg = records.agg(
        F.count(F.lit(1)).alias("records"),
        F.count("bib_data").alias("with_bib_data"),
        F.count("scix_id").alias("with_scix_id"),
        F.sum(F.when(F.col("solr_processed").isNull(), 1).otherwise(0))
        .alias("solr_pending"),
        F.sum(F.when(F.col("metrics_processed").isNull(), 1).otherwise(0))
        .alias("metrics_pending"),
        F.sum(F.when(F.col("datalinks_processed").isNull(), 1).otherwise(0))
        .alias("links_pending"),
        F.sum(F.when(F.col("status").rlike("-failed$"), 1).otherwise(0))
        .alias("failed"),
    ).collect()[0].asDict()
    kv = KeyValueStore(spark, os.path.join(args.data, "kv"))
    agg["kv"] = kv._load()
    print(json.dumps(agg, default=str))
    return 0


def cmd_delete(args) -> int:
    """run.py --delete parity: remove a file of bibcodes from the
    records table (a keyed copy-on-write DELETE on the TxnTable),
    emit solr tombstones, and (when a sitemap table exists) anti-join
    it too, reporting files emptied by the removal."""
    from . import sitemap as sm
    from .sources import bibcode_list
    spark = _spark()
    t = _records_txn(spark, args.data)
    bibs = bibcode_list(spark, args.bibcodes).cache()
    deleted = t.read_for_keys(bibs).count()
    if deleted:
        t.delete(keys=bibs)
    out = args.out or os.path.join(args.data, "sinks")
    bibs.select("bibcode").write.mode("overwrite") \
        .json(os.path.join(out, "solr_deletes"))
    emptied: list[str] = []
    table_path = os.path.join(args.data, "sitemap")
    if os.path.exists(table_path):
        from .schemas import SITEMAP_SCHEMA
        table = spark.read.schema(SITEMAP_SCHEMA).parquet(table_path)
        remaining, emptied = sm.remove_records(table, bibs)
        remaining.localCheckpoint().write.mode("overwrite") \
            .parquet(table_path + ".staging")
        import shutil
        shutil.rmtree(table_path)
        os.rename(table_path + ".staging", table_path)
    print(json.dumps({"deleted": deleted, "sitemap_files_emptied": emptied}))
    return 0


def cmd_outbox(args) -> int:
    """run.py -a / boost / classify parity: derive outbound request
    batches for the downstream pipelines and write them to the outbox
    directory (the HTTP/queue adapter's pickup point).

    ``--incremental`` feeds the derivation from the records
    TxnTable's CHANGE-DATA-FEED instead of a full-table rescan: only
    rows actually
    inserted/updated since the last emitted version produce requests
    — O(changed files), with the feed's probe in the output JSON —
    and the emitted version advances in the KV store only after the
    outbox write succeeded (same rollback contract as the reindex
    watermark). Each incremental batch lands in a per-version
    SUBDIRECTORY ``<out>/v<lo>-<hi>/`` (reported as ``batch_dir``):
    full-rescan mode may overwrite, because every request is
    re-derived each run, but a delta batch is derived exactly once —
    overwriting the shared directory would silently clobber any
    batch the downstream adapter had not yet drained (the watermark
    has already moved past those versions). The version range names
    the directory, so distinct batches never collide and a crashed
    run (write done, KV not advanced) rewrites the SAME directory
    idempotently; the adapter deletes directories it has consumed.
    The reference derives the same deltas by rescanning + checksum
    suppression (adsmp/app.py:821-874); the feed makes the consumer
    O(changed) with no checksum re-derivation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .outbox import (aff_augment_requests, boost_requests,
                         classify_requests, write_outbox)
    from .storage import KeyValueStore
    spark = _spark()
    fn = {"augment": aff_augment_requests,
          "boost": boost_requests,
          "classify": classify_requests}[args.kind]
    out = args.out or os.path.join(args.data, "outbox", args.kind)
    result: dict = {"kind": args.kind}

    if args.incremental:
        t = _records_txn(spark, args.data)
        kv = KeyValueStore(spark, os.path.join(args.data, "kv"))
        vk = f"last.outbox.{args.kind}.version"
        v_lo = int(kv.get(vk) or -1)
        v_hi = t.version()
        if v_hi <= v_lo:
            result["requests"] = 0
            result["feed"] = {"v_lo": v_lo, "v_hi": v_hi,
                              "files_read": 0, "live_files": None}
            print(json.dumps(result))
            return 0
        feed = t.changes(v_lo, v_hi)
        # a key touched in several commits appears once per commit:
        # keep its LATEST post-state; a key whose last change is a
        # delete gets no request (nothing to boost/augment)
        w = Window.partitionBy("bibcode").orderBy(
            F.col("_commit_version").desc())
        latest = (feed.where(F.col("_change_type") != "update_preimage")
                  .withColumn("_rn", F.row_number().over(w))
                  .where((F.col("_rn") == 1)
                         & (F.col("_change_type") != "delete"))
                  .drop("_rn", "_change_type", "_commit_version",
                        "_commit_timestamp"))
        requests = fn(latest).localCheckpoint()
        batch_dir = os.path.join(out, f"v{v_lo + 1:08d}-{v_hi:08d}")
        write_outbox(requests, batch_dir)
        kv.put(vk, str(v_hi))          # advance only after the write
        p = t.last_changes_probe or {}
        result["requests"] = requests.count()
        result["batch_dir"] = batch_dir
        result["feed"] = {"v_lo": v_lo, "v_hi": v_hi,
                          "files_read": len(p.get("files_read", [])),
                          "live_files": p.get("live_files")}
        print(json.dumps(result))
        return 0

    requests = fn(_records_txn(spark, args.data).read())
    write_outbox(requests, out)
    result["requests"] = requests.count()
    print(json.dumps(result))
    return 0


def cmd_corpus(args) -> int:
    """End-to-end training-corpus preparation over the documents table:
    hygiene gate -> PII scrub -> exact dedup -> near-dup cluster prune
    (MinHash-LSH + connected components, best-quality keeper) ->
    deterministic hash split. Writes the final corpus as parquet plus a
    per-stage JSON summary; composes the same operators the
    oracle-checked queries wrap, so every stage's semantics are
    gate-verified elsewhere."""
    if (args.train_pct < 0 or args.val_pct < 0
            or args.train_pct + args.val_pct > 100):
        raise SystemExit(
            "--train-pct/--val-pct must be non-negative and sum to <= 100 "
            f"(got train={args.train_pct}, val={args.val_pct}); otherwise "
            "the hash-bucket bands overlap and a split is silently empty")
    from pyspark.sql import functions as F

    from .operators.curation import quality_rules, scrub_pii
    from .operators.dedup import exact_dedup, minhash_lsh_pairs
    from .operators.graph import connected_components
    from .sources import load_table

    spark = _spark()
    docs = load_table(spark, args.sf_dir, "documents")
    summary: dict[str, int] = {"input_docs": docs.count()}

    # 1. hygiene gate (Gopher-style rules)
    gated = quality_rules(docs)
    kept = gated.where("keep")
    summary["hygiene_kept"] = kept.count()

    # 2. PII scrub — redacted text replaces the original; audit totals
    scrubbed = scrub_pii(kept)
    pii_totals = scrubbed.agg(
        F.sum("n_email").alias("email"), F.sum("n_ipv4").alias("ipv4"),
        F.sum("n_phone").alias("phone")).first()
    summary["pii_email"] = int(pii_totals["email"] or 0)
    summary["pii_ipv4"] = int(pii_totals["ipv4"] or 0)
    summary["pii_phone"] = int(pii_totals["phone"] or 0)
    clean = scrubbed.select(
        "doc_id", F.col("clean_text").alias("text"), "lang", "source",
        F.length("clean_text").cast("long").alias("n_chars"))
    # later stages reuse `clean` several times (exact fp join, minhash
    # shingles, final anti-joins) — pin it once
    clean = clean.localCheckpoint(eager=True)

    # 3. exact dedup — lowest-id keeper per fingerprint group
    ex = exact_dedup(clean)
    exact_kept = clean.join(
        ex.where("is_keeper").select("doc_id"), "doc_id", "left_semi")
    summary["exact_kept"] = exact_kept.count()

    # 4. near-dup prune — verified LSH pairs resolve to clusters, keep
    # the longest member (doc_id tie-break) of each cluster
    pairs = minhash_lsh_pairs(exact_kept, num_hashes=12, bands=2,
                              jaccard_threshold=args.jaccard,
                              materialize="checkpoint")
    comp = connected_components(pairs.select("id_a", "id_b"),
                                "id_a", "id_b")
    assigned = (exact_kept.select("doc_id", "n_chars")
                .join(comp.withColumnRenamed("id", "doc_id"),
                      "doc_id", "left")
                .select("doc_id", "n_chars",
                        F.coalesce("component", F.col("doc_id"))
                        .alias("cluster_id")))
    keepers = assigned.groupBy("cluster_id").agg(
        F.max_by("doc_id", F.struct(F.col("n_chars"),
                                    (-F.col("doc_id")).alias("neg")))
        .alias("doc_id"))
    neardup_kept = exact_kept.join(keepers.select("doc_id"),
                                   "doc_id", "left_semi")
    summary["neardup_kept"] = neardup_kept.count()

    # 5. deterministic split (same rule family as corpus_train_split)
    bucket = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.lit("split"), F.col("doc_id"))), 1, 4), 16, 10).cast("long")
    final = neardup_kept.withColumn(
        "split",
        F.when(bucket % 100 < args.train_pct, "train")
         .when(bucket % 100 < args.train_pct + args.val_pct, "val")
         .otherwise("test"))

    out = args.out
    final.write.mode("overwrite").parquet(out)
    # count splits from the WRITTEN parquet — re-counting `final` would
    # re-execute the dedup joins and component iterations a second time
    for row in spark.read.parquet(out).groupBy("split").count().collect():
        summary[f"split_{row['split']}"] = row["count"]
    with open(os.path.join(out, "_summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps(summary, sort_keys=True))
    return 0


def cmd_validate(args) -> int:
    from .validate import compare
    spark = _spark()
    left = spark.read.json(args.left)
    right = spark.read.json(args.right)
    diffs = compare(left, right)
    n = diffs.count()
    diffs.show(50, truncate=80)
    print(json.dumps({"mismatches": n}))
    return 0 if n == 0 else 1


def cmd_lake(args) -> int:
    """TxnTable maintenance: DESCRIBE HISTORY, OPTIMIZE (bin-pack
    small files), VACUUM (drop files unreachable from the retained
    snapshots), log retention, a copy-on-write DELETE by predicate,
    and the change-data-feed summary — the operational lifecycle of
    the log-structured records table (sinks/txnlake.py)."""
    from .sinks.txnlake import txn_table
    spark = _spark()
    t = txn_table(spark, args.path, key=args.key)
    out: dict = {"version": t.version()}
    if args.action == "history":
        out["history"] = t.history()
    elif args.action == "compact":
        if args.rows_per_file:
            t.rows_per_file = args.rows_per_file
        v0 = len(t.live_files())
        out["version"] = t.compact()
        out["files_before"] = v0
        out["files_after"] = len(t.live_files())
    elif args.action == "vacuum":
        deleted = t.vacuum(keep_versions=args.keep_versions,
                           min_age_seconds=args.min_age_seconds)
        out["deleted_files"] = len(deleted)
    elif args.action == "cleanup-log":
        deleted = t.cleanup_log(keep_versions=args.keep_versions)
        out["deleted_log_files"] = len(deleted)
    elif args.action == "delete":
        # copy-on-write DELETE: the files holding a matching row are
        # rewritten without it. --expr is the predicate; a parse
        # failure or an empty table report on the JSON contract.
        if not args.expr:
            raise SystemExit("lake delete needs --expr SQL_PREDICATE")
        v0 = t.version()
        try:
            from pyspark.sql import functions as F
            # eager parse/resolve: a bad predicate is a JSON error,
            # not a Spark traceback
            try:
                from pyspark.errors import AnalysisException
            except ImportError:                  # pragma: no cover
                from pyspark.sql.utils import AnalysisException
            try:
                _ = t.read().limit(0).select(
                    F.expr(args.expr).cast("boolean")).schema
            except AnalysisException as e:
                raise ValueError(
                    f"delete predicate {args.expr!r} does not parse/"
                    f"resolve against the table schema: "
                    f"{e.getMessage() if hasattr(e, 'getMessage') else e}")
            out["version"] = t.delete(where=args.expr)
        except (ValueError, FileNotFoundError) as e:
            print(json.dumps({"error": str(e), "expr": args.expr}))
            return 1
        entry: dict = {}
        if out["version"] != v0:
            # the table's own accessors know the log layout — never
            # rebuild the '_txn/<version>.json' path here (ADVICE r10)
            entry = t._load_json(
                dict(t._entry_files())[out["version"]])
        # rows of the removed files minus the rows written back
        adds = entry.get("adds") or []
        out["deleted_rows"] = (
            sum((entry.get("remove_stats") or {}).values())
            - sum(a.get("rows") or 0 for a in adds))
        out["files_rewritten"] = len(adds)
        out["files_dropped"] = len(entry.get("removes") or [])
        p_ = t.last_delete_probe or {}
        out["probe"] = {
            "live_files": p_.get("live_files"),
            "candidate_files": len(p_.get("candidate_files") or [])}
    elif args.action == "changes":
        # change-data-feed inspection (Delta's table_changes shape):
        # per-change-type counts + the feed's file probe; --since/--to
        # bound the version range ((since, to], since=-1 from birth).
        # Retention violations (cleaned log entries, vacuumed
        # pre-image files, out-of-range versions) are EXPECTED
        # operational states, not bugs: report them on the command's
        # JSON contract with a nonzero exit instead of a traceback
        # (ADVICE r8) — the feed itself still refuses to serve a
        # partial answer.
        v_hi = args.to_version if args.to_version is not None \
            else t.version()
        try:
            feed = t.changes(args.since_version, v_hi)
        except ValueError as e:
            print(json.dumps({"error": str(e),
                              "range": {"v_lo": args.since_version,
                                        "v_hi": v_hi}}))
            return 1
        from pyspark.sql import functions as F
        out["range"] = {"v_lo": args.since_version, "v_hi": v_hi}
        out["changes"] = {
            r["_change_type"]: r["n"] for r in
            feed.groupBy("_change_type")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
        p = t.last_changes_probe or {}
        out["probe"] = {"files_read": len(p.get("files_read", [])),
                        "live_files": p.get("live_files")}
    print(json.dumps(out))
    return 0


# The records table has one format; ``--fmt`` is kept so existing
# ``--fmt txn`` invocations still parse.
_FMT = ("txn",)
_FMT_HELP = "records format (TxnTable, the only one)"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="adsmasterpipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="apply update events to records")
    pi.add_argument("--events", required=True)
    pi.add_argument("--data", required=True)
    pi.add_argument("--fmt", choices=_FMT, default=_FMT[0],
                    help=_FMT_HELP)
    pi.add_argument("--rows-per-file", type=int, default=500_000,
                    help="target rows per key-clustered file")
    pi.set_defaults(fn=cmd_ingest)

    pr = sub.add_parser("reindex", help="incremental dispatch to sinks")
    pr.add_argument("--data", required=True)
    pr.add_argument("--out")
    pr.add_argument("--force", action="store_true")
    pr.add_argument("--since")
    pr.add_argument("--ignore-checksums", action="store_true")
    pr.add_argument("--bibcodes", help="file with one bibcode per line; "
                    "restricts the run and skips the watermark")
    pr.add_argument("--failed", action="store_true",
                    help="reselect rows whose last dispatch failed")
    pr.add_argument("--fmt", choices=_FMT, default=_FMT[0],
                    help=_FMT_HELP)
    pr.add_argument("--rows-per-file", type=int, default=500_000,
                    help="target rows per clustered file of the "
                    "metrics table")
    pr.set_defaults(fn=cmd_reindex)

    ps = sub.add_parser("sitemap", help="sitemap table + XML generation")
    ps.add_argument("--data", required=True)
    ps.add_argument("--out")
    ps.add_argument("--action",
                    choices=("bootstrap", "update", "auto", "cleanup"),
                    default="update")
    ps.add_argument("--force", action="store_true")
    ps.add_argument("--fmt", choices=_FMT, default=_FMT[0],
                    help=_FMT_HELP)
    ps.add_argument("--incremental", action="store_true",
                    help="auto/cleanup: select from the records "
                    "change feed since the KV version watermark "
                    "instead of rescanning (O(changed files))")
    ps.add_argument("--since",
                    help="auto rescan mode: ISO cutoff for "
                    "bib_data_updated/solr_processed")
    ps.set_defaults(fn=cmd_sitemap)

    pb = sub.add_parser("rebuild", help="full reindex + atomic core swap")
    pb.add_argument("--data", required=True)
    pb.add_argument("--out")
    pb.add_argument("--min-docs", type=int, default=1)
    pb.set_defaults(fn=cmd_rebuild)

    pg = sub.add_parser("gc", help="delete obsolete records")
    pg.add_argument("--data", required=True)
    pg.add_argument("--cutoff", required=True,
                    help="ISO timestamp; bib-less rows older than this go")
    pg.set_defaults(fn=cmd_gc)

    px = sub.add_parser("scixid", help="scix_id maintenance modes")
    px.add_argument("--data", required=True)
    px.add_argument("--flag", choices=("update", "force", "reset"),
                    required=True)
    px.add_argument("--bibcodes", help="file with one bibcode per line")
    px.set_defaults(fn=cmd_scixid)

    pd_ = sub.add_parser("diag", help="table + dispatch health, KV dump")
    pd_.add_argument("--data", required=True)
    pd_.set_defaults(fn=cmd_diag)

    pdel = sub.add_parser("delete", help="remove a file of bibcodes")
    pdel.add_argument("--data", required=True)
    pdel.add_argument("--bibcodes", required=True,
                      help="file with one bibcode per line")
    pdel.add_argument("--out")
    pdel.set_defaults(fn=cmd_delete)

    po = sub.add_parser("outbox", help="derive outbound pipeline requests")
    po.add_argument("--data", required=True)
    po.add_argument("--kind", choices=("augment", "boost", "classify"),
                    required=True)
    po.add_argument("--out")
    po.add_argument("--fmt", choices=_FMT, default=_FMT[0],
                    help=_FMT_HELP)
    po.add_argument("--incremental", action="store_true",
                    help="derive requests from the change-"
                         "data-feed since the last emitted version "
                         "instead of a full-table rescan")
    po.set_defaults(fn=cmd_outbox)

    pc = sub.add_parser("corpus", help="end-to-end training-corpus prep")
    pc.add_argument("--sf-dir", required=True,
                    help="directory holding documents.parquet")
    pc.add_argument("--out", required=True)
    pc.add_argument("--jaccard", type=float, default=0.7)
    pc.add_argument("--train-pct", type=int, default=90)
    pc.add_argument("--val-pct", type=int, default=5)
    pc.set_defaults(fn=cmd_corpus)

    pl = sub.add_parser(
        "lake",
        help="TxnTable history/compact/vacuum/cleanup-log/changes/"
             "delete")
    pl.add_argument("action", choices=["history", "compact", "vacuum",
                                       "cleanup-log", "changes",
                                       "delete"])
    pl.add_argument("--expr",
                    help="delete: SQL predicate selecting the rows to "
                         "delete (the files holding them are "
                         "rewritten without them)")
    pl.add_argument("--since-version", type=int, default=-1,
                    help="changes: feed starts AFTER this version")
    pl.add_argument("--to-version", type=int, default=None,
                    help="changes: feed ends at this version "
                         "(default: latest)")
    pl.add_argument("--path", required=True)
    pl.add_argument("--key", default="bibcode")
    pl.add_argument("--rows-per-file", type=int, default=None)
    pl.add_argument("--keep-versions", type=int, default=10)
    pl.add_argument("--min-age-seconds", type=float, default=3600.0)
    pl.set_defaults(fn=cmd_lake)

    pv = sub.add_parser("validate", help="differential doc compare")
    pv.add_argument("--left", required=True)
    pv.add_argument("--right", required=True)
    pv.set_defaults(fn=cmd_validate)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
