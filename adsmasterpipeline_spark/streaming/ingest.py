"""Structured Streaming ingestion mode (SURVEY §2.10, §7 step 7).

The reference's cron-driven incremental loop maps onto
``readStream`` + ``foreachBatch`` + ``Trigger.AvailableNow``:

- KeyValue watermark (run.py:110-137)  → checkpointed source offsets;
- rollback-on-failure (run.py:223-229) → transactional checkpoint
  commit (a failed batch is replayed);
- completeness postponement (P2)       → the same readiness filter,
  re-evaluated every micro-batch;
- "pushy" forced mode                  → the ``force`` parameter.

Each micro-batch runs the SAME ``merge_updates`` used in batch mode —
streaming is an ingestion cadence here, not a separate engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import EVENT_SCHEMA
from ..storage import empty_records, merge_updates


class StreamingIngest:
    """File-source streaming ingestion into the records TxnTable
    (sinks/txnlake.py). Each micro-batch publishes as a FILE-GRANULAR
    MERGE of just the batch's keys, committed atomically with the
    epoch id as the application transaction id — so a micro-batch
    REPLAYED after a crash-and-restart (Structured Streaming's
    at-least-once foreachBatch contract) is detected in the log and
    becomes a no-op. That composes the checkpoint's offset tracking
    with sink-side idempotence into end-to-end exactly-once state,
    and each epoch rewrites O(touched files), not O(table).

    ``fmt`` accepts only ``"txn"``, the one records format.
    """

    def __init__(self, spark: SparkSession, events_dir: str,
                 records_path: str, checkpoint_dir: str,
                 fmt: str = "txn", txn_opts: dict | None = None):
        if fmt != "txn":
            raise ValueError(f"unknown records format {fmt!r}: the "
                             "records table is a TxnTable ('txn')")
        self.spark = spark
        self.events_dir = events_dir
        self.records_path = records_path
        self.checkpoint_dir = checkpoint_dir
        # e.g. {"cluster_writes": True, "rows_per_file": ...}: key-
        # clustered data files let the TxnTable's stats pruning bound
        # each epoch's merge probe by the batch's key range.
        # "auto_compact_every": N additionally runs TxnTable.compact()
        # after every Nth commit — each micro-batch merge adds a small
        # file, so an unbounded stream otherwise grows the file count
        # (and every scan's task count) with EPOCHS instead of DATA.
        self.txn_opts = dict(txn_opts or {})
        self.auto_compact_every = self.txn_opts.pop(
            "auto_compact_every", 0)
        # "merge_on_read": True routes each epoch's merge through the
        # deletion-vector form (mask matched rows + one add file per
        # epoch, zero rewrites) — right for wide records tables with
        # scattered per-epoch updates; auto_compact_every then doubles
        # as the mask-materialization cadence (compact rewrites
        # heavily-masked files, dropping their vectors)
        self.merge_on_read = bool(self.txn_opts.pop(
            "merge_on_read", False))
        # "auto_cleanup_log": True additionally runs
        # TxnTable.cleanup_log() after each auto-compact — an
        # unbounded stream otherwise grows the _txn/ LISTING with
        # epochs even though only checkpoint+tail are read. Off by
        # default: it trades away pre-checkpoint time travel.
        self.auto_cleanup_log = self.txn_opts.pop(
            "auto_cleanup_log", False)
        # counts APPLIED merges, not table versions: compact's own
        # commit bumps the version, so a version-modulo check drifts
        # to every N-1 batches (every single batch at N=2), and a
        # crash-replay no-op merge must not trigger a spurious compact
        self._merges_since_compact = 0

    def _txn(self):
        from ..sinks.txnlake import txn_table
        return txn_table(self.spark, self.records_path, **self.txn_opts)

    def _load_records(self) -> DataFrame:
        t = self._txn()
        # live-EMPTY is distinct from nonexistent: an epoch whose
        # deletes removed every row commits a merge with zero adds;
        # the next epoch must see an empty table, not a
        # FileNotFoundError crash-loop (foreachBatch would retry the
        # same batch forever)
        if t.version() >= 0 and t.live_files():
            return t.read()
        return empty_records(self.spark)

    def _merge_batch(self, batch: DataFrame, now=None) -> DataFrame:
        """Load + merge for one micro-batch. Only the batch's keys are
        published, so an existing table is merged against ONLY the
        rows read from candidate data files (TxnTable.read_for_keys —
        per-file stats pruning): per-epoch compute is O(touched files
        + batch), not O(table). The table-wide max id (insert
        numbering) is looked up only when the batch actually
        inserts."""
        from pyspark.sql import functions as F

        t = self._txn()
        # the subset path needs live data files; a live-empty table
        # (all rows deleted) falls through to the empty_records merge
        # below
        if t.version() >= 0 and t.live_files():
            batch_keys = batch.select("bibcode").distinct()
            records = t.read_for_keys(batch_keys)
            n_new = batch_keys.join(records, "bibcode",
                                    "left_anti").count()
            max_id = 0
            if n_new:
                # table-wide max id for insert numbering WITHOUT a
                # table scan: folded driver-side from the per-file id
                # stats every commit records (a t.read().agg(max)
                # would open every live file on every insert epoch).
                # Falls back to the scan only for legacy tables whose
                # files predate id stats.
                max_id = t.max_stat("id")
                if max_id is None:
                    max_id = t.read().agg(
                        F.max("id")).collect()[0][0] or 0
            merged, _ = merge_updates(records, batch, now=now,
                                      max_id=max_id)
            return merged
        merged, _ = merge_updates(self._load_records(), batch, now=now)
        return merged

    def _publish(self, merged: DataFrame, batch: DataFrame,
                 epoch_id: int) -> None:
        """Commit the post-merge table state for one micro-batch."""
        t = self._txn()
        txn_id = f"{self.checkpoint_dir}#epoch-{epoch_id}"
        ver = t.version()
        if ver < 0:
            t.overwrite(merged, app_txn_id=txn_id)
            return
        batch_keys = batch.select("bibcode").distinct()
        touched = merged.join(batch_keys, "bibcode", "left_semi")
        # merge_updates DROPS deleted rows from `merged`, so a batch
        # key absent from the post-merge table was deleted this epoch
        # — it must flow to TxnTable.merge as a tombstone or the old
        # row stays live and is resurrected by the next epoch's read
        deleted = batch_keys.join(merged, "bibcode", "left_anti")
        v = t.merge(touched, deleted_keys=deleted,
                    app_txn_id=txn_id,
                    merge_on_read=self.merge_on_read)
        if v > ver:                     # replay no-op: v == ver
            self._merges_since_compact += 1
        if (self.auto_compact_every and
                self._merges_since_compact
                >= self.auto_compact_every):
            # Maintenance must never fail the epoch (the DATA commit
            # above already landed): compact rebases on conflict like
            # merge does, and if a concurrent writer still outraces
            # every retry we SKIP this interval — the small files stay
            # live and the next interval picks them up. Without this,
            # a multi-writer table's auto-compact raised
            # CommitConflict out of the epoch and cleanup_log after it
            # never ran.
            from ..sinks.txnlake import CommitConflict
            try:
                t.compact(retries=2)
                self._merges_since_compact = 0
            except CommitConflict:
                pass
            if self.auto_cleanup_log:
                t.cleanup_log()

    def _apply_batch(self, batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        merged = self._merge_batch(batch).localCheckpoint()
        self._publish(merged, batch, epoch_id)

    def run_available_now(self) -> None:
        """Process everything currently in events_dir, then stop —
        the streaming analogue of one cron tick."""
        stream = (self.spark.readStream.schema(EVENT_SCHEMA)
                  .json(self.events_dir))
        q = (stream.writeStream
             .foreachBatch(self._apply_batch)
             .option("checkpointLocation", self.checkpoint_dir)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()


class StreamingReindex(StreamingIngest):
    """End-to-end streaming dispatch (SURVEY §7 step 7 — the part
    round 4 left batch-only): each micro-batch runs ingest-merge AND
    the full reindex pipeline — readiness → transform → checksum
    suppression → sink append → ``mark_processed`` writeback — through
    ``foreachBatch`` with ``Trigger.AvailableNow``.

    Contracts proven in tests/test_streaming_reindex.py:

    - two AvailableNow runs over a delivered-then-redelivered event
      set produce sink output IDENTICAL to one batch ``reindex`` over
      the same events (streaming is a cadence, not a different
      engine);
    - a redelivered (content-identical) event produces ZERO sink rows
      in the second run: the stored per-sink checksums that
      ``mark_processed`` wrote back in batch N suppress the unchanged
      doc in batch N+1 — the reference's checksum idempotence
      (adsmp/tasks.py:396-421) across micro-batches.

    Sink writes are APPEND (each micro-batch adds its delta), which is
    exactly why checksum suppression matters: without it a replay
    would duplicate sink rows.
    """

    def __init__(self, spark: SparkSession, events_dir: str,
                 records_path: str, checkpoint_dir: str, sinks_dir: str,
                 force: bool = False, now=None, fmt: str = "txn",
                 txn_opts: dict | None = None):
        super().__init__(spark, events_dir, records_path,
                         checkpoint_dir, fmt=fmt, txn_opts=txn_opts)
        self.sinks_dir = sinks_dir
        self.force = force
        self.now = now  # pin for deterministic tests

    def _apply_batch(self, batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..dispatch import mark_processed, reindex
        from ..transform import solr_docs_json

        if batch.isEmpty():
            return
        merged = self._merge_batch(batch, now=self.now)
        merged = merged.localCheckpoint()
        # dispatch scope: only keys present in this micro-batch can
        # have changed — an O(batch) scan, the incremental_filter
        # analogue keyed by membership instead of a timestamp
        scope = merged.join(batch.select("bibcode").distinct(),
                            "bibcode", "left_semi")
        batches = reindex(scope, force=self.force)
        solr = batches["solr"].localCheckpoint()
        metrics = batches["metrics"].localCheckpoint()
        links = batches["links"].localCheckpoint()

        mtime = [c for c in solr.columns
                 if c.endswith("_mtime") or c == "update_timestamp"]
        solr_docs_json(solr.drop("checksum", *mtime)) \
            .withColumn("_epoch", F.lit(epoch_id)) \
            .write.mode("append").json(os.path.join(self.sinks_dir, "solr"))
        metrics.withColumn("_epoch", F.lit(epoch_id)) \
            .write.mode("append").parquet(
                os.path.join(self.sinks_dir, "metrics"))
        links.withColumn("_epoch", F.lit(epoch_id)) \
            .write.mode("append").json(os.path.join(self.sinks_dir, "links"))

        updated = merged
        for sink, df in (("solr", solr), ("metrics", metrics),
                         ("datalinks", links)):
            updated = mark_processed(updated,
                                     df.select("bibcode", "checksum"),
                                     sink, now=self.now)
        updated = updated.localCheckpoint()
        # mark_processed only touched `done` keys ⊆ batch keys, so the
        # publish's batch-key MERGE covers the writeback too
        self._publish(updated, batch, epoch_id)


def windowed_event_counts(events: DataFrame, window: str = "5 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Event-time windowed aggregation with late-data watermark —
    the standard streaming analytics shape (works on a streaming OR
    batch DataFrame; Spark evaluates windows identically)."""
    from pyspark.sql import functions as F
    return (events
            .withWatermark("event_ts", watermark)
            .groupBy(F.window("event_ts", window).alias("w"), "type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "type", "n"))
