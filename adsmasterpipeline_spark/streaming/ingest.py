"""Structured Streaming cadence of the master pipeline (SURVEY §2.10,
§7 step 7).

The reference's cron-driven incremental loop maps onto
``readStream`` + ``foreachBatch`` + ``Trigger.AvailableNow``:

- KeyValue watermark (run.py:110-137)  → checkpointed source offsets;
- rollback-on-failure (run.py:223-229) → transactional checkpoint
  commit (a failed batch is replayed);
- completeness postponement (P2)       → the same readiness filter,
  re-evaluated every micro-batch;
- "pushy" forced mode                  → the ``force`` parameter.

Each micro-batch runs the steps the CLI runs: ``storage.ingest_step``
(the ``ingest`` verb's merge) and, in ``StreamingReindex``,
``dispatch.dispatch_step`` (the ``reindex`` verb's dispatch).
Streaming is an ingestion cadence here, not a separate engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import EVENT_SCHEMA
from ..storage import ingest_step
# unused here; kept because perfbench/pipeline.py wraps this attribute
from ..storage import merge_updates  # noqa: F401


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

    def _merge_batch(self, batch: DataFrame,
                     now=None) -> tuple[DataFrame, DataFrame]:
        """``storage.ingest_step`` for one micro-batch: returns the
        post-merge rows of the batch's keys (pinned) and the keys the
        batch deleted."""
        merged, _, deleted = ingest_step(self._txn(), batch, now=now)
        return merged, deleted

    def _publish(self, merged: DataFrame, deleted: DataFrame,
                 epoch_id: int) -> None:
        """Commit one micro-batch: upsert ``merged`` and tombstone
        ``deleted`` in one MERGE keyed by the epoch's txn id."""
        t = self._txn()
        txn_id = f"{self.checkpoint_dir}#epoch-{epoch_id}"
        ver = t.version()
        if ver < 0:
            t.overwrite(merged, app_txn_id=txn_id)
            return
        v = t.merge(merged, deleted_keys=deleted, app_txn_id=txn_id)
        if v > ver:                     # replay no-op: v == ver
            self._merges_since_compact += 1
        if (self.auto_compact_every and
                self._merges_since_compact
                >= self.auto_compact_every):
            # Maintenance must never fail the epoch (the DATA commit
            # above already landed): compact rebases on conflict like
            # merge does, and if a concurrent writer still outraces
            # every retry we SKIP this interval — the small files stay
            # live and the next interval picks them up.
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
        self._publish(*self._merge_batch(batch), epoch_id)

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
    """End-to-end streaming dispatch: each micro-batch runs
    ``ingest_step`` and then ``dispatch_step`` over the batch's keys
    (readiness → transform → checksum suppression → the three sinks
    under ``sinks_dir`` → ``mark_processed``), through ``foreachBatch``
    with ``Trigger.AvailableNow``. The sinks are the CLI's: solr docs
    and links as JSON lines, metrics as a TxnTable.

    Solr docs and links are APPENDED, one set of part files per
    micro-batch, so the dirs hold every epoch's delta. Checksum
    suppression is what keeps a redelivered, content-identical event
    from adding sink rows: ``mark_processed`` wrote the per-sink
    checksums back in batch N, so batch N+1 skips the unchanged doc
    (the reference's idempotence, adsmp/tasks.py:396-421).
    tests/test_streaming_reindex.py checks both contracts and that the
    sinks equal the CLI's for the same events.
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
        from ..dispatch import dispatch_step

        if batch.isEmpty():
            return
        merged, deleted = self._merge_batch(batch, now=self.now)
        step = dispatch_step(merged, self.sinks_dir, "append",
                             force=self.force, now=self.now)
        # the writeback changed only batch keys: one MERGE publishes
        # the ingest and the writeback together
        self._publish(step["updated"], deleted, epoch_id)


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
