"""Keyed upsert / merge core — the ingestion heart (SURVEY.md §2.2).

The reference applies one protobuf message at a time inside a Postgres
transaction (`update_storage`, `adsmp/app.py:120-195`), relying on the
serial Celery queue for ordering. The Spark engine is set-at-a-time:

1. ``fold_events`` — last-writer-wins per (bibcode, type) via a window
   (M2), then pivot to one row per bibcode with the newest payload +
   timestamp per type;
2. ``merge_updates`` — full-outer MERGE of the folded batch into the
   records table: per payload column ``coalesce(new, old)`` (M1),
   delete tombstones (M3, `delete_by_bibcode` adsmp/app.py:237-277),
   lazy scix_id generation on first bib_data (M7, adsmp/app.py:197-202),
   and a changelog DataFrame of pre-images (J6, adsmp/app.py:175).

``ingest_step`` runs ``merge_updates`` against only the table rows of
the batch's keys; the CLI ``ingest`` verb and every streaming epoch
call it and publish its rows with a file-granular ``TxnTable.merge``
(sinks/txnlake.py), the executed ``MERGE INTO``. The join shuffles on
``bibcode`` only; the update batch side is typically small → AQE
picks a broadcast.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .schemas import PAYLOAD_TYPES, SCIX_ID_GENERATION_FIELDS

_DELETED = "deleted"


def fold_events(events: DataFrame) -> DataFrame:
    """Collapse an event batch to one row per bibcode: newest payload +
    event_ts per payload type (M2), plus a `is_delete` flag if the
    newest event overall for the bibcode is a delete, plus
    ``last_delete_ts`` (newest delete in the batch, null if none).

    Serial-replay equivalence (adsmp/app.py:120-195 + delete_by_bibcode
    :237-277): a delete wipes everything applied before it, so a
    per-type winner survives only if it is STRICTLY newer than the last
    delete — [update q@t1, delete@t2, update p@t3] must fold to {p},
    not {p, q}. Timestamp ties go to the delete (deterministic stand-in
    for unknowable queue order).
    """
    w = W.partitionBy("bibcode", "type").orderBy(F.col("event_ts").desc())
    latest = (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    # newest event overall decides liveness; on a ts tie the delete wins
    w_all = W.partitionBy("bibcode").orderBy(
        F.col("event_ts").desc(), (F.col("status") == _DELETED).desc())
    liveness = (
        events.withColumn("rn", F.row_number().over(w_all))
        .where(F.col("rn") == 1)
        .select("bibcode", (F.col("status") == _DELETED).alias("is_delete"))
    )
    deletes = (
        events.where(F.col("status") == _DELETED)
        .groupBy("bibcode").agg(F.max("event_ts").alias("last_delete_ts"))
    )

    agg = [
        F.max_by(
            F.when((F.col("type") == p) & (F.col("status") != _DELETED),
                   F.struct("payload", "event_ts")),
            F.when(F.col("type") == p, F.col("event_ts")),
        ).alias(f"_{p}")
        for p in PAYLOAD_TYPES
    ]
    folded = (latest.groupBy("bibcode").agg(*agg)
              .join(deletes, "bibcode", "left"))
    cols = [F.col("bibcode"), F.col("last_delete_ts")]
    for p in PAYLOAD_TYPES:
        survives = (F.col("last_delete_ts").isNull()
                    | (F.col(f"_{p}.event_ts") > F.col("last_delete_ts")))
        cols.append(F.when(survives, F.col(f"_{p}.payload")).alias(f"new_{p}"))
        cols.append(F.when(survives, F.col(f"_{p}.event_ts"))
                    .alias(f"new_{p}_updated"))
    return folded.select(*cols).join(liveness, "bibcode", "left")


def scix_id_col(bib_payload_json):
    """Deterministic scix id from configured bib_data fields
    (M7/F17, config.py:146-153): scix:XXXX-XXXX-XXXX derived from
    sha2 of the concatenated generation fields. JVM-side (sha2 +
    formatting), no UDF."""
    parts = [F.coalesce(F.get_json_object(bib_payload_json, f"$.{f}"), F.lit(""))
             for f in SCIX_ID_GENERATION_FIELDS]
    h = F.upper(F.sha2(F.concat_ws("\x1f", *parts), 256))
    return F.concat(
        F.lit("scix:"), F.substring(h, 1, 4), F.lit("-"),
        F.substring(h, 5, 4), F.lit("-"), F.substring(h, 9, 4))


def merge_updates(records: DataFrame, events: DataFrame, now=None,
                  scalable_insert_threshold: int = 100_000,
                  max_id: int | None = None
                  ) -> tuple[DataFrame, DataFrame]:
    """MERGE an event batch into the records table.

    Returns ``(new_records, changelog)``. ``new_records`` replaces the
    table; ``changelog`` is appended to the audit table (old value per
    changed payload column, M1; 'deleted' entries for tombstones, M3).

    Delete-then-newer-update batches follow the reference's serial
    replay (delete_by_bibcode wipes the row; the later update creates a
    fresh record containing only its own payload): record-side payload
    columns not strictly newer than the batch's last delete are nulled
    before coalescing, and the scix_id regenerates when the delete
    wiped bib_data.

    Insert-id assignment: small batches use one window over the insert
    partition; batches above ``scalable_insert_threshold`` route
    through ``operators.assignment.assign_sequential`` (bit-identical
    numbering, zero single-partition exchanges) so a bootstrap ingest
    of tens of millions of rows never funnels through one task.
    """
    now = F.current_timestamp() if now is None else now
    upd = fold_events(events)
    joined = records.alias("r").join(upd.alias("u"), "bibcode", "full_outer")

    is_new = F.col("r.id").isNull()
    is_del = F.coalesce(F.col("u.is_delete"), F.lit(False))
    del_ts = F.col("u.last_delete_ts")

    # deterministic id assignment for inserts: continue from max id in
    # bibcode order (ids drive sitemap ordering, adsmp/models.py:47-50).
    # Callers merging against a SUBSET of the table (the txn streaming
    # path reads only candidate files) must pass the table-wide max_id
    # — the subset's max would collide fresh ids with existing rows.
    if max_id is None:
        max_id = (records.agg(F.max("id")).collect()[0][0] or 0) \
            if records.head(1) else 0
    # threshold decision from the RAW event count (cheap scan) — counting
    # the folded batch would execute the fold windows a second time
    use_scalable = events.count() > scalable_insert_threshold
    # number only the insert batch (contiguous ids), not the whole table
    w_new = W.partitionBy(F.col("r.id").isNull()).orderBy("bibcode")

    any_update = F.greatest(*[
        F.col(f"u.new_{p}_updated").isNotNull() for p in PAYLOAD_TYPES])

    def _old(col_name: str, ts_name: str):
        """Record-side column, wiped when a batch delete supersedes it."""
        survives = del_ts.isNull() | (F.col(f"r.{ts_name}") > del_ts)
        return F.when(survives, F.col(f"r.{col_name}"))

    cols = [
        F.col("bibcode"),
        (F.lit(None).cast("long") if use_scalable
         else F.when(is_new, F.row_number().over(w_new) + F.lit(max_id))
         .otherwise(F.col("r.id"))).alias("id"),
    ]
    # lazy scix_id when bib_data first arrives (adsmp/app.py:197-202);
    # regenerated when a batch delete wiped the old bib_data (the
    # reference's fresh record would derive it anew)
    old_bib = _old("bib_data", "bib_data_updated")
    new_bib = F.coalesce(F.col("u.new_bib_data"), old_bib)
    old_scix = F.when(del_ts.isNull()
                      | (F.col("r.bib_data_updated") > del_ts),
                      F.col("r.scix_id"))
    cols.append(
        F.coalesce(old_scix,
                   F.when(new_bib.isNotNull(), scix_id_col(new_bib)))
        .alias("scix_id"))
    for p in PAYLOAD_TYPES:
        cols.append(F.coalesce(F.col(f"u.new_{p}"),
                               _old(p, f"{p}_updated")).alias(p))
    for p in PAYLOAD_TYPES:
        cols.append(F.coalesce(F.col(f"u.new_{p}_updated"),
                               _old(f"{p}_updated", f"{p}_updated"))
                    .alias(f"{p}_updated"))
    cols += [
        F.coalesce(F.col("r.created"), now).alias("created"),
        F.when(any_update, now).otherwise(F.col("r.updated")).alias("updated"),
        F.col("r.processed").alias("processed"),
        F.col("r.solr_processed").alias("solr_processed"),
        F.col("r.metrics_processed").alias("metrics_processed"),
        F.col("r.datalinks_processed").alias("datalinks_processed"),
        F.col("r.solr_checksum").alias("solr_checksum"),
        F.col("r.metrics_checksum").alias("metrics_checksum"),
        F.col("r.datalinks_checksum").alias("datalinks_checksum"),
        F.col("r.status").alias("status"),
    ]
    merged = joined.select(*cols, is_del.alias("_is_del"),
                           is_new.alias("_is_new"))
    new_records = merged.where(~F.col("_is_del"))
    if use_scalable:
        from .operators.assignment import assign_sequential
        existing = new_records.where(~F.col("_is_new")) \
            .drop("_is_del", "_is_new")
        fresh = (
            assign_sequential(new_records.where(F.col("_is_new")), "bibcode")
            .withColumn("id", F.col("seq") + F.lit(max_id + 1))
            .drop("seq", "_is_del", "_is_new")
        )
        new_records = existing.unionByName(fresh.select(*existing.columns))
    else:
        new_records = new_records.drop("_is_del", "_is_new")

    # changelog: one row per payload column actually overwritten, with
    # the pre-image (adsmp/app.py:175); plus delete tombstone entries
    # (adsmp/app.py:250).
    log_entries = [
        # delete tombstone: old bib_data as the pre-image (adsmp/app.py:250).
        # Fires for ANY delete in the batch — including one superseded by
        # a newer update (the reference logs the wipe before recreating).
        F.when(del_ts.isNotNull() | is_del,
               F.struct(F.lit("deleted").alias("type"),
                        F.col("r.bib_data").alias("oldvalue"))),
    ]
    for p in PAYLOAD_TYPES:
        log_entries.append(
            F.when(F.col(f"u.new_{p}").isNotNull() & ~is_del,
                   F.struct(F.lit(p).alias("type"),
                            F.col(f"r.{p}").alias("oldvalue"))))
    changelog = (
        joined.select(
            F.col("bibcode"),
            F.explode(F.filter(F.array(*log_entries),
                               lambda x: x.isNotNull())).alias("e"),
        )
        .select(
            now.alias("created"),
            F.col("bibcode").alias("key"),
            F.col("e.type").alias("type"),
            F.col("e.oldvalue").alias("oldvalue"),
            F.lit(False).alias("permanent"),
        )
    )
    return new_records, changelog


def ingest_step(table, events: DataFrame, now=None
                ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Merge an event batch into the records ``TxnTable`` ``table``.

    Reads only the table rows of the batch's keys (``read_for_keys``,
    stat-pruned), numbers inserts from the table-wide max id folded
    from the per-file stats (``max_stat``, no data file opened) and
    runs ``merge_updates``. A missing or live-empty table merges
    against an empty frame.

    Returns ``(merged, changelog, deleted)``: the post-merge rows of
    the batch's keys (pinned, since the caller both counts and
    publishes them), the changelog, and the batch keys the merge
    deleted, which the publishing ``TxnTable.merge`` needs as
    tombstones.
    """
    keys = events.select("bibcode").distinct()
    if table.version() >= 0 and table.live_files():
        records = table.read_for_keys(keys)
        max_id = table.max_stat("id")
        if max_id is None:
            # files committed before id stats existed: one scan
            max_id = table.read().agg(F.max("id")).collect()[0][0] or 0
    else:
        records, max_id = empty_records(table.spark), 0
    merged, changelog = merge_updates(records, events, now=now,
                                      max_id=max_id)
    merged = merged.localCheckpoint()
    return merged, changelog, keys.join(merged, "bibcode", "left_anti")


def update_scix_ids(records: DataFrame, flag: str,
                    bibcodes: list[str] | None = None) -> DataFrame:
    """M7 scix_id maintenance modes (``task_update_scixid``,
    adsmp/tasks.py:210-275):

    - ``update``: assign an id where one is missing and bib_data exists;
    - ``force``: regenerate from bib_data for every selected row
      (rows without bib_data go to null);
    - ``reset``: null out the id.

    ``bibcodes`` limits the affected rows (the reference's task operates
    on an explicit list); None applies to the whole table — whole-column
    expressions either way, no per-row loop.
    """
    if flag not in ("update", "force", "reset"):
        raise ValueError(f"flag must be update|force|reset, got {flag!r}")
    in_scope = (F.lit(True) if bibcodes is None
                else F.col("bibcode").isin(*bibcodes))
    gen = F.when(F.col("bib_data").isNotNull(),
                 scix_id_col(F.col("bib_data")))
    if flag == "update":
        new_id = F.when(F.col("scix_id").isNull(), gen) \
            .otherwise(F.col("scix_id"))
    elif flag == "force":
        new_id = gen
    else:  # reset
        new_id = F.lit(None).cast("string")
    return records.withColumn(
        "scix_id", F.when(in_scope, new_id).otherwise(F.col("scix_id")))


def repair_duplicates(records: DataFrame) -> DataFrame:
    """M6 — duplicate-row repair (scripts/fix_db_duplicates.py:57-73):
    for bibcodes holding several rows, take each payload column from the
    row where its ``*_updated`` is newest (per-column latest-wins), keep
    the lowest id, drop the rest. One ``max_by`` aggregation per payload
    column — a single shuffle on bibcode."""
    aggs = [F.min("id").alias("id"),
            F.min("scix_id").alias("scix_id")]
    for p in PAYLOAD_TYPES:
        aggs.append(F.max_by(p, F.coalesce(
            F.col(f"{p}_updated"),
            F.lit("0001-01-01 00:00:00").cast("timestamp"))).alias(p))
        aggs.append(F.max(f"{p}_updated").alias(f"{p}_updated"))
    for c in ("created", "updated", "processed", "solr_processed",
              "metrics_processed", "datalinks_processed"):
        aggs.append(F.max(c).alias(c))
    for c in ("solr_checksum", "metrics_checksum", "datalinks_checksum",
              "status"):
        aggs.append(F.max_by(c, F.coalesce(
            "updated", F.lit("0001-01-01 00:00:00").cast("timestamp")))
            .alias(c))
    return records.groupBy("bibcode").agg(*aggs) \
        .select(*[f.name for f in records.schema.fields])


def empty_records(spark) -> DataFrame:
    from .schemas import RECORDS_SCHEMA
    return spark.createDataFrame([], RECORDS_SCHEMA)


def delete_obsolete_records(records: DataFrame, cutoff) -> DataFrame:
    """M8: GC rows with no bib_data whose last update is older than the
    cutoff (`delete_obsolete_records`, run.py:258-293)."""
    return records.where(
        ~(F.col("bib_data").isNull() & (F.col("updated") <= F.lit(cutoff))))


class KeyValueStore:
    """Watermark / config store (`storage` table, adsmp/models.py:37-44;
    used by incremental reindex run.py:110-137). A driver-side JSON
    object at ``path``, replaced atomically like the TxnTable log: a
    ``put`` writes a temp file next to it and swaps it in with
    ``os.replace``, so a crash mid-put leaves the previous store
    intact. A missing store reads as empty; an unreadable one raises
    (an empty read would silently reset every watermark)."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    def _load(self) -> dict[str, str]:
        try:
            with open(self.path, encoding="utf-8") as f:
                kv = json.load(f)
        except FileNotFoundError:
            return {}
        except (OSError, ValueError) as e:
            raise ValueError(
                f"KV store {self.path} is unreadable: {e}") from e
        if not isinstance(kv, dict):
            raise ValueError(f"KV store {self.path} is not a JSON object")
        return kv

    def get(self, key: str, default: str | None = None) -> str | None:
        return self._load().get(key, default)

    def put(self, key: str, value: str) -> None:
        kv = self._load()
        kv[key] = value
        d = os.path.dirname(os.path.abspath(self.path))
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".kv-{uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(kv, f, sort_keys=True)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self.path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
