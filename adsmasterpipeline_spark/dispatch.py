"""Incremental dispatch — readiness, checksum-diff change suppression,
sink batch derivation, processed-writeback (P2-P5, O1-O3; SURVEY §2.9).

The reference's `reindex_records` (adsmp/tasks.py:317-460) loops per
bibcode; here the whole dispatch is one DataFrame pipeline:

    records → ready-filter → transform → checksum-join → changed-filter
            → {solr_batch, metrics_batch, links_batch}

and `mark_processed` is a keyed MERGE back onto records.
`dispatch_step` runs that pipeline, writes the three sinks and applies
the writeback; the CLI `reindex` verb and every streaming epoch call
it, so the two cadences share one engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checksum import checksum_col
from .schemas import LINKS_DATA_ITEM_SCHEMA
from .transform import ensure_identifier, transform_records


def readiness_filter(records: DataFrame, force: bool = False) -> DataFrame:
    """P2/P3 (adsmp/tasks.py:371-393): a record is indexable iff
    bib_data + orcid_claims + nonbib_data are all present (complete), or
    ``force`` and bib_data present. Non-force skips records whose four
    tracked sources all predate ``processed``."""
    complete = (F.col("bib_data_updated").isNotNull()
                & F.col("orcid_claims_updated").isNotNull()
                & F.col("nonbib_data_updated").isNotNull())
    if force:
        return records.where(complete
                             | F.col("bib_data_updated").isNotNull())
    processed = F.coalesce(F.col("processed"),
                           F.lit("1972-01-01").cast("timestamp"))
    already = F.lit(True)
    for c in ("augments_updated", "bib_data_updated",
              "nonbib_data_updated", "orcid_claims_updated"):
        already = already & F.col(c).isNotNull() & (F.col(c) < processed)
    return records.where(complete & ~already)


def incremental_filter(records: DataFrame, since) -> DataFrame:
    """P4/O2 (run.py:147-160): watermark scan `updated >= since`,
    skipping rows already processed after their last update."""
    return records.where(
        (F.col("updated") >= F.lit(since))
        & ~(F.col("processed").isNotNull()
            & (F.col("processed") > F.col("updated"))))


def failed_filter(records: DataFrame) -> DataFrame:
    """P5 (run.py:427-473): failed-record selector for re-dispatch."""
    return records.where(
        F.col("bib_data").isNotNull()
        & F.col("status").isNotNull()
        & ~F.col("status").isin("success", "retrying"))


def solr_batch(records: DataFrame, ignore_checksums: bool = False) -> DataFrame:
    """O1 solr leg: transform ready records, suppress docs whose
    checksum equals the stored solr_checksum (adsmp/tasks.py:396-409)."""
    docs = ensure_identifier(transform_records(records))
    doc_struct = F.struct(*[F.col(c) for c in docs.columns
                            if not c.endswith("_mtime")
                            and c != "update_timestamp"])
    docs = docs.withColumn("_new_checksum", checksum_col(doc_struct))
    stored = records.select("bibcode", F.col("solr_checksum").alias("_old"))
    out = docs.join(stored, "bibcode", "left")
    if not ignore_checksums:
        out = out.where(F.col("_old").isNull()
                        | (F.col("_old") != F.col("_new_checksum")))
    return out.drop("_old").withColumnRenamed("_new_checksum", "checksum")


def metrics_batch(records: DataFrame, ignore_checksums: bool = False) -> DataFrame:
    """O1 metrics leg (adsmp/tasks.py:412-421): payload + checksum diff
    vs stored metrics_checksum."""
    out = records.where(F.col("metrics").isNotNull()).select(
        "bibcode", "metrics",
        checksum_col(F.struct(F.col("metrics"))).alias("checksum"),
        F.col("metrics_checksum").alias("_old"))
    if not ignore_checksums:
        out = out.where(F.col("_old").isNull()
                        | (F.col("_old") != F.col("checksum")))
    return out.drop("_old")


def links_batch(records: DataFrame, ignore_checksums: bool = False) -> DataFrame:
    """O1 links leg — generate_links_for_resolver (adsmp/app.py:876-920):
    prefer nonbib data_links_rows; fall back to bib links_data[0] with
    the /abs/→/pdf/ ESOURCE pair (F13)."""
    # data_links_rows has dynamic schema -> keep as raw JSON via path
    nonbib_rows = F.get_json_object("nonbib_data", "$.data_links_rows")
    bib_links = F.from_json("bib_data", "links_data array<string>") \
        .getField("links_data")
    first_link = F.from_json(F.element_at(bib_links, 1), LINKS_DATA_ITEM_SCHEMA)
    url = first_link.getField("url")
    url_pdf = F.regexp_replace(url, "/abs/", "/pdf/")
    fallback_rows = F.to_json(F.array(
        F.struct(F.array(url).alias("url"),
                 F.array(F.lit("")).alias("title"),
                 F.lit(0).alias("item_count"),
                 F.lit("ESOURCE").alias("link_type"),
                 F.lit("EPRINT_HTML").alias("link_sub_type")),
        F.struct(F.array(url_pdf).alias("url"),
                 F.array(F.lit("")).alias("title"),
                 F.lit(0).alias("item_count"),
                 F.lit("ESOURCE").alias("link_type"),
                 F.lit("EPRINT_PDF").alias("link_sub_type")),
    ))
    rows = F.when(nonbib_rows.isNotNull(), nonbib_rows) \
        .otherwise(F.when(url.isNotNull(), fallback_rows))
    out = (
        records
        .select("bibcode", rows.alias("data_links_rows"),
                F.col("datalinks_checksum").alias("_old"))
        .where(F.col("data_links_rows").isNotNull())
        .withColumn("checksum",
                    checksum_col(F.struct(F.col("data_links_rows"))))
    )
    if not ignore_checksums:
        out = out.where(F.col("_old").isNull()
                        | (F.col("_old") != F.col("checksum")))
    return out.drop("_old")


def mark_processed(records: DataFrame, done: DataFrame, sink: str,
                   now=None, status: str = "success") -> DataFrame:
    """O3 (adsmp/app.py:432-468): per-sink processed timestamp +
    checksum + status writeback for the succeeded keys. ``done`` has
    columns (bibcode, checksum); ``sink`` ∈ {solr, metrics, datalinks}.
    """
    assert sink in ("solr", "metrics", "datalinks")
    now = F.current_timestamp() if now is None else now
    d = done.select("bibcode", F.col("checksum").alias("_cs"))
    hit = F.col("_cs").isNotNull()
    out = records.join(d, "bibcode", "left")
    out = (
        out
        .withColumn(f"{sink}_processed",
                    F.when(hit, now).otherwise(F.col(f"{sink}_processed")))
        .withColumn(f"{sink}_checksum",
                    F.when(hit, F.col("_cs")).otherwise(F.col(f"{sink}_checksum")))
        .withColumn("processed", F.when(hit, now).otherwise(F.col("processed")))
        .withColumn("status",
                    F.when(hit, F.lit(status)).otherwise(F.col("status")))
    )
    return out.drop("_cs")


def reindex(records: DataFrame, since=None, force: bool = False,
            ignore_checksums: bool = False) -> dict[str, DataFrame]:
    """O1/O2 composed: the full dispatch pipeline. Returns the three
    sink batches; callers write them and then MERGE `mark_processed`."""
    scope = records if since is None else incremental_filter(records, since)
    ready = readiness_filter(scope, force=force)
    return {
        "solr": solr_batch(ready, ignore_checksums),
        "metrics": metrics_batch(ready, ignore_checksums),
        "links": links_batch(ready, ignore_checksums),
    }


def merge_probe(table) -> dict:
    """File counts of ``table``'s last MERGE probe, for command output."""
    p = table.last_merge_probe or {}
    return {"live_files": p.get("live_files"),
            "candidate_files": len(p.get("candidate_files", [])),
            "touched_files": len(p.get("touched_files", []))}


def dispatch_step(records: DataFrame, sinks_dir: str, mode: str,
                  scope: DataFrame | None = None, since=None,
                  force: bool = False, ignore_checksums: bool = False,
                  now=None, rows_per_file: int = 500_000) -> dict:
    """One dispatch over ``scope`` (default: all of ``records``):
    ``reindex``, then the solr docs and the links as JSON lines under
    ``<sinks_dir>/solr`` and ``<sinks_dir>/links``, written with
    Spark save mode ``mode``; the metrics rows upserted into the
    key-clustered TxnTable at ``<sinks_dir>/metrics`` (a stat-pruned
    MERGE that opens only files whose key range can hold a batch
    bibcode, the reference's INSERT..ON CONFLICT, adsmp/app.py:45-77);
    then ``mark_processed`` for the three sinks.

    Returns a dict: ``updated``, ``records`` with the writeback applied
    (pinned); ``touched``, its rows whose key went to a sink (the only
    rows the writeback changed); ``counts``, the rows per sink; and
    ``probes``, the metrics MERGE's file probe when one ran.
    """
    # looked up at call time, so a tracer that replaces these module
    # attributes sees every call
    from .sinks import writers
    from .sinks.txnlake import txn_table
    from .transform import solr_docs_json

    batches = reindex(records if scope is None else scope, since=since,
                      force=force, ignore_checksums=ignore_checksums)
    solr, metrics, links = (batches[k].cache()
                            for k in ("solr", "metrics", "links"))
    mtime = [c for c in solr.columns
             if c.endswith("_mtime") or c == "update_timestamp"]
    writers.write_solr_dir(solr_docs_json(solr.drop("checksum", *mtime)),
                           os.path.join(sinks_dir, "solr"), mode)
    probes: dict = {}
    incoming = writers.metrics_upsert(metrics).localCheckpoint()
    mt = txn_table(records.sparkSession, os.path.join(sinks_dir, "metrics"),
                   cluster_writes=True, rows_per_file=rows_per_file)
    if mt.version() >= 0 and mt.live_files():
        mt.merge(incoming)
        probes["metrics_merge"] = merge_probe(mt)
    elif incoming.count():
        mt.overwrite(incoming)
    writers.write_links_dir(links, os.path.join(sinks_dir, "links"), mode)

    updated = records
    for sink, df in (("solr", solr), ("metrics", metrics),
                     ("datalinks", links)):
        updated = mark_processed(updated, df.select("bibcode", "checksum"),
                                 sink, now=now)
    touched = (solr.select("bibcode")
               .unionByName(metrics.select("bibcode"))
               .unionByName(links.select("bibcode"))
               .distinct().withColumn("_touched", F.lit(True)))
    updated = updated.join(touched, "bibcode", "left").localCheckpoint()
    counts = {"solr": solr.count(), "metrics": metrics.count(),
              "links": links.count()}
    for df in (solr, metrics, links):
        df.unpersist()
    return {"updated": updated.drop("_touched"),
            "touched": updated.where(F.col("_touched").isNotNull())
            .drop("_touched"),
            "counts": counts, "probes": probes}
