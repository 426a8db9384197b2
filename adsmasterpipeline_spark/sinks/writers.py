"""Sink fan-out (S5-S8).

The reference posts batches to SOLR/metrics-Postgres/link-resolver with
a batch→row degradation on errors (adsmp/app.py:381-584). This repo's
sinks are directory sinks (parquet/JSON) written by Spark's partitioned
writers; there is no HTTP adapter, so the reference's batch→row
fallback (O4-O6) has no counterpart here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import METRICS_SCHEMA


def write_solr_dir(solr_docs: DataFrame, out_dir: str) -> None:
    """S5 batch sink: search docs as JSON lines, partitioned write."""
    solr_docs.write.mode("overwrite").json(out_dir)


def write_links_dir(links: DataFrame, out_dir: str) -> None:
    """S8: resolver payloads as JSON lines."""
    links.write.mode("overwrite").json(out_dir)


def delete_by_bibcodes(sink_table: DataFrame, bibcodes: DataFrame) -> DataFrame:
    """S6 — solr delete-by-bibcode (adsmp/solr_updater.py:372-391) as an
    anti-join over the sink table: the returned DataFrame replaces it
    (tombstone semantics; an HTTP adapter would issue deletes instead)."""
    return sink_table.join(bibcodes.select("bibcode"), "bibcode", "left_anti")


def metrics_upsert(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """S7 — INSERT ... ON CONFLICT (bibcode) DO UPDATE
    (adsmp/app.py:45-77) as a keyed MERGE with the metrics table's
    column defaults (adsmp/models.py:203-211): author_num=1, counts=0,
    arrays=[], refereed=false."""
    parsed = batch.select(
        "bibcode", F.from_json("metrics", METRICS_SCHEMA).alias("m"))
    defaults = {
        "author_num": F.lit(1), "citation_num": F.lit(0),
        "refereed_citation_num": F.lit(0), "reference_num": F.lit(0),
        "refereed": F.lit(False),
        "citations": F.array().cast("array<string>"),
        "refereed_citations": F.array().cast("array<string>"),
        "downloads": F.array().cast("array<int>"),
        "reads": F.array().cast("array<int>"),
    }
    cols = [F.col("bibcode")]
    for f in METRICS_SCHEMA.fieldNames():
        if f == "bibcode":
            continue
        c = F.col("m").getField(f)
        cols.append(F.coalesce(c, defaults[f]).alias(f)
                    if f in defaults else c.alias(f))
    incoming = parsed.select(*cols) \
        .withColumn("modtime", F.current_timestamp())
    if existing is None or not existing.columns:
        return incoming
    # MERGE: incoming row wins; unmatched existing rows survive
    survivors = existing.join(incoming.select("bibcode"), "bibcode",
                              "left_anti")
    return survivors.unionByName(incoming, allowMissingColumns=True)


def write_text_files(rows: list[tuple[str, str]], out_dir: str) -> None:
    """Driver-side helper for small rendered artifacts (robots.txt,
    sitemap_index.xml)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, content in rows:
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
            f.write(content)
