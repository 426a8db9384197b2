"""Sitemap subsystem (SURVEY §2.7-W3/W4, §2.1-S9/S10, §2.9-O8/O9/O10).

The reference maintains a per-record sitemap table with a running-
counter file assignment (50k records per ``sitemap_bib_{n}.xml``) and
regenerates dirty files via Celery fan-out plus a retry/backoff index
poller. In Spark the mutable counter becomes a window function, the
fan-out becomes a ``groupBy(filename)`` aggregation, and the poller
disappears (deterministic DAG ordering).

Scale note: the bootstrap global ``row_number() OVER (ORDER BY id)``
funnels through one partition. ``operators/assignment.py`` has the
two-phase range-partitioned variant used for large tables; this module
keeps the declarative form (correct at any size, optimal below ~100M
rows — the production corpus is 28.8M).
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import Column, DataFrame, Row, Window as W
from pyspark.sql import functions as F

from .functions.derivations import xml_escape
from .schemas import MAX_RECORDS_PER_SITEMAP

# site definitions mirroring the reference's two-site config
# (config.py:62-76)
SITES = {
    "ads": {
        "sitemap_url": "https://ui.adsabs.harvard.edu/sitemap",
        "abs_url_pattern": "https://ui.adsabs.harvard.edu/abs/{bibcode}/abstract",
    },
    "scix": {
        "sitemap_url": "https://scixplorer.org/sitemap",
        "abs_url_pattern": "https://scixplorer.org/abs/{bibcode}/abstract",
    },
}


# the records columns each change-feed selection reads: the feed is
# projected onto them (``TxnTable.changes(columns=...)``)
AUTO_FEED_COLUMNS = ("bib_data_updated", "solr_processed")
CLEANUP_FEED_COLUMNS = ("bib_data", "status")

_FILE_INDEX = re.compile(r"_bib_([0-9]+)\.xml")


def _included() -> Column:
    """The inclusion predicate; never null."""
    return (F.col("bib_data").isNotNull()
            & (F.col("status").isNull()
               | ~F.col("status").isin("solr-failed", "retrying")))


def should_include(records: DataFrame) -> DataFrame:
    """P6 — should_include_in_sitemap (adsmp/app.py:922-973) as one
    boolean column expression: has bib_data ∧ status ∉ {solr-failed,
    retrying}. Staleness (bib_data_updated − solr_processed > 5 days)
    is logged-but-included in the reference → no filter effect."""
    return records.where(_included())


def catalogue(sitemap: DataFrame) -> list[Row]:
    """One collected row per ``sitemap_filename`` (a null filename is
    its own row): ``rows``, ``lastmod`` (the latest of each row's
    ``filename_lastmoddate``, else ``bib_data_updated``) and ``dirty``
    (the file has a flagged row). One aggregate job; the result is
    bounded by the file count (577 at 28.8M records), and the file
    state, the render set, the indexes and the row total are read
    from it on the driver."""
    return (sitemap.groupBy("sitemap_filename")
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.max(F.coalesce("filename_lastmoddate",
                                  "bib_data_updated")).alias("lastmod"),
                 F.max("update_flag").alias("dirty"))
            .collect())


def _file_index(name: str | None) -> int | None:
    m = _FILE_INDEX.search(name) if name else None
    return int(m.group(1)) if m else None


def dirty_files(cat: list[Row]) -> list[str]:
    """The files of a catalogue that hold a flagged row."""
    return sorted(r["sitemap_filename"] for r in cat
                  if r["dirty"] and r["sitemap_filename"] is not None)


def current_state(cat: list[Row]) -> dict:
    """get_current_sitemap_state (adsmp/app.py:1019-1072) from a
    catalogue: the highest-index ``sitemap_bib_N.xml`` file; if full,
    roll to the next. A filename without such an index is never the
    current file."""
    numbered = [(i, r) for r in cat
                if (i := _file_index(r["sitemap_filename"])) is not None]
    if not numbered:
        return {"filename": "sitemap_bib_1.xml", "count": 0, "index": 1}
    idx, row = max(numbered, key=lambda t: t[0])
    if row["rows"] >= MAX_RECORDS_PER_SITEMAP:
        return {"filename": f"sitemap_bib_{idx + 1}.xml",
                "count": 0, "index": idx + 1}
    return {"filename": row["sitemap_filename"], "count": row["rows"],
            "index": idx}


def assign_filenames(records: DataFrame, start_index: int = 1,
                     start_count: int = 0,
                     max_per_file: int | None = None) -> DataFrame:
    """W3 — sequential file assignment. ``row_number() OVER (ORDER BY
    id)`` with an offset continues from the current state
    (bootstrap: adsmp/tasks.py:679-737; incremental continuation:
    adsmp/app.py:1019-1072, :1129-1141)."""
    if max_per_file is None:
        max_per_file = MAX_RECORDS_PER_SITEMAP
    rn = F.row_number().over(W.orderBy("id")) - 1 + start_count
    idx = F.floor(rn / max_per_file) + start_index
    return records.withColumn(
        "sitemap_filename",
        F.concat(F.lit("sitemap_bib_"), idx.cast("string"), F.lit(".xml")))


def bootstrap(records: DataFrame, now=None) -> DataFrame:
    """Build the sitemap table from scratch: inclusion filter +
    assignment; every row starts dirty (update_flag=True)."""
    now = F.current_timestamp() if now is None else F.lit(now)
    base = should_include(records).select(
        F.col("id").alias("record_id"), F.col("id"), "bibcode", "scix_id",
        "bib_data_updated")
    return (
        assign_filenames(base)
        .select("record_id", "bibcode", "scix_id", "bib_data_updated",
                "sitemap_filename",
                F.lit(None).cast("timestamp").alias("filename_lastmoddate"),
                F.lit(True).alias("update_flag"))
    )


def add_records(sitemap: DataFrame, records: DataFrame,
                force: bool = False) -> DataFrame:
    """O8 'add' action (adsmp/app.py:1074-1238): new bibcodes continue
    the numbering from the current state; existing rows are flagged
    dirty when their bib_data_updated advanced past the file's lastmod
    (or always, under force)."""
    state = current_state(catalogue(sitemap))
    incoming = should_include(records)

    new = incoming.join(sitemap.select("bibcode"), "bibcode", "left_anti") \
        .select(F.col("id").alias("record_id"), F.col("id"), "bibcode",
                "scix_id", "bib_data_updated")
    new_assigned = (
        assign_filenames(new, start_index=state["index"],
                         start_count=state["count"])
        .select("record_id", "bibcode", "scix_id", "bib_data_updated",
                "sitemap_filename",
                F.lit(None).cast("timestamp").alias("filename_lastmoddate"),
                F.lit(True).alias("update_flag"))
    )

    upd = incoming.select("bibcode",
                          F.col("bib_data_updated").alias("_new_upd"))
    flag = (F.lit(True) if force else
            (F.col("filename_lastmoddate").isNull()
             | (F.col("_new_upd") > F.col("filename_lastmoddate"))))
    existing = (
        sitemap.join(upd, "bibcode", "left")
        .withColumn("update_flag",
                    F.when(F.col("_new_upd").isNotNull() & flag, True)
                    .otherwise(F.col("update_flag")))
        .withColumn("bib_data_updated",
                    F.coalesce("_new_upd", "bib_data_updated"))
        .drop("_new_upd")
    )
    return existing.unionByName(new_assigned)


def remove_records(sitemap: DataFrame, bibcodes: DataFrame) -> tuple[DataFrame, list[str]]:
    """O9 'remove' (adsmp/app.py:1263-1313): drop the rows whose
    bibcode is in ``bibcodes`` and report the files the removal
    emptied (sorted). One collect of (rows, removed rows) per affected
    file — bounded by the file count — gives both the affected files,
    whose surviving rows are flagged for regeneration, and the
    emptied ones (every row removed)."""
    gone = (bibcodes.select("bibcode").distinct()
            .withColumn("_gone", F.lit(True)))
    marked = sitemap.join(gone, "bibcode", "left")
    per_file = (marked.groupBy("sitemap_filename")
                .agg(F.count(F.lit(1)).alias("rows"),
                     F.count("_gone").alias("removed"))
                .where(F.col("removed") > 0)
                .collect())
    affected = [r["sitemap_filename"] for r in per_file]
    emptied = sorted(r["sitemap_filename"] for r in per_file
                     if r["rows"] == r["removed"])
    survivors = (
        marked.where(F.col("_gone").isNull())
        .withColumn("update_flag",
                    F.when(F.col("sitemap_filename").isin(affected), True)
                    .otherwise(F.col("update_flag")))
        .select(*sitemap.columns)
    )
    return survivors, emptied


def auto_update_selection(records: DataFrame, sitemap: DataFrame,
                          cutoff) -> DataFrame:
    """O10 — update_sitemaps_auto selection (run.py:558-628): bibcodes
    with ``bib_data_updated >= cutoff`` ∪ ``solr_processed >= cutoff``
    (J4 union-distinct), minus those already flagged dirty (J3
    anti-join)."""
    flagged = sitemap.where("update_flag").select("bibcode")
    recent_bib = records.where(
        F.col("bib_data_updated") >= F.lit(cutoff)).select("bibcode")
    recent_solr = records.where(
        F.col("solr_processed") >= F.lit(cutoff)).select("bibcode")
    return (recent_bib.union(recent_solr).distinct()
            .join(flagged, "bibcode", "left_anti"))


def auto_update_selection_from_feed(feed: DataFrame,
                                    sitemap: DataFrame) -> DataFrame:
    """O10 fed from the records TxnTable's change feed projected onto
    ``AUTO_FEED_COLUMNS``: the selection ``auto_update_selection``
    derives by rescanning the whole records table against a time
    cutoff, derived instead from the row-level deltas of a version
    window — keys inserted in the window, plus keys with an update
    post-image (in the projected feed an update pair exists only
    where ``bib_data_updated`` or ``solr_processed`` moved), minus
    keys already flagged dirty. The version watermark replaces the
    wall-clock cutoff, so the derivation reads O(changed files),
    never the table (reference rescan: run.py:558-628)."""
    flagged = sitemap.where("update_flag").select("bibcode")
    return (feed.where(F.col("_change_type").isin(
                "insert", "update_postimage"))
            .select("bibcode").distinct()
            .join(flagged, "bibcode", "left_anti"))


def cleanup(sitemap: DataFrame, records: DataFrame) -> tuple[DataFrame, list[str]]:
    """O9 cleanup (adsmp/tasks.py:482-583): J1 left-outer join sitemap →
    records; drop rows whose record vanished or no longer qualifies."""
    valid = should_include(records).select(F.col("bibcode").alias("_ok"))
    invalid = sitemap.join(valid, sitemap.bibcode == F.col("_ok"), "left_anti")
    return remove_records(sitemap, invalid.select("bibcode"))


def cleanup_selection_from_feed(feed: DataFrame,
                                sitemap: DataFrame) -> DataFrame:
    """O9 fed from the records TxnTable's change feed projected onto
    ``CLEANUP_FEED_COLUMNS``: the invalidation set ``cleanup`` derives
    by anti-joining the FULL records table every run (reference
    rescan: adsmp/tasks.py:482-583), derived instead from the
    row-level deltas of a version window. A sitemap row
    is invalid iff its key's FINAL image in the window is a delete
    (the record vanished) or a post-image that fails the inclusion
    predicate (``should_include``). Keys untouched in the window were
    validated by the previous cleanup tick, so the window selection
    equals the rescan on the same table (equality-tested in
    tests/test_cli.py). The per-key latest-image window partitions by
    bibcode — no global exchange — and the feed reads O(changed
    files), never the table (the same consumer shape as ``--action
    auto --incremental`` and ``outbox --incremental``)."""
    finals = feed.where(F.col("_change_type").isin(
        "insert", "delete", "update_postimage"))
    w = W.partitionBy("bibcode").orderBy(F.col("_commit_version").desc())
    latest = (finals.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1).drop("_rn"))
    # one row per bibcode, and the predicate is never null
    invalid = latest.where(
        (F.col("_change_type") == "delete") | ~_included()) \
        .select("bibcode")
    return (sitemap.join(invalid, "bibcode", "left_semi")
            .select("bibcode").distinct())


# ---------------------------------------------------------------------------
# XML generation (S9/S10) — fully distributed: one output row per file.
# ---------------------------------------------------------------------------

_URLSET_HEADER = ('<?xml version="1.0" encoding="UTF-8"?>\n'
                  '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">')
_INDEX_HEADER = ('<?xml version="1.0" encoding="UTF-8"?>\n'
                 '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">')


def render_sitemap_files(sitemap: DataFrame, site="ads",
                         files=None) -> DataFrame:
    """S9 (adsmp/tasks.py:969-1055): regenerate the XML body of each
    of ``files`` (every file when None), for one site or a sequence of
    sites. Returns (sitemap_filename, site, xml), one row per file and
    site — the render is ONE `groupBy(filename)` shuffle shared by
    every site, files render in parallel. URL entries follow the
    reference template (templates/__init__.py:49-54) with XML-escaped
    bibcodes, ordered by record id."""
    sites = (site,) if isinstance(site, str) else tuple(site)
    scope = (sitemap if files is None else
             sitemap.where(F.col("sitemap_filename").isin(list(files))))
    lastmod = F.date_format(
        F.coalesce("bib_data_updated", F.current_timestamp()), "yyyy-MM-dd")
    grouped = (
        scope
        .withColumn("_entry", F.struct(F.col("record_id"),
                                       xml_escape(F.col("bibcode")).alias("b"),
                                       lastmod.alias("d")))
        .groupBy("sitemap_filename")
        .agg(F.collect_list("_entry").alias("_entries"))
    )

    def xml(s: str):
        pre, post = SITES[s]["abs_url_pattern"].split("{bibcode}")
        entries = F.array_sort(F.transform(
            F.col("_entries"), lambda r: F.struct(
                r.getField("record_id").alias("record_id"),
                F.concat(F.lit(f"\n<url><loc>{pre}"), r.getField("b"),
                         F.lit(f"{post}</loc><lastmod>"), r.getField("d"),
                         F.lit("</lastmod></url>")).alias("e"))))
        return F.concat(
            F.lit(_URLSET_HEADER),
            F.concat_ws("", F.transform(entries, lambda r: r.getField("e"))),
            F.lit("\n</urlset>"))

    return (
        grouped
        .select("sitemap_filename", F.explode(F.array(*[
            F.struct(F.lit(s).alias("site"), xml(s).alias("xml"))
            for s in sites])).alias("_r"))
        .select("sitemap_filename", "_r.site", "_r.xml")
    )


def render_sitemap_indexes(cat: list[Row], sites=tuple(SITES),
                           now: dt.date | None = None) -> dict[str, str]:
    """S10 (adsmp/tasks.py:876-967): each site's index of the
    catalogue's files with their last modification dates (``now``
    where a file has none), rendered on the driver. Files are listed
    by their ``_bib_N.xml`` index; names without one come first."""
    rows = sorted((r for r in cat if r["sitemap_filename"] is not None),
                  key=lambda r: (-1 if (i := _file_index(
                      r["sitemap_filename"])) is None else i))
    now = now or dt.date.today()
    out = {}
    for site in sites:
        base = SITES[site]["sitemap_url"]
        parts = [_INDEX_HEADER]
        for r in rows:
            lastmod = (r["lastmod"].date() if r["lastmod"] else now).isoformat()
            loc = f"{base}/{r['sitemap_filename']}"
            parts.append("\n            <sitemap>\n"
                         f"            <loc>{loc}</loc>\n"
                         f"            <lastmod>{lastmod}</lastmod>\n"
                         "            </sitemap>")
        parts.append("\n</sitemapindex>")
        out[site] = "".join(parts)
    return out


def render_robots_txt(site: str = "ads") -> str:
    """S10 robots.txt pointing at the site's sitemap index."""
    return f"Sitemap: {SITES[site]['sitemap_url']}/sitemap_index.xml\n"


def write_sitemap_files(rendered: DataFrame, out_dir: str) -> int:
    """Write one XML file per (site, filename) under ``out_dir``.

    Executor-side: each partition opens and writes its own files via
    ``foreachPartition``, so rendered XML bodies never funnel through
    the driver. The reference's bootstrap collected every rendered blob
    into one process and spiked to ~50 GB (adsmp/tasks.py:969-1055);
    here the driver only ever sees the written-file count (an
    accumulator). ``out_dir`` must be a shared filesystem at cluster
    scale — the same requirement the reference's volume satisfies.
    """
    import os
    sc = rendered.sparkSession.sparkContext
    n_written = sc.accumulator(0)

    def _write_partition(rows) -> None:
        for r in rows:
            site_dir = os.path.join(out_dir, r["site"])
            os.makedirs(site_dir, exist_ok=True)
            with open(os.path.join(site_dir, r["sitemap_filename"]), "w",
                      encoding="utf-8") as f:
                f.write(r["xml"])
            n_written.add(1)

    rendered.foreachPartition(_write_partition)
    return n_written.value


def write_sites(sitemap: DataFrame, out_dir: str, cat: list[Row],
                only_dirty: bool = True) -> int:
    """Render and write every site's XML files under ``out_dir/<site>``
    — the dirty files of ``cat`` (``catalogue(sitemap)``), or every
    file when not ``only_dirty`` — in one render pass and one
    ``write_sitemap_files``, then each site's index (from ``cat``) and
    robots.txt; returns the number of XML files written."""
    import os
    from .sinks.writers import write_text_files
    files = dirty_files(cat) if only_dirty else None
    total = 0 if files == [] else write_sitemap_files(
        render_sitemap_files(sitemap, site=tuple(SITES), files=files),
        out_dir)
    for site, index in render_sitemap_indexes(cat).items():
        write_text_files([("sitemap_index.xml", index),
                          ("robots.txt", render_robots_txt(site))],
                         os.path.join(out_dir, site))
    return total
