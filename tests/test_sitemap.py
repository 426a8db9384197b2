"""Sitemap subsystem tests: inclusion predicate, file rollover,
incremental continuation, remove/emptied-file detection, XML render —
mirroring the reference scenarios (adsmp/tests/test_app.py:2103
rollover; :3361-3803 remove/emptied)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from adsmasterpipeline_spark import sitemap as sm
from adsmasterpipeline_spark.schemas import RECORDS_SCHEMA


def ts(day):
    return dt.datetime(2024, 1, day)


def _records(spark, n, status=None, offset=0):
    rows = []
    for i in range(n):
        rid = offset + i + 1
        r = {f.name: None for f in RECORDS_SCHEMA.fields}
        r.update(id=rid, bibcode=f"B{rid:05d}", bib_data='{"x":1}',
                 bib_data_updated=ts(1 + (i % 5)), status=status)
        rows.append(tuple(r[f.name] for f in RECORDS_SCHEMA.fields))
    return spark.createDataFrame(rows, RECORDS_SCHEMA)


@pytest.fixture()
def small_max(monkeypatch):
    monkeypatch.setattr(sm, "MAX_RECORDS_PER_SITEMAP", 10)


def test_inclusion_predicate(spark):
    ok = _records(spark, 3)
    failed = _records(spark, 2, status="solr-failed", offset=10)
    retrying = _records(spark, 1, status="retrying", offset=20)
    nobib = _records(spark, 2, offset=30).withColumn(
        "bib_data", F.lit(None).cast("string"))
    all_recs = ok.unionByName(failed).unionByName(retrying).unionByName(nobib)
    assert sm.should_include(all_recs).count() == 3


def test_bootstrap_rollover(spark, small_max):
    table = sm.bootstrap(_records(spark, 25))
    counts = {r["sitemap_filename"]: r["count"]
              for r in table.groupBy("sitemap_filename").count().collect()}
    assert counts == {"sitemap_bib_1.xml": 10, "sitemap_bib_2.xml": 10,
                      "sitemap_bib_3.xml": 5}
    # assignment follows id order
    first = table.orderBy("record_id").limit(1).collect()[0]
    assert first["sitemap_filename"] == "sitemap_bib_1.xml"
    assert table.where("update_flag").count() == 25


def test_current_state_and_continuation(spark, small_max):
    table = sm.bootstrap(_records(spark, 25)).cache()
    state = sm.current_state(table)
    assert state == {"filename": "sitemap_bib_3.xml", "count": 5, "index": 3}

    # add 8 more records: 5 fill file 3, 3 roll into file 4
    more = _records(spark, 8, offset=100)
    table2 = sm.add_records(table, more)
    counts = {r["sitemap_filename"]: r["count"]
              for r in table2.groupBy("sitemap_filename").count().collect()}
    assert counts["sitemap_bib_3.xml"] == 10
    assert counts["sitemap_bib_4.xml"] == 3

    # full last file -> next state rolls over
    state2 = sm.current_state(sm.bootstrap(_records(spark, 20)))
    assert state2 == {"filename": "sitemap_bib_3.xml", "count": 0, "index": 3}


def test_add_existing_flags_dirty(spark, small_max):
    recs = _records(spark, 5)
    table = sm.bootstrap(recs).withColumn("update_flag", F.lit(False)) \
        .withColumn("filename_lastmoddate", F.lit(ts(6)).cast("timestamp"))
    # bump one record's bib_data_updated past the file lastmod
    bumped = recs.withColumn(
        "bib_data_updated",
        F.when(F.col("bibcode") == "B00001", F.lit(ts(9)).cast("timestamp"))
        .otherwise(F.col("bib_data_updated")))
    table2 = sm.add_records(table, bumped)
    flagged = {r["bibcode"] for r in table2.where("update_flag").collect()}
    assert flagged == {"B00001"}


def test_remove_and_emptied_files(spark, small_max):
    table = sm.bootstrap(_records(spark, 25)).cache()
    # remove ALL rows of file 3 (ids 21-25) and one row of file 1
    gone = spark.createDataFrame(
        [(f"B{i:05d}",) for i in (1, 21, 22, 23, 24, 25)], "bibcode string")
    survivors, emptied = sm.remove_records(table, gone)
    assert emptied == ["sitemap_bib_3.xml"]
    assert survivors.count() == 19
    # file 1 survivors are flagged for regeneration
    f1 = survivors.where("sitemap_filename = 'sitemap_bib_1.xml'")
    assert f1.where("update_flag").count() == f1.count()


def test_cleanup_drops_invalid(spark, small_max):
    recs = _records(spark, 10)
    table = sm.bootstrap(recs).cache()
    # half the records turn invalid
    recs2 = recs.withColumn(
        "status", F.when(F.col("id") <= 5, "solr-failed"))
    survivors, _ = sm.cleanup(table, recs2)
    assert survivors.count() == 5


def test_render_files_and_index(spark, small_max, tmp_path):
    table = sm.bootstrap(_records(spark, 12)).cache()
    rendered = sm.render_sitemap_files(table, site="ads").cache()
    assert rendered.count() == 2
    xml = {r["sitemap_filename"]: r["xml"] for r in rendered.collect()}
    body = xml["sitemap_bib_1.xml"]
    assert body.startswith('<?xml version="1.0" encoding="UTF-8"?>')
    assert body.count("<url>") == 10
    assert "https://ui.adsabs.harvard.edu/abs/B00001/abstract" in body
    assert body.endswith("</urlset>")

    n = sm.write_sitemap_files(rendered, str(tmp_path))
    assert n == 2
    assert (tmp_path / "ads" / "sitemap_bib_1.xml").exists()

    idx = sm.render_sitemap_indexes(table, ("ads",),
                                    now=dt.date(2024, 2, 1))["ads"]
    assert idx.count("<sitemap>") == 2
    assert "sitemap_bib_2.xml" in idx
    robots = sm.render_robots_txt("scix")
    assert robots == "Sitemap: https://scixplorer.org/sitemap/sitemap_index.xml\n"


def test_write_many_files_executor_side(spark, small_max, tmp_path,
                                        monkeypatch):
    """write_sitemap_files must never materialize rendered XML on the
    driver (the reference's 50 GB bootstrap spike): >32 files, with
    DataFrame.collect poisoned for the duration of the write."""
    from pyspark.sql import DataFrame
    table = sm.bootstrap(_records(spark, 350)).cache()  # 35 files @ 10/ea
    rendered = sm.render_sitemap_files(table, site="ads")

    def _no_collect(self):
        raise AssertionError("driver-side collect() during sitemap write")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    n = sm.write_sitemap_files(rendered, str(tmp_path))
    monkeypatch.undo()

    assert n == 35
    files = sorted((tmp_path / "ads").glob("sitemap_bib_*.xml"))
    assert len(files) == 35
    assert files[0].read_text().count("<url>") == 10


def test_render_only_dirty(spark, small_max):
    table = sm.bootstrap(_records(spark, 12)) \
        .withColumn("update_flag", F.col("record_id") <= 3)
    rendered = sm.render_sitemap_files(table, site="ads")
    # only file 1 contains flagged rows, but it renders ALL its rows
    rows = rendered.collect()
    assert len(rows) == 1
    assert rows[0]["xml"].count("<url>") == 10


def test_xml_escaping(spark, small_max):
    recs = _records(spark, 1).withColumn(
        "bibcode", F.lit("B<&>'\"1"))
    table = sm.bootstrap(recs)
    xml = sm.render_sitemap_files(table).collect()[0]["xml"]
    assert "B&lt;&amp;&gt;&#x27;&quot;1" in xml
    assert "<&>" not in xml.split("urlset")[1].split("<url>")[1].split("</url>")[0]


def _expected_site_files(rows, site: str) -> dict[str, str]:
    """The reference templates rendered in Python: each dirty file's
    urlset (entries by record id), the index and robots.txt."""
    import html
    pre, post = sm.SITES[site]["abs_url_pattern"].split("{bibcode}")
    dirty = {r[4] for r in rows if r[6]}
    out = {}
    for fname in sorted(dirty):
        entries = sorted(
            (r[0], f"\n<url><loc>{pre}{html.escape(r[1])}{post}</loc>"
                   f"<lastmod>{r[3]:%Y-%m-%d}</lastmod></url>")
            for r in rows if r[4] == fname)
        out[fname] = (sm._URLSET_HEADER + "".join(e for _, e in entries)
                      + "\n</urlset>")
    index = [sm._INDEX_HEADER]
    for fname in sorted({r[4] for r in rows},
                        key=lambda f: int(f.split("_")[-1][:-4])):
        last = max(r[5] or r[3] for r in rows if r[4] == fname)
        index.append("\n            <sitemap>\n"
                     f"            <loc>{sm.SITES[site]['sitemap_url']}/"
                     f"{fname}</loc>\n"
                     f"            <lastmod>{last:%Y-%m-%d}</lastmod>\n"
                     "            </sitemap>")
    out["sitemap_index.xml"] = "".join(index) + "\n</sitemapindex>"
    out["robots.txt"] = sm.render_robots_txt(site)
    return out


def test_write_sites_matches_reference_templates(spark, tmp_path):
    """Both sites render from one pass; every written file is
    byte-identical to the per-site render (the reference templates)."""
    rows = [
        (7, "2020A&A...1..7X", None, ts(3), "sitemap_bib_1.xml", None, True),
        (2, "2019<B>..2..2Y", None, ts(5), "sitemap_bib_1.xml",
         dt.datetime(2024, 1, 2), False),
        (5, "2021'Q\"..5..5Z", None, ts(1), "sitemap_bib_1.xml", None, False),
        (11, "2022ApJ..11..1A", None, ts(2), "sitemap_bib_2.xml",
         dt.datetime(2024, 1, 9), False),
        (12, "2022ApJ..12..1A", None, ts(4), "sitemap_bib_2.xml", None,
         False),
        (21, "2023MNRAS.21..1B", None, ts(6), "sitemap_bib_10.xml", None,
         True),
        (20, "2023MNRAS.20..1é", None, ts(7), "sitemap_bib_10.xml", None,
         True),
    ]
    table = spark.createDataFrame(
        rows, "record_id long, bibcode string, scix_id string, "
              "bib_data_updated timestamp, sitemap_filename string, "
              "filename_lastmoddate timestamp, update_flag boolean")
    assert sm.write_sites(table, str(tmp_path)) == 4
    for site in sm.SITES:
        got = {p.name: p.read_text(encoding="utf-8")
               for p in (tmp_path / site).iterdir()}
        assert got == _expected_site_files(rows, site)
