"""Tests for the coverage gap-fills: bibcode-list source (S4),
duplicate-row repair (M6), sitemap auto-update selection (O10)."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F

from adsmasterpipeline_spark.schemas import RECORDS_SCHEMA
from adsmasterpipeline_spark.sitemap import auto_update_selection
from adsmasterpipeline_spark.sources.testdata import bibcode_list
from adsmasterpipeline_spark.storage import repair_duplicates


def ts(day):
    return dt.datetime(2024, 1, day)


def test_bibcode_list_source(spark, tmp_path):
    f = tmp_path / "bibs.txt"
    f.write_text("B1\nB2\n\n  B3  \n")
    got = [r["bibcode"] for r in bibcode_list(spark, str(f)).collect()]
    assert sorted(got) == ["B1", "B2", "B3"]


def test_load_table_coerces_drifted_physical_types(spark, tmp_path):
    """Regenerated testdata with narrower/variant physical types (the
    round-2 events.ts incident, generalized) must coerce to the
    canonical logical schema every registered query compiles against;
    data already canonical passes through un-projected."""
    import pandas as pd

    from adsmasterpipeline_spark.sources.testdata import (
        CANONICAL_TYPES, load_table,
    )

    drifted = pd.DataFrame({
        "doc_id": pd.array([1, 2], dtype="int32"),       # canonical: bigint
        "text": ["a b", "c d"],
        "lang": ["en", "de"],
        "source": ["s0", "s1"],
        "n_chars": pd.array([3, 3], dtype="int32"),       # canonical: bigint
    })
    drifted.to_parquet(tmp_path / "documents.parquet")
    df = load_table(spark, str(tmp_path), "documents")
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got["doc_id"] == "bigint" and got["n_chars"] == "bigint"
    assert df.count() == 2

    # canonical map itself must describe the real testdata: loading the
    # actual tables triggers zero coercions (no extra Project on the hot
    # path)
    from tests.conftest import SF_DIR
    for name in CANONICAL_TYPES:
        real = load_table(spark, SF_DIR, name)
        want = CANONICAL_TYPES[name]
        for f in real.schema.fields:
            if f.name in want:
                assert f.dataType.simpleString() == want[f.name], \
                    (name, f.name, f.dataType.simpleString())


def _dup_records(spark):
    base = {f.name: None for f in RECORDS_SCHEMA.fields}
    rows = []
    # row 1: newer bib_data, older metrics
    r1 = dict(base, id=10, bibcode="D1",
              bib_data=json.dumps({"v": "new"}), bib_data_updated=ts(5),
              metrics=json.dumps({"v": "old"}), metrics_updated=ts(1),
              updated=ts(5))
    # row 2: older bib_data, newer metrics
    r2 = dict(base, id=11, bibcode="D1",
              bib_data=json.dumps({"v": "old"}), bib_data_updated=ts(2),
              metrics=json.dumps({"v": "new"}), metrics_updated=ts(4),
              updated=ts(4))
    r3 = dict(base, id=20, bibcode="D2",
              bib_data=json.dumps({"v": "only"}), bib_data_updated=ts(1),
              updated=ts(1))
    for r in (r1, r2, r3):
        rows.append(tuple(r[f.name] for f in RECORDS_SCHEMA.fields))
    return spark.createDataFrame(rows, RECORDS_SCHEMA)


def test_repair_duplicates_per_column_latest_wins(spark):
    out = {r["bibcode"]: r for r in repair_duplicates(_dup_records(spark)).collect()}
    assert len(out) == 2
    d1 = out["D1"]
    assert d1["id"] == 10                                    # lowest id kept
    assert json.loads(d1["bib_data"])["v"] == "new"          # from row 1
    assert json.loads(d1["metrics"])["v"] == "new"           # from row 2
    assert d1["bib_data_updated"] == ts(5)
    assert d1["metrics_updated"] == ts(4)
    # non-duplicated rows pass through
    assert json.loads(out["D2"]["bib_data"])["v"] == "only"


def test_auto_update_selection(spark):
    base = {f.name: None for f in RECORDS_SCHEMA.fields}
    recs = spark.createDataFrame([
        tuple(dict(base, id=1, bibcode="A", bib_data_updated=ts(9))[f.name]
              for f in RECORDS_SCHEMA.fields),       # recent bib
        tuple(dict(base, id=2, bibcode="B", solr_processed=ts(9))[f.name]
              for f in RECORDS_SCHEMA.fields),       # recent solr
        tuple(dict(base, id=3, bibcode="C", bib_data_updated=ts(9),
                   solr_processed=ts(9))[f.name]
              for f in RECORDS_SCHEMA.fields),       # both (dedup via union)
        tuple(dict(base, id=4, bibcode="D", bib_data_updated=ts(1))[f.name]
              for f in RECORDS_SCHEMA.fields),       # too old
    ], RECORDS_SCHEMA)
    sm = spark.createDataFrame(
        [(1, "B", None, None, None, None, True)],
        "record_id long, bibcode string, scix_id string, "
        "bib_data_updated timestamp, sitemap_filename string, "
        "filename_lastmoddate timestamp, update_flag boolean")
    got = sorted(r["bibcode"] for r in
                 auto_update_selection(recs, sm, ts(5)).collect())
    # B excluded (already flagged), D excluded (old), C once
    assert got == ["A", "C"]
