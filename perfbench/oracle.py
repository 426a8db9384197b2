"""Independent expectations for the pipeline's outputs.

``Replay`` applies every delivered event serially in pure Python, the
way the reference applies one message at a time (``storage.fold_events``
documents the rules): per payload type the newest event wins, and a
delete wipes the whole record, so only payloads strictly newer than the
delete survive it. Nothing here imports the pipeline.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import xml.etree.ElementTree as ET

PAYLOAD_TYPES = ("bib_data", "nonbib_data", "orcid_claims", "fulltext",
                 "metrics", "augments", "classifications", "boost_factors")
# the readiness filter's completeness rule (dispatch.readiness_filter)
REQUIRED = ("bib_data", "orcid_claims", "nonbib_data")


def md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


class Replay:
    """Serial replay of event batches: ``state[bibcode][type] =
    (payload, event_ts)``."""

    def __init__(self):
        self.state: dict[str, dict[str, tuple[str, str]]] = {}

    def apply(self, events: list[dict]) -> set[str]:
        """Apply one delivered batch; return the keys whose payload
        content (not only timestamps) changed, including created and
        deleted keys."""
        keys = {e["bibcode"] for e in events}
        before = {k: self.content(k) for k in keys}
        # ISO-8601 UTC strings of one width sort in time order; on a
        # tie the delete goes first-to-last like the fold (delete wins)
        for e in sorted(events, key=lambda e: (e["event_ts"],
                                               e["status"] == "deleted")):
            k = e["bibcode"]
            if e["status"] == "deleted":
                self.state.pop(k, None)
            else:
                self.state.setdefault(k, {})[e["type"]] = (
                    e["payload"], e["event_ts"])
        return {k for k in keys if self.content(k) != before[k]}

    def content(self, key: str):
        rec = self.state.get(key)
        return None if rec is None else {t: p for t, (p, _) in rec.items()}

    def complete(self, key: str) -> bool:
        rec = self.state.get(key, {})
        return all(t in rec for t in REQUIRED)

    def indexable(self) -> set[str]:
        """Keys the sitemap must list: live and carrying bib_data."""
        return {k for k, rec in self.state.items() if "bib_data" in rec}

    def rows(self) -> dict[str, tuple]:
        """Per key: (md5 or None, event_ts or None) for each payload
        type, the shape ``records_digest`` collects from Spark."""
        out = {}
        for k, rec in self.state.items():
            row = []
            for t in PAYLOAD_TYPES:
                p, ts = rec.get(t, (None, None))
                row.append((None if p is None else md5(p), ts))
            out[k] = tuple(row)
        return out


def expected_dispatch(replay: Replay, changed: set[str]) -> set[str]:
    """Keys an incremental dispatch must send to the solr sink after a
    batch: content changed, still live and complete. Every generated
    update changes a document field, and generated event times lie
    after every processing time, so the readiness filter's
    already-processed clause never holds back a changed key."""
    return {k for k in changed
            if k in replay.state and replay.complete(k)}


def records_digest(df) -> dict[str, tuple]:
    """Collect the records table as ``Replay.rows`` does, ignoring the
    wall-clock columns (created, updated, processed, *_processed), ids,
    checksums and status. Hashing happens in Spark, so only digests
    cross into Python."""
    from pyspark.sql import functions as F
    cols = [F.col("bibcode")]
    for t in PAYLOAD_TYPES:
        cols.append(F.md5(t).alias(f"h_{t}"))
        cols.append(F.date_format(f"{t}_updated",
                                  "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
                    .alias(f"u_{t}"))
    out = {}
    for r in df.select(*cols).collect():
        out[r["bibcode"]] = tuple((r[f"h_{t}"], r[f"u_{t}"])
                                  for t in PAYLOAD_TYPES)
    return out


def diff_records(got: dict, want: dict) -> list[str]:
    """Human-readable differences, at most five."""
    errs = []
    for k in sorted(set(got) | set(want)):
        if got.get(k) != want.get(k):
            what = ("missing" if k not in got else
                    "unexpected" if k not in want else "differs")
            errs.append(f"record {k} {what}")
            if len(errs) >= 5:
                break
    return errs


def read_solr_docs(paths: list[str]) -> dict[str, str]:
    """bibcode -> md5 of the doc JSON, from solr sink JSON-lines files.
    A key written twice keeps its last line (files in order given)."""
    docs = {}
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    row = json.loads(line)
                    docs[row["bibcode"]] = md5(row["doc"])
    return docs


def json_parts(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "part-*.json")))


def forced_docs(records) -> dict[str, str]:
    """What ``dispatch.reindex(force=True, ignore_checksums=True)``
    renders for every record of the final table, in the sink's doc
    format (checksum and *_mtime columns dropped)."""
    from pyspark.sql import functions as F

    from adsmasterpipeline_spark.dispatch import reindex
    from adsmasterpipeline_spark.transform import solr_docs_json
    solr = reindex(records, force=True, ignore_checksums=True)["solr"]
    mtime = [c for c in solr.columns
             if c.endswith("_mtime") or c == "update_timestamp"]
    docs = solr_docs_json(solr.drop("checksum", *mtime))
    return {r["bibcode"]: r["h"] for r in
            docs.select("bibcode", F.md5("doc").alias("h")).collect()}


_ABS = re.compile(r"/abs/(.*)/abstract$")


def sitemap_counts(files_dir: str, site: str = "ads") -> dict[str, int]:
    """bibcode -> number of sitemap XML files (of one site) listing it."""
    counts: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(files_dir, site,
                                           "sitemap_bib_*.xml"))):
        seen = set()
        for el in ET.parse(p).getroot().iter():
            if el.tag.endswith("loc") and el.text:
                m = _ABS.search(el.text)
                if m:
                    seen.add(m.group(1))
        for b in seen:
            counts[b] = counts.get(b, 0) + 1
    return counts


def check_sitemap(files_dir: str, replay: Replay) -> list[str]:
    """Every live indexable record appears in exactly one sitemap file,
    and nothing else appears."""
    counts = sitemap_counts(files_dir)
    want = replay.indexable()
    errs = []
    missing = want - set(counts)
    extra = set(counts) - want
    dup = {b for b, n in counts.items() if n > 1}
    if missing:
        errs.append(f"sitemap misses {len(missing)} records, e.g. {min(missing)}")
    if extra:
        errs.append(f"sitemap lists {len(extra)} non-indexable keys, e.g. {min(extra)}")
    if dup:
        errs.append(f"{len(dup)} records in several sitemap files, e.g. {min(dup)}")
    return errs


def check_dispatch(got: set[str], want: set[str], redelivered_only: set[str],
                   label: str) -> list[str]:
    """A batch's solr sink holds every changed ready key and no key
    whose only events were identical redeliveries."""
    errs = []
    missing = want - got
    leaked = got & redelivered_only
    extra = got - want - leaked
    if missing:
        errs.append(f"{label}: {len(missing)} changed keys not dispatched, e.g. {min(missing)}")
    if leaked:
        errs.append(f"{label}: {len(leaked)} redelivery-only keys dispatched, e.g. {min(leaked)}")
    if extra:
        errs.append(f"{label}: {len(extra)} unchanged keys dispatched, e.g. {min(extra)}")
    return errs


def redelivery_only(events: list[dict], changed: set[str]) -> set[str]:
    """Keys whose events in the batch left their content unchanged."""
    return {e["bibcode"] for e in events} - changed


def check_latest_docs(latest: dict[str, str], forced: dict[str, str],
                      live: set[str]) -> list[str]:
    """The last doc dispatched for each live key equals the forced
    re-render of the final table."""
    bad = sorted(k for k in latest if k in live and latest[k] != forced.get(k))
    if bad:
        return [f"{len(bad)} latest docs differ from a forced reindex, e.g. {bad[0]}"]
    return []
