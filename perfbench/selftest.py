"""Self-checks of the benchmark at tiny size (``--workload selftest``).

- The generator is byte-identical for one seed and differs across seeds.
- On a tiny traced cron run every output check passes, and each check
  rejects a planted corruption: one event dropped, one payload flipped,
  one redelivery dispatched, one sitemap entry lost, one doc changed;
  the query-count check rejects one wrong count and one empty rows-only
  result.
- The streaming path ends with the same records payloads as the cron
  path on the same events.
- The per-tick self times of the layers plus ``unattributed_s``, as
  ``layer_totals`` reports them, equal the tick walls the benchmark
  measured around each unit.
"""

from __future__ import annotations

import copy
import glob
import hashlib
import os
import shutil

import gen
import opqueries
import oracle
import pipeline

TINY = {"preload_records": 24, "tick_keys": 12}


def _draw(work: str, seed: int, params: dict) -> str:
    g = gen.EventGen(seed, params)
    batches = [g.base_batch(params["preload_records"])]
    batches += [g.tick_batch() for _ in range(3)]
    h = hashlib.md5()
    for i, events in enumerate(batches):
        path = os.path.join(work, f"draw-{seed}-{i}.json")
        gen.write_events(path, events)
        with open(path, "rb") as f:
            h.update(f.read())
        os.remove(path)
    return h.hexdigest()


def _bench(work: str, name: str, params: dict,
           traced: bool) -> pipeline.Bench:
    sub = os.path.join(work, name)
    os.makedirs(sub)
    b = pipeline.Bench(sub, seed=3, seconds=0, traced=traced, params=params)
    if traced:
        pipeline.instrument(b.tracer)
    return b


def _span_sums(b: pipeline.Bench) -> list[str]:
    """Self times of the timed phase plus its unattributed time, per
    unit, against the mean of the walls measured around the units."""
    per_unit = sum(v for k, v in b.tracer.layer_totals(len(b.walls)).items()
                   if k.endswith(".self_s") and not k.startswith(
                       ("bootstrap.", "epoch.", "session.")))
    per_unit += b.tracer.layer_totals(len(b.walls))["unattributed_s"]
    wall = sum(b.walls) / len(b.walls)
    if abs(per_unit - wall) > 0.01 * wall + 0.05:
        return [f"self times + unattributed_s = {per_unit}, wall {wall}"]
    return []


def main(work: str, params: dict) -> int:
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what)
        if not ok:
            failures.append(what)

    tiny = dict(params, **TINY)
    expect(_draw(work, 5, tiny) == _draw(work, 5, tiny),
           "generator is byte-identical for one seed")
    expect(_draw(work, 5, tiny) != _draw(work, 6, tiny),
           "generator differs across seeds")

    cron = _bench(work, "cron", tiny, traced=True)
    pipeline.run_cron(cron)
    expect(cron.failed == 0, f"cron checks pass unplanted {cron.errors}")
    expect(not _span_sums(cron),
           f"span self times + unattributed_s = tick wall {_span_sums(cron)}")

    st = cron.state
    from adsmasterpipeline_spark.sinks.txnlake import txn_table
    got = oracle.records_digest(txn_table(cron.spark, st["records"]).read())
    expect(not oracle.diff_records(got, st["replay"].rows()),
           "records check passes unplanted")

    # one event dropped: the first content change of the tick
    events, changed, docs = st["last"]
    drop = next(e for e in events if e["bibcode"] in changed)
    dropped = oracle.Replay()
    for batch in st["batches"]:
        dropped.apply([e for e in batch if e is not drop])
    expect(bool(oracle.diff_records(got, dropped.rows())),
           "records check rejects one dropped event")

    flipped = copy.deepcopy(st["replay"])
    key = min(flipped.state)
    typ = min(flipped.state[key])
    p, ts = flipped.state[key][typ]
    flipped.state[key][typ] = (p.replace("a", "b", 1) + " ", ts)
    expect(bool(oracle.diff_records(got, flipped.rows())),
           "records check rejects one flipped payload")

    replay = st["replay"]
    want = oracle.expected_dispatch(replay, changed)
    redelivered = oracle.redelivery_only(events, changed)
    expect(not oracle.check_dispatch(set(docs), want, redelivered, "t"),
           "dispatch check passes unplanted")
    expect(bool(redelivered) and bool(oracle.check_dispatch(
        set(docs) | {min(redelivered)}, want, redelivered, "t")),
        "dispatch check rejects one redelivery dispatched")
    expect(bool(want) and bool(oracle.check_dispatch(
        set(docs) - {min(want)}, want, redelivered, "t")),
        "dispatch check rejects one changed key not dispatched")

    # the sitemaps were last rendered before the streaming epoch's batch
    rendered = oracle.Replay()
    for batch in st["batches"][:-1]:
        rendered.apply(batch)
    lost = os.path.join(work, "sitemap_lost")
    shutil.copytree(st["sitemap"], lost)
    victim = min(rendered.indexable())
    for path in glob.glob(os.path.join(lost, "ads", "sitemap_bib_*.xml")):
        with open(path, encoding="utf-8") as f:
            xml = f.read()
        kept = [u for u in xml.split("\n<url>")
                if f"/abs/{victim}/" not in u.replace("&amp;", "&")]
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n<url>".join(kept))
    expect(not oracle.check_sitemap(st["sitemap"], rendered),
           "sitemap check passes unplanted")
    expect(bool(oracle.check_sitemap(lost, rendered)),
           "sitemap check rejects one lost entry")

    forced = oracle.forced_docs(txn_table(cron.spark, st["records"]).read())
    live = set(replay.state)
    latest = dict(st["latest"])
    expect(not oracle.check_latest_docs(latest, forced, live),
           "latest-doc check passes unplanted")
    k = min(set(latest) & live)
    latest[k] = oracle.md5("changed")
    expect(bool(oracle.check_latest_docs(latest, forced, live)),
           "latest-doc check rejects one changed doc")

    # "a" and "b" have oracles, "c" is rows-only
    want = {"a": 5, "b": 0}

    def counts(**got) -> list[str]:
        return opqueries.check_counts(got, want, "t")
    expect(not counts(a=5, b=0, c=2), "query-count check passes unplanted")
    expect(bool(counts(a=4, b=0, c=2)),
           "query-count check rejects one wrong count")
    expect(bool(counts(a=5, b=0, c=0)),
           "query-count check rejects an empty rows-only result")

    stream = _bench(work, "stream", tiny, traced=False)
    pipeline.run_stream(stream, st["batches"])
    expect(stream.failed == 0, f"stream checks pass unplanted {stream.errors}")
    sgot = oracle.records_digest(
        txn_table(stream.spark, stream.state["records"]).read())
    expect(sgot == got, "stream and cron end with equal records payloads")

    print(f"{len(failures)} self-check(s) failed" if failures
          else "all self-checks passed")
    return 1 if failures else 0
