"""The pipeline workloads, driven in process as one closed-loop client:
the next batch lands only after the previous one has been carried to
every sink.

- ``cron_incremental``: set-up builds the table from empty with ``cli
  ingest``, ``cli reindex`` and ``cli sitemap --action bootstrap`` (the
  ``bootstrap`` phase). Each timed tick then runs ``ingest``,
  ``reindex``, ``outbox --incremental``, ``sitemap --action auto
  --incremental`` and ``sitemap --action cleanup --incremental``, all
  ``--fmt txn``. A traced run then carries one more tick batch through
  ``StreamingReindex(fmt="txn")``, one AvailableNow run over the ticked
  table (the ``epoch`` phase), so the streaming path's layers are
  attributed; untraced runs skip it, which keeps a run short enough
  for the benchmark's run budget.
- ``operator_queries``: see ``opqueries``.

``run_stream`` carries the same batches through streaming epochs only;
the self-checks compare its final table with the cron path's.
"""

from __future__ import annotations

import io
import json
import os
import resource
import statistics
import time
from contextlib import redirect_stdout

import gen
import opqueries
import oracle
from spans import PHASES, Tracer, dir_bytes


class CommandFailed(RuntimeError):
    pass


def _max_mtime(paths: list[str]) -> float:
    best = 0.0
    for p in paths:
        for root, _, files in os.walk(p):
            for f in files:
                try:
                    best = max(best, os.path.getmtime(os.path.join(root, f)))
                except OSError:
                    pass
    return best


def _json_lines(d: str) -> int:
    n = 0
    for p in oracle.json_parts(d):
        with open(p, encoding="utf-8") as f:
            n += sum(1 for line in f if line.strip())
    return n


class Bench:
    """One run: the session, the measurements and the check results."""

    def __init__(self, work: str, seed: int, seconds: float, traced: bool,
                 params: dict):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.params = params
        self.tracer = Tracer() if traced else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.walls: list[float] = []
        self.fresh: list[float] = []
        self.keys_carried = 0
        self.setup_s = 0.0
        self.bootstrap_s = 0.0
        self.after_first: dict = {}
        self.spark = None
        # what the checks compared, for the self-checks to corrupt
        self.state: dict = {}

    # -- plumbing --------------------------------------------------------
    def check(self, errs: list[str]) -> None:
        """Count one output check; a check with errors fails."""
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)

    def cli(self, *argv: str) -> dict:
        """Run one CLI command in process; a raise or nonzero return
        fails the command and stops the workload."""
        from adsmasterpipeline_spark import cli
        self.attempted += 1
        buf = io.StringIO()
        try:
            with redirect_stdout(buf):
                rc = cli.main(list(argv))
        except (Exception, SystemExit) as e:
            rc = repr(e)
        if rc != 0:
            self.failed += 1
            self.errors.append(f"cli {argv[0]} failed: {rc}"[:500])
            raise CommandFailed(argv[0])
        lines = buf.getvalue().strip().splitlines()
        return json.loads(lines[-1]) if lines else {}

    def start_session(self) -> None:
        from adsmasterpipeline_spark import session
        self.spark = session.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")

    def land(self, events: list[dict], path: str) -> float:
        """Write a batch beside its destination, rename it into place and
        return the landing time (wall clock, the domain of file mtimes)."""
        tmp = os.path.join(self.work, "landing.tmp")
        gen.write_events(tmp, events)
        os.replace(tmp, path)
        return time.time()

    def _span(self, name: str, fn) -> float:
        """Run ``fn`` under root span ``name``; return its wall."""
        t0 = time.perf_counter()
        i = self.tracer.open(name) if self.tracer else None
        try:
            fn()
        finally:
            if i is not None:
                root = self.tracer.close_span(i)
        wall = time.perf_counter() - t0
        if self.tracer:
            self.tracer.harvest_stages(self.spark, root, PHASES[name])
            self.tracer.run_deferred()
        return wall

    def bootstrap(self, fn, events: list[dict] | None = None,
                  path: str = "") -> None:
        """Build state from empty under the ``bootstrap`` root span;
        ``bootstrap_s`` sums every such call."""
        if events is not None:
            self.land(events, path)
        self.bootstrap_s += self._span("bootstrap", fn)

    def unit(self, name: str, fn, outputs: list[str], events: list[dict],
             path: str) -> None:
        """Land one batch and carry it through ``fn``: record its wall
        and its freshness (landing to the newest output file)."""
        landed = self.land(events, path)
        wall = self._span(name, fn)
        self.walls.append(wall)
        self.fresh.append(_max_mtime(outputs) - landed)
        self.keys_carried += len({e["bibcode"] for e in events})

    def timed_loop(self, step, data_dirs: list[str], live) -> None:
        """Call ``step`` until the measured walls reach ``seconds``.
        Memory and storage are taken after the first unit, so they do
        not depend on how many units fit in the run."""
        while not self.walls or sum(self.walls) < self.seconds:
            step(len(self.walls))
            if len(self.walls) == 1:
                self.after_first = {
                    "peak_rss_mb": self.peak_rss_mb(),
                    "storage_bytes_per_record":
                        sum(dir_bytes(d) for d in data_dirs) / max(live(), 1)}

    # -- results ---------------------------------------------------------
    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024

    def end_to_end(self, preloaded: int) -> dict:
        return {
            "setup_s": self.setup_s,
            "bootstrap_records_per_s": preloaded / self.bootstrap_s,
            "wall_s": statistics.median(self.walls),
            "records_per_s": self.keys_carried / sum(self.walls),
            "freshness_p50_s": statistics.median(self.fresh),
            **self.after_first,
        }

    def per_layer(self) -> dict:
        """Span totals and counters. Those of the timed phase are per
        unit (tick or query pass), so they do not grow with the number
        of units that fit in the run; set-up phases are totals."""
        units = len(self.walls)
        c = self.tracer.counts
        out = dict(self.tracer.layer_totals(units))
        out.update({k: v if k.startswith(("bootstrap.", "epoch.")) else
                    v / units for k, v in c.items() if "._" not in k})
        for pre in set(PHASES.values()):
            def ratio(a, b):
                return c.get(pre + a, 0) / max(c.get(pre + b, 0), 1)
            out[pre + "sinks.txnlake.touched_over_candidate"] = ratio(
                "sinks.txnlake.touched_files", "sinks.txnlake.candidate_files")
            out[pre + "dispatch.dispatched_over_ready"] = ratio(
                "transform.docs", "dispatch.ready_rows")
            out[pre + "spark.task_skew"] = ratio(
                "spark._task_max_ms", "spark._task_median_ms")
        out["traced.wall_s"] = statistics.median(self.walls)
        out["traced.bootstrap_s"] = self.bootstrap_s
        out["traced.setup_s"] = self.setup_s
        return out


# ---------------------------------------------------------------------------
# instrumentation
# ---------------------------------------------------------------------------

def instrument(t: Tracer) -> None:
    """Install one span around each public layer entry point."""
    from adsmasterpipeline_spark import (cli, dispatch, outbox, session,
                                         sitemap, storage, transform)
    from adsmasterpipeline_spark.sinks import txnlake, writers
    from adsmasterpipeline_spark.streaming import ingest

    def count(key, fn=lambda r, a: 1):
        def post(tr, res, a, k, pv):
            tr.count(key, fn(res, a))
        return post

    def table_bytes(a, k):
        return dir_bytes(a[0].path)

    def txn_written(tr, res, a, k, before):
        tr.count("sinks.txnlake.bytes_written", dir_bytes(a[0].path) - before)

    def merge_post(tr, res, a, k, before):
        txn_written(tr, res, a, k, before)
        p = a[0].last_merge_probe or {}
        tr.count("sinks.txnlake.merge_calls")
        tr.count("sinks.txnlake.candidate_files",
                 len(p.get("candidate_files", [])))
        tr.count("sinks.txnlake.live_files", p.get("live_files") or 0)
        tr.count("sinks.txnlake.touched_files",
                 len(p.get("touched_files", [])))

    def changes_post(tr, res, a, k, pv):
        p = a[0].last_changes_probe or {}
        tr.count("sinks.txnlake.changes_files_read",
                 len(p.get("files_read", [])))

    def defer_count(key):
        """Count the returned DataFrame after the root span closes."""
        def post(tr, res, a, k, pv):
            key_now = tr.phase() + key
            tr.deferred.append(
                lambda: tr.counts.__setitem__(
                    key_now, tr.counts[key_now] + res.count()))
        return post

    T = txnlake.TxnTable
    t.wrap(session, "get_spark", "session.get_spark")
    for cmd in ("ingest", "reindex", "outbox", "sitemap"):
        t.wrap(cli, f"cmd_{cmd}", f"cli.{cmd}")
    t.wrap(storage, "merge_updates", "storage.merge_updates")
    # the streaming module binds its own reference at import
    t.wrap(ingest, "merge_updates", "storage.merge_updates")
    t.wrap(storage.KeyValueStore, "get", "storage.kv",
           post=count("storage.kv_ops"))
    t.wrap(storage.KeyValueStore, "put", "storage.kv",
           post=count("storage.kv_ops"))
    t.wrap(T, "merge", "sinks.txnlake.merge", pre=table_bytes,
           post=merge_post)
    t.wrap(T, "overwrite", "sinks.txnlake.overwrite", pre=table_bytes,
           post=txn_written)
    t.wrap(T, "read_for_keys", "sinks.txnlake.read_for_keys")
    t.wrap(T, "read_for_range", "sinks.txnlake.read_for_range")
    t.wrap(T, "changes", "sinks.txnlake.changes", post=changes_post)
    t.wrap(dispatch, "reindex", "dispatch.reindex")
    t.wrap(dispatch, "mark_processed", "dispatch.mark_processed")
    t.wrap(dispatch, "readiness_filter", "dispatch.readiness_filter",
           post=defer_count("dispatch.ready_rows"))
    t.wrap(transform, "solr_docs_json", "transform.solr_docs_json",
           post=defer_count("transform.docs"))
    t.wrap(writers, "write_solr_dir", "sinks.writers.write_solr_dir",
           post=count("sinks.writers.bytes_written",
                      lambda r, a: dir_bytes(a[1])))
    t.wrap(writers, "write_links_dir", "sinks.writers.write_links_dir",
           post=count("sinks.writers.bytes_written",
                      lambda r, a: dir_bytes(a[1])))
    t.wrap(sitemap, "bootstrap", "sitemap.bootstrap")
    t.wrap(sitemap, "add_records", "sitemap.add_records")
    t.wrap(sitemap, "render_sitemap_files", "sitemap.render")
    t.wrap(sitemap, "write_sitemap_files", "sitemap.write_files",
           post=count("sitemap.files_written", lambda r, a: r))
    t.wrap(outbox, "write_outbox", "outbox.write_outbox",
           post=count("outbox.requests", lambda r, a: _json_lines(a[1])))
    t.wrap(ingest.StreamingReindex, "_apply_batch", "streaming.ingest.epoch")
    t.wrap(ingest.StreamingIngest, "_merge_batch",
           "streaming.ingest.merge_batch")
    t.wrap(ingest.StreamingIngest, "_publish", "streaming.ingest.publish")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def _start(b: Bench):
    """Generate the preload, start the session; return the generator
    and the replay with the preload applied."""
    g = gen.EventGen(b.seed, b.params)
    base = g.base_batch(b.params["preload_records"])
    replay = oracle.Replay()
    replay.apply(base)
    b.start_session()
    return g, base, replay


class Stream:
    """A ``StreamingReindex(fmt="txn")`` over ``work/stream_events``,
    one AvailableNow run per landed batch, and the solr docs each run
    added to its sink."""

    def __init__(self, b: Bench, records: str, sinks: str):
        from adsmasterpipeline_spark.streaming.ingest import StreamingReindex
        self.b = b
        self.inbox = os.path.join(b.work, "stream_events")
        os.makedirs(self.inbox)
        self.solr = os.path.join(sinks, "solr")
        self.sr = StreamingReindex(b.spark, self.inbox, records,
                                   os.path.join(b.work, "ckpt"), sinks,
                                   fmt="txn",
                                   txn_opts={"cluster_writes": True})
        self.seen: set[str] = set()
        self.n = 0

    def path(self) -> str:
        self.n += 1
        return os.path.join(self.inbox, f"e{self.n:04d}.json")

    def run(self) -> None:
        b = self.b
        b.attempted += 1
        try:
            self.sr.run_available_now()
        except Exception as e:
            b.failed += 1
            b.errors.append(f"epoch failed: {e!r}"[:500])
            raise CommandFailed("epoch") from e

    def new_docs(self) -> dict[str, str]:
        parts = [p for p in oracle.json_parts(self.solr)
                 if p not in self.seen]
        self.seen.update(parts)
        return oracle.read_solr_docs(parts)


def _check_batch(b: Bench, docs: dict[str, str], replay: oracle.Replay,
                 events: list[dict], what: str) -> set[str]:
    """Apply one batch to the replay and check what was dispatched."""
    changed = replay.apply(events)
    b.check(oracle.check_dispatch(
        set(docs), oracle.expected_dispatch(replay, changed),
        oracle.redelivery_only(events, changed), what))
    return changed


def _final_checks(b: Bench, replay: oracle.Replay, records_path: str,
                  latest: dict[str, str]) -> None:
    from adsmasterpipeline_spark.sinks.txnlake import txn_table
    records = txn_table(b.spark, records_path).read()
    b.check(oracle.diff_records(oracle.records_digest(records),
                                replay.rows()))
    b.check(oracle.check_latest_docs(latest, oracle.forced_docs(records),
                                     set(replay.state)))


def _catch_up_feed_consumers(spark, data: str) -> None:
    """Mark the change-feed consumers (outbox, sitemap auto, sitemap
    cleanup) as having seen every bootstrap version, as a cron tick
    that ran them would; the bootstrap already rendered every sitemap."""
    from adsmasterpipeline_spark.sinks.txnlake import txn_table
    from adsmasterpipeline_spark.storage import KeyValueStore
    v = str(txn_table(spark, os.path.join(data, "records")).version())
    kv = KeyValueStore(spark, os.path.join(data, "kv"))
    for key in ("last.outbox.boost.version", "last.sitemap.auto.version",
                "last.sitemap.cleanup.version"):
        kv.put(key, v)


def run_cron(b: Bench) -> dict:
    t0 = time.perf_counter()
    g, base, replay = _start(b)
    data = os.path.join(b.work, "data")
    records = os.path.join(data, "records")
    inbox = os.path.join(b.work, "events")
    os.makedirs(inbox)
    solr_dir = os.path.join(data, "sinks", "solr")
    sitemap_files = os.path.join(data, "sitemap_files")

    def bootstrap() -> None:
        path = os.path.join(inbox, "b0000.json")
        b.cli("ingest", "--events", path, "--data", data, "--fmt", "txn")
        b.cli("reindex", "--data", data, "--fmt", "txn")
        b.cli("sitemap", "--data", data, "--action", "bootstrap",
              "--fmt", "txn")

    b.bootstrap(bootstrap, base, os.path.join(inbox, "b0000.json"))
    batches = [base]
    _catch_up_feed_consumers(b.spark, data)
    b.setup_s = time.perf_counter() - t0
    latest = oracle.read_solr_docs(oracle.json_parts(solr_dir))
    b.check(oracle.check_dispatch(
        set(latest), oracle.expected_dispatch(replay, set(replay.state)),
        set(), "bootstrap"))
    b.check(oracle.check_sitemap(sitemap_files, replay))

    def tick(path: str) -> None:
        b.cli("ingest", "--events", path, "--data", data, "--fmt", "txn")
        b.cli("reindex", "--data", data, "--fmt", "txn")
        b.cli("outbox", "--data", data, "--kind", "boost", "--fmt", "txn",
              "--incremental")
        for action in ("auto", "cleanup"):
            b.cli("sitemap", "--data", data, "--action", action,
                  "--fmt", "txn", "--incremental")

    def step(i: int) -> None:
        events = g.tick_batch()
        path = os.path.join(inbox, f"t{i + 1:04d}.json")
        outputs = [os.path.join(data, d) for d in
                   ("sinks", "sitemap_files", "sitemap", "outbox")]
        b.unit("tick", lambda: tick(path), outputs, events, path)
        batches.append(events)
        docs = oracle.read_solr_docs(oracle.json_parts(solr_dir))
        changed = _check_batch(b, docs, replay, events, f"tick {i + 1}")
        latest.update(docs)
        b.state["last"] = (events, changed, docs)

    b.timed_loop(step, [records, os.path.join(data, "sinks")],
                 lambda: len(replay.state))
    b.check(oracle.check_sitemap(sitemap_files, replay))
    if b.tracer:
        # attribute the streaming path: one more batch through a
        # StreamingReindex epoch over the ticked table
        st = Stream(b, records, os.path.join(data, "stream_sinks"))
        events = g.tick_batch()
        b.land(events, st.path())
        b._span("epoch", st.run)
        docs = st.new_docs()
        changed = _check_batch(b, docs, replay, events, "streaming epoch")
        latest.update(docs)
        batches.append(events)
        b.state["last"] = (events, changed, docs)
        b.tracer.close()
    _final_checks(b, replay, records, latest)
    b.state.update(replay=replay, batches=batches, latest=latest,
                   records=records, sitemap=sitemap_files)
    return b.end_to_end(b.params["preload_records"])


def run_stream(b: Bench, batches: list[list[dict]]) -> None:
    """Carry ``batches`` (the first builds the table) through one
    streaming epoch each and check every epoch's dispatch and the
    final table."""
    records = os.path.join(b.work, "records")
    b.start_session()
    st = Stream(b, records, os.path.join(b.work, "sinks"))
    replay = oracle.Replay()
    latest: dict[str, str] = {}
    for i, events in enumerate(batches):
        b.land(events, st.path())
        st.run()
        docs = st.new_docs()
        _check_batch(b, docs, replay, events, f"epoch {i}")
        latest.update(docs)
    _final_checks(b, replay, records, latest)
    b.state.update(replay=replay, records=records)


WORKLOADS = {"cron_incremental": run_cron,
             "operator_queries": opqueries.run_queries}
