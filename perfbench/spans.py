"""In-process span tracer for the traced benchmark run.

Spans are installed by attribute replacement: ``Tracer.wrap`` swaps a
module function or class method for a wrapper that opens a span around
the call, and ``Tracer.close`` puts every original back. A span records
its name, start, end, parent and the Spark job ids launched while it was
open (``DAGScheduler.nextJobId`` on entry and exit). After each root
span (see ``PHASES``) ``harvest_stages`` reads the jobs' stages from
Spark's status store, which is filled with the UI off.

Spans are kept in memory and written out by ``dump`` at the end.
Python code of the py4j callback thread (``foreachBatch``) runs while
the main thread waits inside the JVM, so one shared stack nests both.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

# root spans the benchmark opens, and the metric prefix of each: the
# untimed phases (a table built from empty or the queries' warm-up; the
# streaming epoch a traced cron run adds) and the timed units (a cron
# tick, a pass over the queries)
PHASES = {"bootstrap": "bootstrap.", "epoch": "epoch.", "tick": "",
          "pass": ""}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Span:
    __slots__ = ("name", "start", "end", "parent", "job0", "job1",
                 "children_s", "child_jobs")

    def __init__(self, name, start, parent, job0):
        self.name, self.start, self.parent, self.job0 = (
            name, start, parent, job0)
        self.end = self.job1 = None
        self.children_s = 0.0
        self.child_jobs = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.job1 - self.job0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.deferred: list = []
        self.patches: list = []
        self.lock = threading.RLock()
        self.seen_stages: set[int] = set()
        self._mapper = None
        # span names recorded even outside a root span (session start
        # belongs to set-up, which has no root span)
        self.always = {"session.get_spark"}

    # -- spans -----------------------------------------------------------
    def _job_id(self) -> int:
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        return 0 if sc is None else int(sc._jsc.sc().dagScheduler().nextJobId())

    def phase(self) -> str:
        """Metric prefix of the open root span."""
        return PHASES.get(self.spans[self.stack[0]].name, "") \
            if self.stack else ""

    def count(self, key: str, v: float = 1) -> None:
        self.counts[self.phase() + key] += v

    def open(self, name: str) -> int:
        with self.lock:
            parent = self.stack[-1] if self.stack else None
            self.spans.append(Span(name, time.perf_counter(), parent,
                                   self._job_id()))
            i = len(self.spans) - 1
            self.stack.append(i)
            return i

    def close_span(self, i: int) -> Span:
        with self.lock:
            s = self.spans[i]
            s.job1 = self._job_id()
            s.end = time.perf_counter()
            assert self.stack.pop() == i, "spans must nest"
            if s.parent is not None:
                p = self.spans[s.parent]
                p.children_s += s.dur
                p.child_jobs += s.jobs
            return s

    def wrap(self, owner, attr: str, name: str, post=None, pre=None):
        """Replace ``owner.attr`` with a spanned wrapper. ``pre(args,
        kwargs)`` runs before the span opens and ``post(tracer, result,
        args, kwargs, pre_value)`` after it closes, so their own cost
        lands in the caller's self time, not the layer's."""
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig

        @functools.wraps(fn)
        def wrapper(*a, **k):
            if not self.stack and name not in self.always:
                return fn(*a, **k)       # outside the measured units
            pv = pre(a, k) if pre else None
            i = self.open(name)
            try:
                res = fn(*a, **k)
            finally:
                self.close_span(i)
            if post:
                post(self, res, a, k, pv)
            return res

        setattr(owner, attr, wrapper)
        self.patches.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self.patches):
            setattr(owner, attr, orig)
        self.patches.clear()

    def run_deferred(self) -> None:
        """Counts that need a Spark action run after the root span, so
        they never add to a measured span."""
        for fn in self.deferred:
            fn()
        self.deferred.clear()

    # -- Spark status store ----------------------------------------------
    def _json(self, spark, obj):
        if self._mapper is None:
            jvm = spark._jvm
            m = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
            m.registerModule(scala.__getattr__("MODULE$"))
            self._mapper = m
        return json.loads(self._mapper.writeValueAsString(obj))

    def harvest_stages(self, spark, root: Span, prefix: str = "") -> None:
        """Add the executor-side cost of the root span's jobs to the
        ``spark.*`` counters. Each stage counts once, for the first job
        that lists it; a stage reused by a later job was skipped there."""
        if root.jobs <= 0:
            return
        store = spark.sparkContext._jsc.sc().statusStore()
        gw = spark.sparkContext._gateway
        jobs = self._json(spark, store.jobsList(None))
        ids = set()
        for j in jobs:
            if root.job0 <= j["jobId"] < root.job1:
                ids.update(j["stageIds"])
        ids -= self.seen_stages
        self.seen_stages |= ids
        none = gw.new_array(gw.jvm.double, 0)
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        c = defaultdict(float)
        for st in self._json(spark, store.stageList(None, False, False,
                                                    none, None)):
            if st["stageId"] not in ids or st["status"] != "COMPLETE":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += st["numCompleteTasks"]
            c["spark.executor_run_ms"] += st["executorRunTime"]
            c["spark.executor_cpu_ms"] += st["executorCpuTime"] / 1e6
            c["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
            c["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
            c["spark.spill_bytes"] += (st["memoryBytesSpilled"]
                                       + st["diskBytesSpilled"])
            if st["numCompleteTasks"] >= 2:
                summ = self._json(spark, store.taskSummary(
                    st["stageId"], st["attemptId"], q))
                if summ:
                    med, mx = summ["executorRunTime"]
                    c["spark._task_median_ms"] += med
                    c["spark._task_max_ms"] += mx
        c["spark.jobs"] += root.jobs
        for k, v in c.items():
            self.counts[prefix + k] += v

    # -- results ---------------------------------------------------------
    def layer_totals(self, units: int) -> dict[str, float]:
        """Inclusive seconds, self seconds and jobs per span name, each
        prefixed with the phase of its root span; a root span's self
        time is its phase's ``unattributed_s``. Under the timed units
        the figures are divided by ``units``, so they are per unit.
        Spans outside any root (session start) count unprefixed."""
        out: dict[str, float] = defaultdict(float)
        root_of = {}
        for i, s in enumerate(self.spans):
            if s.end is None:
                continue
            root = i if s.parent is None else root_of[s.parent]
            root_of[i] = root
            r = self.spans[root]
            pre = PHASES.get(r.name, "")
            w = 1 / units if PHASES.get(r.name) == "" else 1
            if i == root and s.name in PHASES:
                out[pre + "unattributed_s"] += w * (s.dur - s.children_s)
                continue
            out[f"{pre}{s.name}_s"] += w * s.dur
            out[f"{pre}{s.name}.self_s"] += w * (s.dur - s.children_s)
            out[f"{pre}{s.name}.jobs"] += w * s.jobs
        return out

    def dump(self, path: str) -> None:
        rows = [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "jobs": s.jobs if s.end else None}
                for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": rows, "counts": dict(self.counts)}, f)
