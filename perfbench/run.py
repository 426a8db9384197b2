"""Master-pipeline benchmark: end to end with tracing off, layer by
layer with tracing on.

    python3 perfbench/run.py --workload cron_incremental --seed 1 \\
        --seconds 5 --trace 0

Workloads: ``cron_incremental`` and ``operator_queries`` (see
``pipeline.py`` and ``opqueries.py``).

Run it from the root of a checkout. It drives ``adsmasterpipeline_spark``
in this process at ``local[<cores>]``, writes only under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (span
dumps), checks every output against an independent replay of the
generated events, and prints one JSON object as its last line:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, the
``per_layer`` ones with ``--trace 1``). ``--workload selftest`` checks
the benchmark itself at tiny size.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _environment(work: str) -> None:
    """Confine Spark, the JVM and Python workers to the work dir and
    the cores this process may use. Must run before pyspark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    })
    import tempfile
    tempfile.tempdir = tmp


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    gw = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "adsmasterpipeline_spark",
                                       "cli.py")):
        print("perfbench: adsmasterpipeline_spark not found next to "
              "perfbench/; run from the root of a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "params.json")) as f:
        params = json.load(f)

    sys.path[:0] = [HERE, ROOT]
    import pipeline
    if args.workload != "selftest" and args.workload not in pipeline.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    try:
        if args.workload == "selftest":
            import selftest
            return selftest.main(work, params)
        b = pipeline.Bench(work, args.seed, args.seconds, bool(args.trace),
                           params)
        if b.tracer:
            pipeline.instrument(b.tracer)
        try:
            e2e = pipeline.WORKLOADS[args.workload](b)
        except pipeline.CommandFailed:
            e2e = None
        finally:
            if b.tracer:
                b.tracer.close()
        for err in b.errors:
            print(f"perfbench: {err}", file=sys.stderr)
        if e2e is None:
            print(json.dumps({"correct": False, "attempted": max(b.attempted, 1),
                              "failed": max(b.failed, 1), "metrics": {}}))
            return 1
        if b.tracer:
            values = b.per_layer()
            b.tracer.dump(os.path.join(
                ROOT, ".perfbench_out",
                f"spans-{args.workload}-seed{args.seed}.json"))
            wanted = spec["per_layer"]
        else:
            values = e2e
            wanted = spec["end_to_end"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in wanted}
        print(json.dumps({"correct": b.failed == 0,
                          "attempted": max(b.attempted, 1),
                          "failed": b.failed, "metrics": metrics}))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
