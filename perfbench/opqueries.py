"""The ``operator_queries`` workload: the round-1 set of ``bench.py``
(its first ``ROUND1`` ``BENCH_QUERIES``, one per operator family, the
set ``bench.py`` totals as ``r1_subset_total``), imported unedited,
over seeded synthetic tables.

Set-up generates the tables (the stress twin of the repository's test
tables, ``tools/gen_stress.py``, with every table's generator seeded from
``--seed``), counts each query's DuckDB oracle on the same files,
starts the session and runs every query once to warm it (the
``bootstrap`` phase: each query's first run in the session, with its
code generation, first scans and Python worker start). A timed pass
then runs every warmed query once more. In both, ``spark_fn`` builds
the plan (the ``queries.build`` span) and a ``count()`` executes it
(``queries.exec``). Each result is checked against its oracle's row
count where the registry has one; a query without one (rows-only in
the registry) must return rows, since the tables carry planted
duplicates.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

# bench.py: "the first 16 are the round-1 set, unchanged for
# cross-round comparability"
ROUND1 = 16
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def make_tables(out: str, seed: int, scale: float) -> None:
    """Write the ten tables at ``scale`` times the sf0.1 row counts."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.append(os.path.join(root, "tools"))
    import gen_stress as g

    def s(base: int) -> int:
        return int(base * scale)

    def rng(i: int) -> np.random.Generator:
        return np.random.default_rng([seed, i])

    os.makedirs(out)
    g.gen_dims(out, rng(1))
    g.gen_customer(out, s(15_000), rng(2))
    g.gen_supplier(out, s(1_000), rng(3))
    g.gen_part(out, s(20_000), rng(4))
    g.gen_orders_lineitem(out, s(150_000), s(15_000), s(20_000),
                          s(1_000), rng(5))
    g.gen_events(out, s(100_000), s(1_500), rng(6))
    g.gen_documents(out, s(5_000), rng(7))
    g.gen_embeddings(out, s(2_000), rng(8))


def table_rows(d: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata
               .num_rows for t in TABLES)


def oracle_counts(d: str, names: list[str]) -> dict[str, int]:
    """Row count of each query's DuckDB oracle, for those that have one."""
    import duckdb

    from adsmasterpipeline_spark.queries import REGISTRY
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(d, t)}.parquet'")
    out = {}
    for n in names:
        sql = REGISTRY[n].oracle
        if sql is not None:
            sql = sql.strip().rstrip(";")
            out[n] = con.execute(
                f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
    con.close()
    return out


def check_counts(got: dict[str, int], oracle: dict[str, int],
                 what: str) -> list[str]:
    errs = [f"{what}: {n} returned {c} rows, the oracle {oracle[n]}"
            for n, c in sorted(got.items()) if n in oracle and c != oracle[n]]
    errs += [f"{what}: rows-only {n} returned no rows"
             for n, c in sorted(got.items()) if n not in oracle and c < 1]
    return errs


def run_queries(b) -> dict:
    import pipeline
    from bench import BENCH_QUERIES

    from adsmasterpipeline_spark.queries import REGISTRY, _load

    t0 = time.perf_counter()
    data = os.path.join(b.work, "tables")
    make_tables(data, b.seed, b.params["query_scale"])
    rows = table_rows(data)
    _load()
    names = list(BENCH_QUERIES[:ROUND1])
    oracle = oracle_counts(data, names)
    b.start_session()
    tr = b.tracer

    def spanned(name: str, fn):
        i = tr.open(name) if tr else None
        try:
            return fn()
        finally:
            if i is not None:
                tr.close_span(i)

    def run_pass(got: dict[str, int], latencies: list[float]) -> None:
        for n in names:
            b.attempted += 1
            q0 = time.perf_counter()
            try:
                b.spark.catalog.clearCache()
                df = spanned("queries.build",
                             lambda: REGISTRY[n].spark_fn(b.spark, data))
                got[n] = spanned("queries.exec", df.count)
            except Exception as e:
                b.failed += 1
                b.errors.append(f"{n} raised {e!r}"[:500])
                raise pipeline.CommandFailed(n) from e
            latencies.append(time.perf_counter() - q0)

    warm: dict[str, int] = {}
    b.bootstrap(lambda: run_pass(warm, []))
    b.check(check_counts(warm, oracle, "warm-up"))
    b.setup_s = time.perf_counter() - t0

    def step(i: int) -> None:
        got: dict[str, int] = {}
        b.walls.append(b._span("pass", lambda: run_pass(got, b.fresh)))
        b.keys_carried += rows
        b.check(check_counts(got, oracle, f"pass {i + 1}"))

    b.timed_loop(step, [data], lambda: rows)
    return b.end_to_end(rows)
