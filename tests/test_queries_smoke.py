"""Smoke + invariant tests for every registered query at sf0.001.

The full DuckDB differential check lives in tools/check.py (and the
driver's gate); here we pin cheap invariants so pytest stays fast.
"""

from __future__ import annotations

import pytest

from adsmasterpipeline_spark.queries import REGISTRY, _load
from tests.conftest import SF_DIR

_load()


# the two heaviest smoke params (>= 10 s each: a full near-dup band
# join / a txn lifecycle rebuild) go to the slow tier; every other
# query keeps its default-run smoke row
_SLOW_SMOKE = {"simhash_neardup", "txn_delete_feed"}


@pytest.mark.parametrize(
    "name",
    [pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_SMOKE
     else n for n in sorted(REGISTRY)])
def test_query_runs_and_schema_stable(spark, name):
    qd = REGISTRY[name]
    df = qd.spark_fn(spark, SF_DIR)
    cols = df.columns
    assert len(cols) == len(set(cols)), f"{name}: duplicate column names"
    # run twice: deterministic row count (no sampling / time dependence)
    n1 = df.count()
    n2 = qd.spark_fn(spark, SF_DIR).count()
    assert n1 == n2


def test_entry_contract(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30


def test_oracle_alias_parity():
    """Every oracle must be a plain SELECT/WITH statement (DuckDB-runnable)."""
    for name, qd in REGISTRY.items():
        if qd.oracle is None:
            continue
        head = qd.oracle.strip().split(None, 1)[0].upper()
        assert head in ("SELECT", "WITH"), name
