"""Oracled query surface for the TxnTable's copy-on-write DELETE and
its change feed: the lifecycle is scripted deterministically from
the synthetic source tables so the DuckDB oracle can recompute the
exact same answer from them.

The query rebuilds a scratch TxnTable under /tmp on every call
(rmtree + overwrite/delete script), so repeated runs — the driver gate,
check.py, plan audit, the vanilla sweep — are reproducible at any SF.
The scripted table is O(one source-table subset) and every lifecycle
step is the REAL executed path (``sinks/txnlake.py``): nothing is
mocked.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from . import query


def _scratch(sf_dir: str, name: str) -> str:
    """Deterministic per-(process, sf, query) scratch root, rebuilt
    per call. Keyed by PID so two concurrent harness processes (the
    gate and a sweep, say) can't rmtree each other's staged table out
    from under an in-flight collect; within one process calls are
    sequential by construction. The dir is NOT deleted on return: the
    returned DataFrame reads it lazily (the caller collects after we
    return)."""
    d = os.path.join("/tmp", "txnq", f"pid{os.getpid()}",
                     os.path.basename(os.path.normpath(sf_dir)), name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, "t")


@query(
    "txn_delete_feed",
    """
    SELECT c_custkey, c_acctbal AS acctbal,
           'delete' AS change_type, 1 AS commit_version
    FROM customer WHERE c_mktsegment = 'FURNITURE'
    UNION ALL
    SELECT c_custkey, c_acctbal, 'delete', 2
    FROM customer WHERE c_acctbal < 0 AND c_mktsegment <> 'FURNITURE'
    """,
    "txn", "cdf",
    doc="Copy-on-write DELETE served on the change feed, "
        "exactly-once: bootstrap customers, delete the FURNITURE "
        "segment by predicate (v1), then delete all negative balances "
        "by KEY BATCH (v2) — the overlap (negative-balance FURNITURE "
        "rows) is already gone and must NOT re-report. The oracle "
        "recomputes both commits' deletes from the customer table "
        "alone, so a double-reported or missed deletion "
        "hash-mismatches.")
def txn_delete_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.txnlake import txn_table

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    t = txn_table(spark, _scratch(sf_dir, "delete_feed"),
                  key="c_custkey", cluster_writes=True,
                  rows_per_file=100_000)
    t.overwrite(base)                                            # v0
    assert t.delete(where="c_mktsegment = 'FURNITURE'") == 1     # v1
    neg = base.where(F.col("c_acctbal") < 0).select("c_custkey")
    t.delete(keys=neg)       # v2 (or no-op at an SF with no matches)
    return t.changes(0, t.version()).select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").cast("int").alias("commit_version"))
