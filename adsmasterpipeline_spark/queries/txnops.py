"""Oracled query surfaces for the TxnTable lifecycle ops that were
pytest-green only (VERDICT r9 task 6, extended r10/r11): RESTORE's
change-feed diff, CHECK-constraint write gating and deletion-vector
DELETE / RESTORE — each scripted deterministically from the synthetic
source tables so the DuckDB oracle can recompute the exact same answer
from them.

All of them rebuild a scratch TxnTable under /tmp on every call
(rmtree + overwrite/merge script), so repeated runs — the driver gate,
check.py, plan audit, the vanilla sweep — are reproducible at any SF.
The scripted tables are O(one source-table subset) and every lifecycle
step is the REAL executed path (``sinks/txnlake.py``): nothing is
mocked.

Reference anchor: the reference undoes a bad batch by replaying
change_log pre-images row by row (/root/reference/adsmp/models.py:
127-141) and has no declarative constraint layer; the log-structured
table answers both with commits (Delta VLDB'20 RESTORE / ALTER TABLE
ADD CONSTRAINT shapes).
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
    "txn_restore_diff",
    """
    WITH mx AS (SELECT MAX(c_custkey) + 1 AS off FROM customer),
    b AS (SELECT c_custkey, c_acctbal FROM customer
          WHERE c_mktsegment = 'BUILDING')
    SELECT c_custkey, c_acctbal + 100 AS acctbal,
           'update_preimage' AS change_type, 2 AS commit_version
    FROM b
    UNION ALL
    SELECT c_custkey, c_acctbal, 'update_postimage', 2 FROM b
    UNION ALL
    SELECT c_custkey + (SELECT off FROM mx), c_acctbal, 'delete', 2
    FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
    "txn", "restore", "cdf",
    doc="RESTORE served as a row-level change feed: script "
        "overwrite(v0) -> merge(v1: +100 on BUILDING, clone-inserts "
        "from MACHINERY) -> restore(0) (v2), then read changes(1, 2). "
        "The feed must be exactly the UNDO of the merge — update "
        "pairs back to the original balances plus deletes of the "
        "inserted clones — which the oracle recomputes from the "
        "customer table alone.")
def txn_restore_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.txnlake import txn_table

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    t = txn_table(spark, _scratch(sf_dir, "restore_diff"),
                  key="c_custkey", cluster_writes=True,
                  rows_per_file=100_000)
    t.overwrite(base)                                            # v0
    # clone-key offset derived from the data (max key + 1) so the
    # inserts can never collide with real keys at ANY scale factor
    off = base.agg(F.max("c_custkey")).collect()[0][0] + 1
    upd = base.where(F.col("c_mktsegment") == "BUILDING") \
        .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100.0))
    ins = base.where(F.col("c_mktsegment") == "MACHINERY") \
        .withColumn("c_custkey", F.col("c_custkey") + F.lit(int(off)))
    assert t.merge(upd.unionByName(ins)) == 1                    # v1
    assert t.restore(0) == 2                                     # v2
    return t.changes(1, 2).select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").cast("int").alias("commit_version"))


@query(
    "txn_constraint_gate",
    """
    WITH base AS (
        SELECT p_partkey, p_brand, p_size,
               CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents
        FROM part
        WHERE CAST(ROUND(p_retailprice * 100) AS BIGINT) <= 150000),
    merged AS (
        SELECT p_partkey, p_brand,
               CASE WHEN p_size < 25
                    THEN LEAST((cents * 6) // 5, 150000)
                    ELSE cents END AS cents
        FROM base),
    r AS (SELECT COUNT(*) > 0 AS refused FROM base
          WHERE p_size < 25 AND (cents * 6) // 5 > 150000)
    SELECT p_brand,
           COUNT(*)                       AS n_parts,
           CAST(SUM(cents) AS BIGINT)     AS sum_cents,
           (SELECT refused FROM r)        AS refused_violating_batch
    FROM merged GROUP BY p_brand
    """,
    "txn", "constraints",
    doc="CHECK-constraint write gating, integer-cent exact: bootstrap "
        "parts priced <= 1500.00, set CHECK cents <= 150000, merge a "
        "+20% repricing batch (must REFUSE when any row crosses the "
        "cap — the flag column carries whether enforcement fired), "
        "then merge the capped batch and aggregate the final state "
        "per brand. The oracle recomputes the gated end state AND the "
        "refusal flag from the part table alone, so broken "
        "enforcement hash-mismatches.")
def txn_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.txnlake import txn_table

    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    base = (load_table(spark, sf_dir, "part")
            .select("p_partkey", "p_brand", "p_size",
                    cents.alias("cents"))
            .where(F.col("cents") <= 150_000))
    t = txn_table(spark, _scratch(sf_dir, "constraint_gate"),
                  key="p_partkey", cluster_writes=True,
                  rows_per_file=100_000)
    t.overwrite(base)                                            # v0
    assert t.set_constraint("price_cap", "cents <= 150000") == 1  # v1

    repriced = base.where(F.col("p_size") < 25).withColumn(
        "cents", F.expr("cents * 6 div 5"))
    refused = False
    try:
        t.merge(repriced)
    except ValueError:
        refused = True
    if not refused:
        # no row crossed the cap at this SF: the uncapped merge IS the
        # capped one; the oracle's refusal flag is false too
        assert t.version() == 2
    else:
        assert t.version() == 1    # the refused write committed NOTHING
        capped = repriced.withColumn(
            "cents", F.least(F.col("cents"), F.lit(150_000)))
        assert t.merge(capped) == 2                              # v2
    return (t.read().groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum("cents").alias("sum_cents"))
            .withColumn("refused_violating_batch", F.lit(refused)))


@query(
    "txn_dv_delete_feed",
    """
    SELECT c_custkey, c_acctbal AS acctbal,
           'delete' AS change_type, 1 AS commit_version
    FROM customer WHERE c_mktsegment = 'FURNITURE'
    UNION ALL
    SELECT c_custkey, c_acctbal, 'delete', 2
    FROM customer WHERE c_acctbal < 0 AND c_mktsegment <> 'FURNITURE'
    """,
    "txn", "dv", "cdf",
    doc="Deletion-vector DELETE served on the change feed, "
        "exactly-once: bootstrap customers, DV-delete the FURNITURE "
        "segment by predicate (v1, zero data files rewritten), then "
        "DV-delete all negative balances by KEY BATCH (v2) — the "
        "overlap (negative-balance FURNITURE rows) is already masked "
        "and must NOT re-report. The oracle recomputes both commits' "
        "deletes from the customer table alone, so a double-reported "
        "or missed deletion hash-mismatches.")
def txn_dv_delete_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.txnlake import txn_table

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    t = txn_table(spark, _scratch(sf_dir, "dv_delete_feed"),
                  key="c_custkey", cluster_writes=True,
                  rows_per_file=100_000)
    t.overwrite(base)                                            # v0
    assert t.delete(where="c_mktsegment = 'FURNITURE'") == 1     # v1
    neg = base.where(F.col("c_acctbal") < 0).select("c_custkey")
    t.delete(keys=neg)       # v2 (or no-op at an SF with no matches)
    # the headline property, asserted at every SF: a DV delete
    # commits ZERO data files (adds empty unless a whole file died,
    # which cluster_writes' 100k-row files make impossible here)
    e = t._load_json(dict(t._entry_files())[1])
    assert e["adds"] == [] and e["operation"] == "delete"
    return t.changes(0, t.version()).select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").cast("int").alias("commit_version"))


@query(
    "txn_dv_restore_state",
    """
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM customer WHERE c_mktsegment <> 'FURNITURE'
    GROUP BY c_mktsegment
    """,
    "txn", "dv", "restore",
    doc="Reads THROUGH deletion vectors after a DV-aware RESTORE: "
        "DV-delete FURNITURE (v1), DV-delete negative balances (v2), "
        "RESTORE to v1 (v3 — a metadata-only commit that rolls the "
        "vector pointers back, resurrecting exactly v2's masked "
        "rows), then aggregate the live state per segment in integer "
        "cents. The oracle recomputes v1's state from the customer "
        "table, so a read that leaks masked rows or loses restored "
        "ones hash-mismatches.")
def txn_dv_restore_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.txnlake import txn_table

    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", cents.alias("cents"))
    t = txn_table(spark, _scratch(sf_dir, "dv_restore_state"),
                  key="c_custkey", cluster_writes=True,
                  rows_per_file=100_000)
    t.overwrite(base)                                            # v0
    assert t.delete(where="c_mktsegment = 'FURNITURE'") == 1     # v1
    t.delete(where="cents < 0")  # v2 (no-op at an SF with no matches)
    t.restore(1)                 # v3: rolls v2's pointers back
    return (t.read().groupBy(
        F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_cust"),
             F.sum("cents").alias("sum_cents")))


@query(
    "txn_replace_where_feed",
    """
    WITH c AS (SELECT c_custkey,
                      CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
               FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT c_custkey, cents, 'update_preimage' AS change_type
    FROM c WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey, cents + 100, 'update_postimage'
    FROM c WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey, cents, 'delete' FROM c WHERE c_custkey % 2 = 1
    """,
    "txn", "partition", "cdf",
    doc="Dynamic partition overwrite (Delta's replaceWhere) served on "
        "the change feed: bootstrap customers PARTITIONED BY market "
        "segment, then atomically replace the BUILDING partition with "
        "a recomputed batch (even-keyed customers repriced +100; "
        "odd-keyed dropped) — only that partition's files are removed "
        "(asserted), every other segment's files survive untouched. "
        "The feed must key-diff the swap into exactly the update "
        "pre/post pairs and deletes the oracle recomputes from the "
        "customer table alone; a replace that leaked another "
        "partition's rows or missed part of BUILDING hash-mismatches.")
def txn_replace_where_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.txnlake import txn_table

    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", cents.alias("cents"))
    t = txn_table(spark, _scratch(sf_dir, "replace_where_feed"),
                  key="c_custkey", cluster_writes=True,
                  rows_per_file=100_000,
                  partition_by=("c_mktsegment",))
    t.overwrite(base)                                            # v0
    newb = (base.where((F.col("c_mktsegment") == "BUILDING")
                       & (F.col("c_custkey") % 2 == 0))
            .withColumn("cents", F.col("cents") + F.lit(100)))
    assert t.overwrite(
        newb, replace_where="c_mktsegment = 'BUILDING'") == 1    # v1
    # the dynamic-partition-overwrite shape, asserted at every SF:
    # only the BUILDING partition's files were swapped
    snap0_live = t._load_json(dict(t._entry_files())[0])["adds"]
    e = t._load_json(dict(t._entry_files())[1])
    assert e["replace_where"] == "c_mktsegment = 'BUILDING'"
    removed = set(e["removes"])
    parts = {a["path"]: a["part"]["c_mktsegment"]
             for a in snap0_live}
    assert all(parts[p] == "BUILDING" for p in removed)
    assert removed == {p for p, seg in parts.items()
                       if seg == "BUILDING"}
    return t.changes(0, 1).select(
        "c_custkey", "cents",
        F.col("_change_type").alias("change_type"))


@query(
    "txn_partition_dv_state",
    """
    WITH c AS (SELECT c_mktsegment,
                      CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
               FROM customer)
    SELECT c_mktsegment AS segment,
           COUNT(*)                   AS n_cust,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM (SELECT c_mktsegment, cents + 7 AS cents FROM c
          WHERE c_mktsegment = 'BUILDING' AND cents >= 0
          UNION ALL
          SELECT c_mktsegment, cents FROM c
          WHERE c_mktsegment = 'AUTOMOBILE' AND cents >= 0)
    GROUP BY c_mktsegment
    """,
    "txn", "partition", "dv",
    doc="Composition of the round-10/11 lake features on one table: "
        "customers PARTITIONED by segment (v0), deletion-vector "
        "delete of every negative balance (v1, zero data files "
        "written — masks inside partition-pure files), then "
        "replaceWhere of the BUILDING partition with the repriced "
        "survivors (+7 cents, v2), read back through a PARTITION-"
        "PRUNED read_where over two segments. The oracle recomputes "
        "the end state from the customer table alone, so a mask "
        "leaking through the swap, a swap leaking into another "
        "partition, or a pruned read skipping a live file all "
        "hash-mismatch.")
def txn_partition_dv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.txnlake import txn_table

    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", cents.alias("cents"))
    t = txn_table(spark, _scratch(sf_dir, "partition_dv_state"),
                  key="c_custkey", cluster_writes=True,
                  rows_per_file=100_000,
                  partition_by=("c_mktsegment",))
    t.overwrite(base)                                            # v0
    t.delete(where="cents < 0")  # v1 (no-op at an SF with no matches)
    newb = (base.where((F.col("c_mktsegment") == "BUILDING")
                       & (F.col("cents") >= 0))
            .withColumn("cents", F.col("cents") + F.lit(7)))
    t.overwrite(newb, replace_where="c_mktsegment = 'BUILDING'")
    out = (t.read_where(
        "c_mktsegment IN ('BUILDING', 'AUTOMOBILE')")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_cust"),
             F.sum("cents").alias("sum_cents")))
    # the partition-pruned read really skipped the other segments
    probe = t.last_read_probe
    assert len(probe["candidate_files"]) < probe["live_files"], probe
    return out
