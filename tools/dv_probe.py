"""Deletion-vector probe: measure the write cost of a delete served
merge-on-read (TxnTable.delete, deletion vectors) vs copy-on-write
(TxnTable.merge with deleted_keys) on the SAME table and key batch.

The claim being priced (SCALE.md round 10): a DV delete writes
O(deleted positions) regardless of file width; the copy-on-write form
rewrites every touched file minus the deleted rows. At 100 TB a
0.1%-of-keys purge touches nearly every file, so the rewrite cost is
~the table; the DV cost stays ~the position list.

Output: one JSON object with, per delete fraction, the bytes written,
files rewritten, and wall seconds of each form, plus the post-delete
read parity check (both forms must yield identical surviving rows).

Usage: python tools/dv_probe.py [--json OUT.json] [--rows N]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def _tree_bytes(path: str) -> dict[str, int]:
    out = {}
    for root, _d, files in os.walk(os.path.join(path, "data")):
        for n in files:
            full = os.path.join(root, n)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def main() -> int:
    from pyspark.sql import functions as F

    from adsmasterpipeline_spark.session import get_spark
    from adsmasterpipeline_spark.sinks.txnlake import txn_table

    argv = sys.argv[1:]
    json_out = None
    rows = 400_000
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    if argv and argv[0] == "--rows":
        rows = int(argv[1])
        argv = argv[2:]

    spark = get_spark("dv_probe")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="dvprobe_")
    out: dict = {"rows": rows, "fractions": []}
    try:
        # a WIDE row (the records-table shape: fat JSON-ish payload)
        # makes the rewrite-vs-positions asymmetry honest — DV cost
        # does not grow with width, copy-on-write cost does
        base = spark.range(rows).select(
            F.col("id"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload1"),
            F.repeat(F.sha2(F.col("id").cast("string"), 512), 4)
             .alias("payload2"),
            (F.col("id") % 997).alias("grp"))
        for frac in (0.001, 0.01, 0.1):
            n_del = max(1, int(rows * frac))
            # every-k-th key: touches ~every file (the worst case for
            # copy-on-write, the common case for a scattered purge)
            step = rows // n_del
            keys = (spark.range(n_del)
                    .select((F.col("id") * step).alias("id")))
            entry: dict = {"fraction": frac, "deleted_keys": n_del}
            for mode in ("cow", "dv"):
                path = os.path.join(work, f"{mode}_{frac}")
                t = txn_table(spark, path, key="id",
                              cluster_writes=True,
                              rows_per_file=50_000)
                t.overwrite(base)
                before = _tree_bytes(path)
                t0 = time.time()
                if mode == "cow":
                    t.merge(base.limit(0), deleted_keys=keys)
                    probe = t.last_merge_probe
                    rewritten = len(probe["touched_files"])
                else:
                    t.delete(keys=keys)
                    rewritten = 0
                secs = time.time() - t0
                after = _tree_bytes(path)
                new_bytes = sum(sz for p, sz in after.items()
                                if p not in before)
                entry[mode] = {
                    "bytes_written": new_bytes,
                    "files_rewritten": rewritten,
                    "secs": round(secs, 3),
                    "live_rows": t.read().count(),
                }
            assert entry["cow"]["live_rows"] == entry["dv"]["live_rows"]
            entry["bytes_ratio_cow_over_dv"] = round(
                entry["cow"]["bytes_written"]
                / max(1, entry["dv"]["bytes_written"]), 1)
            out["fractions"].append(entry)
            print(json.dumps(entry))
        # READ-side bound (VERDICT r10 #2): a table of MANY files
        # each lightly masked (under compact()'s 20% per-file
        # trigger) whose total masked cardinality exceeds the
        # per-scan broadcast budget. The scan must switch to the
        # per-file task-side mask — same rows, bounded memory — and
        # this probe prices both paths on identical data.
        path = os.path.join(work, "read_side")
        t = txn_table(spark, path, key="id", cluster_writes=True,
                      rows_per_file=50_000)
        t.overwrite(base)
        n_files = len(t.live_files())
        n_del = rows // 20             # 5% scattered: every file ~5%
        step = rows // n_del
        t.delete(keys=spark.range(n_del)
                 .select((F.col("id") * step).alias("id")))
        card = sum(d["card"] for d in t._snapshot().dvs.values())
        rs: dict = {"files": n_files, "masked_positions": card,
                    "masked_fraction": round(card / rows, 4)}
        for label, budget in (("broadcast", card + 1),
                              ("scan_masked", max(1, card // 10))):
            tt = txn_table(spark, path, key="id",
                           dv_broadcast_budget=budget)
            t0 = time.time()
            n_live = tt.read().count()
            rs[label] = {"budget": budget, "live_rows": n_live,
                         "secs": round(time.time() - t0, 3)}
        assert rs["broadcast"]["live_rows"] == \
            rs["scan_masked"]["live_rows"] == rows - n_del
        out["read_side"] = rs
        print(json.dumps({"read_side": rs}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"summary": [
        {"fraction": e["fraction"],
         "delete_ratio": e["bytes_ratio_cow_over_dv"]}
        for e in out["fractions"]]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
