#!/bin/bash
# Regenerate the full per-round evidence set (memory protocol: run at
# the round's FINAL commit, serialized, never concurrent with bench).
#   usage: bash tools/gen_artifacts.sh r08
# Bench is deliberately NOT here: it must run alone on an idle
# machine (load1 < 0.2), cold, as a separate step.
set -e
R="${1:?round suffix, e.g. r08}"
cd /root/repo
echo "=== checkall sf0.01 ==="
python tools/check.py --json "CHECKALL_${R}_sf001.json" /root/testdata/sf0.01 2>/dev/null | tail -2
echo "=== checkall sf0.1 ==="
python tools/check.py --json "CHECKALL_${R}_sf01.json" /root/testdata/sf0.1 2>/dev/null | tail -2
echo "=== checkall sf1 (stress) ==="
python tools/check.py --json "CHECKALL_${R}_sf1.json" --oracle-timeout 900 /root/repo/stressdata/sf1 2>/dev/null | tail -2
echo "=== planaudit sf0.01 ==="
python tools/plan_audit.py --json "PLANAUDIT_${R}.json" /root/testdata/sf0.01 2>/dev/null | tail -2
echo "=== planaudit sf1 ==="
python tools/plan_audit.py --json "PLANAUDIT_${R}_sf1.json" /root/repo/stressdata/sf1 2>/dev/null | tail -2
echo "=== vanilla sweep ==="
python tools/vanilla_sweep.py --json "SWEEP_${R}.json" 2>/dev/null | tail -2
echo "=== annrecall (3 tiers) ==="
python tools/annrecall.py --json "ANNRECALL_${R}.json" /root/testdata/sf0.01 /root/testdata/sf0.1 /root/repo/stressdata/sf1 2>/dev/null | tail -4
echo "=== streamtxn update-mode ==="
python tools/stream_stress.py --json "STREAMTXN_${R}_update.json" --rows 262144 --epochs 10 --batch 512 2>/dev/null | tail -3
echo "=== streamtxn insert-heavy ==="
python tools/stream_stress.py --json "STREAMTXN_${R}.json" --rows 16384 --epochs 20 --batch 8192 --insert-heavy 2>/dev/null | tail -3
echo "=== txnprobe (incl. change-feed consumer) ==="
python tools/txn_reindex_probe.py --json "TXNPROBE_${R}.json" 2>/dev/null | tail -8
echo "=== ALL ARTIFACTS DONE ==="
