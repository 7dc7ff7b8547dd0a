#!/usr/bin/env bash
# One-command local verification — the full recipe from
# .claude/skills/verify/SKILL.md, in dependency order. Exit on first
# failure. Usage: tools/verify_all.sh [sf_dir]   (default sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
# Same session layout as the tier-1 pytest command: one Spark core per
# host core (nproc reads OMP_NUM_THREADS, so drop it), shuffle spill
# under /tmp. A value already in the environment wins.
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

echo "== 1/8 oracle type audit (pandas-safe final projections) =="
python tools/audit_oracle_types.py

echo "== 2/8 full registry sweep vs DuckDB, ANSI ON, at $SF =="
SPARK_GRAFT_ANSI=true python tools/check_oracle.py "$SF"

echo "== 3/8 plan audit (default sweep: cartesian/NLJ classification) =="
python tools/audit_plans.py

echo "== 4/8 pytest =="
python -m pytest tests/ -x -q

echo "== 5/8 degenerate-input gate (empty / one-row / ties sweeps) =="
python tools/check_degenerate.py

echo "== 6/8 partition-layout determinism sweep (local[5], 7 shuffle partitions) =="
SPARK_GRAFT_CPUS=5 SPARK_SHUFFLE_PARTITIONS=7 SPARK_GRAFT_ANSI=true \
  python tools/check_oracle.py /root/testdata/sf0.001

echo "== 7/8 perfbench self-tests =="
python3 -m pytest perfbench -q

echo "== 8/8 bench (one JSON line) =="
python bench.py

echo "ALL VERIFICATION STAGES GREEN"
