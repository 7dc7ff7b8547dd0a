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

echo "== 1/9 oracle type audit (pandas-safe final projections) =="
python tools/audit_oracle_types.py

echo "== 2/9 full registry sweep vs DuckDB, ANSI ON, at $SF =="
SPARK_GRAFT_ANSI=true python tools/check_oracle.py "$SF"

# The graph operators finish small graphs on the driver, so the sweep
# above never reaches their distributed paths; a broadcast threshold of
# -1 turns the driver paths off.
GRAPH_QUERIES="dedup_clusters semantic_dedup_survivors dedup_clusters_star
  customer_golden_records dedup_cluster_rand_index semantic_dedup_survivors_text
  split_leakage_audit cluster_size_histogram leakage_safe_splits
  dedup_composition_shift pretraining_data_report supplier_kcore
  supplier_bfs_hops pagerank_supplier_graph personalized_pagerank_nation
  part_supplier_hits"
echo "== 3/9 graph consumers on their distributed paths (threshold -1), ANSI ON, at $SF =="
# shellcheck disable=SC2086
SPARK_GRAFT_ANSI=true python tools/check_oracle.py "$SF" $GRAPH_QUERIES \
  --conf spark.sql.autoBroadcastJoinThreshold=-1

echo "== 4/9 plan audit (default sweep: cartesian/NLJ classification) =="
python tools/audit_plans.py

echo "== 5/9 pytest =="
python -m pytest tests/ -x -q

echo "== 6/9 degenerate-input gate (empty / one-row / ties sweeps) =="
python tools/check_degenerate.py

echo "== 7/9 partition-layout determinism sweep (local[5], 7 shuffle partitions) =="
SPARK_GRAFT_CPUS=5 SPARK_SHUFFLE_PARTITIONS=7 SPARK_GRAFT_ANSI=true \
  python tools/check_oracle.py /root/testdata/sf0.001

echo "== 8/9 perfbench self-tests =="
python3 -m pytest perfbench -q

echo "== 9/9 bench (one JSON line) =="
python bench.py

echo "ALL VERIFICATION STAGES GREEN"
