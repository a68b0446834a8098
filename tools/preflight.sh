#!/bin/sh
# GATE-RUNS-LAST (VERDICT r7 item 2): the final commit of every round
# must be preceded by this script SUCCEEDING — it runs, in order:
#
#   1. tools/plan_audit.py        -> PLANS.md row count == registry count
#   2. tier-1 pytest tests/       -> suite green at the snapshot
#      + pytest perfbench/tests   -> the benchmark's own checks green
#   3. full tools/check_parity.py -> dated "N passed" line in COVERAGE.md
#      (via parity_gate.sh, which also stamps the bench-regression verdict)
#
# Run the sf0.1 bench (python bench.py) separately BEFORE this script if
# queries changed — parity_gate's bench_compare reads bench_detail.json.
#
#   sh tools/preflight.sh            # full gate (slow: ~30+ min)
set -e
cd "$(dirname "$0")/.."

echo "== 1/3 plan audit =="
python tools/plan_audit.py
REG=$(python -c "from tvbigdataproject_spark.queries import REGISTRY; print(len(REGISTRY))")
ROWS=$(grep -c '^| ' PLANS.md || true)
# PLANS.md has one header-separator row plus one row per query
if [ "$ROWS" -lt "$REG" ]; then
    echo "FAIL: PLANS.md has $ROWS rows < $REG registered queries" >&2
    exit 1
fi

echo "== 2/3 full pytest (tier-1 command, then perfbench/tests) =="
# the same command as ROADMAP.md's tier-1 verify: without
# SPARK_GRAFT_CPUS, get_spark would size the session for 32 cores
(
    SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
    SPARK_LOCAL_DIRS=/tmp/spark-local
    export SPARK_GRAFT_CPUS SPARK_LOCAL_DIRS
    timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
    python -m pytest perfbench/tests -q -p no:cacheprovider
)

echo "== 3/3 full parity gate (appends dated line to COVERAGE.md) =="
sh tools/parity_gate.sh

echo "preflight: ALL GATES GREEN — snapshot-ready"
