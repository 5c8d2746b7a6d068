#!/usr/bin/env bash
# A/B bench-noise adjudicator: re-runs a named query set ISOLATED
# (SPARK_GRAFT_ONLY) against an exported copy of a previous commit and
# the current tree, then emits a per-query verdict JSON. This machine-checks
# the "full-suite deltas of +/-0.3-0.8s are contention noise" judgment
# instead of leaving it to memory: a query is a REGRESSION only when its
# isolated min-of-N is >15% AND >0.2s slower than the baseline's.
#
# Usage: scripts/bench_ab.sh <baseline-ref> <q1,q2,...> [sf_dir]
#   baseline-ref  any git ref (the previous bench's commit)
#   q1,q2,...     query names from SparkEntry.queries
#   sf_dir        testdata dir (default /root/testdata/sf0.1 - the bench SF)
# Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_RUNS (default 3)
#
# Note: fixtures live under each tree's own target/ (paths resolve
# against the working directory), so the baseline copy builds its own
# fixture set at the chosen SF on its first run and the current tree's
# fixtures are never touched. The copy is a `git archive` export under
# ${TMPDIR:-/tmp}, removed on exit; it leaves no worktree registered in
# the repository.
set -euo pipefail

BASE_REF=${1:?usage: bench_ab.sh <baseline-ref> <q1,q2,...> [sf_dir]}
QUERIES=${2:?comma-separated query names from SparkEntry.queries}
SF_DIR=${3:-/root/testdata/sf0.1}
CPUS=${SPARK_GRAFT_CPUS:-32}
RUNS=${SPARK_GRAFT_RUNS:-3}
REPO=$(cd "$(dirname "$0")/.." && pwd)

WT=$(mktemp -d "${TMPDIR:-/tmp}/bench_ab.XXXXXX")
trap 'rm -rf "$WT"' EXIT
git -C "$REPO" archive "$BASE_REF" | tar -x -C "$WT"

run_bench() (
  cd "$1"
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="$CPUS" \
    SPARK_GRAFT_RUNS="$RUNS" SPARK_GRAFT_ONLY="$QUERIES" \
    sbt -batch "runMain graft.Bench" 2>/dev/null | tr -d '\000' | grep -a '"metric"' | tail -1
)

echo "[bench_ab] baseline $BASE_REF ..." >&2
OLD_JSON=$(run_bench "$WT")
echo "[bench_ab] current tree ..." >&2
NEW_JSON=$(run_bench "$REPO")

python3 - "$OLD_JSON" "$NEW_JSON" "$BASE_REF" <<'EOF'
import json, sys
old = json.loads(sys.argv[1])["queries"]
new = json.loads(sys.argv[2])["queries"]
out = {}
for q in sorted(set(old) | set(new)):
    o, n = old.get(q), new.get(q)
    if o is None or n is None or o < 0 or n < 0:
        v = "missing-or-failed"
    elif n > o * 1.15 + 0.2:
        v = "REGRESSION"
    elif o > n * 1.15 + 0.2:
        v = "improvement"
    else:
        v = "noise"
    out[q] = {"old_sec": o, "new_sec": n, "verdict": v}
print(json.dumps({
    "baseline_ref": sys.argv[3],
    "queries": out,
    "n_regressions": sum(1 for x in out.values() if x["verdict"] == "REGRESSION"),
    "rule": "REGRESSION iff new > old*1.15 + 0.2s on isolated min-of-N",
}, indent=2))
EOF
