#!/usr/bin/env bash
# A/B bench-noise adjudicator: re-runs a named query set ISOLATED
# (SPARK_GRAFT_ONLY) against an exported copy of a previous commit and
# the current tree, then emits a per-query verdict JSON. This machine-checks
# the "full-suite deltas of +/-0.3-0.8s are contention noise" judgment
# instead of leaving it to memory: a query is a REGRESSION only when its
# isolated min-of-N is >15% AND >0.2s slower than the baseline's.
#
# The sides run ABBA (baseline, current, current, baseline) and each side
# scores a query by the mean of its two runs' min-of-N. A fixed
# baseline-then-current order turns machine-speed drift during the run
# into a verdict: on a 4-core box, a query whose code was identical on both
# sides read +10% and +18% slower on the current tree in two back-to-back
# runs. ABBA puts each side at the same mean position in time, so the mean
# cancels a steady drift; a min over the two runs would not, because the
# baseline holds both the first and the last slot and so always gets the
# fastest end of a monotonic drift.
# Each tree is primed first with one untimed Bench run that selects no
# query: it compiles the tree and builds its fixtures. Otherwise the first
# timed run of a fresh copy builds them in the timed JVM, which warms it:
# at sf0.001 that run read dedup_groups at 0.56 s where the next, with the
# fixtures already built, read 0.73-0.93 s on either tree's identical code.
#
# Usage: scripts/bench_ab.sh <baseline-ref> <q1,q2,...> [sf_dir]
#   baseline-ref  any git ref (the previous bench's commit)
#   q1,q2,...     query names from SparkEntry.queries
#   sf_dir        testdata dir (default /root/testdata/sf0.1 - the bench SF)
# Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_RUNS (default 3)
#
# Note: fixtures live under each tree's own target/ (paths resolve
# against the working directory), so the baseline copy builds its own
# fixture set at the chosen SF in its priming run and the current tree's
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

prime() (
  cd "$1"
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_ONLY=_prime_only_ \
    sbt -batch "runMain graft.Bench" >/dev/null 2>&1 || true
)

echo "[bench_ab] priming both trees (compile + fixtures, untimed) ..." >&2
prime "$WT"
prime "$REPO"
echo "[bench_ab] baseline $BASE_REF (A1) ..." >&2
OLD1=$(run_bench "$WT")
echo "[bench_ab] current tree (B1) ..." >&2
NEW1=$(run_bench "$REPO")
echo "[bench_ab] current tree (B2) ..." >&2
NEW2=$(run_bench "$REPO")
echo "[bench_ab] baseline $BASE_REF (A2) ..." >&2
OLD2=$(run_bench "$WT")

python3 - "$OLD1" "$OLD2" "$NEW1" "$NEW2" "$BASE_REF" <<'EOF'
import json, sys

def side(a, b):
    # per-query (mean, [run1, run2]) over the side's two runs; a query
    # missing or failed (negative time) in either run stays failed
    ra, rb = json.loads(a)["queries"], json.loads(b)["queries"]
    return {q: (round((ra[q] + rb[q]) / 2, 4)
                if q in ra and q in rb and min(ra[q], rb[q]) >= 0 else -1.0,
                [ra.get(q), rb.get(q)])
            for q in set(ra) | set(rb)}

old = side(sys.argv[1], sys.argv[2])
new = side(sys.argv[3], sys.argv[4])
out = {}
for q in sorted(set(old) | set(new)):
    (o, o_runs), (n, n_runs) = old.get(q, (None, [])), new.get(q, (None, []))
    if o is None or n is None or o < 0 or n < 0:
        v = "missing-or-failed"
    elif n > o * 1.15 + 0.2:
        v = "REGRESSION"
    elif o > n * 1.15 + 0.2:
        v = "improvement"
    else:
        v = "noise"
    out[q] = {"old_sec": o, "new_sec": n, "old_runs": o_runs, "new_runs": n_runs,
              "verdict": v}
print(json.dumps({
    "baseline_ref": sys.argv[5],
    "order": "ABBA",
    "queries": out,
    "n_regressions": sum(1 for x in out.values() if x["verdict"] == "REGRESSION"),
    "rule": "REGRESSION iff new > old*1.15 + 0.2s on isolated min-of-N, "
            "mean over each side's two ABBA runs",
}, indent=2))
EOF
