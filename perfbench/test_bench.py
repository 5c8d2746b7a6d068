#!/usr/bin/env python3
"""The benchmark's own test. Run from the repository root:

    python3 perfbench/test_bench.py [workload ...]

For each workload it makes two short traced runs with one seed and a fixed
number of timed ops, and one short untraced run. It checks that

- every run answers correctly (`correct`, no failed op);
- the counts that do not depend on timing repeat exactly between the two
  traced runs;
- the untraced run prints every `end_to_end` metric of BENCHMARK.json and
  the traced run every `per_layer` metric, each with its unit.

Takes about seven minutes on a 4-core machine.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
# one compaction period of lake_ingest (two cycles), one pipeline pass
OPS = {"lake_ingest": 16, "pipeline": 7}
REPEATING = ["spark.jobs", "sources.slices_planned", "sources.log_bytes_decoded",
             "write.index_probes", "core.instants"]


def run(workload, trace, ops=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    if ops:
        cmd += ["--ops", str(ops)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    return result["metrics"]


def check_listed(metrics, spec, what):
    for m in spec:
        assert m["name"] in metrics, f"{what}: {m['name']} missing"
        assert metrics[m["name"]]["unit"] == m["unit"], f"{what}: {m['name']} unit"
    extra = set(metrics) - {m["name"] for m in spec}
    assert not extra, f"{what}: unlisted metrics {sorted(extra)}"


def main():
    workloads = sys.argv[1:] or [w["name"] for w in SPEC["workloads"]]
    for w in workloads:
        check_listed(run(w, 0), SPEC["end_to_end"], f"{w} untraced")
        a, b = run(w, 1, OPS[w]), run(w, 1, OPS[w])
        check_listed(a, SPEC["per_layer"], f"{w} traced")
        for name in REPEATING:
            assert a[name]["value"] == b[name]["value"], \
                f"{w}: {name} {a[name]['value']} != {b[name]['value']}"
        print(f"ok {w}: " + ", ".join(f"{n}={a[n]['value']}" for n in REPEATING))


if __name__ == "__main__":
    main()
