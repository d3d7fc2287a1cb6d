#!/usr/bin/env python3
"""The benchmark's own test: every workload at tiny size, checked end to end.

Run from the root of a checkout:

    python3 perfbench/test_smoke.py

For each workload it runs perfbench/run.py --smoke untraced, and the first
workload traced as well. Each run must exit 0, report correct output, and
print exactly the metric names BENCHMARK.json lists for its mode. uniform
must report its two known V2 faults as failed operations, a fixed share of
those attempted.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import WORKLOADS  # noqa: E402


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = None
    if os.path.exists("BENCHMARK.json"):
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
        assert [w["name"] for w in spec["workloads"]] == WORKLOADS, spec["workloads"]
    cases = [(w, 0) for w in WORKLOADS] + [(WORKLOADS[0], 1)]
    for workload, trace in cases:
        r = run(workload, trace)
        assert r["correct"] is True, (workload, r)
        assert r["attempted"] >= 1, (workload, r)
        if workload == "uniform":
            # per round: 2 checkpointed outputs per flagship pass (3 passes
            # untraced, 1 traced) and 19 table operations, of which the two
            # V2 fault probes fail
            per_round = 2 * (1 if trace else 3) + 19
            assert r["failed"] * per_round == r["attempted"] * 2, (workload, r)
        else:
            assert r["failed"] == 0, (workload, r)
        if spec:
            want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
            assert sorted(r["metrics"]) == sorted(want), (workload, sorted(r["metrics"]))
        print(f"ok {workload} trace={trace}: attempted {r['attempted']}, "
              f"failed {r['failed']}", flush=True)
    print("all smoke runs passed")


if __name__ == "__main__":
    main()
