#!/usr/bin/env python3
"""N vs 4N reference figure: the flagship pipeline's docs/s at 1 and 4 cores.

Run from the root of a checkout:

    python3 perfbench/scaling.py --pairs 2 --seed 1

Each pair runs the `uniform` workload, whose docs_per_s is the flagship
pipeline's, on the same input (same seed) once at local[1] and once at
local[4], alternating which goes first, so both legs share one window of
host conditions. Prints each leg and the parallel efficiency
(docs/s at 4 cores) / (4 x docs/s at 1 core), median over the pairs.
"""
import argparse
import json
import statistics
import subprocess
import sys


def leg(cores, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "uniform",
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
         "--cores", str(cores)],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    r = json.loads(out.strip().splitlines()[-1])
    if not r["correct"]:
        raise SystemExit(f"perfbench: incorrect output at {cores} cores")
    return r["metrics"]["docs_per_s"]["value"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    a = ap.parse_args()
    effs = []
    for i in range(a.pairs):
        order = (1, 4) if i % 2 == 0 else (4, 1)
        rate = {c: leg(c, a.seed, a.seconds) for c in order}
        eff = rate[4] / (4 * rate[1])
        effs.append(eff)
        print(f"pair {i}: 1 core {rate[1]:.0f} docs/s, 4 cores {rate[4]:.0f} docs/s, "
              f"efficiency {eff:.3f}", flush=True)
    print(f"median efficiency over {len(effs)} pairs: {statistics.median(effs):.3f}")


if __name__ == "__main__":
    main()
