#!/usr/bin/env python3
"""Runs one workload once per seed and reports each metric's spread.

Run from the root of a checkout:

    python3 perfbench/spread.py --workload <name> --seconds <s> --seeds 101-110

Each run is `perfbench/run.py ... --trace 0`, one after the other. Prints one
JSON object: per metric the median, the quartiles as
`statistics.quantiles(values, n=4)` gives them, and the spread
(q3 - q1) / median; plus the median wall time of a whole run.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    args = ap.parse_args()

    values, walls, ok = {}, [], []
    for seed in seeds(args.seeds):
        start = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - start)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {r.returncode}, no result line")
        res = json.loads(lines[-1])
        ok.append(res["correct"] and res["failed"] == 0)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s, {lines[-1]}", file=sys.stderr)

    def summary(vs):
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        return {"median": round(med, 4), "q1": round(q1, 4), "q3": round(q3, 4),
                "spread": round((q3 - q1) / med, 4)}

    print(json.dumps({
        "seeds": seeds(args.seeds),
        "all_correct": all(ok),
        "run_wall_s_median": round(statistics.median(walls), 1),
        "metrics": {name: summary(vs) for name, vs in values.items()},
    }, indent=2))


if __name__ == "__main__":
    main()
