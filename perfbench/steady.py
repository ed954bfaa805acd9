#!/usr/bin/env python3
"""Runs the benchmark once per seed and reports each end-to-end metric's
median and spread (interquartile distance over median, from
`statistics.quantiles(values, n=4)`) against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload rev_bulk --seeds 1-10 [--seconds S]

Each run is its own process, as in a full evaluation. The
summary, with every run's values, is the last line of standard output.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    values, walls, bad = {}, [], []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", str(seconds),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        walls.append(round(time.time() - t0, 1))
        lines = p.stdout.strip().splitlines()
        line = json.loads(lines[-1]) if lines else {}
        if p.returncode != 0 or not line.get("correct"):
            bad.append({"seed": s, "rc": p.returncode, "line": line, "err": p.stderr[-500:]})
            continue
        for k, m in line["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(json.dumps({"seed": s, "wall_s": walls[-1],
                          "metrics": {k: m["value"] for k, m in line["metrics"].items()}}),
              flush=True)
    summary = {"workload": a.workload, "runs": len(walls), "failed_runs": bad,
               "wall_s": walls, "metrics": {}}
    for m in bench["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) >= 2:
            sp = stats.spread(xs)
            summary["metrics"][m["name"]] = {
                "median": stats.median(xs), "spread": round(sp, 4), "bound": m["bound"],
                "within_third": sp < m["bound"] / 3, "values": xs}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
