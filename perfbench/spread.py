#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report, per end-to-end metric,
the median and the quartile spread against the metric's bound.

    python3 perfbench/spread.py --workload etl_topn --runs 10 --out a.json
    python3 perfbench/spread.py --workload etl_topn --runs 10 --first-seed 101 \\
        --baseline a.json

Run from the root of a checkout. A metric is steady when its spread (the
distance between the first and third quartile as a share of the median) is
below a third of its bound; with --baseline, each median must also be no
worse than the baseline's median by more than the bound.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="write every run's metrics here")
    ap.add_argument("--baseline", help="a file written by --out to compare medians with")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    summaries = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
             "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, check=True).stdout
        lines = out.strip().splitlines()
        summaries.append(json.loads(lines[-2]))
        result = json.loads(lines[-1])
        if not result["correct"] or result["failed"]:
            sys.exit(f"seed {seed}: incorrect or failed run: {out}")
        for name, m in result["metrics"].items():
            values[name].append(m["value"])
        print(f"seed {seed}: " + json.dumps({k: v[-1] for k, v in values.items()}),
              file=sys.stderr, flush=True)
    base = None
    if a.baseline:
        with open(a.baseline) as f:
            base = json.load(f)["values"]
    ok = True
    report = {}
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        row = {"median": stats.median(xs), "spread": stats.spread(xs),
               "bound": m["bound"], "runs": len(xs)}
        row["steady"] = m["name"] == "setup_s" or row["spread"] < m["bound"] / 3
        if base:
            base_median = stats.median(base[m["name"]])
            row["worse_by"] = stats.worse_by(base_median, row["median"], m["better"])
            row["within_bound"] = stats.within_bound(base_median, row["median"], m["better"], m["bound"])
            ok &= row["within_bound"]
        ok &= row["steady"]
        report[m["name"]] = row
    print(json.dumps(report, indent=1))
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "values": values, "report": report,
                       "runs": summaries}, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
