#!/usr/bin/env python3
"""Repeat benchmark runs and summarise each metric's spread.

    python3 perfbench/repeat.py --runs 10 [--workload chart_reads ...] [--trace 0|1] [--out FILE]

Runs `perfbench/run.py` once per seed (seeds 1..N) for each workload,
from the repository root, and prints for every metric its median, first
and third quartile (`statistics.quantiles(values, n=4)`) and the spread
(Q3 - Q1) / median: the metrics of the JSON result and those of the
run's `metric` report lines (such as `cache_hit_ratio`). End-to-end
metrics whose spread exceeds a tenth are flagged with `!`. `--out` also
writes the summary and every run's metrics as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    e2e = {m["name"] for m in spec["end_to_end"]}
    summary = {}
    for w in args.workload or [w["name"] for w in spec["workloads"]]:
        runs = []
        for seed in range(1, args.runs + 1):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                sys.stderr.write(p.stderr[-3000:])
                sys.exit(f"{w} seed {seed}: no result (exit {p.returncode})")
            ok = p.returncode == 0 and res["correct"]
            print(f"{w} seed {seed}: exit {p.returncode} correct {res['correct']} "
                  f"attempted {res['attempted']} failed {res['failed']}", flush=True)
            if not ok:
                sys.exit(f"{w} seed {seed} failed its output checks")
            reported = {}
            for line in lines[:-1]:
                f = line.split()
                if len(f) == 4 and f[0] == "metric":
                    reported[f[1]] = float(f[2])
            runs.append(dict(reported, **{k: v["value"] for k, v in res["metrics"].items()}))
        rows = {}
        for name in runs[0]:
            vals = [r[name] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            spread = (q3 - q1) / abs(med) if med else 0.0
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": vals}
            flag = "!" if name in e2e and spread > 0.1 else " "
            print(f"{flag} {w:12s} {name:36s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  spread {spread:.3f}")
        summary[w] = rows
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
