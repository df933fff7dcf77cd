#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/tools/spread.py WORKLOAD SEED_FROM SEED_TO [SECONDS]

Runs the benchmark once per seed in [SEED_FROM, SEED_TO] (untraced) and
prints, per end-to-end metric, the median and the interquartile range
as a share of the median (statistics.quantiles(values, n=4)), next to
the metric's bound from BENCHMARK.json. Run from the checkout root.
"""
import json
import statistics
import subprocess
import sys


def main(workload, lo, hi, seconds=None):
    spec = json.load(open("BENCHMARK.json"))
    seconds = seconds or str(spec["run_seconds"])
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(int(lo), int(hi) + 1):
        out = subprocess.run(
            ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", seconds, "--trace", "0"], capture_output=True, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: rc={out.returncode}\n{out.stderr[-2000:]}")
            sys.exit(1)
        res = json.loads(last)
        print(f"seed {seed}: correct={res['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4)
        print(f"{m['name']:>14}: median={med:.4g} iqr/median={(q[2] - q[0]) / med:.4f} "
              f"bound={m['bound']}")


if __name__ == "__main__":
    main(*sys.argv[1:5])
