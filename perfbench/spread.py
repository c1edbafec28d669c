#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py <workload> <runs> [first_seed]

Runs the workload <runs> times, each with another seed, and prints for each
end-to-end metric its median and its spread: the distance between the first
and third quartiles (statistics.quantiles, n=4) as a share of the median,
next to the bound BENCHMARK.json allows. Raw results are appended to
perfbench/.work/spread_<workload>.jsonl.
"""
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def iqr_share(values):
    """Interquartile distance over the median (0 when all values are equal)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return 0.0 if q3 == q1 else (q3 - q1) / med


def main():
    workload, runs = sys.argv[1], int(sys.argv[2])
    first = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {k: [] for k in bounds}
    out = os.path.join(BENCH, ".work", f"spread_{workload}.jsonl")
    for seed in range(first, first + runs):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        with open(out, "a") as f:
            f.write(json.dumps({"seed": seed, **res}) + "\n")
        for k in bounds:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {seed}: attempted {res['attempted']} failed {res['failed']} " +
              " ".join(f"{k}={res['metrics'][k]['value']:.4g}" for k in bounds), flush=True)
    for k, vs in values.items():
        s = iqr_share(vs)
        flag = "ok" if s < bounds[k] / 3 else ("within bound" if s <= bounds[k] else "OVER")
        print(f"{k:18s} median {statistics.median(vs):10.4f}  spread {s:.4f}  "
              f"bound {bounds[k]}  {flag}")


if __name__ == "__main__":
    main()
