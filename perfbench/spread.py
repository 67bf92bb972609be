"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads tail_sink,backfill --seeds 10 [--first-seed 1]

Runs run.py once per seed and workload (untraced, run_seconds from
BENCHMARK.json) and prints, per workload and metric, the median and the
distance between the first and third quartile as a share of the median,
next to the metric's bound. Writes every run's result to
.bench_run/spread-<first seed>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", default=None)
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for wl in workloads:
        runs[wl] = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                  "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                  "--trace", "0"], stdout=subprocess.PIPE, text=True)
            lines = out.stdout.strip().splitlines()
            r = json.loads(lines[-1]) if out.returncode == 0 and lines else None
            runs[wl].append({"seed": seed, "result": r,
                             "notes": [l[2:] for l in lines if l.startswith("# ")]})
            print("%s seed %d: %s" % (wl, seed, "FAILED" if r is None else
                                      {k: round(v["value"], 3) for k, v in r["metrics"].items()}),
                  flush=True)
    os.makedirs(".bench_run", exist_ok=True)
    with open(".bench_run/spread-%d.json" % a.first_seed, "w") as fh:
        json.dump(runs, fh, indent=1)
    print("\n%-11s %-22s %12s %8s %7s  %s" % ("workload", "metric", "median", "spread", "bound", "incorrect"))
    for wl, rs in runs.items():
        ok = [r["result"] for r in rs if r["result"] is not None]
        bad = sum(1 for r in rs if r["result"] is None or not r["result"]["correct"])
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in ok]
            if len(vals) < 2:
                continue
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            print("%-11s %-22s %12.3f %8.4f %7.3f  %d" % (wl, m, med, (q3 - q1) / med,
                                                        bounds[m], bad))


if __name__ == "__main__":
    main()
