"""Traced-run report: per-layer metrics, self-time tables, tracing overhead
and the single-thread baseline.

    python3 perfbench/report.py [--seed 1] [--workloads tail_sink,tail_state,backfill]

For each workload it makes one untraced and one traced run with the same
seed; the tracing overhead is the traced run's end-to-end figures minus the
untraced ones. It then runs `tail_sink` once with Spark on one core, the
single-thread baseline. The report goes to stdout and to
.bench_run/report.md; each traced run's spans are in .bench_run/trace/.
"""
import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
METRIC = re.compile(r"^(\S+)\s+(-?[0-9.]+(?:[eE][-+]?\d+)?)\s+(\S+)$")


def run(wl, seed, seconds, trace, cores=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        raise SystemExit("%s failed (exit %d)" % (" ".join(cmd), out.returncode))
    lines = out.stdout.splitlines()
    metrics = {m.group(1): float(m.group(2)) for m in map(METRIC.match, lines) if m}
    notes = [l[2:] for l in lines if l.startswith("# ")]
    return metrics, notes, json.loads(lines[-1])


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--workloads", default="tail_sink,tail_state,backfill")
    a = p.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = bench["run_seconds"]
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    out = ["# Traced-run report (seed %d, %d s runs, %d cores)" % (a.seed, seconds, os.cpu_count())]
    for wl in a.workloads.split(","):
        plain, _, r0 = run(wl, a.seed, seconds, 0)
        traced, notes, r1 = run(wl, a.seed, seconds, 1)
        out += ["", "## %s" % wl, "",
                "correct: untraced %s, traced %s" % (r0["correct"], r1["correct"]), "",
                "| metric | untraced | traced | tracing overhead |", "|---|---|---|---|"]
        for m in e2e:
            d = traced[m] - plain[m]
            out.append("| %s | %.3f | %.3f | %+.3f (%+.1f%%) |" % (m, plain[m], traced[m], d,
                                                                  100 * d / plain[m]))
        out += ["", "```"] + [n for n in notes if n.startswith(" ") or n.startswith("self time")
                              or n.startswith("spans:")] + ["```", "",
                                                            "| per-layer metric | value |", "|---|---|"]
        out += ["| %s | %.4g |" % (m, traced.get(m, float("nan"))) for m in layers]
    one, _, r = run("tail_sink", a.seed, seconds, 0, cores=1)
    out += ["", "## tail_sink on one core (local[1]), the single-thread baseline", "",
            "correct: %s" % r["correct"], "", "| metric | value |", "|---|---|"]
    out += ["| %s | %.3f |" % (m, one[m]) for m in e2e]
    text = "\n".join(out) + "\n"
    os.makedirs(".bench_run", exist_ok=True)
    with open(".bench_run/report.md", "w") as fh:
        fh.write(text)
    print(text)


if __name__ == "__main__":
    main()
