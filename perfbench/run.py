"""Sync-daemon benchmark: one run of one workload.

    python3 perfbench/run.py --workload tail_sink --seed 1 --seconds 20 --trace 0

Builds the program and the harness if needed (see build.py), then runs the
harness in one JVM with Spark in local mode, one thread per core. It
prints every metric with its unit, then, as the last line, one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1).

Extra options: --cores N (Spark threads; 1 gives the single-thread
baseline), --small (reduced sizes) and --corrupt (damage one sink doc
before the check, which must then fail). `--smoke` runs every workload
small, plus the corrupted runs, and checks the verdicts.

Everything it writes stays under .bench_build/ and .bench_run/ in the
current directory.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["tail_sink", "tail_state", "backfill"]
WORK = ".bench_run"
RUN_TIMEOUT_S = 165
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_harness(args, timeout=RUN_TIMEOUT_S):
    """Runs the harness; returns (exit code, stdout lines, log path)."""
    logs = os.path.join(WORK, "logs")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    name = "-".join(a.lstrip("-") for a in args if a)
    log = os.path.join(logs, name + ".log")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", build.classpath(), "perfbench.Main", "--work", WORK] + args)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(3)

        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return 124, [], log
        finally:
            for s, h in old.items():
                signal.signal(s, h)
    return proc.returncode, out.splitlines(), log


def result_of(lines):
    try:
        r = json.loads(lines[-1])
        return r if {"correct", "attempted", "failed", "metrics"} <= set(r) else None
    except (IndexError, ValueError):
        return None


def smoke():
    """Every workload at small size must pass its check; with one sink doc
    or state row corrupted, it must fail."""
    ok = True
    for wl in WORKLOADS:
        for corrupt in (False, True):
            args = ["--workload", wl, "--seed", "7", "--seconds", "3", "--trace", "0", "--small"]
            code, lines, log = run_harness(args + (["--corrupt"] if corrupt else []))
            r = result_of(lines)
            good = code == 0 and r is not None and (
                (r["correct"] and r["failed"] == 0) if not corrupt
                else (not r["correct"] and r["failed"] > 0))
            ok &= good
            print("%-10s %-12s %s  %s" % ("ok" if good else "FAIL", wl,
                                          "corrupted" if corrupt else "clean",
                                          "" if r is None else
                                          "failed %d of %d" % (r["failed"], r["attempted"])))
            if not good:
                print("  see " + log)
    return ok


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--cores", type=int, default=os.cpu_count())
    p.add_argument("--small", action="store_true")
    p.add_argument("--corrupt", action="store_true")
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()
    if not a.smoke and not a.workload:
        p.error("--workload is required")
    t0 = time.time()
    try:
        build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2
    print("# build checked in %.1f s" % (time.time() - t0))
    if a.smoke:
        return 0 if smoke() else 1
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(a.cores)]
    args += ["--small"] if a.small else []
    args += ["--corrupt"] if a.corrupt else []
    code, lines, log = run_harness(args)
    if code != 0 or result_of(lines) is None:
        print("run failed (exit %d); log: %s" % (code, log), file=sys.stderr)
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        return code or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
