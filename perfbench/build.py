"""Builds the program and the benchmark harness with scalac, outside sbt.

The program (src/main/scala) is compiled against the jars of the Spark
install in $SPARK_HOME, which also hold the Scala compiler; then the
harness (perfbench/src) against the program's classes. Both land in the
build directory ($CARGO_TARGET_DIR, default .bench_build). A stamp over
every source file skips the build when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def _sources(top, ext=".scala"):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(out_dir, classpath, files):
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
           os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main", "-usejavacp",
           "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    proc = subprocess.run(cmd + ["@" + argfile], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def classpath():
    """Classpath for running the harness."""
    return os.pathsep.join([os.path.join(BUILD, "harness"), os.path.join(BUILD, "classes"),
                            RESOURCES, os.path.join(SPARK_JARS, "*")])


def build():
    if not os.path.isdir(MAIN_SRC) or not os.path.isdir(HARNESS_SRC):
        raise BuildError("program or harness sources not found under " + ROOT)
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise BuildError("no Scala compiler in %r: set SPARK_HOME to a Spark 4 install" % SPARK_JARS)
    main_files = _sources(MAIN_SRC)
    harness_files = _sources(HARNESS_SRC)
    res_files = _sources(RESOURCES, "") if os.path.isdir(RESOURCES) else []
    os.makedirs(BUILD, exist_ok=True)
    main_stamp = _stamp(main_files)
    all_stamp = _stamp(main_files + res_files + harness_files)
    stamp_file = os.path.join(BUILD, "stamp")
    old = open(stamp_file).read().split() if os.path.exists(stamp_file) else []
    if old == [main_stamp, all_stamp]:
        return
    if not old or old[0] != main_stamp or not os.path.isdir(os.path.join(BUILD, "classes")):
        _scalac(os.path.join(BUILD, "classes"), None, main_files)
    _scalac(os.path.join(BUILD, "harness"), os.path.join(BUILD, "classes"), harness_files)
    with open(stamp_file, "w") as fh:
        fh.write(main_stamp + " " + all_stamp + "\n")


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
