#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark (`perfbench/src`)
with the Scala compiler that ships in Spark's jar directory, into
`.bench_build/classes-<source hash>/`. A build whose sources are unchanged
is reused. Usage: python3 perfbench/build.py
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars of the
    installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
        except ImportError:
            raise SystemExit("build: set SPARK_HOME or install pyspark")
        home = os.path.dirname(pyspark.__file__)
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    return os.path.join(jars, "*")


def sources():
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Returns the classes directory, compiling it first if needed."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources missing: {PROGRAM_SRC}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    done = os.path.join(out, ".complete")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            return out
        os.makedirs(out, exist_ok=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               "-cp", spark_jars(),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", out] + srcs
        r = subprocess.run(cmd, cwd=ROOT)
        if r.returncode != 0:
            raise SystemExit(f"build: scalac failed with {r.returncode}")
        open(done, "w").close()
        for d in os.listdir(BUILD_DIR):
            if d.startswith("classes-") and d != os.path.basename(out):
                shutil.rmtree(os.path.join(BUILD_DIR, d), ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
    sys.exit(0)
