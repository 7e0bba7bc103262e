#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
into .bench_build/classes with the Scala compiler that ships in Spark's jars.

Usage: python3 perfbench/build.py      (from the repository root)

Prints the runtime classpath on stdout. Recompiles only when a source file
changed since the last build. Exits non-zero when the engine sources or Spark
are missing.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        sys.exit("build: SPARK_HOME must point at a Spark install with jars/")
    return os.path.join(home, "jars")


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        sys.exit(f"build: no engine sources under {ENGINE_SRC}; run from the repository root")
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))
    if not bench:
        sys.exit(f"build: no benchmark sources under {BENCH_SRC}")
    return engine + bench


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for path in srcs:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classpath = os.pathsep.join([os.path.abspath(CLASSES), os.path.abspath("perfbench"),
                                 os.path.join(jars, "*")])
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx1g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", CLASSES] + srcs
    print(f"build: compiling {len(srcs)} Scala sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("build: scalac failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
