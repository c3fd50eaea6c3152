#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala, src/main/resources) together
with the benchmark's own (perfbench/src) into .bench_build/classes, using the
Scala compiler that ships with Spark. The compile is skipped when neither the
sources nor the toolchain changed since the last build.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
SCALA_VERSION = "2.13.17"


def spark_jars():
    """Jars of the Spark install: $SPARK_HOME, else the first install on
    PATH (a bin/spark-submit beside a jars/ directory)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(os.path.realpath(d or ".")), "jars")
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(jars):
            return jars
    sys.exit("build: set SPARK_HOME or put Spark's bin/ on PATH")


def source_files():
    """Scala sources and resources, sorted, as paths relative to ROOT."""
    out = []
    for top in SOURCE_DIRS + [RESOURCES]:
        for d, _, files in os.walk(top):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()


def build():
    """Returns (classes dir, source digest); exits non-zero on failure."""
    if not os.path.isdir(SOURCE_DIRS[0]) or not os.path.isdir(SOURCE_DIRS[1]):
        sys.exit("build: the engine sources (src/main/scala) or the benchmark "
                 "sources (perfbench/src) are missing")
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{p}-{SCALA_VERSION}.jar")
                for p in ("compiler", "reflect", "library")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        sys.exit(f"build: Scala toolchain not found: {', '.join(missing)}")
    files = source_files()
    stamp = digest(files) + ":" + jars
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, stamp.split(":")[0]
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [os.path.join(ROOT, f) for f in files if f.endswith(".scala")]
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + scala
    print(f"build: compiling {len(scala)} Scala files", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("build: scalac failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp.split(":")[0]


if __name__ == "__main__":
    print(build()[0])
