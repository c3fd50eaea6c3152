#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload {ingest,scan,lookup} --seed N \
        --seconds S --trace {0,1} [--scale tiny] [--corrupt-oracle 1]

Builds the engine and the benchmark from source (perfbench/build.py), then
runs the workload in one JVM. Its last stdout line is one JSON object with
the keys correct, attempted, failed and metrics. `--scale tiny` and
`--corrupt-oracle 1` exist for perfbench/smoke_test.py. Everything written
goes under .bench_build/; the per-run work directory is removed at exit.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

DRIVER_MEMORY = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# a run must end within 180 s; leave room for the build check and clean-up
RUN_TIMEOUT_S = 170


def git_commit():
    """HEAD of the checkout, or "none" when it is not a git work tree."""
    if not os.path.exists(os.path.join(build.ROOT, ".git")):
        return "none"
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["ingest", "scan", "lookup"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    p.add_argument("--scale", default="full", choices=["full", "tiny"])
    p.add_argument("--corrupt-oracle", default="0", choices=["0", "1"])
    a = p.parse_args()

    t0 = time.time()
    classes, source_digest = build.build()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(build.BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{DRIVER_MEMORY}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work-dir", work,
            "--trace-out", trace_out, "--scale", a.scale,
            "--corrupt-oracle", a.corrupt_oracle, "--commit", git_commit(),
            "--source-digest", source_digest]
    sys.stdout.flush()
    # a SIGTERM to this script stops the JVM too (via the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    code = 1
    try:
        code = proc.wait(timeout=max(10, RUN_TIMEOUT_S - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        print("run: the workload did not finish in time", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
