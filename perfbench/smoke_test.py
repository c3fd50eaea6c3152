#!/usr/bin/env python3
"""Smoke test of the benchmark: seconds-long runs at tiny scale.

    python3 perfbench/smoke_test.py

For every workload, an untraced and a traced run must pass their checks and
print every metric that BENCHMARK.json names for that mode, each with its
declared unit, both on a `metric` line and in the final JSON object. A run
with one expected value corrupted (`--corrupt-oracle 1`) must fail: exit
non-zero with `"correct": false`. Exits non-zero on the first problem.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt="0"):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", trace, "--scale", "tiny",
           "--corrupt-oracle", corrupt]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=300)
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return r.returncode, lines, result, r.stderr


def fail(msg, stderr=""):
    sys.stderr.write(stderr[-4000:])
    sys.exit(f"smoke_test: FAIL: {msg}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
              "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in ("0", "1"):
            code, lines, res, err = run(w, trace)
            tag = f"{w} --trace {trace}"
            if code != 0 or not res or res["correct"] is not True or res["failed"] != 0:
                fail(f"{tag}: exit {code}, result {res}", err)
            if set(res) != {"correct", "attempted", "failed", "metrics"} or res["attempted"] < 1:
                fail(f"{tag}: bad result keys or counts: {sorted(res)}")
            got = res["metrics"]
            if set(got) != set(wanted[trace]):
                fail(f"{tag}: metrics {sorted(set(got) ^ set(wanted[trace]))} "
                     "differ from BENCHMARK.json")
            printed = {}
            for line in lines:
                m = re.match(r"metric (\S+) = (\S+) (\S+)", line)
                if m:
                    printed[m.group(1)] = m.group(3)
            for name, unit in wanted[trace].items():
                if got[name]["unit"] != unit or printed.get(name) != unit:
                    fail(f"{tag}: {name} not printed with unit {unit}")
                if not isinstance(got[name]["value"], (int, float)):
                    fail(f"{tag}: {name} has no numeric value")
            print(f"ok   {tag}: {len(got)} metrics, {res['attempted']} ops")

        code, _, res, err = run(w, "0", corrupt="1")
        if code == 0 or not res or res["correct"] is not False or res["failed"] < 1:
            fail(f"{w}: a corrupted expected value was not rejected "
                 f"(exit {code}, result {res})", err)
        print(f"ok   {w}: corrupted oracle rejected ({res['failed']} failed ops)")
    print("smoke_test: all passed")


if __name__ == "__main__":
    main()
