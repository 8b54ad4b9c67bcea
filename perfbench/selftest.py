#!/usr/bin/env python3
"""Self-test of the benchmark harness, at tiny input sizes.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that
  * the untraced and the traced run succeed with failed == 0 (run.py
    itself refuses a run that misses an end_to_end metric or prints a
    metric BENCHMARK.json does not name);
  * a run that corrupts one output row on the harness side (--corrupt)
    counts it: failed >= 1 and correct is false.
Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload, *extra):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7",
           "--seconds", "2", "--tiny", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} {extra}: exit {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    for line in lines:
        if line.split(" ")[0] in ("failed_frac", "note:"):
            print(f"    {line}")
    return json.loads(lines[-1])


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for w in (x["name"] for x in bench["workloads"]):
        for trace in ("0", "1"):
            res = run(w, "--trace", trace)
            if res["failed"] != 0 or not res["correct"]:
                sys.exit(f"FAIL {w} trace={trace}: {res}")
            print(f"ok   {w} trace={trace}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} checked, 0 failed")
        res = run(w, "--trace", "0", "--corrupt")
        if res["failed"] < 1 or res["correct"]:
            sys.exit(f"FAIL {w}: corrupted row not counted: {res}")
        print(f"ok   {w} corrupted row counted: failed={res['failed']} "
              f"of {res['attempted']}")
    print("selftest passed")


if __name__ == "__main__":
    main()
