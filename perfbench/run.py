#!/usr/bin/env python3
"""Run one benchmark workload against the program compiled from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles src/main/scala and
the harness in perfbench/src (see perfbench/build.py); later runs reuse the
classes while the sources are unchanged. Every run gets a fresh scratch
directory (java.io.tmpdir, Spark local dirs, checkpoints, persisted stores)
under the build directory and removes it at the end. The last line of
standard output is the result JSON; see perfbench/README.md.

Extra options, not used by the measured runs:
  --tiny                 tiny inputs (perfbench/selftest.py)
  --corrupt              corrupt one output row on the harness side
  --cores N              Spark local[N] instead of local[nproc]
  --bridge count         one-off Dataset.count() vs noop capture of the basket
  --record-digests PATH  write the basket's output digests instead of checking
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170
# Runnable, but not among BENCHMARK.json's measured workloads; see README.md.
EXTRA_WORKLOADS = ["stream_drain"]
HEAP = "2g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spec():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--bridge", default="")
    ap.add_argument("--record-digests", default="")
    a = ap.parse_args()

    bench = spec()
    names = [w["name"] for w in bench["workloads"]] + EXTRA_WORKLOADS
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; expected one of {names}")
    classpath = build.ensure_built()
    launch_ns = time.time_ns()

    run_dir = os.path.join(build.build_dir(), "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}-{launch_ns}")
    for sub in ("tmp", "spark-local", "ckpt", "hadoop"):
        os.makedirs(os.path.join(run_dir, sub))
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Xss8m",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--launch-epoch-ns", str(launch_ns), "--cores", str(a.cores),
            "--run-dir", run_dir,
            "--data-dir", os.path.join(BENCH, "data", "sf0.01"),
            "--digests", os.path.join(BENCH, "digests.json")]
    if a.tiny:
        cmd.append("--tiny")
    if a.corrupt:
        cmd.append("--corrupt")
    if a.bridge:
        cmd += ["--bridge", a.bridge]
    if a.record_digests:
        cmd += ["--record-digests", os.path.abspath(a.record_digests)]

    err_path = os.path.join(run_dir, "stderr.log")
    result = None
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; scratch kept at {run_dir}")
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or (result is None and not a.bridge):
        with open(err_path) as f:
            tail = [l for l in f.read().splitlines() if "WARN" not in l][-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness exited with {proc.returncode}; scratch kept at {run_dir}")

    if a.trace == "1" and os.path.exists(os.path.join(run_dir, "spans.jsonl")):
        traces = os.path.join(build.build_dir(), "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    if a.bridge:
        return

    # units come from BENCHMARK.json; a per-layer metric the workload does
    # not reach is 0, an end-to-end metric must be measured
    spec_metrics = bench["per_layer" if a.trace == "1" else "end_to_end"]
    unknown = sorted(set(result["metrics"]) - {m["name"] for m in spec_metrics})
    missing = [m["name"] for m in spec_metrics
               if a.trace == "0" and m["name"] not in result["metrics"]]
    if unknown or missing:
        fail(f"metrics not in BENCHMARK.json: {unknown}; not measured: {missing}")
    result["metrics"] = {m["name"]: {"value": result["metrics"].get(m["name"], 0),
                                     "unit": m["unit"]} for m in spec_metrics}
    for k, v in result["metrics"].items():
        print(f"{k} {v['value']} {v['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
