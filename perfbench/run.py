#!/usr/bin/env python3
"""Benchmark of the telco streaming topology.

    python3 perfbench/run.py --workload telco_read --seed 1 --seconds 7 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
runs one workload in a fresh JVM, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics (spans go to .bench_build/trace/).
`--selftest` tests the benchmark's own output checks. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def java_cmd(classes, extra):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    props = {"java.io.tmpdir": tmp, "spark.local.dir": tmp,
             "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
             "spark.ui.enabled": "false", "spark.sql.session.timeZone": "UTC"}
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"] + opens +
            [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", f"{os.path.join(build.spark_jars(), '*')}:{classes}", "perfbench.Main"] +
            extra)


def run_jvm(cmd, log_path):
    """Run the JVM in its own process group; forward its stdout, keep its
    stderr (Spark's log) in a file, and kill the group on timeout."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_UI", "SPARK_GRAFT_CPUS")}
    lines = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        deadline = time.time() + TIMEOUT_S

        def kill(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(1)))
        timer = threading.Timer(max(1.0, deadline - time.time()), kill)
        timer.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                lines.append(line)
                if not line.startswith("{"):
                    print(line, flush=True)
            proc.wait()
        finally:
            timer.cancel()
            kill()
    return proc.returncode, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", choices=("stats", "geofence", "kmeans", "dropped"))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    os.makedirs(BUILD, exist_ok=True)
    classes = build.build()
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    if a.selftest:
        code, _ = run_jvm(java_cmd(classes, ["--selftest"]), os.path.join(logs, "selftest.log"))
        sys.exit(code)
    if not a.workload:
        fail("--workload is required")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    extra = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--params", os.path.join(HERE, "workloads.json"),
             "--work", work,
             "--spans", os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.jsonl")]
    if a.corrupt:
        extra += ["--corrupt", a.corrupt]
    try:
        code, lines = run_jvm(java_cmd(classes, extra), os.path.join(logs, f"{tag}.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with {code}; see .bench_build/logs/{tag}.log")
    results = [l for l in lines if l.startswith("{")]
    if not results:
        fail("no result line")
    res = json.loads(results[-1])
    missing = [m for m in expected_metrics(a.trace) if m not in res["metrics"]]
    if missing:
        fail(f"metrics missing from the result: {missing}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
