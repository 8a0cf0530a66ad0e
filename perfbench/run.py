"""End-to-end benchmark of the engine's reference path and a catalog pass.

Usage, from the repository root:

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 10 --trace 0

Runs one workload (see ``README.md``) in a child process whose stderr and
stdout go to ``.perfbench_work/logs/``, then prints one JSON object as the
last line of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones). Exits 1 when a correctness check fails and 2 when the run cannot
start or does not finish; in both of those cases the metrics are not
printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "redis_dataflow_realtime_analytics_spark"
WORKLOADS = ("live_ingest", "catalog_batch")
TIMEOUT_S = 170
DRIVER_MEMORY = "4g"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop_group(pgid: int) -> None:
    """Stop every process of the run (workload, JVM, server, generator)
    and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        fail(f"the package {PACKAGE} is missing from {ROOT}")

    base = os.path.join(ROOT, ".perfbench_work")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(base, tag)
    logs = os.path.join(base, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(logs, exist_ok=True)
    result_path = os.path.join(logs, tag + ".json")
    if os.path.exists(result_path):
        os.remove(result_path)

    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        TZ="UTC",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ]
    with open(os.path.join(logs, tag + ".log"), "w") as log:
        child = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        try:
            rc = child.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(child.pid)
    shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"{args.workload} did not finish in {TIMEOUT_S} s; see {log.name}")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"{args.workload} exited with {rc}; see {log.name}")

    with open(result_path) as f:
        result = json.load(f)
    if args.trace:
        print("traced end-to-end: " + json.dumps(result["end_to_end"]))
    for c in result["checks"]:
        if not c["ok"]:
            print(f"check failed: {c['check']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
