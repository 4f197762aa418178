#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 8 --trace 0

Generates the workload's inputs from ``--seed`` under ``.perfbench/`` in
the repository, starts one worker process (``worker.py``) that sets up
Spark and runs the workload, and prints one ``name value unit`` line per
metric, then the result as one JSON line. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the run's spans to ``.perfbench/traces/``. Exits 1, after the
result line, when a result is wrong or an operation failed; exits
non-zero without a result line when the package is missing or the worker
fails.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("queries", "taxi_build")
TRIP_ROWS = 10_000  # raw trips per colour for taxi_build, before 5% duplicates
# Worker time beyond --seconds: set-up, the cold pass, the warm passes
# that the minimum count adds, and the oracle checks.
WORKER_SLACK_S = 135


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_inputs(workload: str, seed: int, work: str) -> dict:
    from perfbench import datagen

    if workload == "taxi_build":
        trips = datagen.write_trips(os.path.join(work, "trips"), seed, TRIP_ROWS)
        return {
            "trips": trips,
            "warm_parquet": trips["green_tripdata"],
            "input_bytes": os.path.getsize(trips["green_tripdata"])
            + os.path.getsize(trips["yellow_tripdata"]),
        }
    star = datagen.write_star(os.path.join(work, "star"), seed)
    return {
        "star_dir": star,
        "warm_parquet": os.path.join(star, "region.parquet"),
        "input_bytes": sum(os.path.getsize(os.path.join(star, f)) for f in os.listdir(star)),
    }


def worker_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # Spark's Python workers import the package from the checkout,
        # whatever the working directory.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc()),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the Spark JVM and its
    Python workers), and wait until they have ended."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        return
    deadline = time.time() + 15
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    needed = ("taxi_rides_ny_duckdb_spark/contract.py", "tests/pandas_hash.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the package under test is missing: {missing}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cfg = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc(), "work_dir": work,
            "trace_dir": os.path.join(base, "traces"),
            "out": os.path.join(work, "result.json"),
            **prepare_inputs(args.workload, args.seed, work),
        }
        cfg["spawn_time"] = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), json.dumps(cfg)],
            env=worker_env(work), cwd=work, stdout=sys.stderr, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=args.seconds + WORKER_SLACK_S)
        except subprocess.TimeoutExpired:
            code = None
        stop_group(proc)
        proc.wait()
        if code != 0 or not os.path.exists(cfg["out"]):
            why = "timed out" if code is None else f"exited with {code}"
            print(f"perfbench: worker {why}", file=sys.stderr)
            return 3
        with open(cfg["out"]) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = result.pop("info")
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace} "
          f"warm passes {info['warm_passes']}")
    print(f"# nproc {info['nproc']}  spark {info['spark']}  pyspark {info['pyspark']}  "
          f"duckdb {info['duckdb']}")
    print("# seconds " + "  ".join(f"{k} {v:.2f}" for k, v in info["seconds"].items()))
    for key in ("cold_s", "warm_s", "duckdb_s"):
        print(f"# {key} " + "  ".join(f"{k} {v:.3f}" for k, v in info[key].items()))
    if info["exact_counts"]:
        print("# counts equal in every traced pass: " + " ".join(info["exact_counts"]))
    for err in info["errors"]:
        print(f"# error: {err}")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
