#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--size tiny]

Run from the root of a source checkout. The seed generates the workload's
inputs; one fresh worker process (one JVM, ``local[nproc]``) runs the
workload under a wall-clock cap, so a run that exhausts memory costs
bounded time and cannot affect the next run. Output, on standard output:

1. the full run record (one JSON line): environment stamp, every
   end-to-end metric with its unit (null where the workload has no such
   quantity), latency sample counts, output checks, failures with their
   error class and stage and, with ``--trace 1``, every per-layer metric;
2. the result line (last line): ``correct``, ``attempted``, ``failed``
   and ``metrics``, the ``end_to_end`` metrics of BENCHMARK.json with
   ``--trace 0`` or its ``per_layer`` metrics with ``--trace 1``.

Records are also kept under ``.perfbench/records/``. Workloads are listed
in ``workloads.py``; ``compare.py`` compares two sets of records.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

CAP_S = 170.0  # the whole run must end within 180 s


def _stop_group(pgid: int) -> None:
    """Kill every process left in the worker's session (the JVM and its
    Python workers) and wait until they are gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _tail(path: str, n: int = 30) -> list[str]:
    try:
        with open(path, errors="replace") as f:
            return f.read().splitlines()[-n:]
    except OSError:
        return []


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smallest inputs, for the smoke test")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bionext_spark", "__init__.py")):
        print("perfbench: run from the root of a source checkout (bionext_spark/ not found)",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    workloads.WORKLOADS[args.workload].prepare(run_dir, args.seed, args.size)

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the short-lived launcher JVM behind spark-submit: no /tmp/hsperfdata
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    record_path = os.path.join(run_dir, "record.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--size", args.size, "--run-dir", run_dir, "--record", record_path,
           "--t0", repr(time.time())]
    cap = CAP_S - (time.time() - t_start)
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        try:
            rc = child.wait(timeout=cap)
            capped = False
        except subprocess.TimeoutExpired:
            capped = True
        _stop_group(child.pid)
        if capped:
            rc = child.wait()

    record: dict = {}
    if os.path.exists(record_path):
        with open(record_path) as f:
            record = json.load(f)
    record.setdefault("workload", args.workload)
    record.setdefault("seed", args.seed)
    record.setdefault("trace", args.trace)
    record.setdefault("failures", [])
    # the JVM reports fatal errors (heap exhaustion) only on its stderr
    with open(log_path, errors="replace") as f:
        fatal = sorted({m.strip() for m in re.findall(
            r"java\.lang\.(?:OutOfMemoryError|StackOverflowError)[^\n]*", f.read())})
    if fatal:
        record["jvm_errors"] = fatal[:5]
        for fail in record["failures"]:
            if fail.get("java_error") in (None, "org.apache.spark.SparkException"):
                fail["java_error"] = fatal[0].split(":")[0]
    if capped or rc != 0 or "end_to_end" not in record:
        # a catalog workload's stage is the first one its last operation
        # did not commit
        stage = None
        op_dirs = sorted(glob.glob(os.path.join(run_dir, "catalog", "op*")),
                         key=os.path.getmtime)
        if op_dirs:
            stage = workloads.first_uncommitted(op_dirs[-1])
        record["failures"].append({
            "op": "worker", "stage": stage, "java_error": None,
            "error_class": "WallClockCap" if capped else f"WorkerExit{rc}",
            "message": f"worker ended after {time.time() - t_start:.1f}s (cap {cap:.0f}s)",
        })
        record["worker_log_tail"] = _tail(log_path)
        # the set-up pass plus every operation the worker had started
        record["attempted"] = max(record.get("attempted", 0), 1 + record.get("ops_started", 0))
        record["failed"] = len(record["failures"])
        record["correct"] = False
        e2e = record.setdefault("end_to_end", {})
        for m in bench["end_to_end"]:
            e2e.setdefault(m["name"], {"value": None, "unit": m["unit"]})
        e2e["failed_ops_ratio"] = {"value": record["failed"] / max(record["attempted"], 1),
                                   "unit": "ratio"}
        if "setup_s" in record:
            e2e["setup_s"] = {"value": record["setup_s"], "unit": "s"}

    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t_start)}.json"
    with open(os.path.join(base, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        wanted = bench["per_layer"]
        source = record.get("per_layer", {})
    else:
        wanted = bench["end_to_end"]
        source = {k: v["value"] for k, v in record["end_to_end"].items()}
    metrics = {m["name"]: {"value": source.get(m["name"]), "unit": m["unit"]} for m in wanted}
    print(json.dumps(record, separators=(",", ":")))
    print(json.dumps({
        "correct": bool(record.get("correct")),
        "attempted": int(record.get("attempted", 1)),
        "failed": int(record.get("failed", 0)),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
