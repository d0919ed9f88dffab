"""One benchmark run in one fresh process (hence one fresh JVM).

Started by ``run.py``, which generated the inputs into ``--run-dir`` and
enforces the wall-clock cap. This process starts Spark on
``local[nproc]`` and builds the workload's side data (the set-up). It then
times the workload's operations: untraced, until ``--seconds`` have passed
(the first one is the first call into the program in this JVM); traced,
a traced first call, then an untraced call. Every output is checked
outside the timed calls, and the run record is written as JSON to
``--record``.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402
import workloads  # noqa: E402


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    k = max(1, math.ceil(p / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def latency_summary(samples: list[float]) -> dict:
    """Median plus the highest percentile with >= 10 samples beyond it.
    Below 11 samples no percentile qualifies; the maximum is reported
    then, with ``tail_percentile`` 100 and the count beyond it (0)."""
    s = sorted(samples)
    n = len(s)
    if n >= 11:
        p = math.floor(100.0 * (n - 10) / n)
        tail = nearest_rank(s, p)
    else:
        p, tail = 100, s[-1]
    return {
        "p50": statistics.median(s),
        "tail": tail,
        "tail_percentile": p,
        "tail_samples_beyond": sum(1 for v in s if v > tail),
        "samples": n,
    }


def env_stamp(spark, seed: int) -> dict:
    from bionext_spark import __file__ as pkg_file
    import hashlib

    local_dirs = os.environ["SPARK_LOCAL_DIRS"]
    real = os.path.realpath(local_dirs)
    fs, best = "unknown", ""
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, kind = parts[1], parts[2]
            if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fs = mnt, kind
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(os.path.dirname(pkg_file), "**", "*.py"),
                              recursive=True)):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        import subprocess

        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True).stdout.strip() or None
    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", "unset"),
        "spark_version": spark.version,
        "python": sys.version.split()[0],
        "local_dirs_fs": fs,
        "seed": seed,
        "git_commit": commit,
        "source_sha256": digest.hexdigest()[:16],
    }


def host_steal_ticks(since: tuple[int, int] | None = None):
    """CPU ticks the hypervisor gave to other guests (steal) and all ticks,
    from /proc/stat; with ``since``, the steal share of the ticks since."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    now = (vals[7] if len(vals) > 7 else 0, sum(vals))
    if since is None:
        return now
    total = now[1] - since[1]
    return (now[0] - since[0]) / total if total else 0.0


def failure(op: str, exc: BaseException, stage: str | None) -> dict:
    try:
        text = str(exc)
    except Exception:  # a Py4J error renders through the JVM, which may be gone
        text = getattr(exc, "errmsg", "")
    return {
        "op": op,
        "error_class": type(exc).__name__,
        "java_error": workloads.java_error_class(text),
        "stage": stage or workloads.stage_from_traceback(exc.__traceback__),
        "message": text.strip().splitlines()[0][:300] if text.strip() else "",
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--record", required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the process was spawned")
    args = ap.parse_args()

    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "size": args.size, "failures": []}
    # The event log feeds the per-layer report. It is on in every run, so
    # traced and untraced runs (and the untraced operations inside a traced
    # run) pay the same logging cost.
    log_dir = os.path.join(args.run_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)

    def save() -> None:
        with open(args.record + ".tmp", "w") as f:
            json.dump(record, f, default=str)
        os.replace(args.record + ".tmp", args.record)

    from bionext_spark.session import get_spark

    with tracing.RssSampler() as rss:
        cores = len(os.sched_getaffinity(0))
        tmp = os.environ["TMPDIR"]
        spark = get_spark(
            "perfbench",
            cores=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(args.run_dir, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        record["env"] = env_stamp(spark, args.seed)
        wl = workloads.WORKLOADS[args.workload](spark, args.run_dir)
        save()

        # ---- set-up: session (above) + the workload's side data ------------
        try:
            wl.setup()
        except Exception as exc:  # a set-up failure is a failed operation too
            record["failures"].append(failure("setup", exc, None))
            traceback.print_exc()
        setup_s = time.time() - args.t0
        record["setup_s"] = setup_s
        save()

        # ---- timed section ---------------------------------------------------
        # The first operation is the first call into the program in this
        # process. Untraced: operations until --seconds have passed. Traced:
        # the first call traced, then one untraced call whose Spark job
        # count the traced call must match (tracing may add no job).
        steal0 = host_steal_ticks()
        tracer = tracing.Tracer() if args.trace else None
        plan = [tracer, None] if args.trace else None
        rdd_before = wl.persistent_rdds()
        ops: list[workloads.Op] = []
        t_end = time.time() + args.seconds
        while not record["failures"]:
            record["ops_started"] = len(ops) + 1
            save()
            op = wl.run_op(len(ops), plan[len(ops)] if plan else None)
            op.traced = bool(plan and plan[len(ops)])
            ops.append(op)
            if op.error is not None:
                record["failures"].append(failure(op.name, op.error, op.stage))
            elif len(ops) < len(plan) if plan else time.time() < t_end:
                continue
            break
        good = [op for op in ops if op.error is None]
        plain = [op for op in good if not op.traced]
        calls = sum(op.calls for op in good)
        rdd_after = wl.persistent_rdds() if len(good) == len(ops) else rdd_before
        record["host_steal_share"] = host_steal_ticks(steal0)
        record["ops"] = [{"name": op.name, "traced": op.traced, "job_s": op.job_s,
                          "cpu_s": op.extra.get("cpu_s"), "ref_cpu_s": op.extra.get("ref_cpu_s"),
                          "probe_burst_s": op.extra.get("probe_burst_s")} for op in ops]
        save()

        # ---- output checks (outside the timed section) --------------------
        try:
            checked = wl.check(good) if good else {}
        except Exception as exc:  # a check that cannot run is a failed check
            record["failures"].append(failure("check", exc, "check"))
            checked = {"check": False}
        for name, ok in checked.items():
            if not ok:
                record["failures"].append({"op": name, "error_class": "OutputMismatch",
                                           "java_error": None, "stage": "check", "message": ""})
        record["checks"] = checked
        record["kg_spark_jobs"] = [op.extra["spark_jobs"] for op in good] if wl.kg else []
        traced = next((op for op in good if op.traced), None)
        if wl.kg and traced is not None and plain:
            untraced_jobs = sorted({op.extra["spark_jobs"] for op in plain})
            if traced.extra["spark_jobs"] not in untraced_jobs:
                record["failures"].append({
                    "op": traced.name, "error_class": "JobCountMismatch", "java_error": None,
                    "stage": "trace",
                    "message": f"traced call: {traced.extra['spark_jobs']} Spark jobs; "
                               f"untraced calls of the same run: {untraced_jobs}"})
        try:
            spark.stop()
        except Exception:  # a JVM that died mid-run cannot stop cleanly
            traceback.print_exc()
        peak_rss = rss.peak

    # ---- metrics -----------------------------------------------------------
    # operations: the set-up, each timed operation, and each output check
    attempted = 1 + len(ops) + len(checked)
    if args.trace and wl.kg:
        attempted += 1  # the traced-versus-untraced Spark job count comparison
    failed = len(record["failures"])
    record["attempted"], record["failed"] = attempted, failed
    record["correct"] = failed == 0
    e2e: dict[str, dict] = {}

    def put(name: str, value, unit: str) -> None:
        e2e[name] = {"value": value, "unit": unit}

    first = ops[0] if ops and ops[0].error is None else None
    put("setup_s", setup_s, "s")
    put("first_job_s", first.job_s if first else None, "s")
    put("first_job_cpu_s", first.extra["cpu_s"] if first else None, "s")
    put("first_job_ref_cpu_s", first.extra["ref_cpu_s"] if first else None, "s")
    lat = latency_summary([op.job_s for op in plain]) if plain else None
    record["job_s"] = lat
    put("job_s.p50", lat["p50"] if lat else None, "s")
    put("job_s.tail", lat["tail"] if lat else None, "s")
    put("turns_per_s", wl.turns / lat["p50"] if lat and wl.turns else None, "turns/s")
    resumes = [op.resume_s for op in good if op.resume_s is not None]
    put("resume_s.p50", statistics.median(resumes) if resumes else None, "s")
    per_query = wl.per_query(plain)
    if per_query:
        meds = [statistics.median(v) for v in per_query.values()]
        put("queries_total_s", sum(meds), "s")
        put("queries_geomean_s", math.exp(sum(math.log(m) for m in meds) / len(meds)), "s")
    else:
        put("queries_total_s", None, "s")
        put("queries_geomean_s", None, "s")
    put("failed_ops_ratio", failed / attempted, "ratio")
    put("session_rdds_per_run", (rdd_after - rdd_before) / calls
        if wl.kg and calls else None, "count")
    put("peak_rss_mb", peak_rss / 2**20, "MB")
    record["end_to_end"] = e2e

    if traced is not None:
        try:
            jobs, tasks = tracing.read_event_log(log_dir)
            layers = wl.per_layer(tracer, jobs, tasks, traced)
        except Exception as exc:  # a broken report fails the run, keeps the record
            record["failures"].append(failure("per_layer", exc, "trace"))
            record["failed"] += 1
            record["correct"] = False
            layers = {}
        layers["kg.spark_jobs"] = traced.extra["spark_jobs"] if wl.kg else 0
        # time the tracing code took inside the traced call; the event log
        # is on in every run, so it is not a tracing cost here
        layers["trace_overhead_s"] = tracer.overhead
        roots = [i for i, s in enumerate(tracer.spans) if s.parent is None
                 and traced.t_start <= s.start < traced.t_job_end]
        layers["trace_coverage"] = sum(tracer.spans[i].duration for i in roots) / traced.job_s
        record["per_layer"] = layers
        record["spans"] = [{"name": s.name, "start": s.start, "end": s.end,
                            "parent": s.parent} for s in tracer.spans]
    save()
    return 0


if __name__ == "__main__":
    sys.exit(main())
