"""Smoke test for the benchmark: each workload at the tiny size, untraced
and traced, must print a run record and a result line that name every
metric the benchmark defines.

    python3 -m pytest perfbench/smoke_test.py -q        # from the checkout root

The workloads named in BENCHMARK.json must also pass their output checks.
A run of another workload may fail (``kg_long_conversation`` keeps its
12,000-turn conversation at every size; ``kg_batch``'s Spark job count
varies between identical runs, which its traced check reports); the test
then requires each failure to be recorded with its class and stage.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402

E2E = ["setup_s", "first_job_s", "first_job_cpu_s", "first_job_ref_cpu_s", "job_s.p50",
       "job_s.tail", "turns_per_s", "resume_s.p50", "queries_total_s", "queries_geomean_s",
       "failed_ops_ratio", "session_rdds_per_run", "peak_rss_mb"]
ENV = ["nproc", "master", "driver_memory", "spark_version", "local_dirs_fs", "seed",
       "git_commit", "source_sha256"]


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=200)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_reports_every_metric(workload: str, trace: int) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    record, result = run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert set(E2E) <= set(record["end_to_end"])
    assert all(record["env"].get(k) is not None or k == "git_commit" for k in ENV)
    wanted = bench["per_layer" if trace else "end_to_end"]
    assert [m["name"] for m in wanted] == list(result["metrics"])
    if workload in {w["name"] for w in bench["workloads"]}:
        assert result["correct"] and not result["failed"], record["failures"]
    if result["failed"]:
        # a failure elsewhere is a finding; the record must say what and where
        assert all(f["error_class"] and f["stage"] for f in record["failures"])
        assert record["end_to_end"]["failed_ops_ratio"]["value"] > 0
        return
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if trace:
        names = {n for n, _ in workloads.per_layer_names()}
        assert names <= set(record["per_layer"])
