"""Smoke test of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

- every workload runs one pass and prints the result line;
- a traced run prints every per-layer metric, and the layers its
  workload reaches are not 0;
- a deliberately corrupted result is counted as failed;
- without the engine next to it, the benchmark fails without a result;
- the event-log parser is pinned on a small recorded log.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import trace, worker  # noqa: E402

END_TO_END = set(worker.END_TO_END_UNITS)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "5", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result_line(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    return res


WORKLOADS = ["dashboard", "catalog"]

# Layers each workload must reach in a traced run (> 0), and layers of the
# other workload it must bypass (== 0).
TOUCHED = {
    "dashboard": ["page.jobs", "operators.stats.jobs", "operators.plotdata.payload_jobs",
                  "callback.jobs", "sources.layout_write_s", "sources.scan.partitions_read"],
    "catalog": ["plans.pagerank_top.build_jobs", "plans.hh_scale_2x.jobs",
                "operators.python.run_s", "catalog.pass_s"],
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_result_line(workload):
    res = result_line(bench("--workload", workload, "--trace", "0", "--size", "smoke"))
    assert res["correct"] is True and res["failed"] == 0
    assert set(res["metrics"]) == END_TO_END
    for m in res["metrics"].values():
        assert m["value"] > 0 and m["unit"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer(workload):
    res = result_line(bench("--workload", workload, "--trace", "1", "--size", "smoke"))
    assert res["correct"] is True
    assert set(res["metrics"]) == set(worker.per_layer_names())
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["session.start_s"] > 0
    for name in TOUCHED[workload]:
        assert m[name] > 0, name
    for other in set(WORKLOADS) - {workload}:
        for name in TOUCHED[other]:
            assert m[name] == 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_result_counts_as_failed(workload):
    res = result_line(bench("--workload", workload, "--trace", "0", "--size", "smoke", "--corrupt"))
    assert res["correct"] is False
    assert res["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = bench("--workload", "dashboard", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_event_log_parser_on_recorded_log():
    """Two stages of a group-by (4 shuffle partitions, 3 keys) in group
    ``count#1``, one pandas-UDF stage in group ``udf#2``, 2 slots."""
    log = trace.read_event_log(os.path.join(HERE, "testdata", "eventlog"), slots=2)
    assert {j.group for j in log.jobs.values()} == {"count#1", "udf#2"}
    count = trace.job_stats(log, trace.jobs_in(log, {"count#1"}))
    udf = trace.job_stats(log, trace.jobs_in(log, {"udf#2"}))
    assert (count["jobs"], count["tasks"]) == (1, 6)
    assert count["empty_task_ratio"] == pytest.approx(2 / 6)
    assert count["shuffle_write_mb"] > 0 and count["python_run_s"] == 0
    assert count["exec_run_s"] == pytest.approx(1.549)
    assert count["jobs_wall_s"] == pytest.approx(1.718)
    assert count["sched_overhead_s"] == pytest.approx(1.718 - 1.549 / 2)
    assert (udf["jobs"], udf["tasks"]) == (1, 1)
    assert udf["python_run_s"] == udf["exec_run_s"] > 0
    both = trace.job_stats(log, list(log.jobs.values()))
    assert both["failed_tasks"] == 0 and both["retried_stages"] == 0
    assert both["tasks"] == 7
