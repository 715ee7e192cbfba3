"""Two traced runs on one seed give exactly the same counts.

Runs the benchmark itself (six traced runs, about four minutes)."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
COUNTS = {
    "ops_mix": ("tables.load_calls", "tables.load_jobs", "operators.build_jobs",
                "operators.exec_jobs", "operators.stages",
                "operators.py4j_calls", "operators.cache_left"),
    "profile_session": ("sources.readers.jobs", "api.exec_jobs_per_req"),
    "automl_task": ("ml.automl.jobs",),
}


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    return {k: v["value"] for k, v in res["metrics"].items()}


def _assert_repeat(workload: str) -> None:
    a, b = _traced(workload, 11), _traced(workload, 11)
    keys = COUNTS[workload]
    assert {k: a[k] for k in keys} == {k: b[k] for k in keys}
    assert all(a[k] > 0 for k in keys)


@pytest.mark.parametrize("workload", ["ops_mix", "profile_session"])
def test_counts_repeat(workload):
    _assert_repeat(workload)


@pytest.mark.xfail(strict=False, reason=(
    "ml.automl's concurrent cross-validation sometimes fires one extra "
    "`first` job (568 vs 569 jobs per task on the same input), with or "
    "without tracing"))
def test_automl_jobs_repeat():
    _assert_repeat("automl_task")
