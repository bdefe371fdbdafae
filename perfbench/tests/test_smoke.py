"""Tiny-input runs of every workload: each emits every metric that
BENCHMARK.json names, with its unit, and all its checks pass. A copy of
the benchmark without the library must fail without printing a result.

Every case runs the benchmark command in its own process, as the
benchmark is run."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys

import pytest

from perfbench.harness import ROOT
from perfbench.run import TINY

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "5", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=170,
    )


def test_spec_names_exactly_the_workloads():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(TINY)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_tiny_run_emits_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace, "--tiny")
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    elif workload == "dashboard_queries":
        got = {k: v["value"] for k, v in res["metrics"].items()}
        for k in ("operators.jobs", "operators.funnel.n_sampled",
                  "pipeline.corpus_build_s", "pipeline.corpus_action_s"):
            assert got[k] > 0, k


def test_without_the_library_it_fails_without_a_result(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = _run(tmp_path, "food_log_sync", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
