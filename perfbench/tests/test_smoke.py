"""Smoke tests of the benchmark itself, at sf0.001 with a tiny cdc_merge
stream. Each test runs the benchmark command in a subprocess, as the
benchmark is meant to be run (about a minute each):

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
SMALL = ["--sf", "0.001", "--cdc-base", "500", "--cdc-batch", "50"]
SELF_TIME_TOLERANCE_S = 1e-3


def bench(workload: str, trace: int, *extra: str, seed: int = 3) -> tuple[dict, str]:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), *SMALL, *extra,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stderr


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: m["unit"] for k, m in result["metrics"].items()}
    assert got == want
    for k, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), k


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_end_to_end_metrics_emitted_and_correct(workload):
    result, _ = bench(workload, 0)
    assert_metrics(result, BENCH["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_spans_nest_and_self_times_sum(workload):
    result, stderr = bench(workload, 1, seed=4)
    assert_metrics(result, BENCH["per_layer"])
    assert result["correct"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["exec.tasks"] >= 1 and m["result.rows"] >= 1
    if workload == "cdc_merge":
        assert m["cdc.changes_in"] == 50 and 0 < m["cdc.changes_out"] <= 50
        assert m["snapshots.merge_jobs"] >= 1
        assert 0 < m["snapshots.files_scanned_ratio"] <= 1
    else:
        assert m["registry.build_s"] > 0 and m["catalyst.analysis_s"] > 0
    path = os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-seed4.json")
    assert path in stderr
    with open(path) as fh:
        doc = json.load(fh)
    spans = doc["spans"]
    roots = [s for s in spans if s["parent"] is None]
    assert roots and all(s["name"] == "op" for s in roots)
    for s in spans:
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["op"] == s["op"]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
    for r in roots:
        wall = r["end"] - r["start"]
        assert abs(sum(doc["self_times"][r["op"]].values()) - wall) < SELF_TIME_TOLERANCE_S
    units = doc["units"]  # passes or batches: per-layer values are per unit
    assert abs(m["exec.wall_s"] * units - sum(r["end"] - r["start"] for r in roots)) < 1e-6


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_corrupted_result_raises_error_rate(workload):
    result, stderr = bench(workload, 0, "--corrupt", "--with-known-defects")
    assert not result["correct"]
    if workload == "cdc_merge":
        assert result["failed"] >= 1
    else:  # every query result was halved, and every kind of check saw it
        assert "sim_ivfpq_topk" in stderr
        assert result["failed"] == result["attempted"]
    assert "FAILED" in stderr


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    cmd = BENCH["command"] + ["--workload", "olap_queries", "--seed", "1",
                              "--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
