"""Smoke test of the benchmark itself at a tiny size.

Run from the repository root: ``python3 -m pytest perfbench/test_smoke.py``.
Each case starts its own Spark session, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--scale", "0.1"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _output(p: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    report, result = _output(_run(ROOT, workload, 0))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    e2e = report["end_to_end"]
    assert e2e["failed_frac"]["value"] == result["failed"] / result["attempted"]
    assert e2e["query_p90_s"]["unit"] == "s" and e2e["batch_qps"]["value"] > 0
    assert ("update_p50_s" in e2e) == (workload == "update_mixed")
    assert result["correct"] and result["failed"] == 0, report["mismatches"] + report["errors"]


def test_traced_run_prints_every_per_layer_metric():
    report, result = _output(_run(ROOT, "update_mixed", 1))
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert set(report["per_layer_moves"]) == {m["name"] for m in SPEC["per_layer"]}
    for name in ("search.search.s", "kernel.segment_topk.s", "streaming.update_batch.s",
                 "index.jobs"):
        assert result["metrics"][name]["value"] > 0, name
    spans = (ROOT / report["trace_file"]).read_text().splitlines()
    assert any(json.loads(s)["name"] == "search.search" for s in spans)


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "query_head", 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
