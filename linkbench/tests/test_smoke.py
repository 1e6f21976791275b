"""Tiny-size runs of every workload through the command line: the
result line follows the benchmark contract, every oracle check passes,
and every metric BENCHMARK.json names is emitted. Slow (a Spark
session per run): about a minute per run on 4 cores."""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
CALLED = {  # modules each workload's timed job calls
    "web_crawl": {"edges", "cc", "triangles", "pagerank", "lpa"},
    "slice_stack": {"grids", "cc", "components", "superstep"},
}


def _run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "linkbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, p.stderr
    return out


def test_workloads_match_spec():
    assert [w["name"] for w in SPEC["workloads"]] == list(CALLED)


@pytest.mark.parametrize("workload", list(CALLED))
def test_untraced_run_emits_end_to_end_metrics(workload):
    m = _result(_run(workload, 0))["metrics"]
    assert set(m) == {e["name"] for e in SPEC["end_to_end"]}
    for e in SPEC["end_to_end"]:
        assert m[e["name"]]["unit"] == e["unit"]
        assert m[e["name"]]["value"] > 0


@pytest.mark.parametrize("workload", list(CALLED))
def test_traced_run_emits_layer_metrics(workload):
    m = _result(_run(workload, 1))["metrics"]
    assert set(m) == {e["name"] for e in SPEC["per_layer"]}
    for e in SPEC["per_layer"]:
        assert m[e["name"]]["unit"] == e["unit"]
    modules = {k.split(".")[0] for k in m} - {"trace", "session", "process"}
    for mod in modules:
        busy = m[f"{mod}.wall_s"]["value"] > 0
        assert busy == (mod in CALLED[workload]), mod
    assert m["session.wall_s"]["value"] > 0
    # layer self times account for the traced job time
    self_sum = sum(m[f"{mod}.self_s"]["value"] for mod in CALLED[workload])
    assert self_sum == pytest.approx(m["trace.job_s"]["value"], rel=0.05)
    if workload == "web_crawl":
        assert m["pagerank.scale_eff"]["value"] > 0
        assert m["edges.edges_out"]["value"] > 0
    else:
        assert m["superstep.resume_s"]["value"] > 0
        assert m["superstep.steps"]["value"] >= 2
        assert m["superstep.steps_recomputed"]["value"] == 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "linkbench", tmp_path / "linkbench",
                    ignore=shutil.ignore_patterns("_cache", "_work", "__pycache__"))
    p = _run("web_crawl", 0, cwd=tmp_path)
    assert p.returncode != 0
    assert not p.stdout.strip()
