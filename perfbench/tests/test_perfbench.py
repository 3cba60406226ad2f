"""The benchmark's own tests, at a tiny scale (sf0.001 and 300 orders).

Each runs ``perfbench/run.py`` the way the benchmark is run, from the
repository root, and reads its last stdout line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.run import END_TO_END_UNITS, per_layer_units
from perfbench.verify import files_digest
from perfbench.workloads import MIN_WARM_PASSES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(*args: str, cwd: str = ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--seconds", "1", *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        return p, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return p, None


def _tracked_changes() -> str:
    return subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                          cwd=ROOT, capture_output=True, text=True, check=True).stdout


@pytest.mark.parametrize("workload", ["query", "etl"])
def test_workload_runs_once_and_prints_every_metric(workload):
    before = _tracked_changes() if os.path.isdir(os.path.join(ROOT, ".git")) else None
    p, res = _run("--workload", workload, "--seed", "3", "--trace", "0", "--size", "tiny")
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= (1 + MIN_WARM_PASSES[workload]) * len(WORKLOADS[workload])
    assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END_UNITS
    assert all(v["value"] > 0 for v in res["metrics"].values())
    if before is not None:
        assert _tracked_changes() == before, "a run changed a tracked file"


def test_traced_run_prints_every_layer_metric_and_writes_spans():
    p, res = _run("--workload", "query", "--seed", "3", "--trace", "1", "--size", "tiny")
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == per_layer_units()
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["catalyst.optimization_s"] > 0 and m["exec.stages"] > 0
    assert m["analytics.core.collect_s"] > 0 and m["pipeline.gold.run_gold_s"] == 0
    trace = next(line.split(": ", 1)[1] for line in p.stdout.splitlines()
                 if line.startswith("spans and per-op"))
    with open(os.path.join(ROOT, trace), encoding="utf-8") as fh:
        doc = json.load(fh)
    os.unlink(os.path.join(ROOT, trace))
    ops = [s for s in doc["spans"] if s["name"].startswith("op:")]
    assert len(ops) == res["attempted"]
    kids = {s["parent"] for s in doc["spans"] if s["name"] in ("build", "collect", "verify.oracle")}
    assert {s["id"] for s in ops} <= kids
    assert all(o["exec"] is not None for o in doc["ops"])


def test_failing_op_is_counted_and_the_run_goes_on():
    p, res = _run("--workload", "query", "--seed", "3", "--trace", "0", "--size", "tiny",
                  "--fail-op", "q40_token_stats")
    assert p.returncode == 1
    passes = res["attempted"] // len(WORKLOADS["query"])
    assert res["correct"] is False and res["failed"] == passes >= 2
    assert "FAILED pass 0 op q40_token_stats: RuntimeError" in p.stdout
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_without_the_engine_it_exits_nonzero_and_prints_no_result(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", name), "rb") as src:
                (tmp_path / "perfbench" / name).write_bytes(src.read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query", "--seed", "1",
                        "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout.strip() == ""


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    for seed, name in ((5, "a"), (5, "b"), (6, "c")):
        gen.star(str(tmp_path / name / "star"), seed, 0.001, 200, 100)
        gen.olist(str(tmp_path / name / "csv"), seed, 300)
    a, b, c = (files_digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a != c
    for kind in ("star", "csv"):
        assert files_digest(str(tmp_path / "a" / kind)) != files_digest(str(tmp_path / "c" / kind))
