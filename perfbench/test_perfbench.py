"""Tests of the benchmark itself, at 1% of the workload sizes.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = ("join_uniform", "join_skewed", "query_batch")


def bench(*args: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.splitlines()


def tiny(workload: str, trace: int, *extra: str) -> tuple[int, list[str]]:
    return bench("--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", str(trace), "--scale", "0.01", *extra)


def test_spec_lists_workloads_the_command_runs():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_prints_every_metric_with_its_unit(workload, trace, section):
    code, out = tiny(workload, trace)
    assert code == 0, out
    result = json.loads(out[-1])
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    metrics = result["metrics"]
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert set(metrics) == set(want)
    for name, unit in want.items():
        assert metrics[name]["unit"] == unit
        assert isinstance(metrics[name]["value"], (int, float))
        assert f"metric {name} = " in "\n".join(out)
    if trace == 0:
        assert all(metrics[n]["value"] > 0 for n in want)
        assert any(line.startswith("failed_frac 0 ") for line in out)


def test_one_dropped_output_row_fails_the_run():
    code, out = tiny("join_skewed", 0, "--drop-row")
    assert code != 0
    result = json.loads(out[-1])
    assert result["correct"] is False
    assert result["failed"] / result["attempted"] > 0
    assert any(line.startswith("failed_frac ") and not line.startswith("failed_frac 0 ") for line in out)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    code, out = bench("--workload", "join_skewed", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=tmp_path)
    assert code != 0
    assert not any(line.startswith("{") for line in out)
