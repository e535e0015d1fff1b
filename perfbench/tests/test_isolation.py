"""A run writes only inside its own run directory, and a directory without
the program makes the benchmark fail without a result."""

import json
import os
import shutil
import subprocess
import sys

import pytest

RUN = [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1"]


def _status(root):
    return subprocess.run(["git", "status", "--porcelain", "--ignored"], cwd=root,
                          capture_output=True, text=True, check=True).stdout


@pytest.mark.parametrize("workload", [
    "modeler_suggest",
    pytest.param("octopus_predict", marks=pytest.mark.spark),
])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_a_run_leaves_the_checkout_as_it_found_it(root, workload, trace):
    if not os.path.isdir(os.path.join(root, ".git")):
        pytest.skip("not a git checkout")
    before = _status(root)
    proc = subprocess.run([*RUN, "--workload", workload, "--trace", trace], cwd=root,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1
    assert _status(root) == before


def test_without_the_program_the_run_fails(root, tmp_path):
    shutil.copytree(os.path.join(root, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run([*RUN, "--workload", "modeler_suggest", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
