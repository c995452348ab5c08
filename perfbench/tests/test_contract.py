"""The metric lists in run.py, BENCHMARK.json and layer_map.json agree,
and the benchmark refuses to run without the package next to it."""

import json
import os
import shutil
import subprocess
import sys

import run

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def _load(path):
    with open(path) as f:
        return json.load(f)


def test_metric_lists_agree():
    spec = _load(os.path.join(ROOT, "BENCHMARK.json"))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    layers = _load(os.path.join(BENCH, "layer_map.json"))
    assert [m["metric"] for m in layers["layers"]] == list(run.PER_LAYER)
    assert set(layers["end_to_end"]) == set(run.END_TO_END)
    assert {w["name"] for w in spec["workloads"]} == set(layers["workloads"])


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "export", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""
