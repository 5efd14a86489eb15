"""BENCHMARK.json agrees with the metric table; runs refuse a bare directory."""

import json
import os
import subprocess
import sys

from conftest import BENCH, ROOT
from metrics import END_TO_END, PER_LAYER
from workloads import WORKLOADS


def test_benchmark_json_matches_metric_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    assert set(names) <= set(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        m[:3] for m in PER_LAYER]
    for _, _, _, moves in PER_LAYER:
        metric, workload = moves.split("@")
        assert workload in ("all", *names)
        assert metric in ("reported", "validity") or metric in [m[0] for m in END_TO_END]


def test_refuses_to_run_without_the_package(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "tail_steady",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
