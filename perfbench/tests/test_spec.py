import json
from pathlib import Path

import run
import workloads

SPEC = json.loads(
    (Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_traced_run_prints_exactly_the_declared_layer_metrics():
    assert [m["name"] for m in SPEC["per_layer"]] == workloads.layer_names()


def test_untraced_run_prints_exactly_the_declared_end_to_end_metrics():
    declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert declared == run.E2E_UNITS


def test_every_declared_workload_runs():
    names = [w["name"] for w in SPEC["workloads"]]
    assert sorted(names) == sorted(run.FLOORS)
    for name in names:
        assert workloads.make(name).name == name
