import json
from pathlib import Path

from perfbench.layers import LAYER_METRICS
from perfbench.run import E2E_METRICS
from perfbench.workloads import WORKLOADS

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_what_the_runs_print():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == E2E_METRICS
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == LAYER_METRICS
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
