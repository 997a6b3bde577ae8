"""BENCHMARK.json names exactly the workloads and metrics run.py reports."""

import json
import os
from types import SimpleNamespace

import run
from workloads import WORKLOADS

SPEC = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def test_spec_matches_reported_metrics():
    with open(SPEC) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    e2e = run.end_to_end(SimpleNamespace(rows_per_iteration=10), [1.0, 2.0], 3.0, [4.0])
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()
    }
    # throughput of the whole timed loop: 2 iterations of 10 rows in 3 s
    assert e2e["rows_per_s"]["value"] == 20 / 3.0
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
