"""``BENCHMARK.json`` lists exactly the metrics the benchmark prints."""

from __future__ import annotations

import json
import os

from perfbench import layers, run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match_the_runner():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_per_layer_metrics_match_the_layer_specs():
    want = [{"name": n, "unit": u, "better": b} for n, u, b in layers.per_layer_specs()]
    assert _spec()["per_layer"] == want
