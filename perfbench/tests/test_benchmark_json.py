import json
import os
from types import SimpleNamespace

from perfbench.layers import PER_LAYER
from perfbench.run import end_to_end
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_workloads_match():
    assert [w["name"] for w in _bench()["workloads"]] == list(WORKLOADS)


def test_per_layer_metrics_match_what_a_traced_run_prints():
    assert {m["name"]: m["unit"] for m in _bench()["per_layer"]} == PER_LAYER


def test_end_to_end_metrics_match_what_a_run_prints():
    wl = SimpleNamespace(request="op", records=[{"wall": 0.1}, {"wall": 0.3}])
    got = end_to_end(wl, [2.0, 1.0, 3.0], [0.4])
    assert {m["name"]: m["unit"] for m in _bench()["end_to_end"]} == {k: v["unit"] for k, v in got.items()}
    assert got["setup_s"]["value"] == 2.0 and got["ops_per_s"]["value"] == 5.0
