from __future__ import annotations

import json
import os

from conftest import ROOT
from layers import PER_LAYER
from run import OP_NOMINAL_S


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_per_layer_matches_the_traced_table():
    assert [(m["name"], m["unit"], m["better"]) for m in _bench()["per_layer"]] == list(PER_LAYER)


def test_workloads_match_the_runner():
    assert sorted(w["name"] for w in _bench()["workloads"]) == sorted(OP_NOMINAL_S)


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
