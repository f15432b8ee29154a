"""BENCHMARK.json holds the names, units, directions and bounds; spec.json
holds what BENCHMARK.json's format cannot: inputs, request mix, what each
metric means and which end-to-end metric each layer metric should move."""

import importlib
import json
import os
import re

import pytest

PB = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PB)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(PB, "spec.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_shape(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    assert 1 <= len(bench["end_to_end"]) <= 16
    assert 1 <= len(bench["per_layer"]) <= 128
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert "\n" not in w["why"]
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in bench["end_to_end"])}]
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["better"] in ("lower", "higher")
    assert len(json.dumps(bench)) <= 64 * 1024


def test_every_workload_has_a_module(bench):
    for w in bench["workloads"]:
        assert callable(importlib.import_module(f"perfbench.{w['name']}").run)


def test_spec_defines_exactly_the_listed_workloads_and_metrics(spec, bench):
    for key in ("workloads", "end_to_end", "per_layer"):
        assert set(spec[key]) == {x["name"] for x in bench[key]}, key


def test_every_pass_rides_on_a_listed_workload(spec, bench):
    workloads = {w["name"] for w in bench["workloads"]}
    for name, p in spec["passes"].items():
        assert p["runs_in"] in workloads, name
        assert spec["workloads"][p["runs_in"]]["traced_runs_add"] == name


def test_layer_predictions_name_known_workloads_and_metrics(spec, bench):
    # a prediction names a workload, or a pass that runs inside one
    places = {w["name"] for w in bench["workloads"]} | set(spec["passes"])
    named = {m["name"] for m in bench["end_to_end"]}
    for figs in spec["named_figures"].values():
        if isinstance(figs, list):
            named |= set(figs)
    for name, m in spec["per_layer"].items():
        assert m["module"] and m["per"], name
        assert set(m["no_change"]) <= places, name
        for target in m["moves"]:
            w, metric = target.split(":")
            assert w in places and metric in named, (name, target)
            assert w not in m["no_change"], (name, target)
