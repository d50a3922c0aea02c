"""BENCHMARK.json against the benchmark contract and the layer map."""

import json
import os
import re

import layers
import run as bench_run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_top_level_keys_and_limits():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert s["command"] == ["python3", "perfbench/run.py"]
    assert s["paths"] == ["perfbench"]
    assert isinstance(s["run_seconds"], int) and 1 <= s["run_seconds"] <= 60
    assert 2 <= len(s["workloads"]) <= 8
    assert 1 <= len(s["end_to_end"]) <= 16
    assert 1 <= len(s["per_layer"]) <= 128
    assert len(json.dumps(s)) <= 64 * 1024


def test_names_units_and_bounds_are_valid_and_unique():
    s = spec()
    names = [w["name"] for w in s["workloads"]] + [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in s["end_to_end"])}]


def test_workloads_are_the_ones_the_command_runs():
    assert [w["name"] for w in spec()["workloads"]] == list(bench_run.WORKLOADS)


def test_per_layer_matches_the_layer_map():
    assert [(m["name"], m["unit"]) for m in spec()["per_layer"]] == [
        (n, unit) for n, (unit, _moves) in layers.LAYERS.items()
    ]


def test_every_layer_metric_moves_an_existing_metric_on_an_existing_workload():
    s = spec()
    e2e = {m["name"] for m in s["end_to_end"]}
    workloads = {w["name"] for w in s["workloads"]}
    for name, (_unit, moves) in layers.LAYERS.items():
        if name in layers.CONTEXT:
            assert moves == []
            continue
        assert moves, name
        for metric, workload in moves:
            assert metric in e2e, (name, metric)
            assert workload in workloads, (name, workload)


def test_traced_runs_must_produce_their_own_layers_only():
    ingest, catalog = layers.required("ingest-then-analyze"), layers.required("catalog-batch")
    assert layers.CONTEXT <= ingest and layers.CONTEXT <= catalog
    assert "pipelines.silver.write_ms" in ingest and "pipelines.silver.write_ms" not in catalog
    assert "harness.g2_connected_components_s" in catalog and "harness.g2_connected_components_s" not in ingest
    assert ingest | catalog == set(layers.LAYERS)
