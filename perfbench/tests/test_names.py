"""Every metric the benchmark prints is declared in BENCHMARK.json with
the same unit, and every declared name and unit fits the grammar of
the BENCHMARK.json format."""

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _printed_e2e():
    return dict(run.E2E)


def _printed_per_layer():
    out = {n: u for n, (u, _b) in layers.PER_LAYER.items()}
    out.update({f"overhead.{n}": u for n, u in run.E2E.items()})
    return out


def test_end_to_end_declared_exactly():
    declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert declared == _printed_e2e()


def test_per_layer_declared_exactly():
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert declared == _printed_per_layer()


def test_per_layer_direction_matches():
    declared = {m["name"]: m["better"] for m in SPEC["per_layer"]}
    for name, (_u, better) in layers.PER_LAYER.items():
        assert declared[name] == better, name


def test_names_and_units_fit_grammar():
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == sorted(run.WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in SPEC["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in SPEC["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in SPEC["per_layer"])
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
