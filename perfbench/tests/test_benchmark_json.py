"""BENCHMARK.json names what the harness prints, in the fixed format."""

import json
import re
from pathlib import Path

from perfbench.layers import PER_LAYER
from perfbench.run import E2E_UNITS, WORKLOADS

DOC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_keys_and_command():
    assert set(DOC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert DOC["command"] == ["python3", "perfbench/run.py"]
    assert DOC["paths"] == ["perfbench"]
    assert 1 <= DOC["run_seconds"] <= 60


def test_workloads_match_the_harness():
    assert [w["name"] for w in DOC["workloads"]] == ["ann_serve", "corpus_batch"]
    assert all(w["name"] in WORKLOADS for w in DOC["workloads"])
    for w in DOC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_end_to_end_metrics_match_the_harness():
    e2e = DOC["end_to_end"]
    assert {m["name"]: m["unit"] for m in e2e} == E2E_UNITS
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["better"] == "lower" and setup["bound"] == max(m["bound"] for m in e2e)


def test_per_layer_metrics_match_the_layer_table():
    assert DOC["per_layer"] == [
        {"name": n, "unit": u, "better": b} for n, u, b, *_ in PER_LAYER
    ]
    assert 1 <= len(DOC["per_layer"]) <= 128


def test_names_and_units_are_well_formed():
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in DOC[key]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for key in ("end_to_end", "per_layer") for m in DOC[key])
