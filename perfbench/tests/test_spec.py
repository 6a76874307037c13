"""BENCHMARK.json follows the benchmark contract and names exactly the
metrics the code emits."""

import json
import os
import re

import pytest

from perfbench import run, spread

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_top_level_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    names = [m["name"] for m in SPEC["workloads"] + SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)


def test_workloads_match_code():
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metrics_shape_and_bounds():
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])


@pytest.mark.parametrize("layer", ["sources.readers", "operators.similarity", "query"])
def test_per_layer_names_cover_what_the_code_computes(layer):
    from perfbench.tracing import SPARK_COUNTERS

    span = {"layer": layer, "name": f"{layer}.f", "start": 0.0, "end": 1.0,
            "self_s": 1.0, "attrs": {}, "parent": 0, "rows": 1,
            "spark": dict.fromkeys(SPARK_COUNTERS, 0)}
    tr = {"spans": [span], "boot_s": 1.0, "artifacts_s": 0.5, "traced_s": 2.0,
          "untraced_s": 1.5, "derived": {}}
    values = run.per_layer_metrics(tr, cores=4)
    assert set(values) <= {m["name"] for m in SPEC["per_layer"]}


def test_derived_metric_names_are_declared():
    import inspect

    from perfbench import workloads

    declared = {m["name"] for m in SPEC["per_layer"]}
    src = inspect.getsource(workloads)
    for name in re.findall(r'"((?:operators|sources|plans)\.[a-z_]+\.[a-z_]+)"', src):
        assert name in declared, name


def test_spread_is_iqr_over_median():
    assert spread.spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    vals = [9.0, 10.0, 10.0, 11.0, 12.0]
    q1, _, q3 = __import__("statistics").quantiles(vals, n=4)
    assert spread.spread(vals) == (q3 - q1) / 10.0
