"""BENCHMARK.json matches what the benchmark prints, and every ratio it
prints carries its base."""

import json
import os

from perfbench import harness

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_lists_match_benchmark_json():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        harness.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == harness.per_layer_spec()


def test_workloads_match_benchmark_json():
    from perfbench.run import WORKLOAD_NAMES

    assert {w["name"] for w in _spec()["workloads"]} <= set(WORKLOAD_NAMES)


def test_every_ratio_metric_has_a_base():
    ratio_metrics = {n for n, u, _ in harness.per_layer_spec()
                     if (u == "ratio" or "/" in u)
                     and not n.endswith(".task_skew")}
    assert ratio_metrics == set(harness.RATIOS)


def test_ratios_print_numerator_and_base():
    figures = {num: 3.0 for num, _ in harness.RATIOS.values()}
    figures.update({base: 4.0 for _, base in harness.RATIOS.values()})
    out = harness.ratios(figures)
    assert set(out) == set(harness.RATIOS)
    for r in out.values():
        assert r == {"value": 0.75, "num": 3.0, "base": 4.0}
    assert harness.ratios({}) == {}


def test_benchmark_json_within_contract_limits():
    spec = _spec()
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["end_to_end"]) <= 16
    assert 1 <= len(spec["per_layer"]) <= 128
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
