"""``bench.py`` labels a delta against the previous record only when both
runs measured the same thing, on the same number of cores."""

from __future__ import annotations

import bench


def test_deltas_need_equal_cpus(monkeypatch):
    prev = {"sf": "0.1", "cpus": 32, "queries": {"asof_join": 1.0}}
    monkeypatch.setattr(bench, "CPUS", "32")
    assert bench.comparable("asof_join", prev, "0.1")
    monkeypatch.setattr(bench, "CPUS", "4")
    assert not bench.comparable("asof_join", prev, "0.1")
    assert not bench.comparable("asof_join", {"sf": "0.1"}, "0.1")
