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


def _cut_record(tmp_path, monkeypatch, section: str) -> dict:
    """Write a wrapped record whose "tail" starts right after the first
    query name inside ``section`` of a record in today's key order, and
    return what ``previous_bench`` rebuilds from it."""
    import json

    times = {"asof_join": 1.0, "rolling": 2.0, "image_feature_pipeline": 5.0}
    line = json.dumps({
        "metric": "m", "value": 8.0, "unit": "sec", "queries": times,
        "sf": "0.1", "bench_mode": "interleaved_min", "rounds": 2,
        "spread": {q: 0.1 for q in times},
        "samples": {q: [t, t + 0.1] for q, t in times.items()},
        "host_probe_sec": [0.2, 0.2], "cpus": 4,
    })
    at = line.index('"asof_join":', line.index(f'"{section}"'))
    tail = line[at + len('"asof_join":'):]
    (tmp_path / "BENCH_r09.json").write_text(json.dumps({"tail": tail}))
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    name, doc = bench.previous_bench()
    assert name == "BENCH_r09.json"
    return doc


def test_truncated_record_recovers_queries(tmp_path, monkeypatch):
    doc = _cut_record(tmp_path, monkeypatch, "queries")
    assert doc["queries"] == {"rolling": 2.0, "image_feature_pipeline": 5.0}
    assert doc["sf"] == "0.1" and doc["cpus"] == 4


def test_truncated_record_cut_past_queries_has_no_queries(tmp_path,
                                                          monkeypatch):
    # a cut inside "spread" or "samples" also parses once the opener is
    # prepended; neither may pass its values off as query times
    for section in ("spread", "samples"):
        doc = _cut_record(tmp_path, monkeypatch, section)
        assert not doc.get("queries"), section
