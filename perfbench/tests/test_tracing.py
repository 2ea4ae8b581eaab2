"""Event-log fold and per-layer summary on a tiny committed event log."""

import os

import pytest

from perfbench.tracing import Span, fold_event_log, layer_summary

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "eventlog_tiny.jsonl")


def test_fold_by_job_group():
    folded = fold_event_log(FIXTURE)
    # the job without a group (stage 2) is not attributed to any span
    assert set(folded) == {"op1/a", "op1/b", "run-7"}
    a = folded["op1/a"]
    assert a["jobs"] == 1 and a["tasks"] == 3
    assert a["task_run_s"] == pytest.approx(0.6)
    assert a["task_cpu_s"] == pytest.approx(0.4)
    assert a["shuffle_write_bytes"] == 4000
    assert a["spill_bytes"] == 15
    assert a["task_skew"] == pytest.approx(300 / 200)  # max / median
    # stage 1 is listed again by op1/b's job but ran under op1/a
    b = folded["op1/b"]
    assert b["jobs"] == 1 and b["tasks"] == 1
    assert b["task_skew"] == 0.0  # 0 ms run over the 1 ms median floor


def test_layer_summary_is_per_op_median_and_folds_extra_groups():
    folded = fold_event_log(FIXTURE)
    spans = [
        Span("x", op_id=1, start=0.0, end=2.0, group="op1/a"),
        Span("x", op_id=2, start=0.0, end=4.0, group="op2/x"),  # no jobs
        Span("x", op_id=3, start=0.0, end=9.0, group="op1/b",
             other_groups=["run-7"]),
    ]
    s = layer_summary(spans, folded)["x"]
    assert s["wall_s"] == 4.0
    assert s["tasks"] == 2  # median of 3, 0 and 1 + 1
    assert s["jobs"] == 1
    assert s["shuffle_write_bytes"] == 7
