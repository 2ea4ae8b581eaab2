"""``scripts/capture_plans.py`` writes plans that two checkouts can
compare with ``diff -r``: run-specific ids and the checkout path become
placeholders, and nothing else changes.  A plan it cannot capture is
never written as a file, and the run exits non-zero."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _capture_plans():
    spec = importlib.util.spec_from_file_location(
        "capture_plans", os.path.join(REPO, "scripts", "capture_plans.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


SAMPLE = """\
(3) Scan parquet 
Output [3]: [image_id#2900, bytes#2901, event_time#2907]
Location: InMemoryFileIndex [file:/work/a/BENCH/data/images.parquet]
ReadSchema: struct<image_id:string,bytes:binary,event_time:timestamp>

(9) Project
Output [2]: [__asof_slice#2934L, (sum(x#12) + 1) AS y#13L]
Arguments: plan_id=457, Window [sum(__brk#40) windowspecdefinition(...)]
"""

WANT = """\
(3) Scan parquet 
Output [3]: [image_id#<id>, bytes#<id>, event_time#<id>]
Location: InMemoryFileIndex [file:<repo>/BENCH/data/images.parquet]
ReadSchema: struct<image_id:string,bytes:binary,event_time:timestamp>

(9) Project
Output [2]: [__asof_slice#<id>L, (sum(x#<id>) + 1) AS y#<id>L]
Arguments: plan_id=<n>, Window [sum(__brk#<id>) windowspecdefinition(...)]
"""


def test_normalise_replaces_ids_and_checkout_path():
    norm = _capture_plans().normalise
    assert norm(SAMPLE, repo="/work/a") == WANT
    # the same plan from another checkout, with other ids, is identical
    other = (SAMPLE.replace("/work/a", "/work/b").replace("#29", "#39")
             .replace("plan_id=457", "plan_id=12"))
    assert norm(other, repo="/work/b") == WANT


def test_failed_plan_exits_nonzero_and_writes_no_file(tmp_path):
    """A query that cannot be built (no input tables) fails the run and
    leaves no plan file; a composite without its ``BENCH/data`` inputs is
    skipped with a reason, not written as an error text."""
    out = tmp_path / "plans"
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1",
           "SPARK_GRAFT_SF_DIR": str(tmp_path / "no_tables")}
    run = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "capture_plans.py"),
         str(out), "group_count", "asof_skew_union"],
        env=env, capture_output=True, text=True, timeout=600)
    assert run.returncode != 0, run.stdout + run.stderr
    assert "FAILED group_count" in run.stderr
    assert not (out / "group_count.txt").exists()
    data = os.path.join(REPO, "BENCH", "data", "skew_obs_200000.parquet")
    if not os.path.exists(data):
        assert "skipped asof_skew_union" in run.stdout
        assert not (out / "asof_skew_union.txt").exists()
