"""``scripts/capture_plans.py`` writes plans that two checkouts can
compare with ``diff -r``: run-specific ids and the checkout path become
placeholders, and nothing else changes."""

from __future__ import annotations

import importlib.util
import os

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
