"""Every top-level ``def``/``class`` under ``feature_store_spark/`` is used
by something other than a test: a module, a script, the benchmark or the
CLI references it, or it is allowlisted below with its one-word reason.
Code that only tests reach is deleted, not kept."""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "feature_store_spark")

ALLOWED = {
    # the reference job's steps, mapped one by one in COVERAGE.md
    **dict.fromkeys([
        "create_user_key", "create_item_key", "clean_user_info",
        "hash_bucket", "rollup_interactions", "label_interactions",
        "weighted_lr", "popularity_item_group", "user_prefer_type",
        "negative_sample", "classify_by_rules", "SparkRedisSink",
    ], "reference"),
    **dict.fromkeys([
        "stream_images_to_table", "sessionize_stream",
        "stream_windowed_agg_to_table",
    ], "streaming"),
    **dict.fromkeys(
        ["generate_images", "generate_observations", "write_parquet"],
        "fixture",
    ),
    # the north star's PSNR >= 40 dB check; the sessionize test oracle
    **dict.fromkeys(["psnr", "oracle_sessionize"], "oracle"),
}


def _sources():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))
                   and os.path.join(root, d) != os.path.join(REPO, "tests")]
        for f in files:
            if f.endswith((".py", ".sh")):
                with open(os.path.join(root, f)) as fh:
                    yield os.path.join(root, f), fh.read()


def test_every_engine_definition_is_reached():
    defined = set()  # (module path, name)
    used = set()
    for path, text in _sources():
        if path.endswith(".sh"):
            used.update(re.findall(r"\w+", text))
            continue
        tree = ast.parse(text)
        if path.startswith(PACKAGE + os.sep):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                    defined.add((os.path.relpath(path, REPO), node.name))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias) and not path.endswith("__init__.py"):
                # a package re-export is not a use
                used.add(node.name.rsplit(".", 1)[-1])
    unreached = sorted(
        f"{path}:{name}" for path, name in defined
        if name not in used and name not in ALLOWED
    )
    assert not unreached, unreached
    names = {name for _, name in defined}
    assert set(ALLOWED) <= names, set(ALLOWED) - names
