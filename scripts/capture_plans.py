"""Capture .explain("formatted") for every registry query + the bench
composites, into plans/<tag>/<query>.txt — the evidence trail for plan
claims.

Run:  python scripts/capture_plans.py <tag> [query ...]
Uses the SAME session shape as bench.py (local[$SPARK_GRAFT_CPUS],
shuffle=2x cores, maxPartitionBytes=1m) so plans match what bench.py
executes.  Plans are written normalised (:func:`normalise`): expression
ids, plan ids and the checkout path become placeholders, so the plans of
two checkouts compare with ``diff -r plans/<a> plans/<b>``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def normalise(text: str, repo: str = REPO) -> str:
    """``text`` with what differs between runs and checkouts of one plan
    replaced: ``#<id>`` for expression ids, ``plan_id=<n>`` for plan ids
    and ``<repo>`` for the checkout path."""
    text = text.replace(repo, "<repo>")
    text = re.sub(r"#\d+", "#<id>", text)
    return re.sub(r"plan_id=\d+", "plan_id=<n>", text)


def explain_str(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    only = set(sys.argv[2:])
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from feature_store_spark.registry import REGISTRY
    from feature_store_spark.session import get_spark

    spark = get_spark(
        "capture_plans", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS) * 2,
        extra_conf={"spark.sql.files.maxPartitionBytes": "1m"},
    )

    # bench composites (bench.py's flagship and skew as-of, plans only)
    from feature_store_spark.pipeline.flagship import flagship_frame, skewed_asof

    def data(name):
        return spark.read.parquet(os.path.join(REPO, "BENCH", "data", name))

    def image_feature_pipeline():
        return flagship_frame(data("obs_150000.parquet"),
                              data("images_150000.parquet"))

    composites = {
        "image_feature_pipeline": image_feature_pipeline,
        "asof_skew_union": lambda: skewed_asof(
            data("skew_obs_200000.parquet"),
            data("skew_events_2000000.parquet")),
    }

    skip_exec = {"image_pipeline", "resize_roundtrip"}  # they write sidecars
    names = list(REGISTRY) + list(composites)
    for name in names:
        if only and name not in only:
            continue
        if name in skip_exec and not only:
            continue
        try:
            if name in composites:
                df = composites[name]()
            else:
                fn, _ = REGISTRY[name]
                df = fn(spark, SF_DIR)
            text = explain_str(df)
        except Exception as e:  # pragma: no cover - diagnostic tool
            text = f"ERROR building/explaining {name}: {e!r}"
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(normalise(text))
        print("wrote", path)
    from feature_store_spark.operators.caches import release_caches
    release_caches()
    spark.stop()


if __name__ == "__main__":
    main()
