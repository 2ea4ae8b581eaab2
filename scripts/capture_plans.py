"""Capture .explain("formatted") for every registry query + the bench
composites, into plans/<tag>/<query>.txt — the evidence trail for plan
claims.

Run:  python scripts/capture_plans.py <tag> [query ...]
Uses the SAME session shape as bench.py (local[$SPARK_GRAFT_CPUS],
shuffle=2x cores, maxPartitionBytes=1m) so plans match what bench.py
executes.  Plans are written normalised (:func:`normalise`): expression
ids, plan ids and the checkout path become placeholders, so the plans of
two checkouts compare with ``diff -r plans/<a> plans/<b>``.

A composite whose ``BENCH/data`` inputs are missing (``bench.py``
generates them) is skipped with a printed reason and leaves no plan file.
Any other failure to build or explain a plan, or a requested name that is
not a query, writes no plan file and makes the script exit non-zero.
"""

from __future__ import annotations

import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DATA = os.path.join(REPO, "BENCH", "data")


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

    # name -> (its BENCH/data inputs, the builder they are passed to)
    composites = {
        "image_feature_pipeline": (
            ["obs_150000.parquet", "images_150000.parquet"], flagship_frame),
        "asof_skew_union": (
            ["skew_obs_200000.parquet", "skew_events_2000000.parquet"],
            skewed_asof),
    }

    skip_exec = {"image_pipeline", "resize_roundtrip"}  # they write sidecars
    names = list(REGISTRY) + list(composites)
    failed = sorted(only - set(names))
    for name in names:
        if only and name not in only:
            continue
        if name in skip_exec and not only:
            continue
        try:
            if name in composites:
                inputs, build = composites[name]
                missing = [
                    f for f in inputs
                    if not os.path.exists(os.path.join(BENCH_DATA, f))
                ]
                if missing:
                    print(f"skipped {name}: BENCH/data/{missing[0]} is "
                          "missing (bench.py generates it)")
                    continue
                df = build(*[
                    spark.read.parquet(os.path.join(BENCH_DATA, f))
                    for f in inputs
                ])
            else:
                fn, _ = REGISTRY[name]
                df = fn(spark, SF_DIR)
            text = explain_str(df)
        except Exception:
            print(f"FAILED {name}:", file=sys.stderr)
            traceback.print_exc()
            failed.append(name)
            continue
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(normalise(text))
        print("wrote", path)
    from feature_store_spark.operators.caches import release_caches
    release_caches()
    spark.stop()
    if failed:
        sys.exit(f"no plan for {len(failed)} name(s): {', '.join(failed)}")


if __name__ == "__main__":
    main()
