"""Round-6 optimization harness: per-query noop-sink timing in ONE session
(interleaved min-of-N).

This is the §1.4-style isolation bench the optimization guide asks for;
``bench.py`` itself is FROZEN for driver measurement and stays untouched.

Usage:
  python bench_extra.py q1 q2 ...            # registry/composite names
  python bench_extra.py --rounds 5 q1 q2

Prints one JSON line: {"queries": {name: min_sec}, "samples": {...}, ...}.
Session shape matches bench.py exactly (local[$SPARK_GRAFT_CPUS],
shuffle = 2x cores, maxPartitionBytes=1m) so numbers are comparable.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPO = os.path.dirname(os.path.abspath(__file__))
BENCH_DATA = os.path.join(REPO, "BENCH", "data")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = sys.argv[1:]
    rounds = 3
    if args and args[0] == "--rounds":
        rounds = int(args[1])
        args = args[2:]
    names = args or ["winnow_fingerprint", "minhash_signatures", "lsh_pairs"]

    from feature_store_spark.operators.caches import release_caches
    from feature_store_spark.pipeline.flagship import flagship_frame, skewed_asof
    from feature_store_spark.registry import REGISTRY
    from feature_store_spark.session import get_spark

    spark = get_spark(
        "bench_extra", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS) * 2,
        extra_conf={"spark.sql.files.maxPartitionBytes": "1m"},
    )

    def data(name):
        return spark.read.parquet(os.path.join(BENCH_DATA, name))

    composites = {
        "image_feature_pipeline": lambda: flagship_frame(
            data("obs_150000.parquet"), data("images_150000.parquet")),
        "asof_skew_union": lambda: skewed_asof(
            data("skew_obs_200000.parquet"),
            data("skew_events_2000000.parquet")),
    }

    def build(name):
        if name in composites:
            return composites[name]()
        fn, _ = REGISTRY[name]
        return fn(spark, SF_DIR)

    # warm-up: JVM codegen + Python/Arrow worker spawn at tiny scale
    warm_fn, _ = REGISTRY["asof_join"]
    _noop(warm_fn(spark, "/root/testdata/sf0.001"))
    warm_py, _ = REGISTRY["cosine_topk"]
    _noop(warm_py(spark, "/root/testdata/sf0.001"))
    release_caches()
    spark.catalog.clearCache()

    samples: dict[str, list[float]] = {}
    for _ in range(rounds):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            _noop(build(name))
            samples.setdefault(name, []).append(round(time.time() - t0, 3))
            release_caches()
            spark.catalog.clearCache()
    out = {
        "queries": {q: min(v) for q, v in samples.items()},
        "samples": samples,
        "sf": SF_DIR,
        "cpus": int(CPUS),
        "rounds": rounds,
    }
    print("EXTRAJSON " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
