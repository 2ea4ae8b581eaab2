"""Scaling-bench job, one workload per JVM:

  spark-submit --master <M> --py-files engine.zip scripts/bench_job.py \
      <data_root> image <n_images> <n_obs> <passes>
  spark-submit --master <M> --py-files engine.zip scripts/bench_job.py \
      <data_root> dedup <n_docs> <n_words> <passes>

Inputs are generated once into <data_root>, deterministic and
content-addressed by (seed, row id), so both cluster sizes read the same
rows.  ``passes=0`` only generates them.

* ``image``: the flagship (``pipeline/flagship.py``: the
  ``compute_features`` chain plus the union as-of).  After a warm
  pass of the full chain on a deterministic ~8% subset (python-worker
  spawn, codegen for every stage, shuffle buffer pools), it times the
  DECODE stage alone and the FULL chain, so the report can split decode
  capacity from the windows + as-of tail.
* ``dedup``: MinHash → LSH candidate pairs over synthetic documents, on
  the wide-signature path the product uses, plus MinHash alone.

Each timed stage is the min over ``passes``.  Prints one JSON line
``BENCHJSON {...}`` that ``scripts/scaling_report.py`` reads.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyspark.sql.functions as F
from pyspark.sql import SparkSession


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _min_wall(spark, build, passes: int) -> float:
    from feature_store_spark.operators.caches import release_caches

    best = float("inf")
    for _ in range(passes):
        release_caches()  # each pass recomputes end-to-end
        spark.catalog.clearCache()
        t0 = time.time()
        _noop(build())
        best = min(best, time.time() - t0)
    return round(best, 2)


def image_phase(spark, data_root, n_images, n_obs, passes, out) -> None:
    from feature_store_spark.functions.images import with_image_features
    from feature_store_spark.pipeline.datagen_spark import (
        synth_images,
        synth_observations,
    )
    from feature_store_spark.pipeline.flagship import flagship_frame

    cores = spark.sparkContext.defaultParallelism
    n_ent = max(n_images // 300, 10)
    img_path = os.path.join(data_root, f"images_{n_images}.parquet")
    obs_path = os.path.join(data_root, f"imgobs_{n_obs}.parquet")
    if not os.path.exists(img_path):
        synth_images(spark, n_images, n_entities=n_ent) \
            .repartition(max(cores * 4, 32)) \
            .write.mode("overwrite").parquet(img_path)
    if not os.path.exists(obs_path):
        synth_observations(spark, n_obs, n_entities=n_ent, prefix="img_") \
            .withColumnRenamed("entity_id", "image_id") \
            .write.mode("overwrite").parquet(obs_path)
    if not passes:
        return

    images = spark.read.parquet(img_path)
    obs = spark.read.parquet(obs_path)
    sub = F.pmod(F.xxhash64("image_id"), F.lit(12)) == 0
    _noop(flagship_frame(obs.where(sub), images.where(sub)))
    out.update(n_images=n_images, n_obs=n_obs)
    out["decode_sec"] = _min_wall(
        spark, lambda: with_image_features(images), passes)
    out["full_sec"] = _min_wall(
        spark, lambda: flagship_frame(obs, images), passes)
    out["tail_sec"] = round(out["full_sec"] - out["decode_sec"], 2)


def dedup_phase(spark, data_root, n_docs, n_words, passes, out) -> None:
    from feature_store_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_wide,
    )
    from feature_store_spark.pipeline.datagen_spark import synth_documents

    # 40 words reproduces the round-5 short-doc regime; ~1000+ is the
    # web-scale regime where the shingle/md5 CPU dominates the LSH tail
    suffix = f"docs_{n_docs}" if n_words == 40 else f"docs_{n_docs}_w{n_words}"
    docs_path = os.path.join(data_root, f"{suffix}.parquet")
    if not os.path.exists(docs_path):
        cores = spark.sparkContext.defaultParallelism
        synth_documents(spark, n_docs, n_words=n_words) \
            .repartition(max(cores * 4, 32)) \
            .write.mode("overwrite").parquet(docs_path)
    if not passes:
        return

    def minhash():
        return minhash_wide(spark.read.parquet(docs_path), num_hashes=4)

    def dedup():
        return lsh_candidate_pairs(None, num_hashes=4, band_size=2,
                                   max_bucket_size=64,
                                   wide_signatures=minhash())

    _noop(dedup())  # warm
    out.update(n_docs=n_docs, n_words=n_words)
    out["dedup_sec"] = _min_wall(spark, dedup, passes)
    out["dedup_docs_per_sec"] = round(n_docs / out["dedup_sec"], 1)
    # MinHash alone: the CPU-bound part (shingle explode + md5 mins, one
    # groupBy with map-side combine), apart from the LSH tail's fixed
    # shuffle-stage latency
    out["minhash_sec"] = _min_wall(spark, minhash, passes)
    out["minhash_docs_per_sec"] = round(n_docs / out["minhash_sec"], 1)


def main() -> None:
    data_root, phase = sys.argv[1], sys.argv[2]
    run = {"image": image_phase, "dedup": dedup_phase}[phase]
    a, b, passes = (int(x) for x in sys.argv[3:6])

    spark = SparkSession.builder.getOrCreate()
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # binary image rows are cheap to store but expensive to decode:
        # size input splits for CPU parallelism, not byte volume
        "spark.sql.files.maxPartitionBytes": "8m",
        # identical plan at both cluster sizes
        "spark.sql.shuffle.partitions": "64",
    }.items():
        spark.conf.set(k, v)

    out: dict = {"cores": spark.sparkContext.defaultParallelism}
    run(spark, data_root, a, b, passes, out)
    # registered cores at END of the measured stages: local-cluster
    # executors can register late (after the job started), so a sample is
    # valid only when cores == cores_end == the expected count
    out["cores_end"] = spark.sparkContext.defaultParallelism
    print("BENCHJSON " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
