"""SparkSession construction with scale-oriented defaults.

Mirrors the knobs the reference sets in
``featurestore/base/utils/spark.py:103-121`` (shuffle partitions, broadcast
threshold, Arrow, maxPartitionBytes) but leans on AQE instead of fixed
partition counts so the same job adapts from local[8] tests to a
1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # Adaptive execution: runtime coalesce, skew-join splitting, plan re-opt.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce/replan CACHED plans too (off by default): persisted
    # operator intermediates (CC's symmetrized edges, LSH bucket
    # membership) otherwise keep the static
    # spark.sql.shuffle.partitions count however small the data is, and
    # every consumer of the cache pays that task count per stage.  AQE
    # sizes the cached partitioning by observed bytes, so this adapts from
    # local tests to cluster scale instead of pinning either (round-6;
    # guide §2.2 "fewer, larger partitions").
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for toPandas/createDataFrame; the batch size is also the rows
    # per call of every Arrow UDF (image decode and resize).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Binary image payloads are wide rows: keep input splits moderate.
    "spark.sql.files.maxPartitionBytes": "8m",
    # Broadcast small dims aggressively (reference uses 10m).
    "spark.sql.autoBroadcastJoinThreshold": "32m",
    # Deterministic session timezone so date functions match the oracle.
    "spark.sql.session.timeZone": "UTC",
    # Partition values stay strings ("2024-01-05") — no surprise casts
    # between manifest keys and partition-column comparisons.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    "spark.driver.memory": "8g",
    # Quiet progress bars in test output.
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "feature_store_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    ``shuffle_partitions`` defaults to the core count — AQE coalesces down.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        conf.setdefault("spark.sql.shuffle.partitions", "32")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
