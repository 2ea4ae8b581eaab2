"""Scan-parallelism helpers.

``fan_out`` fixes the small-input/heavy-CPU mismatch (optimization guide
§2.5 "input skew"): a few MB of compressed parquet produce one or two scan
splits, so a map stage whose per-row cost is large (md5 shingle hashing,
vector math) runs on 1-2 cores while the rest of the cluster idles.  The
repartition is ADAPTIVE — it only fires when the scan's parallelism is
below the cluster's, so at production scale (thousands of splits) it is a
no-op and adds no shuffle.

Round-robin ``repartition(n)`` is retry-safe here: Spark sorts input rows
before round-robin assignment (``spark.sql.execution.sortBeforeRepartition``,
on by default, SPARK-23207) so a re-run task reproduces the same
row-to-partition mapping, and every downstream operator in this engine is
partition-count-invariant by contract (no ``F.rand``, total-order
tiebreaks everywhere).

The split-count probe is a local-file SIZE ESTIMATE, not
``df.rdd.getNumPartitions()``: converting the frame to an RDD plans the
query a second time and measured 120-190 ms of driver work per call —
more than some whole queries save.  The estimate mirrors Spark's file
split planning (``FilePartition.maxSplitBytes`` and its next-fit-decreasing
packing); a non-local scheme or an unparseable conf falls back to the
exact RDD probe.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_UNITS = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _parse_bytes(v: str) -> int:
    s = str(v).strip().lower()
    if s.endswith("b") and s[:-1] and s[-2] in _UNITS:
        s = s[:-1]  # "64mb" → "64m"
    if s and s[-1] in _UNITS:
        return int(float(s[:-1]) * _UNITS[s[-1]])
    return int(s)


def _estimated_splits(df: DataFrame) -> int | None:
    """Scan split count from local file sizes, planned as Spark plans it:
    the split size is ``min(maxPartitionBytes, max(openCostInBytes,
    totalBytes / defaultParallelism))`` with each file charged
    ``openCostInBytes`` in ``totalBytes``; files are cut into chunks of
    that size and packed largest first, a split closing when the next
    chunk would overflow it.  None when the estimate can't be made
    cheaply (non-local files, empty listing)."""
    spark = df.sparkSession
    files = df.inputFiles()
    if not files:
        return None
    sizes = []
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("", "file"):
            return None
        try:
            sizes.append(os.path.getsize(unquote(p.path)))
        except OSError:
            return None
    max_bytes = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    total = sum(sizes) + len(sizes) * open_cost
    per_core = total // spark.sparkContext.defaultParallelism
    split = max(min(max_bytes, max(open_cost, per_core)), 1)
    chunks = sorted(
        (min(split, size - off) for size in sizes
         for off in range(0, size, split)),
        reverse=True,
    )
    n = cur = 0
    for c in chunks:
        if n == 0 or cur + c > split:
            n, cur = n + 1, 0
        cur += c + open_cost
    return n


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to the session's default parallelism when its
    current partitioning has fewer slots — otherwise return it unchanged.

    Use on a SCAN that feeds CPU-heavy per-row work (hashing, shingling,
    per-pair vector math).  The data moved is the scan's own (small)
    output; the unlocked parallelism is worth orders more than the local
    exchange when the input is a handful of splits.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        cur = _estimated_splits(df)
        if cur is None:
            cur = df.rdd.getNumPartitions()
    except Exception:
        try:
            cur = df.rdd.getNumPartitions()
        except Exception:
            return df
    if cur >= target:
        return df
    return df.repartition(target)
