"""Scalable deterministic datagen in pure Spark expressions.

For multi-million-row bench inputs the pandas generator (per-row Python) is
the bottleneck, so this generator derives every column from md5 of the row
id — fully deterministic, embarrassingly parallel, no Python on executors.
This is also the 100 TB story: synthesizing a 10^12-row test table is a
`spark.range` + column expressions, not a driver loop.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession


def _h(seed: str, salt: str) -> "F.Column":
    """Deterministic pseudo-random long in [0, 2^60) from (seed, salt, id)."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(seed), F.lit(salt),
                                      F.col("id").cast("string"))), 1, 15),
        16, 10,
    ).cast("long")


def synth_feature_events(
    spark: SparkSession,
    n_rows: int,
    n_entities: int,
    seed: str = "42",
    base_ts: str = "2024-01-01",
    span_days: int = 30,
    skew_power: int = 2,
    hot_fraction: float | None = None,
) -> DataFrame:
    """Feature-side event table (entity, event_time, numeric features).

    ``skew_power`` > 1 skews entities toward low ids (hot entities), the
    salting/AQE stressor the north rule names.  ``hot_fraction`` makes
    entity 0 own that fraction of ALL rows outright — the degenerate
    single-hot-key case, where one task holds half the as-of input.
    """
    span_s = span_days * 86400
    df = spark.range(n_rows)
    u = (_h(seed, "e") % 1_000_000) / 1_000_000.0  # uniform [0,1)
    ent = F.floor(F.pow(u, F.lit(skew_power)) * n_entities).cast("long")
    if hot_fraction is not None:
        ent = F.when(u < F.lit(hot_fraction), F.lit(0)).otherwise(ent)
    ts = F.to_timestamp(F.lit(base_ts)) + F.make_dt_interval(
        F.lit(0), F.lit(0), F.lit(0), (_h(seed, "t") % span_s).cast("double")
    )
    return df.select(
        F.concat(F.lit("ent_"), ent.cast("string")).alias("entity_id"),
        ts.alias("event_time"),
        ((_h(seed, "v") % 100_000) / 1000.0).alias("fv1"),
        (_h(seed, "p")).alias("fv2"),
        F.col("id").alias("seq"),
    )


def synth_images(
    spark: SparkSession,
    n_rows: int,
    n_entities: int,
    seed: int = 42,
    base_ts: str = "2024-01-01",
    span_days: int = 30,
    skew_power: int = 2,
    truth: bool = False,
) -> DataFrame:
    """images table (input_hint shape) generated ON EXECUTORS: ids/times via
    md5 expressions, pixels+encode via an Arrow-batched pandas UDF — the
    parallel path for bench-scale data (the pandas generator is driver-bound).

    ``truth=True`` appends ground-truth decode columns (truth_mean_r,
    truth_std_r — per-channel stats of the reconstructed pixels, computed at
    generation time while the pixel array is in hand).  The correctness gate
    writes these to a sidecar so a SQL oracle can verify the whole decode →
    window → as-of pipeline without being able to run the codec itself.
    """
    from feature_store_spark.functions.images import (
        decode_image,
        encode_image,
        phash64,
    )

    span_s = span_days * 86400
    sseed = str(seed)
    df = spark.range(n_rows)
    u = (_h(sseed, "e") % 1_000_000) / 1_000_000.0
    ent = F.floor(F.pow(u, F.lit(skew_power)) * n_entities).cast("long")
    ts = F.to_timestamp(F.lit(base_ts)) + F.make_dt_interval(
        F.lit(0), F.lit(0), F.lit(0), (_h(sseed, "t") % span_s).cast("double")
    )

    fields = [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
    if truth:
        fields += [
            T.StructField("truth_mean_r", T.DoubleType()),
            T.StructField("truth_std_r", T.DoubleType()),
        ]
    payload_schema = T.StructType(fields)
    col_names = [f.name for f in fields]

    @F.pandas_udf(payload_schema)
    def gen_payload(ids: pd.Series) -> pd.DataFrame:
        import numpy as np

        vocab = ("sunset harbor mountain forest river skyline bridge market "
                 "temple garden bicycle lantern festival monsoon valley "
                 "pagoda island delta boat street").split()
        rows = []
        for rid in ids:
            rng = np.random.default_rng([seed, int(rid)])
            w = int(rng.integers(8, 33))
            h = int(rng.integers(8, 33))
            fmt = "png" if rng.random() < 0.5 else "jpeg"
            cap = " ".join(vocab[i] for i in rng.integers(0, len(vocab),
                                                          int(rng.integers(3, 8))))
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            data = encode_image(px, fmt)
            dec = decode_image(data)
            ph = phash64(dec)
            row = (data, w, h, fmt, cap, ph)
            if truth:
                r = dec[:, :, 0].astype(np.float64)
                row = row + (float(r.mean()), float(r.std()))
            rows.append(row)
        return pd.DataFrame(rows, columns=col_names)

    return df.select(
        F.concat(F.lit("img_"), ent.cast("string")).alias("image_id"),
        ts.alias("event_time"),
        gen_payload(F.col("id")).alias("p"),
    ).select("image_id", "p.*", "event_time")


def synth_observations(
    spark: SparkSession,
    n_rows: int,
    n_entities: int,
    seed: str = "43",
    base_ts: str = "2024-01-01",
    span_days: int = 31,
    skew_power: int = 2,
    prefix: str = "ent_",
    hot_fraction: float | None = None,
) -> DataFrame:
    span_s = span_days * 86400
    df = spark.range(n_rows)
    u = (_h(seed, "e") % 1_000_000) / 1_000_000.0
    ent = F.floor(F.pow(u, F.lit(skew_power)) * n_entities).cast("long")
    if hot_fraction is not None:
        ent = F.when(u < F.lit(hot_fraction), F.lit(0)).otherwise(ent)
    ts = F.to_timestamp(F.lit(base_ts)) + F.make_dt_interval(
        F.lit(0), F.lit(0), F.lit(0), (_h(seed, "t") % span_s).cast("double")
    )
    return df.select(
        F.concat(F.lit(prefix), ent.cast("string")).alias("entity_id"),
        ts.alias("obs_time"),
        F.col("id").alias("obs_id"),
    )


def synth_documents(
    spark: SparkSession,
    n_rows: int,
    n_words: int = 40,
    cluster: int = 5,
    seed: str = "7",
) -> DataFrame:
    """Deterministic documents table generated ON EXECUTORS (content-
    addressed by (seed, doc_id)): each size-``cluster`` block of ids
    shares ``n_words - 2`` md5-derived words plus 2 per-doc salt words —
    clusters of near-duplicates, so MinHash/LSH benches exercise real
    candidate buckets, not hash noise."""
    body = (
        f"transform(sequence(1, {n_words - 2}), "
        f"i -> substring(md5(concat('{seed}_', "
        f"CAST(id - id % {cluster} AS STRING), '_', CAST(i AS STRING))), "
        f"1, 6))"
    )
    salt = (
        f"array(substring(md5(concat('{seed}s1_', CAST(id AS STRING))), 1, 6), "
        f"substring(md5(concat('{seed}s2_', CAST(id AS STRING))), 1, 6))"
    )
    return spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        F.expr(f"concat_ws(' ', concat({body}, {salt}))").alias("text"),
    )
