"""The flagship image chain, defined once: decode → 1-day rolling window →
30-minute sessions → union as-of join against the observations.

``bench.py`` times it, ``bench_extra.py`` and ``scripts/capture_plans.py``
rebuild it, ``scripts/bench_job.py`` scales it across executors and the
``image_pipeline`` gate checks it against DuckDB.  Each caller picks its
own output columns; the chain itself is written out nowhere else.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from feature_store_spark.functions.images import with_image_features
from feature_store_spark.operators.asof import asof_join
from feature_store_spark.operators.windows import sessionize, with_rolling

FLAGSHIP_FEATURE_COLS = ["phash", "mean_r", "mean_g", "mean_b", "std_r",
                         "roll_cnt", "roll_mean_r", "session_id"]


def flagship_features(images: DataFrame) -> DataFrame:
    """Decoded image features plus the rolling and session columns."""
    feats = with_image_features(images)
    feats = with_rolling(
        feats, "image_id", "event_time",
        {"roll_cnt": F.count(F.lit(1)), "roll_mean_r": F.avg("mean_r")},
        window="1d")
    return sessionize(feats, "image_id", "event_time", gap="30m",
                      tiebreak=["phash"])


def flagship_frame(obs: DataFrame, images: DataFrame) -> DataFrame:
    """Each observation joined to its image's latest features, with the
    ``phash`` tiebreak."""
    return asof_join(
        obs, flagship_features(images),
        feature_cols=FLAGSHIP_FEATURE_COLS, tiebreak_cols=["phash"])


def skewed_asof(obs: DataFrame, events: DataFrame) -> DataFrame:
    """The hot-entity as-of: ``events`` against ``obs`` by ``entity_id``."""
    return asof_join(
        obs, events, on="entity_id", obs_time="obs_time",
        feature_time="event_time", feature_cols=["fv1", "fv2"],
        tiebreak_cols=["seq"])
