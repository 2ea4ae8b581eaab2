"""The flagship image chain: :func:`~feature_store_spark.pipeline.
materialize.compute_features` (decode → 1-day rolling window → lag →
30-minute sessions) → union as-of join against the observations.

``compute_features`` is the one definition of the chain; the flagship
adds only the as-of join.  Catalyst prunes the window columns the
flagship does not select (``lag_phash``), so the chain costs the same
sorts and exchanges here as a chain without them.

``bench.py`` times it, ``bench_extra.py`` and ``scripts/capture_plans.py``
rebuild it, ``scripts/bench_job.py`` scales it across executors and the
``image_pipeline`` gate checks it against DuckDB.  Each caller picks its
own output columns; the chain itself is written out nowhere else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from feature_store_spark.operators.asof import asof_join
from feature_store_spark.pipeline.materialize import compute_features

FLAGSHIP_FEATURE_COLS = ["phash", "mean_r", "mean_g", "mean_b", "std_r",
                         "roll_cnt_1d", "roll_mean_r_1d", "session_id"]


def flagship_frame(obs: DataFrame, images: DataFrame) -> DataFrame:
    """Each observation joined to its image's latest features, with the
    ``phash`` tiebreak."""
    return asof_join(
        obs, compute_features(images),
        feature_cols=FLAGSHIP_FEATURE_COLS, tiebreak_cols=["phash"])


def skewed_asof(obs: DataFrame, events: DataFrame) -> DataFrame:
    """The hot-entity as-of: ``events`` against ``obs`` by ``entity_id``."""
    return asof_join(
        obs, events, on="entity_id", obs_time="obs_time",
        feature_time="event_time", feature_cols=["fv1", "fv2"],
        tiebreak_cols=["seq"])
