"""Streaming PIT enrichment: stream-static semantics vs the offline
as-of join, the zero-leakage NULL guard for out-of-order observations,
per-micro-batch state refresh, and exactly-once table commits."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from feature_store_spark.io.tables import PartitionedTable
from feature_store_spark.operators.asof import asof_join
from feature_store_spark.pipeline.datagen import write_parquet
from feature_store_spark.streaming.enrich import (
    enrich_with_state,
    stream_enrich_to_table,
)

_OBS_SCHEMA = "image_id string, obs_id string, obs_time timestamp"


def _ts(s):
    return pd.Timestamp(f"2024-01-01 {s}")


@pytest.fixture()
def state_pdf():
    # latest-per-entity feature state (one row per entity); caption is
    # part of the state dedup order (materialize._STATE_DEDUP_DESC)
    return pd.DataFrame(
        {
            "image_id": ["a", "b", "c"],
            "event_time": [_ts("10:00"), _ts("11:00"), _ts("12:00")],
            "phash": [11, 22, 33],
            "mean_r": [0.1, 0.2, 0.3],
            "caption": ["ca", "cb", "cc"],
        }
    )


def test_enrich_matches_asof_and_never_leaks(spark, state_pdf):
    obs_pdf = pd.DataFrame(
        {
            "image_id": ["a", "a", "b", "c", "zz"],
            "obs_id": ["o1", "o2", "o3", "o4", "o5"],
            # o2 is OLDER than a's latest feature; o4 exactly at c's
            "obs_time": [_ts("10:30"), _ts("09:30"), _ts("11:30"),
                         _ts("12:00"), _ts("13:00")],
        }
    )
    obs = spark.createDataFrame(obs_pdf)
    state = spark.createDataFrame(state_pdf)

    got = (
        enrich_with_state(obs, state, feature_cols=["phash", "mean_r"])
        .toPandas().set_index("obs_id").sort_index()
    )
    # in-window rows match the offline as-of join over the same state
    want = (
        asof_join(obs, state, feature_cols=["phash", "mean_r"],
                  tiebreak_cols=["phash"])
        .toPandas().set_index("obs_id").sort_index()
    )
    pd.testing.assert_frame_equal(got, want)

    assert got.loc["o1", "phash"] == 11
    assert got.loc["o4", "phash"] == 33      # inclusive at equality
    assert pd.isna(got.loc["o2", "phash"])   # out-of-order: NULL, no leak
    assert pd.isna(got.loc["o5", "phash"])   # cold entity
    assert (got["feature_ts"].dropna() <= got.loc[
        got["feature_ts"].notna(), "obs_time"]).all()


def test_enrich_lookback_expiry(spark, state_pdf):
    obs = spark.createDataFrame(pd.DataFrame(
        {"image_id": ["a", "a"], "obs_id": ["fresh", "stale"],
         "obs_time": [_ts("10:30"), _ts("14:30")]}
    ))
    got = enrich_with_state(
        obs, spark.createDataFrame(state_pdf),
        feature_cols=["phash"], lookback="2h",
    ).toPandas().set_index("obs_id")
    assert got.loc["fresh", "phash"] == 11
    assert pd.isna(got.loc["stale", "phash"])  # 4.5h old > 2h window


def test_stream_enrich_exactly_once_with_state_refresh(spark, tmp_path):
    """Each micro-batch re-resolves the state the incremental update
    maintains: a new day landed between two batches (a feature partition
    and no state write, as on any day between snapshots) is served to the
    second batch without restarting the query, and every batch commits
    exactly once."""
    from feature_store_spark.pipeline.datagen import generate_images
    from feature_store_spark.pipeline.materialize import (
        read_state_asof,
        update_feature_table,
    )

    img = generate_images(n_rows=60, n_entities=3, seed=5)
    img["event_date"] = img["event_time"].dt.strftime("%Y-%m-%d")
    days = sorted(img["event_date"].unique())
    last = days[-1]
    fresh = img[img.event_date == last]
    ent = fresh["image_id"].iloc[0]
    root = str(tmp_path)
    images_t = PartitionedTable(root, "images", "event_date")
    feats_t = PartitionedTable(root, "features", "event_date")
    state_t = PartitionedTable(root, "state", "event_date")
    images_t.write(spark.createDataFrame(img[img.event_date < last]),
                   mode="overwrite")
    update_feature_table(spark, images_t, feats_t, state_t)

    src = str(tmp_path / "obs_in")
    os.makedirs(src)
    out_t = PartitionedTable(root, "enriched", "obs_date")
    ckpt = str(tmp_path / "ckpt")
    n_files = 0

    def drain(files):
        nonlocal n_files
        for pdf in files:
            write_parquet(pdf, os.path.join(src, f"f{n_files}.parquet"))
            n_files += 1
        q = stream_enrich_to_table(
            spark, src, _OBS_SCHEMA, state_t, out_t, ckpt,
            feature_cols=["phash", "mean_r"],
        )
        q.awaitTermination(120)

    def served(obs_pdf):
        """What enrich_with_state serves over the state resolved now."""
        return enrich_with_state(
            spark.createDataFrame(obs_pdf, _OBS_SCHEMA),
            read_state_asof(spark, state_t), feature_cols=["phash", "mean_r"],
        ).toPandas().set_index("obs_id")

    eod = pd.Timestamp(last) + pd.Timedelta(hours=23, minutes=59)
    ents = sorted(img["image_id"].unique())
    obs1 = pd.DataFrame({"image_id": ents,
                         "obs_id": [f"o{i}" for i in range(len(ents))],
                         "obs_time": [pd.Timestamp(last)] * len(ents)})
    drain([obs1])
    got = out_t.read(spark).toPandas().set_index("obs_id")
    assert len(got) == len(ents)
    want = served(obs1)
    assert got.loc[want.index, "phash"].tolist() == want["phash"].tolist()
    before = got.set_index("image_id").loc[ent, "feature_ts"]

    # a new day lands before batch 2: the NEW features must be visible
    # without restarting the pipeline
    images_t.write(spark.createDataFrame(fresh))
    assert update_feature_table(spark, images_t, feats_t, state_t) == [last]
    obs2 = pd.DataFrame({"image_id": [ent], "obs_id": ["late"],
                         "obs_time": [eod]})
    drain([obs2])
    got = out_t.read(spark).toPandas().set_index("obs_id").sort_index()
    assert len(got) == len(ents) + 1          # exactly-once: no dupes
    assert got.loc["late", "feature_ts"] == fresh.loc[
        fresh.image_id == ent, "event_time"].max() > before
    assert got.loc["late", "phash"] == served(obs2).loc["late", "phash"]
    assert (got["feature_ts"].dropna() <= got.loc[
        got["feature_ts"].notna(), "obs_time"]).all()
    # restarting the drained query with no new files appends nothing
    drain([])
    assert out_t.read(spark).count() == len(ents) + 1
