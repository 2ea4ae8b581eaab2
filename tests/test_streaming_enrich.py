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


def test_stream_enrich_exactly_once_with_state_refresh(spark, tmp_path,
                                                       state_pdf):
    src = str(tmp_path / "obs_in")
    os.makedirs(src)
    state_t = PartitionedTable(str(tmp_path), "state", "event_date")
    out_t = PartitionedTable(str(tmp_path), "enriched", "obs_date")
    ckpt = str(tmp_path / "ckpt")

    s1 = state_pdf.assign(
        event_date=state_pdf["event_time"].dt.strftime("%Y-%m-%d"),
        session_id_idx=0,
    )
    state_t.write(
        spark.createDataFrame(s1), mode="overwrite",
        partition_meta={d: {"state_kind": "snapshot"}
                        for d in s1["event_date"].unique()},
    )

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

    obs1 = pd.DataFrame(
        {"image_id": ["a", "b"], "obs_id": ["o1", "o2"],
         "obs_time": [_ts("10:30"), _ts("11:30")]}
    )
    drain([obs1])
    got = out_t.read(spark).toPandas().set_index("obs_id")
    assert len(got) == 2 and got.loc["o1", "phash"] == 11

    # state advances (entity a gets a newer feature) before batch 2:
    # the NEW state must be visible without restarting the pipeline
    s2 = pd.DataFrame(
        {"image_id": ["a"], "event_time": [_ts("13:00")], "phash": [99],
         "mean_r": [0.9], "caption": ["ca2"]}
    ).assign(event_date="2024-01-01", session_id_idx=0)
    state_t.write(spark.createDataFrame(s2), mode="overwrite_partitions",
                  partition_meta={"2024-01-01": {"state_kind": "snapshot"}})

    obs2 = pd.DataFrame(
        {"image_id": ["a"], "obs_id": ["o3"], "obs_time": [_ts("13:30")]}
    )
    drain([obs2])
    got = out_t.read(spark).toPandas().set_index("obs_id").sort_index()
    assert len(got) == 3                      # exactly-once: no o1/o2 dupes
    assert got.loc["o3", "phash"] == 99       # refreshed state served
    assert (got["feature_ts"].dropna() <= got.loc[
        got["feature_ts"].notna(), "obs_time"]).all()
    # restarting the drained query with no new files appends nothing
    drain([])
    assert len(out_t.read(spark).toPandas()) == 3