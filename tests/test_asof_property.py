"""Hypothesis property tests for the as-of join (SURVEY.md §5 plan #3):
random event sets → engine result equals the brute-force per-row
max-filter oracle, including an extreme hot-entity skew case."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from feature_store_spark.operators.asof import asof_join, duration_to_us
from feature_store_spark.pipeline.oracle import oracle_asof

T0 = dt.datetime(2024, 1, 1)


def _mk(minutes):
    return T0 + dt.timedelta(minutes=int(minutes))


@st.composite
def asof_case(draw):
    n_e = draw(st.integers(1, 6))
    n_f = draw(st.integers(0, 60))
    n_o = draw(st.integers(1, 40))
    f_ent = draw(st.lists(st.integers(0, n_e - 1), min_size=n_f, max_size=n_f))
    f_ts = draw(st.lists(st.integers(0, 500), min_size=n_f, max_size=n_f))
    o_ent = draw(st.lists(st.integers(0, n_e), min_size=n_o, max_size=n_o))
    o_ts = draw(st.lists(st.integers(-50, 600), min_size=n_o, max_size=n_o))
    lookback = draw(st.sampled_from([None, "30m", "2h"]))
    return f_ent, f_ts, o_ent, o_ts, lookback


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(case=asof_case())
@pytest.mark.parametrize("strategy", ["union"])
def test_asof_equals_bruteforce_oracle(spark, strategy, case):
    f_ent, f_ts, o_ent, o_ts, lookback = case
    feats = pd.DataFrame(
        {
            "image_id": [f"e{i}" for i in f_ent],
            "event_time": [_mk(m) for m in f_ts],
            "v": np.arange(len(f_ent), dtype=float),
            "seq": np.arange(len(f_ent)),
        }
    )
    obs = pd.DataFrame(
        {
            "image_id": [f"e{i}" for i in o_ent],
            "obs_time": [_mk(m) for m in o_ts],
        }
    )
    if len(feats) == 0:
        feats = pd.DataFrame(
            {"image_id": pd.Series(dtype=str),
             "event_time": pd.Series(dtype="datetime64[us]"),
             "v": pd.Series(dtype=float), "seq": pd.Series(dtype="int64")}
        )
    sdf_feats = spark.createDataFrame(feats) if len(feats) else spark.createDataFrame(
        feats, schema="image_id string, event_time timestamp, v double, seq long")
    got = (
        asof_join(
            spark.createDataFrame(obs), sdf_feats,
            feature_cols=["v", "seq"], tiebreak_cols=["seq"],
            lookback=lookback,
        )
        .toPandas()
        .sort_values(["image_id", "obs_time", "seq"], kind="stable")
        .reset_index(drop=True)
    )
    want = (
        oracle_asof(
            obs, feats, "image_id", "obs_time", "event_time", ["v", "seq"],
            lookback_us=duration_to_us(lookback) if lookback else None,
            tiebreak=["seq"],
        )
        .sort_values(["image_id", "obs_time", "seq"], kind="stable")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == len(obs)
    assert np.allclose(
        got["v"].to_numpy(float), want["v"].to_numpy(float), equal_nan=True
    )


def test_hot_entity_skew_equivalence(spark):
    """One entity owns 95% of rows: the as-of agrees with the oracle."""
    rng = np.random.default_rng(17)
    n = 4000
    ent = np.where(rng.random(n) < 0.95, "hot", "cold")
    feats = pd.DataFrame(
        {
            "image_id": ent,
            "event_time": [_mk(m) for m in rng.integers(0, 20_000, n)],
            "v": rng.normal(size=n),
            "seq": np.arange(n),
        }
    )
    obs = pd.DataFrame(
        {
            "image_id": np.where(rng.random(500) < 0.9, "hot", "cold"),
            "obs_time": [_mk(m) for m in rng.integers(0, 22_000, 500)],
        }
    )
    kw = dict(feature_cols=["v", "seq"], tiebreak_cols=["seq"])
    a = asof_join(spark.createDataFrame(obs), spark.createDataFrame(feats),
                  **kw).orderBy("image_id", "obs_time", "seq").toPandas()
    want = oracle_asof(obs, feats, "image_id", "obs_time", "event_time",
                       ["v", "seq"], tiebreak=["seq"]).sort_values(
        ["image_id", "obs_time", "seq"], kind="stable").reset_index(drop=True)
    assert np.allclose(a.sort_values(["image_id", "obs_time", "seq"],
                                     kind="stable")["v"].to_numpy(float),
                       want["v"].to_numpy(float), equal_nan=True)
