"""As-of join: unit semantics + property equivalence against the
brute-force oracle (SURVEY.md §5 plan #2/#3).  The ``union``
parametrization names the one as-of algorithm and keeps the test ids."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from feature_store_spark.operators.asof import asof_join, duration_to_us
from feature_store_spark.pipeline.oracle import oracle_asof

T0 = dt.datetime(2024, 1, 1)


def _ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


@pytest.fixture(scope="module")
def simple(spark):
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["a", "a", "a", "b", "b", "b"],
                "event_time": [_ts(0), _ts(10), _ts(10), _ts(5), _ts(50), _ts(50)],
                "v": [1.0, 2.0, 3.0, 10.0, 20.0, 30.0],
                "seq": [0, 1, 2, 0, 1, 2],
            }
        )
    )
    obs = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["a", "a", "a", "b", "b", "c"],
                "obs_time": [_ts(-5), _ts(10), _ts(30), _ts(49), _ts(50), _ts(10)],
            }
        )
    )
    return obs, feats


@pytest.mark.parametrize("strategy", ["union"])
def test_asof_semantics(spark, simple, strategy):
    obs, feats = simple
    out = (
        asof_join(
            obs, feats, feature_cols=["v"], tiebreak_cols=["seq"],
        )
        .orderBy("image_id", "obs_time")
        .toPandas()
    )
    # leading null, inclusive tie (picks seq=2 of the tied pair), backward
    assert np.isnan(out.loc[0, "v"])            # a @ -5: before any feature
    assert out.loc[1, "v"] == 3.0               # a @ 10: tie → max tiebreak
    assert out.loc[2, "v"] == 3.0               # a @ 30: latest ≤ 30
    assert out.loc[3, "v"] == 10.0              # b @ 49: only t=5 qualifies
    assert out.loc[4, "v"] == 30.0              # b @ 50: inclusive at equality
    assert np.isnan(out.loc[5, "v"])            # c: cold start
    # zero leakage invariant
    ok = out.dropna(subset=["feature_ts"])
    assert (ok["feature_ts"] <= ok["obs_time"]).all()


@pytest.mark.parametrize("strategy", ["union"])
def test_asof_lookback(spark, simple, strategy):
    obs, feats = simple
    out = (
        asof_join(
            obs, feats, feature_cols=["v"], tiebreak_cols=["seq"],
            lookback="25m",
        )
        .orderBy("image_id", "obs_time")
        .toPandas()
    )
    assert out.loc[2, "v"] == 3.0     # a @ 30: age 20m ≤ 25m
    assert np.isnan(out.loc[3, "v"])  # b @ 49: age 44m > 25m → expired


@pytest.mark.parametrize("strategy", ["union"])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_asof_property_vs_oracle(spark, strategy, seed):
    rng = np.random.default_rng(seed)
    n_f, n_o, n_e = 300, 200, 12
    feats = pd.DataFrame(
        {
            "image_id": [f"e{i}" for i in rng.integers(0, n_e, n_f)],
            "event_time": [
                _ts(int(m)) for m in rng.integers(0, 5000, n_f)
            ],
            "v": rng.normal(size=n_f),
            "seq": np.arange(n_f),
        }
    )
    obs = pd.DataFrame(
        {
            "image_id": [f"e{i}" for i in rng.integers(0, n_e + 2, n_o)],
            "obs_time": [_ts(int(m)) for m in rng.integers(-100, 5500, n_o)],
        }
    )
    got = (
        asof_join(
            spark.createDataFrame(obs), spark.createDataFrame(feats),
            feature_cols=["v", "seq"], tiebreak_cols=["seq"],
            lookback="12h",
        )
        .orderBy("image_id", "obs_time")
        .toPandas()
    )
    want = oracle_asof(
        obs, feats, "image_id", "obs_time", "event_time",
        ["v", "seq"], lookback_us=duration_to_us("12h"), tiebreak=["seq"],
    ).sort_values(["image_id", "obs_time"], kind="stable").reset_index(drop=True)
    assert len(got) == len(want)
    gv = got["v"].to_numpy(float)
    wv = want["v"].to_numpy(float)
    assert np.allclose(gv, wv, equal_nan=True)
    gs = got["seq"].fillna(-1).to_numpy(int)
    ws = want["seq"].fillna(-1).astype(int).to_numpy()
    assert (gs == ws).all()
