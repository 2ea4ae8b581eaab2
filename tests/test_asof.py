"""As-of join: unit semantics + property equivalence of both strategies
against the brute-force oracle (SURVEY.md §5 plan #2/#3)."""

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


@pytest.mark.parametrize("strategy", ["union", "sliced"])
def test_asof_semantics(spark, simple, strategy):
    obs, feats = simple
    out = (
        asof_join(
            obs, feats, feature_cols=["v"], tiebreak_cols=["seq"],
            strategy=strategy, slice_duration="30m",
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


@pytest.mark.parametrize("strategy", ["union", "sliced"])
def test_asof_lookback(spark, simple, strategy):
    obs, feats = simple
    out = (
        asof_join(
            obs, feats, feature_cols=["v"], tiebreak_cols=["seq"],
            lookback="25m", strategy=strategy, slice_duration="20m",
        )
        .orderBy("image_id", "obs_time")
        .toPandas()
    )
    assert out.loc[2, "v"] == 3.0     # a @ 30: age 20m ≤ 25m
    assert np.isnan(out.loc[3, "v"])  # b @ 49: age 44m > 25m → expired


@pytest.mark.parametrize("strategy", ["union", "sliced"])
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
            lookback="12h", strategy=strategy, slice_duration="6h",
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


def test_strategies_identical_with_ties(spark):
    rng = np.random.default_rng(9)
    n = 400
    feats = pd.DataFrame(
        {
            "image_id": [f"e{i}" for i in rng.integers(0, 5, n)],
            "event_time": [_ts(int(m)) for m in rng.integers(0, 200, n)],  # many ties
            "v": rng.normal(size=n),
            "seq": np.arange(n),
        }
    )
    obs = pd.DataFrame(
        {
            "image_id": [f"e{i}" for i in rng.integers(0, 5, 150)],
            "obs_time": [_ts(int(m)) for m in rng.integers(0, 250, 150)],
        }
    )
    kw = dict(feature_cols=["v", "seq"], tiebreak_cols=["seq"])
    a = asof_join(spark.createDataFrame(obs), spark.createDataFrame(feats),
                  strategy="union", **kw).orderBy("image_id", "obs_time", "seq").toPandas()
    b = asof_join(spark.createDataFrame(obs), spark.createDataFrame(feats),
                  strategy="sliced", slice_duration="45m", **kw
                  ).orderBy("image_id", "obs_time", "seq").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_sliced_cache_scoping(spark, simple):
    """Caches register to the innermost scope and are unpersisted on exit;
    unscoped caches stay global until release_caches (round-2
    ADVICE: scope per call site, don't over-release other callers')."""
    from feature_store_spark.operators import caches as caches_mod
    from feature_store_spark.operators.caches import (
        cache_scope,
        release_caches,
    )

    obs, feats = simple
    release_caches()

    def run_sliced(slice_duration="30m"):
        # distinct slice_duration per call → distinct logical plans, as at
        # the real call sites (Spark's CacheManager dedupes identical plans,
        # which would alias the two scopes' cache entries)
        out = asof_join(obs, feats, feature_cols=["v"], tiebreak_cols=["seq"],
                        strategy="sliced", slice_duration=slice_duration)
        out.count()
        return out

    with cache_scope() as outer:
        run_sliced()
        assert len(outer) == 1 and not caches_mod._GLOBAL_CACHES
        cached = outer[0]
        assert cached.storageLevel.useMemory  # persisted while in scope
        with cache_scope() as inner:
            run_sliced(slice_duration="15m")
            assert len(inner) == 1 and len(outer) == 1  # no cross-register
        assert not inner  # inner released on exit...
        assert outer[0].storageLevel.useMemory  # ...outer untouched
    assert not cached.storageLevel.useMemory  # released at outer exit

    run_sliced()  # outside any scope → global list, explicit release
    assert len(caches_mod._GLOBAL_CACHES) == 1
    assert release_caches() == 1 and not caches_mod._GLOBAL_CACHES
