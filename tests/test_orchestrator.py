"""Config-driven run_all orchestration (reference FeaturePipeline parity):
one config dict drives preprocess → register → train → materialize
(online + offline) → infer, with per-stage retry."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from feature_store_spark.pipeline.datagen import (
    generate_images,
    generate_observations,
    write_parquet,
)
from feature_store_spark.pipeline.orchestrator import (
    FeaturePipeline,
    run_with_retry,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def config(spark, tmp_path_factory):
    raw = str(tmp_path_factory.mktemp("raw"))
    out = str(tmp_path_factory.mktemp("out"))
    img = generate_images(n_rows=300, n_entities=15, seed=31)
    obs = generate_observations(img, n_obs=120, seed=32)
    write_parquet(img, os.path.join(raw, "images.parquet"))
    write_parquet(obs, os.path.join(raw, "observations.parquet"))
    return {
        "raw_data_path": raw,
        "output_path": out,
        "job_retry": 3,
        "job_retry_sec": 0,
        "num_date_eval": 2,
        "registry": {
            "anchors": [
                {
                    "name": "image_features",
                    "key": "image_id",
                    "event_time": "event_time",
                    "tiebreak": ["phash", "caption"],
                    "features": [
                        {"name": "phash_f", "expr": "phash", "dtype": "long"},
                        {"name": "brightness",
                         "expr": "(mean_r + mean_g + mean_b) / 3",
                         "dtype": "double"},
                    ],
                    "window_features": [
                        {"name": "caption_7d", "expr": "caption",
                         "agg": "latest", "window": "7d"},
                        {"name": "cnt_2d", "expr": "phash", "agg": "count",
                         "window": "2d"},
                    ],
                }
            ],
            "derived": [
                {"name": "bright_flag", "expr": "CAST(brightness > 127 AS INT)",
                 "dtype": "int"},
            ],
        },
        "online_defaults": {"phash_f": 0, "brightness": 0.0},
        "infer_keys": ["img_000001", "img_000003", "cold_entity"],
    }


@pytest.fixture(scope="module")
def ran(spark, config):
    pipe = FeaturePipeline(config, spark)
    served = pipe.run_all()
    return pipe, served


def test_run_all_sequences_all_stages(ran):
    pipe, _ = ran
    assert pipe.stage_log == [
        "preprocess", "register", "training", "materialize_online",
        "materialize_offline", "infer",
    ]


def test_training_frame(spark, config, ran):
    train = pd.read_parquet(
        os.path.join(config["output_path"], "training_features.parquet")
    )
    for c in ["image_id", "obs_time", "phash_f", "brightness",
              "caption_7d", "cnt_2d", "bright_flag"]:
        assert c in train.columns, c
    n_obs = len(pd.read_parquet(
        os.path.join(config["raw_data_path"], "observations.parquet")
    ))
    assert len(train) == n_obs  # row preservation through PIT retrieval


def test_offline_eval_window(spark, config, ran):
    pipe, _ = ran
    # num_date_eval=2 → only the last two obs dates materialized offline
    assert len(pipe.offline_t.partitions()) == 2
    assert pipe.offline_t.partitions() == pipe.obs_t.partitions()[-2:]


def test_infer_with_cold_start_fill(config, ran):
    _, served = ran
    assert set(served["image_id"]) == {"img_000001", "img_000003", "cold_entity"}
    cold = served[served.image_id == "cold_entity"].iloc[0]
    assert cold["phash_f"] == 0 and cold["brightness"] == 0.0
    warm = served[served.image_id != "cold_entity"]
    assert warm["caption_7d"].notna().all()


def test_stage_retry_then_success():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert run_with_retry(flaky, retries=3, backoff_sec=0) == "ok"
    assert calls["n"] == 3

    def always_fails():
        raise RuntimeError("always")

    with pytest.raises(RuntimeError, match="always"):
        run_with_retry(always_fails, retries=2, backoff_sec=0)


def test_non_retryable_error_runs_once(tmp_path):
    """A ValueError fails again on the same input: it is raised on the
    first attempt, and no retry is recorded."""
    pipe = FeaturePipeline(
        {"raw_data_path": str(tmp_path), "output_path": str(tmp_path)},
        spark=None,
    )
    calls = {"n": 0}

    def bad_input():
        calls["n"] += 1
        raise ValueError("bad input")

    with pytest.raises(ValueError, match="bad input"):
        pipe._retry(bad_input, "training")
    assert calls["n"] == 1
    assert pipe.retry_log == []


def test_retries_are_recorded(tmp_path):
    pipe = FeaturePipeline(
        {"raw_data_path": str(tmp_path), "output_path": str(tmp_path),
         "job_retry": 3},
        spark=None,
    )
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert pipe._retry(flaky, "materialize_offline") == "ok"
    assert pipe.retry_log == [
        {"stage": "materialize_offline", "attempt": 1,
         "error": "RuntimeError"},
        {"stage": "materialize_offline", "attempt": 2,
         "error": "RuntimeError"},
    ]


def test_asof_strategy_checked_at_construction(tmp_path):
    """The shipped example config (``asof_strategy: union``) builds a
    pipeline, and so does one without the key; any other value, retired
    or misspelt, fails in the constructor, before any stage (``spark=None``
    proves no Spark call precedes the check)."""
    import main as cli

    cfg = cli.load_config(os.path.join(REPO, "configs", "example_config.yaml"))
    cfg["output_path"] = str(tmp_path)
    assert cfg["asof_strategy"] == "union"
    FeaturePipeline(cfg, spark=None)
    FeaturePipeline({k: v for k, v in cfg.items() if k != "asof_strategy"},
                    spark=None)
    for bad in ("sliced", "auto", "slcied"):
        with pytest.raises(ValueError, match="accepts only 'union'"):
            FeaturePipeline({**cfg, "asof_strategy": bad}, spark=None)


def test_yaml_cli_front_door(spark, config, tmp_path, capsys):
    """`python main.py --config config.yaml` parity: the YAML round-trips
    into the same dict the orchestrator takes, and main() drives run_all
    end-to-end (reference main.py:42-61)."""
    import yaml

    import main as cli

    out = str(tmp_path / "cli_out")
    cfg = {**config, "output_path": out}
    path = str(tmp_path / "config.yaml")
    with open(path, "w") as f:
        yaml.safe_dump(cfg, f)
    assert cli.load_config(path) == cfg

    rc = cli.main(["--config", path])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["retries"] == []
    assert os.path.exists(os.path.join(out, "training_features.parquet"))
    assert os.path.exists(os.path.join(out, "infer_features.parquet"))
    served = pd.read_parquet(os.path.join(out, "infer_features.parquet"))
    assert list(served["image_id"]) == cfg["infer_keys"]

    with pytest.raises(ValueError, match="missing required key"):
        bad = str(tmp_path / "bad.yaml")
        with open(bad, "w") as f:
            yaml.safe_dump({"output_path": out}, f)
        cli.load_config(bad)


def test_corpus_stats_artifact(spark, config, ran):
    """Round-5: run_all resolves corpus stats from per-partition sketches,
    built on read from the features table (the update writes none), and
    writes the one-row artifact; totals match the input corpus."""
    from feature_store_spark.pipeline.materialize import default_sketch_table

    pipe, _ = ran
    sketches = default_sketch_table(pipe.features_t)
    assert sketches.partitions() == pipe.features_t.partitions()
    stats = pd.read_parquet(
        os.path.join(config["output_path"], "corpus_stats.parquet")
    )
    assert len(stats) == 1
    n_images = len(pd.read_parquet(
        os.path.join(config["raw_data_path"], "images.parquet")
    ))
    row = stats.iloc[0]
    assert row["rows"] == n_images
    n_entities = pd.read_parquet(
        os.path.join(config["raw_data_path"], "images.parquet")
    )["image_id"].nunique()
    assert abs(row["approx_distinct_entities"] - n_entities) \
        <= 0.05 * n_entities + 1
    assert row["mean_r_q50"] > 0
