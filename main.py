"""CLI front door: ``python main.py --config config.yaml``.

Reference parity (``/root/reference/main.py:42-61``): argparse +
``yaml.safe_load`` → ``FeaturePipeline.run_all()``, so a reference user
ports their config.yaml and runs the same command line.  Config keys are
documented in ``feature_store_spark/pipeline/orchestrator.py``; an example
lives at ``configs/example_config.yaml``.

Extra CLI-only knobs (all optional, config wins over defaults):
  --master   Spark master (default: config ``spark_master``, else
             local[$SPARK_GRAFT_CPUS] / local[*])
  --stage    run a single stage instead of run_all
"""

from __future__ import annotations

import argparse
import json

import yaml

from feature_store_spark.pipeline.orchestrator import FeaturePipeline
from feature_store_spark.session import get_spark

STAGES = {
    "preprocess": "preprocess_features",
    "register": "register_features",
    "training": "get_features_for_training_pipeline",
    "materialize_online": "materialize_online_features",
    "materialize_offline": "materialize_offline_features",
    "infer": "get_features_for_infer_pipeline",
}


def load_config(path: str) -> dict:
    with open(path) as f:
        cfg = yaml.safe_load(f)
    if not isinstance(cfg, dict):
        raise ValueError(f"{path}: top level must be a mapping")
    for key in ("raw_data_path", "output_path"):
        if key not in cfg:
            raise ValueError(f"{path}: missing required key {key!r}")
    return cfg


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="feature_store_spark",
        description="Run the feature-store pipeline from a YAML config.",
    )
    ap.add_argument("--config", required=True, help="path to config.yaml")
    ap.add_argument("--master", default=None, help="Spark master override")
    ap.add_argument(
        "--stage", default=None, choices=sorted(STAGES),
        help="run one stage (default: the full run_all sequence)",
    )
    args = ap.parse_args(argv)
    config = load_config(args.config)
    spark = get_spark(
        "feature_store_spark",
        master=args.master or config.get("spark_master"),
    )
    pipe = FeaturePipeline(config, spark)
    if args.stage is None:
        pipe.run_all()
    else:
        # single stages (except preprocess/register) need the registry
        if args.stage not in ("preprocess", "register"):
            pipe.register_features()
        getattr(pipe, STAGES[args.stage])()
    print(json.dumps({"stages_run": pipe.stage_log,
                      "retries": pipe.retry_log,
                      "output_path": config["output_path"]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
