"""Config-driven pipeline orchestration — the reference's top-level surface
rebuilt on the engine.

Reference parity: ``main.py:42-54`` loads one YAML config and calls
``FeaturePipeline.run_all``, which sequences preprocess → register → train →
materialize (online + offline) → infer
(``featurestore/feature_pipeline.py:167-189``), with job retry/backoff
(``config.yaml:12-13`` job_retry / job_retry_sec, reference X7).  A
reference user ports their config.yaml onto the dict below; stage names
match the reference methods one-to-one.

Config keys (dict, or YAML loaded into one):

  raw_data_path     dir with images.parquet (+ observations.parquet)
  output_path       root for all produced tables / checkpoints / online KV
  job_retry         attempts per stage (default 3); each retry is recorded
                    in ``retry_log`` (main.py prints it), and input errors
                    (:data:`NOT_RETRYABLE`) fail on the first attempt
  job_retry_sec     backoff seconds between attempts (default 0)
  num_date_eval     offline eval window: last N obs dates (default all)
  asof_strategy     optional, accepts only "union" (the one as-of join);
                    any other value fails at construction
  batch_dates       obs dates per Spark job in materialize (default 16)
  expire_keep_last  optional: expire all but the newest N snapshots of
                    the derived tables at the end of run_all (storage
                    reclamation; truncates time travel — opt-in)
  registry          {"anchors": [...], "derived": [...]} — anchor dicts with
                    name/key/event_time/tiebreak/features/window_features,
                    feature dicts with name/expr/dtype (+ agg/window for
                    window features); anchors bind to the decoded feature
                    table at retrieval
  online_defaults   cold-start sentinel values for the online store
  infer_keys        entity ids to serve in the infer stage
"""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from feature_store_spark.io.tables import PartitionedTable
from feature_store_spark.pipeline.infer import OnlineStore, infer
from feature_store_spark.pipeline.materialize import (
    CheckpointManifest,
    LineageLog,
    corpus_feature_stats,
    default_sketch_table,
    feature_lineage_for,
    materialize,
    update_feature_table,
)
from feature_store_spark.plans.features import (
    DerivedFeature,
    Feature,
    FeatureAnchor,
    FeatureRegistry,
    WindowAggFeature,
    get_offline_features,
    materialize_latest,
)


# errors that fail again on the same input: retrying them only delays the
# report by job_retry × job_retry_sec
NOT_RETRYABLE = (
    ValueError, TypeError, KeyError, AssertionError, AnalysisException,
)


def run_with_retry(fn, retries: int = 3, backoff_sec: float = 0.0,
                   stage: str = "", on_retry=None):
    """Reference X7: retry a stage up to ``retries`` times with fixed
    backoff (``feature_pipeline.py:75-79`` job_retry/job_retry_sec).  The
    engine's partition checkpoints make retried stages resume, not redo.
    :data:`NOT_RETRYABLE` errors are raised on the first attempt;
    ``on_retry(stage, attempt, exc)`` is called before each retry."""
    last: Exception | None = None
    for attempt in range(1, max(retries, 1) + 1):
        try:
            return fn()
        except NOT_RETRYABLE:
            raise
        except Exception as e:  # noqa: BLE001 — stage boundary, rethrown
            last = e
            if attempt >= max(retries, 1):
                raise
            if on_retry is not None:
                on_retry(stage, attempt, e)
            if backoff_sec:
                time.sleep(backoff_sec)
    raise last  # unreachable; keeps type-checkers honest


def registry_from_config(spec: dict) -> FeatureRegistry:
    """Build a FeatureRegistry from the config dict's ``registry`` block —
    the engine's replacement for the reference's
    feature_registry_config.yaml → FeatureRegistry.run flow
    (``registry/feature_registry.py:109-208``)."""
    reg = FeatureRegistry()
    for a in spec.get("anchors", []):
        reg.register_anchor(
            FeatureAnchor(
                name=a["name"],
                key=a["key"],
                event_time=a.get("event_time"),
                tiebreak=a.get("tiebreak"),
                features=[
                    Feature(f["name"], f["expr"], f.get("dtype"))
                    for f in a.get("features", [])
                ],
                window_features=[
                    WindowAggFeature(
                        w["name"], w["expr"], agg=w.get("agg", "latest"),
                        window=w.get("window", "7d"), dtype=w.get("dtype"),
                    )
                    for w in a.get("window_features", [])
                ],
            )
        )
    for d in spec.get("derived", []):
        reg.register_derived(
            DerivedFeature(d["name"], d["expr"], d.get("dtype"))
        )
    return reg


class FeaturePipeline:
    """One config → the whole feature-store lifecycle (reference
    ``FeaturePipeline``, feature_pipeline.py:32-189)."""

    def __init__(self, config: dict, spark: SparkSession):
        self.config = config
        self.spark = spark
        self.raw = config["raw_data_path"]
        self.out = config["output_path"]
        self.retries = int(config.get("job_retry", 3))
        self.backoff = float(config.get("job_retry_sec", 0))
        asof_strategy = config.get("asof_strategy", "union")
        if asof_strategy != "union":
            raise ValueError(
                f"asof_strategy {asof_strategy!r}: the key now accepts "
                f"only 'union'"
            )
        self.batch_dates = int(config.get("batch_dates", 16))
        self.images_t = PartitionedTable(self.out, "images", "event_date")
        self.obs_t = PartitionedTable(self.out, "observations", "obs_date")
        self.features_t = PartitionedTable(self.out, "features", "event_date")
        self.state_t = PartitionedTable(self.out, "feature_state", "event_date")
        self.offline_t = PartitionedTable(self.out, "offline_features", "obs_date")
        self.store = OnlineStore(os.path.join(self.out, "online"))
        self.registry: FeatureRegistry | None = None
        self.stage_log: list[str] = []
        self.retry_log: list[dict] = []

    def _retry(self, fn, stage: str):
        self.stage_log.append(stage)
        return run_with_retry(fn, self.retries, self.backoff, stage,
                              on_retry=self._record_retry)

    def _record_retry(self, stage: str, attempt: int, exc: Exception):
        self.retry_log.append(
            {"stage": stage, "attempt": attempt, "error": type(exc).__name__}
        )

    # -- stages (names mirror the reference methods) ---------------------

    def preprocess_features(self) -> None:
        """Raw parquet → partitioned tables → decoded feature table (the
        reference's per-category preprocessing .run() fan-out,
        feature_pipeline.py:94-117, collapsed onto the image pipeline)."""

        def _run():
            imgs = self.spark.read.parquet(
                os.path.join(self.raw, "images.parquet")
            ).withColumn(
                "event_date",
                F.date_format(F.col("event_time").cast("timestamp"),
                              "yyyy-MM-dd"),
            )
            self.images_t.write(imgs, mode="overwrite_partitions")
            obs = self.spark.read.parquet(
                os.path.join(self.raw, "observations.parquet")
            ).withColumn(
                "obs_date",
                F.date_format(F.col("obs_time").cast("timestamp"),
                              "yyyy-MM-dd"),
            )
            self.obs_t.write(obs, mode="overwrite_partitions")
            update_feature_table(
                self.spark, self.images_t, self.features_t, self.state_t,
                feature_lineage_for(self.features_t),
            )

        self._retry(_run, "preprocess")

    def register_features(self) -> FeatureRegistry:
        def _run():
            self.registry = registry_from_config(
                self.config.get("registry", {})
            )
            return self.registry

        return self._retry(_run, "register")

    def get_features_for_training_pipeline(self) -> DataFrame:
        """PIT training frame: registry anchors retrieved over the decoded
        feature table against the observation spine (reference
        TrainingPipeline.run, training_pipeline.py:119-142)."""

        def _run():
            assert self.registry is not None, "run register_features first"
            obs = self.obs_t.read(self.spark)
            feats = self.features_t.read(self.spark)
            sources = {
                name: feats for name in self.registry.anchors
            }
            train = get_offline_features(
                obs, sources, self.registry, obs_time="obs_time"
            )
            train.write.mode("overwrite").parquet(
                os.path.join(self.out, "training_features.parquet")
            )
            return train

        return self._retry(_run, "training")

    def materialize_offline_features(self) -> list[str]:
        """Per-date offline eval store over the last ``num_date_eval`` obs
        dates (reference materialize_for_eval + NUM_DATE_EVAL,
        feature_pipeline.py:144-155)."""

        def _run():
            dates = self.obs_t.partitions()
            n_eval = self.config.get("num_date_eval")
            if n_eval:
                dates = dates[-int(n_eval):]
            return materialize(
                self.spark, self.images_t, self.obs_t, self.offline_t,
                CheckpointManifest(os.path.join(self.out, "_checkpoint.jsonl")),
                LineageLog(os.path.join(self.out, "_lineage.jsonl")),
                dates=dates,
                features_table=self.features_t,
                state_table=self.state_t,
                batch_dates=self.batch_dates,
            )

        return self._retry(_run, "materialize_offline")

    def materialize_online_features(self) -> None:
        """Latest values per key → online KV (reference
        MaterializePipeline → Redis, materialize_pipeline.py:133-162)."""

        def _run():
            assert self.registry is not None, "run register_features first"
            feats = self.features_t.read(self.spark)
            for name, anchor in self.registry.anchors.items():
                latest = materialize_latest(feats, anchor)
                keep = [anchor.key] + [f.name for f in anchor.features] + [
                    w.name for w in anchor.window_features
                ]
                self.store.publish(
                    name, latest.select(*keep), key=anchor.key,
                    defaults=self.config.get("online_defaults"),
                )

        self._retry(_run, "materialize_online")

    def get_features_for_infer_pipeline(self):
        """Multi-get + merge + cold-start fill for the configured keys
        (reference InferPipeline.run, infer_pipeline.py:54-140)."""

        def _run():
            import pandas as pd

            assert self.registry is not None, "run register_features first"
            keys = self.config.get("infer_keys", [])
            anchor = next(iter(self.registry.anchors.values()))
            spine = pd.DataFrame({anchor.key: keys})
            served = infer(
                self.store, spine,
                {name: a.key for name, a in self.registry.anchors.items()},
            )
            served.to_parquet(
                os.path.join(self.out, "infer_features.parquet"), index=False
            )
            return served

        return self._retry(_run, "infer")

    def corpus_stats(self) -> DataFrame | None:
        """One-row corpus statistics (total rows, approx distinct
        entities, decode-stat quantiles) resolved from per-partition
        sketches, built on read for the feature partitions whose input
        changed — no history re-scan at any corpus size.  Written to
        ``corpus_stats.parquet`` under the output root; None when no
        features exist yet."""
        if self.features_t.current_snapshot() is None:
            return None
        stats = corpus_feature_stats(self.spark, self.features_t)
        stats.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.out, "corpus_stats.parquet")
        )
        return stats

    def maintain(self) -> dict:
        """Storage maintenance on the DERIVED tables (never the inputs):
        expire all but the newest ``expire_keep_last`` snapshots of the
        feature / state / offline tables, reclaiming version dirs daily
        overwrites superseded.  No-op unless configured — expiration
        truncates time travel, so it is an explicit opt-in."""
        keep = self.config.get("expire_keep_last")
        if not keep:
            return {}
        out = {}
        for name, table in (("features", self.features_t),
                            ("state", self.state_t),
                            ("offline", self.offline_t),
                            ("sketches", default_sketch_table(self.features_t))):
            if table.current_snapshot() is not None:
                out[name] = table.expire_snapshots(keep_last=int(keep))
        return out

    def run_all(self):
        """The reference run_all sequence (feature_pipeline.py:167-189),
        plus optional end-of-run snapshot expiration."""
        self.preprocess_features()
        self.register_features()
        self.get_features_for_training_pipeline()
        self.materialize_online_features()
        self.materialize_offline_features()
        result = self.get_features_for_infer_pipeline()
        self.corpus_stats()
        self.maintain()
        return result
