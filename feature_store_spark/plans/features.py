"""Declarative feature-definition registry — the engine's replacement for
the reference's Feathr DSL surface.

Reference parity map (SURVEY.md §1.1, §2):
- ``Feature`` ≈ Feathr anchored feature with a SparkSQL transform expr
  (``featurestore/transform/feature_transform.py:56-97``)
- ``WindowAggFeature`` ≈ ``WindowAggTransformation(agg_expr, agg_func,
  window)`` (``feature_transform.py:179-204``) — LATEST/SUM/COUNT/AVG/MAX/MIN
  over a trailing time window, evaluated point-in-time at retrieval
- ``DerivedFeature`` ≈ ``DerivedFeature`` combining other features
  (``feature_transform.py:246-302``)
- ``FeatureAnchor`` ≈ ``FeatureAnchor(source, features)``
  (``registry/feature_registry.py:109-208``); a source without an event
  timestamp column is a static dimension (joined plainly, not as-of)
- ``get_offline_features`` ≈ the Feathr PIT retrieval
  (``pipeline/training_pipeline.py:119-142``), rebuilt on the engine's
  from-scratch as-of join
- ``materialize_latest`` ≈ online materialization of latest values per key
  (``pipeline/materialize_pipeline.py:139-162``)

Everything is plain Python + Column expressions — no expression-string
compiler beyond ``F.expr`` (Catalyst parses SparkSQL strings natively,
which is exactly what Feathr's JVM runtime did with these exprs).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from feature_store_spark.operators.asof import asof_join


@dataclass
class Feature:
    """Anchored feature: a SparkSQL expression over the source's columns."""

    name: str
    expr: str
    dtype: str | None = None

    def column(self):
        col = F.expr(self.expr)
        if self.dtype:
            col = col.cast(self.dtype)
        return col.alias(self.name)


@dataclass
class WindowAggFeature:
    """Trailing-window aggregate evaluated point-in-time at retrieval.

    ``agg`` ∈ {latest, sum, count, avg, max, min}; ``window`` like "7d".

    Semantics (Feathr ``WindowAggTransformation``, feature_transform.py:
    179-204): the window ends at the OBSERVATION time.  ``latest`` returns
    the expr from the newest feature row within ``window`` before obs_time
    (null once that row ages past the window — each latest feature expires
    on its own window, independently of other features from the same
    anchor).  sum/count/avg/max/min aggregate over events with
    ``event_time ∈ [obs_time - window, obs_time]`` — events that aged out
    between their own time and obs_time are not counted.
    """

    name: str
    expr: str
    agg: str = "latest"
    window: str = "7d"
    dtype: str | None = None


@dataclass
class FeatureAnchor:
    """(source, key, features).  ``event_time`` None ⇒ static dimension."""

    name: str
    key: str
    features: list[Feature] = field(default_factory=list)
    window_features: list[WindowAggFeature] = field(default_factory=list)
    event_time: str | None = None
    tiebreak: list[str] | None = None


@dataclass
class DerivedFeature:
    """SparkSQL expression over already-retrieved feature columns."""

    name: str
    expr: str
    dtype: str | None = None


class FeatureRegistry:
    """Holds anchors + derived features; sources bound at retrieval time."""

    def __init__(self) -> None:
        self.anchors: dict[str, FeatureAnchor] = {}
        self.derived: list[DerivedFeature] = []

    def register_anchor(self, anchor: FeatureAnchor) -> None:
        if anchor.name in self.anchors:
            raise ValueError(f"anchor {anchor.name!r} already registered")
        self.anchors[anchor.name] = anchor

    def register_derived(self, feature: DerivedFeature) -> None:
        self.derived.append(feature)


def _anchor_feature_frame(source: DataFrame, anchor: FeatureAnchor) -> DataFrame:
    """Evaluate the anchor's plain features over its source."""
    cols = [F.col(anchor.key)]
    if anchor.event_time:
        cols.append(F.col(anchor.event_time))
    for tb in anchor.tiebreak or []:
        cols.append(F.col(tb))
    cols += [f.column() for f in anchor.features]
    # window features need their raw expr evaluated per event row; the
    # trailing aggregation happens at retrieval (PIT-correct).
    cols += [F.expr(w.expr).alias(f"__raw_{w.name}") for w in anchor.window_features]
    return source.select(*cols)


def get_offline_features(
    observation: DataFrame,
    sources: dict[str, DataFrame],
    registry: FeatureRegistry,
    obs_key_map: dict[str, str] | None = None,
    obs_time: str = "obs_time",
) -> DataFrame:
    """PIT-correct retrieval: for each anchor, attach its features to the
    observation spine — as-of join for event sources, broadcast left join
    for static dimensions; then evaluate derived features.

    ``sources`` maps anchor name → DataFrame.  ``obs_key_map`` maps anchor
    key column → observation column when names differ.
    """
    from feature_store_spark.operators.asof import duration_to_us
    from feature_store_spark.operators.windows import rolling_at

    obs_key_map = obs_key_map or {}
    out = observation
    for name, anchor in registry.anchors.items():
        src = sources[name]
        feat = _anchor_feature_frame(src, anchor)
        obs_key = obs_key_map.get(anchor.key, anchor.key)
        if anchor.event_time is None:
            # static dimension: latest-free plain left join (broadcast-able)
            if obs_key != anchor.key:
                feat = feat.withColumnRenamed(anchor.key, obs_key)
            out = out.join(F.broadcast(feat), on=obs_key, how="left")
            continue
        latest_feats = [w for w in anchor.window_features if w.agg == "latest"]
        trailing = [w for w in anchor.window_features if w.agg != "latest"]

        # 1. As-of join attaches plain features + latest-window features
        #    from the single latest feature row (NO anchor-wide lookback —
        #    each latest feature expires on its OWN window below; a shared
        #    min-window lookback would wrongly null plain features and
        #    longer-window latest features, Feathr expires per-feature).
        asof_payload = feat.drop(
            *[f"__raw_{w.name}" for w in trailing]
        )
        for w in latest_feats:
            asof_payload = asof_payload.withColumnRenamed(f"__raw_{w.name}", w.name)
        asof_cols = [f.name for f in anchor.features] + [w.name for w in latest_feats]
        if obs_key != anchor.key:
            asof_payload = asof_payload.withColumnRenamed(anchor.key, obs_key)
        ts_col = f"__{name}_ts"
        out = asof_join(
            out,
            asof_payload,
            on=obs_key,
            obs_time=obs_time,
            feature_time=anchor.event_time,
            feature_cols=asof_cols,
            tiebreak_cols=anchor.tiebreak,
            lookback=None,
            feature_ts_col=ts_col,
        )
        # 2. Per-feature expiry: a latest feature is null once the joined
        #    row is older than that feature's own trailing window.
        age_us = F.unix_micros(F.col(obs_time).cast("timestamp")) - F.unix_micros(
            F.col(ts_col).cast("timestamp")
        )
        for w in latest_feats:
            col = (
                F.when(age_us > F.lit(duration_to_us(w.window)), F.lit(None))
                .otherwise(F.col(w.name))
            )
            if w.dtype:
                col = col.cast(w.dtype)
            out = out.withColumn(w.name, col)
        out = out.drop(ts_col)

        # 3. Trailing aggregates (sum/count/avg/max/min) evaluated over
        #    (obs_time - window, obs_time] AT the observation row — events
        #    that aged out of the window by obs_time are not counted
        #    (Feathr WindowAggTransformation; the round-1 carried-forward
        #    rolling value overcounted them).
        if trailing:
            fns = {"sum": F.sum, "count": F.count, "avg": F.avg,
                   "max": F.max, "min": F.min}
            ev = feat.select(
                F.col(anchor.key).alias(obs_key) if obs_key != anchor.key
                else F.col(anchor.key),
                F.col(anchor.event_time),
                *[F.col(f"__raw_{w.name}") for w in trailing],
            )
            aggs = {
                w.name: (fns[w.agg](f"__raw_{w.name}"), w.window)
                for w in trailing
            }
            out = rolling_at(out, ev, obs_key, obs_time,
                             anchor.event_time, aggs)
            for w in trailing:
                if w.dtype:
                    out = out.withColumn(w.name, F.col(w.name).cast(w.dtype))
    for d in registry.derived:
        col = F.expr(d.expr)
        if d.dtype:
            col = col.cast(d.dtype)
        out = out.withColumn(d.name, col)
    return out


def materialize_latest(
    source: DataFrame,
    anchor: FeatureAnchor,
) -> DataFrame:
    """Latest feature values per key — what the reference pushes to its
    online store daily (``materialize_pipeline.py:139-162``)."""
    from feature_store_spark.operators.windows import dedup_latest

    feat = _anchor_feature_frame(source, anchor)
    for w in anchor.window_features:
        feat = feat.withColumnRenamed(f"__raw_{w.name}", w.name)
    if anchor.event_time is None:
        return feat
    return dedup_latest(
        feat, keys=[anchor.key],
        order_desc=[anchor.event_time, *(anchor.tiebreak or [])],
    )
