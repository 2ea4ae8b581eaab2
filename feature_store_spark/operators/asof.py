"""Point-in-time (as-of, backward inclusive, zero-leakage) join.

Semantics from the reference's Feathr-delegated PIT join (SURVEY.md §2.3 J7;
``training_pipeline.py:131-142`` declares ``event_timestamp_column`` and the
JVM engine picks, per observation row, the latest feature row with
``feature.ts <= obs.ts``) and the 7d-lookback variant (J8,
``feature_transform.py:179-204`` ``WindowAggTransformation(agg_func="LATEST",
window="7d")``).  Rebuilt here from scratch in pure DataFrame ops.

One algorithm: union-tag both sides, then ``last(struct, ignorenulls)``
over an entity-partitioned window.  One shuffle by entity; a hot entity's
whole timeline lands in one task.

Zero leakage is structural: a feature row can only be selected by the
window frame ``rowsBetween(unboundedPreceding, currentRow)`` after sorting
by ``(ts, tag)`` with features tagged 0 and observations 1 — no feature with
``ts > obs.ts`` can precede the observation row, and ties (``ts == obs.ts``)
are included, matching Feathr's inclusive-backward contract.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

_TAG = "__asof_tag"
_TS = "__asof_ts"
_PAYLOAD = "__asof_payload"

_DURATION_RE = re.compile(r"^(\d+)\s*(s|m|h|d)$")
_UNIT_US = {"s": 1_000_000, "m": 60_000_000, "h": 3_600_000_000, "d": 86_400_000_000}


def duration_to_us(d: str | int | float) -> int:
    """'7d' / '30m' / seconds → microseconds."""
    if isinstance(d, (int, float)):
        return int(d * 1_000_000)
    m = _DURATION_RE.match(d.strip())
    if not m:
        raise ValueError(f"bad duration {d!r} (want e.g. '7d', '30m', '90s')")
    return int(m.group(1)) * _UNIT_US[m.group(2)]


def asof_join(
    obs: DataFrame,
    features: DataFrame,
    on: str = "image_id",
    obs_time: str = "obs_time",
    feature_time: str = "event_time",
    feature_cols: list[str] | None = None,
    lookback: str | int | None = None,
    tiebreak_cols: list[str] | None = None,
    feature_ts_col: str = "feature_ts",
) -> DataFrame:
    """For each obs row, attach the latest feature row with
    ``feature_time <= obs_time`` (and ``obs_time - feature_time <= lookback``
    if given).  Feature columns are taken atomically from ONE feature row
    (struct-packed), never mixed across rows.  ``tiebreak_cols`` break
    equal-timestamp feature ties deterministically (larger wins), mirroring
    the reference's dedup-latest tiebreak (``item_feature_preprocessing.py:
    79-91``, ``modifydate desc, filename_date desc``).
    """
    if feature_cols is None:
        feature_cols = [c for c in features.columns if c not in (on, feature_time)]
    tiebreak_cols = tiebreak_cols or []
    # tag + payload-struct both sides and union them
    f = features.select(
        F.col(on),
        F.col(feature_time).alias(_TS),
        F.lit(0).alias(_TAG),
        F.struct(
            F.col(feature_time).alias(feature_time), *[F.col(c) for c in feature_cols]
        ).alias(_PAYLOAD),
        *[F.col(c).alias(f"__tb_{c}") for c in tiebreak_cols],
    )
    o = obs.select(
        *obs.columns,
        F.col(obs_time).alias(_TS),
        F.lit(1).alias(_TAG),
    )
    u = f.unionByName(o, allowMissingColumns=True)

    # windowed last(payload), then unpack + lookback
    order = [F.col(_TS).asc(), F.col(_TAG).asc()] + [
        F.col(f"__tb_{c}").asc_nulls_first() for c in tiebreak_cols
    ]
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = u.withColumn(_PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(w))
    out = merged.where(F.col(_TAG) == 1)
    if lookback is not None:
        lb_us = duration_to_us(lookback)
        expired = (
            F.unix_micros(F.col(obs_time).cast("timestamp"))
            - F.unix_micros(F.col(_PAYLOAD)[feature_time].cast("timestamp"))
        ) > F.lit(lb_us)
        out = out.withColumn(
            _PAYLOAD, F.when(expired, F.lit(None)).otherwise(F.col(_PAYLOAD))
        )
    sel = [F.col(c) for c in obs.columns]
    sel.append(F.col(_PAYLOAD)[feature_time].alias(feature_ts_col))
    sel += [F.col(_PAYLOAD)[c].alias(c) for c in feature_cols]
    return out.select(*sel)
