"""Point-in-time (as-of, backward inclusive, zero-leakage) join.

Semantics from the reference's Feathr-delegated PIT join (SURVEY.md §2.3 J7;
``training_pipeline.py:131-142`` declares ``event_timestamp_column`` and the
JVM engine picks, per observation row, the latest feature row with
``feature.ts <= obs.ts``) and the 7d-lookback variant (J8,
``feature_transform.py:179-204`` ``WindowAggTransformation(agg_func="LATEST",
window="7d")``).  Rebuilt here from scratch in pure DataFrame ops.

Two strategies, identical results (property-tested):

* ``union``  — union-tag + ``last(struct, ignorenulls)`` over an
  entity-partitioned window.  One shuffle by entity; simple; skew-prone when
  one entity owns a huge timeline (whole timeline lands in one task).

* ``sliced`` — an explicit opt-in for full-history retrieval over hot
  entities (SURVEY.md §7.2); ``union`` is the default.  Both sides are
  hashed into ``(entity, time-slice)`` partitions, the last feature row of
  each earlier slice is *carried* forward to exactly the slices that
  contain observations needing it, and the merge happens per ``(entity,
  slice)`` partition.  A hot entity's timeline splits across slices, which
  is the "salted entity×event-time partitions" axis the north rule names;
  AQE skew splitting stacks on top.

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

from feature_store_spark.operators.caches import register_cache

_TAG = "__asof_tag"
_TS = "__asof_ts"
_PAYLOAD = "__asof_payload"
_SLICE = "__asof_slice"

ASOF_STRATEGIES = ("union", "sliced")

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
    strategy: str = "union",
    slice_duration: str | int = "1d",
    feature_ts_col: str = "feature_ts",
) -> DataFrame:
    """For each obs row, attach the latest feature row with
    ``feature_time <= obs_time`` (and ``obs_time - feature_time <= lookback``
    if given).  Feature columns are taken atomically from ONE feature row
    (struct-packed), never mixed across rows.  ``tiebreak_cols`` break
    equal-timestamp feature ties deterministically (larger wins), mirroring
    the reference's dedup-latest tiebreak (``item_feature_preprocessing.py:
    79-91``, ``modifydate desc, filename_date desc``).

    Strategy: ``union`` (the default) is one shuffle and fastest when no
    single entity's timeline dwarfs a task (typical daily partitions);
    ``sliced`` is the explicit opt-in for full-history retrieval over hot
    entities — it bounds the per-task row count by ``slice_duration``
    regardless of entity heat.  Both are property-tested equal.
    """
    if feature_cols is None:
        feature_cols = [c for c in features.columns if c not in (on, feature_time)]
    tiebreak_cols = tiebreak_cols or []
    if strategy == "union":
        return _asof_union(
            obs, features, on, obs_time, feature_time, feature_cols,
            lookback, tiebreak_cols, feature_ts_col,
        )
    if strategy == "sliced":
        return _asof_sliced(
            obs, features, on, obs_time, feature_time, feature_cols,
            lookback, tiebreak_cols, slice_duration, feature_ts_col,
        )
    raise ValueError(
        f"unknown strategy {strategy!r} (want one of {ASOF_STRATEGIES})"
    )


def _prepare_union(obs, features, on, obs_time, feature_time, feature_cols, tiebreak_cols):
    """Tag + payload-struct both sides and union them."""
    f = features.select(
        F.col(on),
        F.col(feature_time).alias(_TS),
        F.lit(0).alias(_TAG),
        F.struct(
            F.col(feature_time).alias(feature_time), *[F.col(c) for c in feature_cols]
        ).alias(_PAYLOAD),
        *[F.col(c).alias(f"__tb_{c}") for c in tiebreak_cols],
    )
    obs_keep = [c for c in obs.columns]
    o = obs.select(
        *obs_keep,
        F.col(obs_time).alias(_TS),
        F.lit(1).alias(_TAG),
    )
    u = f.unionByName(o, allowMissingColumns=True)
    return u


def _merge_window(u, on, obs, obs_time, feature_cols, lookback,
                  tiebreak_cols, feature_time, feature_ts_col,
                  extra_partition_cols=()):
    """Shared final merge: windowed last(payload) then unpack + lookback."""
    order = [F.col(_TS).asc(), F.col(_TAG).asc()] + [
        F.col(f"__tb_{c}").asc_nulls_first() for c in tiebreak_cols
    ]
    w = (
        Window.partitionBy(on, *extra_partition_cols)
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
    obs_cols = [c for c in obs.columns]
    sel = [F.col(c) for c in obs_cols]
    sel.append(F.col(_PAYLOAD)[feature_time].alias(feature_ts_col))
    sel += [F.col(_PAYLOAD)[c].alias(c) for c in feature_cols]
    return out.select(*sel)


def _asof_union(obs, features, on, obs_time, feature_time, feature_cols,
                lookback, tiebreak_cols, feature_ts_col):
    u = _prepare_union(obs, features, on, obs_time, feature_time,
                       feature_cols, tiebreak_cols)
    return _merge_window(u, on, obs, obs_time, feature_cols, lookback,
                         tiebreak_cols, feature_time, feature_ts_col)


def _asof_sliced(obs, features, on, obs_time, feature_time, feature_cols,
                 lookback, tiebreak_cols, slice_duration, feature_ts_col):
    """Range-sliced sorted-merge with boundary carry (SURVEY.md §7.2).

    The salting axis the north rule names: rows hash into ``(entity,
    time-slice)`` partitions, so a hot entity's timeline splits across
    slices instead of landing in one window task.  Boundary carry is
    computed in the SAME sort as the in-slice merge (one full-data
    shuffle total):

    1. Union-tag features (0) and observations (1), keyed by
       ``(entity, slice = floor(ts / slice_duration))``, persisted once
       (payload-projected — bytes are gone by contract).
    2. In-slice merge: one window over ``(entity, slice)`` sorted by
       ``(ts, tag, tiebreaks)`` — ``last(payload) over (-inf, current)``.
    3. Carry candidates: ``max_by`` hash aggregate per (entity, slice)
       (map-side partial combine — cheaper than a second full sort), then
       a tiny window over entity ordered by slice, frame ``(-inf, -1)`` =
       latest feature payload of any STRICTLY earlier slice.
    4. Left-join the carry back on (entity, slice) (broadcast-eligible:
       slice-level cardinality ≪ row count) and
       ``coalesce(in_slice_merge, carry)`` — an in-slice feature always
       beats the carry on recency, so coalesce is exact.
    """
    slice_us = duration_to_us(slice_duration)

    def ts_slice(col):
        return F.floor(
            F.unix_micros(F.col(col).cast("timestamp")) / F.lit(slice_us)
        ).cast("long")

    f_tagged = features.select(
        F.col(on),
        ts_slice(feature_time).alias(_SLICE),
        F.col(feature_time).alias(_TS),
        F.lit(0).alias(_TAG),
        F.struct(
            F.col(feature_time).alias(feature_time),
            *[F.col(c) for c in feature_cols],
        ).alias(_PAYLOAD),
        *[F.col(c).alias(f"__tb_{c}") for c in tiebreak_cols],
    )
    o_tagged = obs.select(
        *[F.col(c) for c in obs.columns],
        ts_slice(obs_time).alias(_SLICE),
        F.col(obs_time).alias(_TS),
        F.lit(1).alias(_TAG),
    )
    u = f_tagged.unionByName(o_tagged, allowMissingColumns=True)

    order = [F.col(_TS).asc(), F.col(_TAG).asc()] + [
        F.col(f"__tb_{c}").asc_nulls_first() for c in tiebreak_cols
    ]
    w_base = Window.partitionBy(on, _SLICE).orderBy(*order)
    # Two window expressions over ONE partitioning+ordering → a single
    # Exchange and a single sort: the running in-slice merge, plus a
    # lead()-based last-row flag.  The slice's final feature payload is
    # just ``__run`` AT the last row, so the round-5 full-partition
    # ``last(payload)`` frame — which materialized a second payload STRUCT
    # onto every row of the union before the filter — and the
    # ``row_number`` column are both gone (round-6, guide §2.3 "shuffle
    # fewer bytes" applied to window buffers; struct aggregation is still
    # avoided: max_by/distinct on structs degrade to SortAggregate with
    # two more full-data exchanges).
    merged = (
        u.withColumn(
            "__run",
            F.last(_PAYLOAD, ignorenulls=True).over(
                w_base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        # lead of a CONSTANT: null exactly past the partition end, even if
        # some timestamp column were null (null-ts rows sort first and
        # would make lead(ts) null mid-partition)
        .withColumn("__last", F.lead(F.lit(1), 1).over(w_base).isNull())
    )
    # Downstream only ever reads observation rows (the output) and one row
    # per (entity, slice) (the carry table) — discard feature rows and the
    # pre-merge payload column BEFORE persisting, so the cache holds
    # ~|obs| + |slices| narrow rows instead of the full union.  The persist
    # makes the expensive feature subtree (decode UDFs, window stack) and
    # the merge sort run exactly once for both consumers.
    keep = list(obs.columns) + [
        c for c in (on, _SLICE, _TAG, "__run", "__last")
        if c not in obs.columns
    ]
    merged = (
        merged.where((F.col(_TAG) == 1) | F.col("__last"))
        .select(*keep)
        .persist()
    )
    register_cache(merged)

    # the last row's running merge IS the slice's final feature payload
    # (last non-null payload under the same total order)
    slice_level = merged.where(F.col("__last")).select(
        on, _SLICE, F.col("__run").alias("__slice_last")
    )
    w_carry = (
        Window.partitionBy(on)
        .orderBy(F.col(_SLICE).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = slice_level.withColumn(
        "__carry", F.last("__slice_last", ignorenulls=True).over(w_carry)
    ).select(on, _SLICE, "__carry")

    out = (
        merged.where(F.col(_TAG) == 1)
        .join(carry, on=[on, _SLICE], how="left")
        .withColumn(_PAYLOAD, F.coalesce(F.col("__run"), F.col("__carry")))
    )
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
