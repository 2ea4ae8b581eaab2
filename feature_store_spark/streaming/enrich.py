"""Streaming PIT enrichment: observation streams join the engine's
latest-per-entity feature STATE with the same zero-leakage contract as
the offline as-of join.

The reference serves online rows by multi-getting latest values from
Redis at request time (``infer_pipeline.py:54-140``); this is the
stream-shaped counterpart: a micro-batched observation stream is
left-joined against the state table (ONE row per entity — the same
frame ``read_state_asof`` feeds the incremental materializer), so the
as-of join degenerates to an equi-join plus the leakage guard.

Semantics vs the offline ``asof_join``: identical whenever the state is
current with respect to the stream (state ``event_time`` ≤ obs time —
the steady-state serving case).  An out-of-order observation OLDER than
its entity's latest feature gets NULL features (the latest-only state
cannot answer that point in time; the guard refuses to leak a future
value), where the offline join over full history would find the older
feature — re-derive stragglers offline.  This NULL-not-leak choice is
the invariant the whole engine pins (feature_ts ≤ obs_time, always).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from feature_store_spark.io.tables import PartitionedTable
from feature_store_spark.operators.asof import duration_to_us


def enrich_with_state(
    obs: DataFrame,
    state: DataFrame,
    on: str = "image_id",
    obs_time: str = "obs_time",
    feature_time: str = "event_time",
    feature_cols: list[str] | None = None,
    lookback: str | int | None = None,
    feature_ts_col: str = "feature_ts",
) -> DataFrame:
    """Left-join ``obs`` (streaming or batch) against a latest-per-entity
    ``state`` frame with the PIT guard: a state row newer than the
    observation (or older than ``lookback``) yields NULL features, never
    a leaked value.  Stream-static joins are stateless on the stream
    side — no watermark needed, each micro-batch joins the static plan.
    """
    feature_cols = feature_cols or [
        c for c in state.columns if c not in (on, feature_time)
    ]
    s = state.select(
        F.col(on),
        F.col(feature_time).alias("__state_ts"),
        *[F.col(c).alias(f"__f_{c}") for c in feature_cols],
    )
    joined = obs.join(s, on=on, how="left")
    valid = F.col("__state_ts") <= F.col(obs_time)
    if lookback is not None:
        lb_us = duration_to_us(lookback)
        valid = valid & (
            F.unix_micros(F.col(obs_time).cast("timestamp"))
            - F.unix_micros(F.col("__state_ts").cast("timestamp"))
            <= F.lit(lb_us)
        )
    sel = [F.col(c) for c in obs.columns]
    sel.append(
        F.when(valid, F.col("__state_ts")).alias(feature_ts_col)
    )
    sel += [
        F.when(valid, F.col(f"__f_{c}")).alias(c) for c in feature_cols
    ]
    return joined.select(*sel)


def stream_enrich_to_table(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    state_table: PartitionedTable,
    out_table: PartitionedTable,
    checkpoint_dir: str,
    on: str = "image_id",
    obs_time: str = "obs_time",
    feature_cols: list[str] | None = None,
    lookback: str | int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously enrich an observation stream and commit each
    micro-batch to ``out_table`` exactly-once (same replay-skip contract
    as the ingest sink).

    The state is RE-RESOLVED per micro-batch inside ``foreachBatch``
    (``read_state_asof`` reads the state table's current snapshot:
    newest valid snapshot partition + the feature partitions after it),
    so features keep up with the incremental materializer without
    restarting the query — a stream-static join would freeze the state at
    the plan captured at query start.  Partitioned by the observation date."""
    from feature_store_spark.pipeline.materialize import read_state_asof
    from feature_store_spark.streaming.ingest import (
        committed_batch_ids,
        make_batch_committer,
    )

    commit = make_batch_committer(out_table, checkpoint_dir)

    def enrich_and_commit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if batch_id in committed_batch_ids(out_table, checkpoint_dir):
            return  # replayed micro-batch — skip BEFORE re-reading state
        state = read_state_asof(spark, state_table)
        if state is None:
            # failing the query (checkpoint NOT advanced) is the safe
            # shape: the batch replays once state exists; committing a
            # feature-less schema would poison the output table
            raise RuntimeError(
                f"state table {state_table.path} has no snapshot yet — "
                "run the materializer before starting enrichment"
            )
        out = enrich_with_state(
            batch_df, state, on=on, obs_time=obs_time,
            feature_cols=feature_cols, lookback=lookback,
        ).withColumn(
            out_table.partition_col,
            F.date_format(F.col(obs_time), "yyyy-MM-dd"),
        )
        commit(out, batch_id)

    writer = (
        spark.readStream.schema(schema).parquet(source_dir)
        .writeStream.foreachBatch(enrich_and_commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
