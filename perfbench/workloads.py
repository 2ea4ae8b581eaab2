"""The benchmark's workloads, as listed in ``BENCHMARK.json``.

``pit_training`` prepares a training set over full history: the
point-in-time frame (decode, window chain, as-of) and a near-duplicate pass
over a caption corpus (MinHash, LSH buckets, connected components).
``daily_cycle`` runs the incremental lifecycle one day at a time.

Each workload generates its inputs with ``pipeline/datagen_spark.py`` from
the run's seed, sets up, runs closed-loop steps (one client: the next call
starts only when the previous one has returned), and checks its outputs
outside the timed calls.  Every engine call is a public function at its
default arguments: no as-of strategy is passed anywhere, and operator
caches are scoped with ``operators.caches.cache_scope``.

A step returns :class:`Sample` records; the harness turns them into the
end-to-end metrics.  When the step's tracer is enabled, the workload opens
one span per layer around the engine calls; for product functions that span
two layers (``materialize.compute_features`` is decode plus the window
chain) the traced step stages the first layer's output to parquet and calls
the inner layers' public functions on it, with the constants ``materialize``
exports.  The check compares that staged chain with ``compute_features``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import pstats
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from feature_store_spark.functions.images import with_image_features
from feature_store_spark.io.tables import PartitionedTable
from feature_store_spark.operators.asof import asof_join
from feature_store_spark.operators.caches import cache_scope
from feature_store_spark.operators.dedup import (
    dup_clusters,
    lsh_candidate_pairs_with_stats,
    minhash_wide,
)
from feature_store_spark.operators.windows import (
    sessionize,
    with_lag_lead,
    with_rolling,
)
from feature_store_spark.pipeline import datagen_spark as gen
from feature_store_spark.pipeline.infer import OnlineStore, ParquetKVSink, infer
from feature_store_spark.pipeline.materialize import (
    FEATURE_COLS,
    ROLL_WINDOW,
    SESSION_GAP,
    CheckpointManifest,
    LineageLog,
    compute_features,
    feature_lineage_for,
    materialize,
    read_state_asof,
    rows_decoded_total,
    update_feature_table,
)
from feature_store_spark.pipeline.oracle import (
    oracle_asof,
    oracle_image_features,
    oracle_rolling_sum_count,
)
from feature_store_spark.streaming.enrich import (
    enrich_with_state,
    stream_enrich_to_table,
)

ORACLE_SAMPLE = 12  # obs rows per run checked against the brute-force oracle
MINI_SCALE = 0.05  # size of the generator sample run on a cache hit


@dataclass
class Sample:
    kind: str  # "op", "dedup", "backfill", "enrich" or "serve_ms"
    value: float  # seconds; milliseconds for "serve_ms"
    rows: int = 0


@dataclass
class Outcome:
    """What one step produced: timed samples, and check failures found
    while it ran (counted against the step's ops)."""

    samples: list[Sample] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _perf_profile_s(spark, dump_dir: str) -> float:
    """Total Python time recorded by the ``perf`` UDF profiler since the
    last clear, summed over every UDF (pstats ``total_tt``)."""
    shutil.rmtree(dump_dir, ignore_errors=True)
    os.makedirs(dump_dir)
    spark.profile.dump(dump_dir, type="perf")
    total = sum(
        pstats.Stats(p).total_tt
        for p in glob.glob(os.path.join(dump_dir, "*.pstats"))
    )
    spark.profile.clear(type="perf")
    return total


def _asof_output_failures(out, n_obs: int) -> list[str]:
    """Every obs row exactly once; no feature_ts after obs_time."""
    r = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("obs_id").alias("d"),
        F.sum(
            F.when(F.col("feature_ts") > F.col("obs_time"), 1).otherwise(0)
        ).alias("leak"),
    ).first()
    fails = []
    if r["n"] != n_obs or r["d"] != n_obs:
        fails.append(f"as-of output has {r['n']} rows / {r['d']} distinct "
                     f"obs ids for {n_obs} obs rows")
    if r["leak"]:
        fails.append(f"{r['leak']} rows have feature_ts after obs_time")
    return fails


def _compare(got: pd.DataFrame, want: pd.DataFrame, key: str,
             cols: list[str]) -> list[str]:
    """Row-by-row equality on ``cols`` (floats by isclose, nulls equal)."""
    m = got.merge(want, on=key, suffixes=("", "__want"))
    if len(m) != len(want):
        return [f"oracle compare matched {len(m)} of {len(want)} rows"]
    fails = []
    for c in cols:
        a, b = m[c], m[f"{c}__want"]
        both_null = a.isna() & b.isna()
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            eq = np.isclose(pd.to_numeric(a), pd.to_numeric(b),
                            rtol=1e-9, atol=1e-9)
        else:
            eq = (a == b).to_numpy()
        bad = ~(both_null.to_numpy() | eq)
        if bad.any():
            fails.append(f"column {c}: {int(bad.sum())} of {len(m)} sampled "
                         "rows differ from the oracle")
    return fails


class Workload:
    name = ""
    sizes: dict = {}
    # a traced run alternates untraced and traced steps; it runs at least
    # this many, so every step kind is measured both ways
    min_traced_steps = 2
    # an untraced run measures at least this many ops, however long they take
    min_ops = 1
    warm_ops = 0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        key = hashlib.md5(
            json.dumps(self.sizes, sort_keys=True).encode()
        ).hexdigest()[:10]
        self.inputs = os.path.join(
            work, "inputs", f"{self.name}-seed{seed}-{key}"
        )
        # per process, so runs sharing a checkout never share tables
        self.scratch = os.path.join(work, "scratch",
                                    f"{self.name}-{os.getpid()}")

    def ensure_inputs(self, spark) -> bool:
        """Generate the inputs unless this (seed, sizes) is cached;
        returns whether it generated.  On a cache hit the generator still
        runs on a small throwaway sample, so set-up runs equally warm
        whether or not the inputs were cached."""
        done = os.path.join(self.inputs, "_DONE")
        if os.path.exists(done):
            mini = os.path.join(self.scratch, "mini_inputs")
            shutil.rmtree(mini, ignore_errors=True)
            self.generate(spark, mini, scale=MINI_SCALE)
            shutil.rmtree(mini)
            return False
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.generate(spark, self.inputs)
        with open(done, "w") as f:
            json.dump({"seed": self.seed, "sizes": self.sizes}, f)
        return True

    def path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def stage(self, name: str) -> str:
        return os.path.join(self.scratch, "stage", name)

    def n(self, key: str, scale: float) -> int:
        return max(1, int(self.sizes[key] * scale))

    def generate(self, spark, out_dir: str, scale: float = 1.0) -> None:
        """Write the inputs under ``out_dir``; ``scale`` shrinks every row
        count (the cache-hit warm sample)."""
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def step(self, spark, op_id: int, tracer) -> Outcome:
        raise NotImplementedError

    def warm(self, spark) -> None:
        """One untimed pass in set-up, so timing starts warm; it writes the
        outputs that :meth:`check` reads after the timed loop.  Set-up
        then runs ``warm_ops`` untimed steps."""
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        raise NotImplementedError

    def layer_extras(self, spark) -> dict:
        """Per-layer figures the workload measures itself (traced runs)."""
        return {}


class PitTraining(Workload):
    """Training-set preparation over full history.  The op is the
    point-in-time training frame: decode -> window chain -> as-of.  The
    near-duplicate pass over the caption corpus (MinHash -> LSH buckets ->
    connected components) runs once in set-up, whose output the check
    tests, and once per traced op, staged layer by layer."""

    name = "pit_training"
    warm_ops = 1  # op time keeps falling for a few ops as the JVM JITs
    sizes = {"images": 6_000, "entities": 1_500, "obs": 6_000,
             "skew_power": 2, "captions": 2_000, "words": 40, "cluster": 5,
             "max_bucket_size": 64}

    def generate(self, spark, out_dir, scale=1.0):
        s = self.sizes
        gen.synth_images(
            spark, self.n("images", scale), n_entities=s["entities"],
            seed=self.seed, skew_power=s["skew_power"],
        ).write.parquet(os.path.join(out_dir, "images"))
        gen.synth_observations(
            spark, self.n("obs", scale), s["entities"], seed=str(self.seed + 1),
            skew_power=s["skew_power"], prefix="img_",
        ).withColumnRenamed("entity_id", "image_id").write.parquet(
            os.path.join(out_dir, "obs")
        )
        # near-duplicate clusters of s["cluster"] consecutive doc ids
        gen.synth_documents(
            spark, self.n("captions", scale), n_words=s["words"],
            cluster=s["cluster"], seed=str(self.seed + 2),
        ).write.parquet(os.path.join(out_dir, "captions"))

    def setup(self, spark):
        self.images = spark.read.parquet(self.path("images"))
        self.obs = spark.read.parquet(self.path("obs"))
        self.captions = spark.read.parquet(self.path("captions"))

    def _frame(self):
        return asof_join(
            self.obs, compute_features(self.images),
            feature_cols=FEATURE_COLS, tiebreak_cols=["phash", "caption"],
        )

    def _pairs(self, sigs):
        """(candidate pairs, hot-bucket report)."""
        return lsh_candidate_pairs_with_stats(
            None, wide_signatures=sigs,
            max_bucket_size=self.sizes["max_bucket_size"],
        )

    @staticmethod
    def _n_dropped(dropped) -> int:
        return int(dropped.agg(F.sum("n_dropped")).first()[0] or 0)

    def step(self, spark, op_id, tracer):
        if tracer.enabled:
            return self._staged(spark, op_id, tracer)
        t0 = time.perf_counter()
        with cache_scope():
            noop(self._frame())
        return Outcome([Sample("op", time.perf_counter() - t0,
                               self.sizes["obs"])])

    def _staged(self, spark, op_id, tr) -> Outcome:
        """The op, then the dedup pass (its own sample, so the op sample
        stays comparable with untraced ops), each layer in its span."""
        t0 = time.perf_counter()
        dec_path, win_path = self.stage("decoded"), self.stage("windows")
        with tr.span("io.scan", op_id):
            noop(self.images)
        with tr.span("functions.images", op_id) as ex:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            try:
                with_image_features(self.images).write.mode(
                    "overwrite").parquet(dec_path)
            finally:
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
            ex["udf_python_s"] = _perf_profile_s(
                spark, self.stage("profile"))
        with tr.span("operators.windows", op_id):
            # compute_features' window chain; check() compares the two
            feats = with_rolling(
                spark.read.parquet(dec_path), "image_id", "event_time",
                {"roll_cnt_1d": F.count(F.lit(1)),
                 "roll_mean_r_1d": F.avg("mean_r")},
                window=ROLL_WINDOW,
            )
            feats = with_lag_lead(
                feats, "image_id", "event_time",
                {"lag_phash": ("phash", -1)}, tiebreak=["phash"],
            )
            feats = sessionize(
                feats, "image_id", "event_time", gap=SESSION_GAP,
                tiebreak=["phash"],
            )
            feats.write.mode("overwrite").parquet(win_path)
        with tr.span("operators.asof", op_id), cache_scope():
            noop(asof_join(
                self.obs, spark.read.parquet(win_path),
                feature_cols=FEATURE_COLS,
                tiebreak_cols=["phash", "caption"],
            ))
        out = Outcome([Sample("op", time.perf_counter() - t0,
                              self.sizes["obs"])])
        t0 = time.perf_counter()
        sig_path, pair_path = self.stage("sigs"), self.stage("pairs")
        with tr.span("operators.dedup.minhash", op_id):
            minhash_wide(self.captions).write.mode("overwrite").parquet(
                sig_path)
        with tr.span("operators.dedup.lsh", op_id) as ex, cache_scope():
            pairs, dropped = self._pairs(spark.read.parquet(sig_path))
            pairs.write.mode("overwrite").parquet(pair_path)
            ex["dropped_rows"] = self._n_dropped(dropped)
        with tr.span("operators.dedup.clusters", op_id), cache_scope():
            noop(dup_clusters(self.captions, spark.read.parquet(pair_path)))
        out.samples.append(Sample("dedup", time.perf_counter() - t0))
        return out

    def warm(self, spark):
        """The op and the dedup pass once, writing their outputs for
        :meth:`check`."""
        with cache_scope():
            self._frame().write.mode("overwrite").parquet(
                self.stage("check_frame"))
        with cache_scope():
            pairs, dropped = self._pairs(minhash_wide(self.captions))
            dup_clusters(self.captions, pairs).write.mode(
                "overwrite").parquet(self.stage("check_clusters"))
            self._n_dropped(dropped)

    def check(self, spark):
        return (self._check_frame(spark) + self._check_clusters(spark)
                + self._check_staged_windows(spark))

    def _check_frame(self, spark) -> list[str]:
        """The as-of invariants, and a seeded sample of obs rows against
        the brute-force oracle."""
        out = spark.read.parquet(self.stage("check_frame"))
        fails = _asof_output_failures(out, self.sizes["obs"])
        rng = np.random.default_rng(self.seed)
        ids = [int(i) for i in rng.choice(self.sizes["obs"], ORACLE_SAMPLE,
                                          replace=False)]
        got = out.where(F.col("obs_id").isin(ids)).toPandas()
        ents = sorted(got["image_id"].unique().tolist())
        imgs = self.images.where(F.col("image_id").isin(ents)).toPandas()
        feats = oracle_rolling_sum_count(
            oracle_image_features(imgs), "image_id", "event_time", "mean_r",
            86_400,
        ).rename(columns={"roll_cnt": "roll_cnt_1d"})
        cols = ["phash", "mean_r", "std_b", "caption", "roll_cnt_1d"]
        want = oracle_asof(
            got[["image_id", "obs_time", "obs_id"]], feats, on="image_id",
            obs_time="obs_time", feature_time="event_time",
            feature_cols=cols, tiebreak=["phash", "caption"],
        )
        return fails + _compare(got, want, "obs_id", ["feature_ts", *cols])

    def _check_clusters(self, spark) -> list[str]:
        """Every caption labelled once; cluster_id is the component
        minimum and cluster_size its member count."""
        n = self.sizes["captions"]
        cl = spark.read.parquet(self.stage("check_clusters"))
        fails = []
        r = cl.agg(F.count(F.lit(1)).alias("n"),
                   F.countDistinct("doc_id").alias("d")).first()
        if r["n"] != n or r["d"] != n:
            fails.append(f"clusters cover {r['n']} rows / {r['d']} docs "
                         f"of {n}")
        bad = cl.groupBy("cluster_id").agg(
            F.min("doc_id").alias("mn"), F.count(F.lit(1)).alias("n"),
            F.min("cluster_size").alias("lo"),
            F.max("cluster_size").alias("hi"),
        ).where(
            (F.col("mn") != F.col("cluster_id")) | (F.col("n") != F.col("lo"))
            | (F.col("n") != F.col("hi"))
        ).count()
        if bad:
            fails.append(f"{bad} clusters whose id is not the component "
                         "minimum or whose cluster_size is not its count")
        return fails

    def _check_staged_windows(self, spark) -> list[str]:
        """A traced op's staged window output equals ``compute_features``
        (doubles compared to 9 decimals), so the per-layer figures measure
        the program's chain, not a stale copy of it."""
        path = self.stage("windows")
        if not os.path.exists(path):
            return []  # no traced op in this run
        got = spark.read.parquet(path)
        want = compute_features(self.images).select(*got.columns)

        def canon(df):
            return df.select(*[F.round(c, 9).alias(c) if t == "double"
                               else F.col(c) for c, t in df.dtypes])

        got, want = canon(got), canon(want)
        n = got.exceptAll(want).count() + want.exceptAll(got).count()
        return [f"staged window chain differs from compute_features on "
                f"{n} rows"] if n else []

    def layer_extras(self, spark) -> dict:
        """Candidate-pair quality of the last traced op's LSH output,
        against the generator's clusters (consecutive blocks of ids)."""
        s, lsh = self.sizes, "operators.dedup.lsh"
        c = s["cluster"]
        block = lambda col: F.col(col) - F.col(col) % c  # noqa: E731
        pr = spark.read.parquet(self.stage("pairs")).agg(
            F.count(F.lit(1)).alias("cand"),
            F.sum(F.when(block("doc_id_a") == block("doc_id_b"), 1)
                  .otherwise(0)).alias("true"),
        ).first()
        full, rem = divmod(s["captions"], c)
        return {
            f"{lsh}.candidate_pairs": int(pr["cand"]),
            f"{lsh}.true_pairs_found": int(pr["true"] or 0),
            f"{lsh}.gt_pairs": full * c * (c - 1) // 2 + rem * (rem - 1) // 2,
        }


ONLINE_TABLE = "image_features"
ONLINE_DEFAULTS = {"phash": -1, "mean_r": -1.0, "caption": "<cold>",
                   "roll_cnt_1d": 0}
OBS_SCHEMA = "image_id string, obs_time timestamp, obs_id bigint"


class DailyCycle(Workload):
    """Incremental daily lifecycle: land a day, update, materialize,
    publish, serve, enrich a stream.  Every fourth step backfills an early
    day instead (so a traced run traces one)."""

    name = "daily_cycle"
    min_traced_steps = 4
    # the first new-day step after the initial build still plans queries
    # the build never ran (10-50 % slower than the next), so set-up runs
    # it; the run then times the next two
    warm_ops = 1
    min_ops = 2
    sizes = {"images": 1_400, "entities": 700, "obs_per_day": 200,
             "days": 7, "initial_days": 3, "keys_per_request": 32,
             "requests_per_publish": 40, "cold_key_share": 0.05}

    def generate(self, spark, out_dir, scale=1.0):
        s = self.sizes
        per_day = self.n("obs_per_day", scale)
        gen.synth_images(
            spark, self.n("images", scale), n_entities=s["entities"],
            seed=self.seed, span_days=s["days"],
        ).withColumn(
            "event_date", F.date_format("event_time", "yyyy-MM-dd")
        ).write.partitionBy("event_date").parquet(
            os.path.join(out_dir, "images"))
        # a fixed number of obs rows per day, so every new-day op lands the
        # same amount of work whatever the seed
        days = pd.date_range("2024-01-01", periods=s["days"], freq="D")
        obs = None
        for i, day in enumerate(days):
            part = gen.synth_observations(
                spark, per_day, s["entities"],
                seed=f"{self.seed + 1}-{i}", base_ts=day.strftime("%Y-%m-%d"),
                span_days=1, prefix="img_",
            ).withColumn("obs_id", F.col("obs_id") + i * per_day)
            obs = part if obs is None else obs.unionByName(part)
        obs.withColumnRenamed("entity_id", "image_id").withColumn(
            "obs_date", F.date_format("obs_time", "yyyy-MM-dd")
        ).write.partitionBy("obs_date").parquet(os.path.join(out_dir, "obs"))

    def setup(self, spark):
        s = self.sizes
        self.spark_ = spark
        self.images_in = spark.read.parquet(self.path("images"))
        self.obs_in = spark.read.parquet(self.path("obs"))
        self.days = sorted(
            os.path.basename(p).split("=", 1)[1]
            for p in glob.glob(os.path.join(self.path("images"),
                                            "event_date=*"))
        )
        root = os.path.join(self.scratch, "tables")
        shutil.rmtree(self.scratch, ignore_errors=True)
        self.images_t = PartitionedTable(root, "images", "event_date")
        self.obs_t = PartitionedTable(root, "observations", "obs_date")
        self.out_t = PartitionedTable(root, "pit", "obs_date")
        self.feats_t = PartitionedTable(root, "features", "event_date")
        self.state_t = PartitionedTable(root, "state", "event_date")
        self.enr_t = PartitionedTable(root, "enriched", "obs_date")
        self.flin = feature_lineage_for(self.feats_t)
        self.ckpt = CheckpointManifest(os.path.join(root, "_ckpt.jsonl"))
        self.lineage = LineageLog(os.path.join(root, "_lineage.jsonl"))
        self.sink = ParquetKVSink(os.path.join(root, "online"))
        self.store = OnlineStore(self.sink.root, self.sink)
        self.stream_src = os.path.join(self.scratch, "stream_src")
        self.stream_ckpt = os.path.join(self.scratch, "stream_ckpt")
        os.makedirs(self.stream_src)
        self.next_day = s["initial_days"]
        self.n_backfills = 0
        self.checked_online = False
        self.checked_enrich = False
        self.extras: dict[str, list[float]] = {}

        first = self.days[:s["initial_days"]]
        self.images_t.write(
            self.images_in.where(F.col("event_date").isin(first)),
            mode="overwrite")
        self.obs_t.write(
            self.obs_in.where(F.col("obs_date").isin(first)),
            mode="overwrite")
        self._update()
        self._materialize()
        self._publish()

    # -- the chain -------------------------------------------------------
    def _update(self) -> list[str]:
        return update_feature_table(
            self.spark_, self.images_t, self.feats_t, self.state_t, self.flin)

    def _materialize(self) -> list[str]:
        return materialize(
            self.spark_, self.images_t, self.obs_t, self.out_t, self.ckpt,
            self.lineage, features_table=self.feats_t,
            state_table=self.state_t,
        )

    def _publish(self) -> None:
        self.store.publish(
            ONLINE_TABLE, read_state_asof(self.spark_, self.state_t),
            key="image_id", defaults=ONLINE_DEFAULTS,
        )

    def _extra(self, name: str, value: float) -> None:
        self.extras.setdefault(name, []).append(value)

    def _chain(self, op_id, tr, backfill: bool = False) -> None:
        """Update, materialize, publish.  A backfill runs them inside its
        one ``daily.backfill`` span, so the layer spans and counts are
        those of new-day ops only."""

        def layer(name):
            return nullcontext() if backfill else tr.span(name, op_id)

        decoded_before = rows_decoded_total(self.flin) if tr.enabled else 0
        with layer("pipeline.materialize.update"):
            changed = self._update()
        with layer("pipeline.materialize.materialize"):
            done = self._materialize()
        with layer("pipeline.infer.publish"):
            self._publish()
        if not tr.enabled:
            return
        # per-layer counts, read from lineage files
        redecoded = rows_decoded_total(self.flin) - decoded_before
        if backfill:
            self._extra("daily.backfill.rows_redecoded", redecoded)
            self._extra("daily.backfill.dates_recomputed", len(done))
            return
        first = min(changed) if changed else None
        useful = sum(1 for d in done if first is not None and d >= first)
        mat = "pipeline.materialize.materialize"
        self._extra("pipeline.materialize.update.rows_redecoded", redecoded)
        self._extra(f"{mat}.dates_recomputed", len(done))
        self._extra(f"{mat}.useful_dates", useful)

    def step(self, spark, op_id, tracer):
        self.spark_ = spark
        backfill = op_id % 4 == 0 or self.next_day >= len(self.days)
        if backfill:
            return self._backfill(spark, op_id, tracer)
        day = self.days[self.next_day]
        self.next_day += 1
        t0 = time.perf_counter()
        with tracer.span("io.tables.write", op_id):
            self.images_t.write(
                self.images_in.where(F.col("event_date") == day),
                mode="overwrite_partitions")
            self.obs_t.write(
                self.obs_in.where(F.col("obs_date") == day),
                mode="overwrite_partitions")
        self._chain(op_id, tracer)
        wall = time.perf_counter() - t0
        n_obs = self.sizes["obs_per_day"]
        out = Outcome([Sample("op", wall, n_obs)])
        out.failures += self._check_day(spark, day, n_obs)
        self._serve(op_id, tracer, out)
        self._enrich(spark, op_id, tracer, day, out)
        return out

    def _backfill(self, spark, op_id, tr) -> Outcome:
        self.n_backfills += 1
        # an early day, landed in set-up
        day = self.days[self.n_backfills % self.sizes["initial_days"]]
        drop = F.conv(F.substring(F.md5(F.concat_ws(
            "|", F.col("image_id"), F.col("event_time").cast("string"),
            F.lit(str(self.n_backfills)))), 1, 4), 16, 10).cast("long")
        t0 = time.perf_counter()
        with tr.span("daily.backfill", op_id):
            self.images_t.write(
                self.images_t.read(spark, partitions=[day])
                .where(drop % 100 != 0),
                mode="overwrite_partitions")
            self._chain(op_id, tr, backfill=True)
        out = Outcome([Sample("backfill", time.perf_counter() - t0)])
        self._serve(op_id, tr, out)
        return out

    # -- serving ---------------------------------------------------------
    def _requests(self, op_id: int) -> list[list[str]]:
        s = self.sizes
        # warm ops have negative ids; seed entropy must be non-negative
        rng = np.random.default_rng([self.seed, op_id & 0xFFFFFFFF])
        reqs = []
        for _ in range(s["requests_per_publish"]):
            u = rng.random(s["keys_per_request"])
            ent = np.floor(u ** 2 * s["entities"]).astype(int)
            cold = rng.random(s["keys_per_request"]) < s["cold_key_share"]
            reqs.append([
                f"cold_{op_id}_{i}" if c else f"img_{e}"
                for i, (e, c) in enumerate(zip(ent, cold))
            ])
        return reqs

    def _serve(self, op_id, tr, out: Outcome) -> None:
        reqs = self._requests(op_id)
        tables = {ONLINE_TABLE: "image_id"}
        results = []
        with tr.span("pipeline.infer.serve", op_id):
            for keys in reqs:
                t0 = time.perf_counter()
                res = infer(self.store, pd.DataFrame({"image_id": keys}),
                            tables)
                out.samples.append(
                    Sample("serve_ms", (time.perf_counter() - t0) * 1e3))
                results.append(res)
        if tr.enabled:
            files = [len(self.sink.files_for_keys(ONLINE_TABLE, k) or [])
                     for k in reqs]
            self._extra("pipeline.infer.serve.files_per_request",
                        float(np.mean(files)))
        for res in results:
            cold = res[res["image_id"].str.startswith("cold_")]
            for c, v in ONLINE_DEFAULTS.items():
                if len(cold) and not (cold[c] == v).all():
                    out.failures.append(
                        f"cold key got {c}={cold[c].tolist()} not {v}")
        if not self.checked_online:
            self.checked_online = True
            out.failures += self._check_online()

    # -- streaming -------------------------------------------------------
    def _enrich(self, spark, op_id, tr, day, out: Outcome) -> None:
        day_obs = self.obs_in.where(F.col("obs_date") == day).select(
            "image_id", "obs_time", "obs_id")
        day_obs.write.mode("append").parquet(self.stream_src)
        t0 = time.perf_counter()
        with tr.span("streaming.enrich", op_id):
            q = stream_enrich_to_table(
                spark, self.stream_src, OBS_SCHEMA, self.state_t, self.enr_t,
                self.stream_ckpt,
            )
            q.awaitTermination()
            # the stream thread tags its jobs with the query's run id
            tr.add_group(str(q.runId))
        out.samples.append(Sample("enrich", time.perf_counter() - t0))
        if q.exception() is not None:
            out.failures.append(f"stream enrich failed: {q.exception()}")
            return
        if tr.enabled:
            prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
            for p in prog:
                d = p["durationMs"]
                self._extra("streaming.enrich.add_batch_ms",
                            float(d.get("addBatch", 0)))
                self._extra("streaming.enrich.trigger_ms",
                            float(d.get("triggerExecution", 0)))
        if not self.checked_enrich:
            self.checked_enrich = True
            got = self.enr_t.read(spark, partitions=[day]).drop("obs_date")
            want = enrich_with_state(
                day_obs, read_state_asof(spark, self.state_t))
            want = want.select(*got.columns)
            n_diff = got.exceptAll(want).count() + want.exceptAll(got).count()
            if n_diff:
                out.failures.append(
                    f"enriched rows differ from enrich_with_state: {n_diff}")

    # -- checks ----------------------------------------------------------
    def _check_day(self, spark, day: str, n_obs: int) -> list[str]:
        """Offline rows for the new date equal its obs rows, each once,
        none leaking."""
        out = self.out_t.read(spark, partitions=[day])
        return _asof_output_failures(out, n_obs)

    def _check_online(self) -> list[str]:
        """Sampled online keys equal their state row."""
        state = read_state_asof(self.spark_, self.state_t)
        rows = state.orderBy(F.md5(F.concat(
            F.lit(str(self.seed)), F.col("image_id")))).limit(16).toPandas()
        got = self.store.multi_get(
            ONLINE_TABLE, rows["image_id"].tolist(), "image_id")
        return _compare(got, rows, "image_id",
                        ["event_time", "phash", "mean_r", "caption",
                         "roll_cnt_1d", "session_id"])

    def warm(self, spark):
        pass  # set-up's initial build already runs every Spark path

    def check(self, spark):
        return []  # every op checks its own outputs as it runs

    def layer_extras(self, spark) -> dict:
        return {k: float(np.median(v)) for k, v in self.extras.items()}


WORKLOADS = {w.name: w for w in (PitTraining, DailyCycle)}
