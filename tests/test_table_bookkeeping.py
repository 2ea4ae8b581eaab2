"""Table commits and reads launch no bookkeeping Spark jobs.

A commit takes its per-partition row counts from the parquet footers it
just wrote and records the written schema in a ``_schema.json`` sidecar;
a read plans from the recorded schemas instead of ``mergeSchema``
inference.  These tests pin the job counts, the equality of recorded and
inferred reads on every engine table, the legacy (no sidecar) fallback,
and the crash-safe JSONL logs the pipeline resumes from.
"""

from __future__ import annotations

import glob
import os
import time
import uuid

import pandas as pd
import pytest

from feature_store_spark.io.tables import PartitionedTable


def _spark_jobs(spark, fn):
    """(result of ``fn()``, Spark jobs it launched), counted by job group
    through the status tracker."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the tracker fills from the asynchronous listener bus, in order: once
    # a later sentinel job shows up, every job of `group` has too
    sentinel = f"{group}-sentinel"
    sc.setJobGroup(sentinel, sentinel)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "listener bus never drained"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def _inferred(monkeypatch, fn):
    """Run ``fn`` with the sidecars ignored: every read infers its schema
    with ``mergeSchema``, as before the sidecar existed."""
    with monkeypatch.context() as m:
        m.setattr(PartitionedTable, "_recorded_schema", lambda self, d: None)
        return fn()


def _assert_same_frame(got, want):
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# ---------------------------------------------------------------------
# job counts
# ---------------------------------------------------------------------

def test_commit_runs_only_its_write_job_and_read_runs_none(spark, tmp_path):
    t = PartitionedTable(str(tmp_path), "t", "d")
    df = spark.createDataFrame(
        pd.DataFrame({"x": [1, 2, 3, 4], "d": ["a", "a", "b", "c"]})
    )
    snap, n = _spark_jobs(spark, lambda: t.write(df, mode="overwrite"))
    assert n == 1, f"commit ran {n} jobs, want the write alone"
    assert snap.partitions == {"a": 2, "b": 1, "c": 1}
    more = spark.createDataFrame(
        pd.DataFrame({"x": [5], "d": ["a"], "y": [0.5]})
    )
    _, n = _spark_jobs(spark, lambda: t.write(more, mode="append"))
    assert n == 1

    for kwargs in ({}, {"partitions": ["a"]}, {"merge_schema": False}):
        df_read, n = _spark_jobs(spark, lambda: t.read(spark, **kwargs))
        assert n == 0, f"read({kwargs}) ran {n} jobs"
    assert sorted(df_read.columns) == ["d", "x"]
    assert t.read(spark).count() == 5


def test_empty_partition_read_uses_recorded_schema(spark, tmp_path):
    t = PartitionedTable(str(tmp_path), "t", "d")
    t.write(spark.createDataFrame([(1, "a")], "x bigint, d string"),
            mode="overwrite")
    with pytest.warns(UserWarning, match="empty partitions"):
        t.write(spark.createDataFrame([], "x bigint, d string"),
                partition_meta={"b": {"content": "h"}})
    out, n = _spark_jobs(spark, lambda: t.read(spark, partitions=["b"]))
    assert n == 0
    assert out.schema.simpleString() == "struct<x:bigint,d:string>"
    assert out.count() == 0


def test_one_new_date_materialize_job_count(spark, tmp_path):
    """A new day's update and incremental materialize run a pinned number
    of Spark jobs, so an added per-batch job (a skew probe, a second carry
    over the state rows, a side table written per day) shows up as a
    count change.  The new day is not a snapshot position: its update
    writes the features table alone."""
    from feature_store_spark.pipeline.datagen import (
        generate_images,
        generate_observations,
    )
    from feature_store_spark.pipeline.materialize import (
        CheckpointManifest,
        LineageLog,
        feature_lineage_for,
        materialize,
        update_feature_table,
    )

    root = str(tmp_path)
    img = generate_images(n_rows=160, n_entities=10, seed=41)
    obs = generate_observations(img, n_obs=60, seed=42)
    img["event_date"] = img["event_time"].dt.strftime("%Y-%m-%d")
    obs["obs_date"] = obs["obs_time"].dt.strftime("%Y-%m-%d")
    new = sorted(set(img.event_date) & set(obs.obs_date))[-1]
    images_t = PartitionedTable(root, "images", "event_date")
    obs_t = PartitionedTable(root, "obs", "obs_date")
    feats_t = PartitionedTable(root, "features", "event_date")
    state_t = PartitionedTable(root, "state", "event_date")
    out_t = PartitionedTable(root, "pit", "obs_date")
    ckpt = CheckpointManifest(os.path.join(root, "_ckpt.jsonl"))
    lin = LineageLog(os.path.join(root, "_lineage.jsonl"))

    def run():
        update = _spark_jobs(spark, lambda: update_feature_table(
            spark, images_t, feats_t, state_t, feature_lineage_for(feats_t)))
        return update, _spark_jobs(spark, lambda: materialize(
            spark, images_t, obs_t, out_t, ckpt, lin,
            features_table=feats_t, state_table=state_t))

    images_t.write(spark.createDataFrame(img[img.event_date < new]),
                   mode="overwrite")
    obs_t.write(spark.createDataFrame(obs[obs.obs_date < new]),
                mode="overwrite")
    run()
    state_commits = len(state_t._read_manifest())
    images_t.write(spark.createDataFrame(img[img.event_date == new]))
    obs_t.write(spark.createDataFrame(obs[obs.obs_date == new]))
    (updated, n_update), (done, n) = run()
    assert updated == [new]
    assert n_update == 3, f"one-new-date update ran {n_update} jobs, want 3"
    # the update's one table: no state commit, no side table
    assert len(state_t._read_manifest()) == state_commits
    assert sorted(os.listdir(feats_t.path)) == [
        "_lineage.jsonl", "_manifest.jsonl", "data"]
    assert done == [new]
    assert n == 3, f"one-new-date materialize ran {n} jobs, want 3"


# ---------------------------------------------------------------------
# recorded schema == inferred schema
# ---------------------------------------------------------------------

@pytest.fixture(scope="module")
def engine_tables(spark, tmp_path_factory):
    """Every table the engine commits, after an initial build, a new day
    and a backfill (so tables hold several version dirs)."""
    from feature_store_spark.pipeline.datagen import (
        generate_images,
        generate_observations,
    )
    from feature_store_spark.pipeline.materialize import (
        CheckpointManifest,
        LineageLog,
        corpus_feature_stats,
        default_sketch_table,
        materialize,
        update_feature_table,
    )

    root = str(tmp_path_factory.mktemp("engine_tables"))
    img = generate_images(n_rows=240, n_entities=12, seed=21)
    obs = generate_observations(img, n_obs=90, seed=22)
    img["event_date"] = img["event_time"].dt.strftime("%Y-%m-%d")
    obs["obs_date"] = obs["obs_time"].dt.strftime("%Y-%m-%d")
    days = sorted(img["event_date"].unique())
    assert len(days) >= 3
    images_t = PartitionedTable(root, "images", "event_date")
    obs_t = PartitionedTable(root, "obs", "obs_date")
    out_t = PartitionedTable(root, "pit", "obs_date")
    feats_t = PartitionedTable(root, "features", "event_date")
    state_t = PartitionedTable(root, "state", "event_date")
    ckpt = CheckpointManifest(os.path.join(root, "_ckpt.jsonl"))
    lin = LineageLog(os.path.join(root, "_lineage.jsonl"))

    def run():
        # a snapshot every 2nd day, so a backfill rewrites the state too
        update_feature_table(spark, images_t, feats_t, state_t,
                             state_snapshot_every=2)
        materialize(spark, images_t, obs_t, out_t, ckpt, lin,
                    features_table=feats_t, state_table=state_t)
        corpus_feature_stats(spark, feats_t)  # sketches are built on read

    images_t.write(spark.createDataFrame(img[img.event_date < days[-1]]),
                   mode="overwrite")
    obs_t.write(spark.createDataFrame(obs), mode="overwrite")
    run()
    images_t.write(spark.createDataFrame(img[img.event_date == days[-1]]))
    run()
    b = img[img.event_date == days[1]]
    images_t.write(spark.createDataFrame(b.iloc[1:]))
    run()
    return {
        "images": images_t,
        "sketches": default_sketch_table(feats_t),
        "features": feats_t,
        "state": state_t,
        "pit": out_t,
    }


@pytest.mark.parametrize("name", ["sketches", "features", "state", "pit"])
def test_engine_table_recorded_read_equals_merge_schema_read(
    spark, engine_tables, monkeypatch, name
):
    t = engine_tables[name]
    assert len({d for ds in t.current_snapshot().mapping.values()
                for d in ds}) >= 2, "want a table spanning several commits"
    some = t.partitions()[:2]
    for kwargs in ({}, {"partitions": some}, {"merge_schema": False}):
        want = _inferred(monkeypatch, lambda: t.read(spark, **kwargs))
        got, n = _spark_jobs(spark, lambda: t.read(spark, **kwargs))
        assert n == 0
        _assert_same_frame(got, want)


def test_legacy_dirs_without_sidecar_still_read(spark, tmp_path, monkeypatch):
    t = PartitionedTable(str(tmp_path), "t", "d")
    t.write(spark.createDataFrame(
        pd.DataFrame({"x": [1, 2], "d": ["a", "b"]})), mode="overwrite")
    t.write(spark.createDataFrame(
        pd.DataFrame({"x": [3], "d": ["c"], "y": ["new"]})))
    want = _inferred(monkeypatch, lambda: t.read(spark))
    # the first commit predates the sidecar: a mixed read infers
    sidecars = sorted(glob.glob(os.path.join(t.data_path, "*", "_schema.json")))
    assert len(sidecars) == 2
    os.remove(sidecars[0])
    _assert_same_frame(t.read(spark), want)
    for f in sidecars[1:]:
        os.remove(f)
    _assert_same_frame(t.read(spark), want)
    assert t.read(spark, partitions=["c"]).collect()[0]["y"] == "new"


def test_escaped_values_and_schema_evolution_roundtrip(
    spark, tmp_path, monkeypatch
):
    """Footer counts key partitions by their exact values, and recorded
    schemas merge like mergeSchema: new columns (top level and nested)
    append in first-seen order, older files read them as NULL."""
    values = ["a b/c", "x%y", "q=1", "a+b:c", "é*?", "[br]#"]
    t = PartitionedTable(str(tmp_path), "t", "p")
    v1 = spark.createDataFrame(
        [(i, v, (i,)) for i, v in enumerate(values)],
        "k bigint, p string, s struct<a:int>",
    )
    snap = t.write(v1, mode="overwrite")
    assert snap.partitions == {v: 1 for v in values}
    v2 = spark.createDataFrame(
        [("n", 1.5, 10, values[0], (7, "z"))],
        "extra string, w double, k bigint, p string, s struct<a:int,b:string>",
    )
    snap = t.write(v2, mode="append")
    assert snap.partitions[values[0]] == 2
    assert t.partition_info().keys() == set(values)

    for kwargs in ({}, {"partitions": values[:2]}, {"merge_schema": False}):
        want = _inferred(monkeypatch, lambda: t.read(spark, **kwargs))
        _assert_same_frame(t.read(spark, **kwargs), want)
    got = t.read(spark)
    assert got.columns == ["k", "s", "extra", "w", "p"]
    assert got.schema["s"].dataType.simpleString() == "struct<a:int,b:string>"
    rows = {(r["p"], r["k"]): r for r in got.collect()}
    assert set(p for p, _ in rows) == set(values)
    assert rows[(values[1], 1)]["extra"] is None
    assert rows[(values[0], 10)]["s"]["b"] == "z"


def test_conflicting_recorded_types_defer_to_spark(spark, tmp_path):
    """A type change Spark's merge rejects still fails the read."""
    t = PartitionedTable(str(tmp_path), "t", "d")
    t.write(spark.createDataFrame([(1, "a")], "x int, d string"),
            mode="overwrite")
    t.write(spark.createDataFrame([(2, "b")], "x string, d string"))
    with pytest.raises(Exception, match="CANNOT_MERGE|merg"):
        t.read(spark).collect()


# ---------------------------------------------------------------------
# crash-safe resume logs: every append-only log shares one JSONL helper
# ---------------------------------------------------------------------

def _logs(root):
    from feature_store_spark.pipeline.materialize import (
        CheckpointManifest,
        LineageLog,
    )

    ckpt = CheckpointManifest(os.path.join(root, "_ckpt.jsonl"))
    lin = LineageLog(os.path.join(root, "_lineage.jsonl"))
    return {
        "checkpoint": (
            ckpt,
            lambda i: ckpt.mark_done({f"2024-01-0{i + 1}": f"k{i}"}),
            lambda: sorted(ckpt.done_partitions(
                {f"2024-01-0{i + 1}": f"k{i}" for i in range(4)})),
        ),
        "lineage": (
            lin,
            lambda i: lin.append({"partition": f"p{i}", "rows_out": i}),
            lin.records,
        ),
    }


@pytest.mark.parametrize("kind", ["checkpoint", "lineage"])
def test_resume_log_torn_tail_every_cut_point(tmp_path, kind):
    ref, append, _ = _logs(str(tmp_path / "ref"))[kind]
    append(0)
    append(1)
    with open(ref.path, "rb") as f:
        full = f.read()
    last_start = full[:-1].rfind(b"\n") + 1
    for cut in range(last_start, len(full) + 1):
        log, append, read = _logs(str(tmp_path / f"cut{cut}"))[kind]
        os.makedirs(os.path.dirname(log.path), exist_ok=True)
        with open(log.path, "wb") as f:
            f.write(full[:cut])
        before = read()
        # the second entry counts only once its line survived whole
        assert len(before) == (2 if cut >= len(full) - 1 else 1), cut
        append(2)
        after = read()
        assert len(after) == len(before) + 1, cut
        assert all(x in after for x in before), cut
