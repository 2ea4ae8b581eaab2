"""Round-6 optimization pins: every rewrite that changed an operator's
internals gets a test proving the OLD and NEW forms agree, plus the
registry-ordering and empty-partition invariants from the round-5 verdict
and advice."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from feature_store_spark.operators.caches import release_caches


# ---------------------------------------------------------------------
# images: batched pHash is bit-identical to the per-image reference
# ---------------------------------------------------------------------

def test_phash64_batch_bit_identical():
    from feature_store_spark.functions.images import (
        _subsample_idx,
        phash64,
        phash64_batch,
    )

    rng = np.random.default_rng(11)
    n = 3000
    stack = np.empty((n, 32, 32, 3), dtype=np.uint8)
    ref = np.empty(n, dtype=np.uint64)
    for i in range(n):
        h = int(rng.integers(8, 64))
        w = int(rng.integers(8, 64))
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        ri, ci = _subsample_idx(h, w)
        stack[i] = px[np.ix_(ri, ci)]
        ref[i] = phash64(px)
    got = phash64_batch(stack)
    assert (got == ref).all()
    # batch-size invariance (the Arrow batch boundary must not matter)
    parts = np.concatenate(
        [phash64_batch(stack[:1]), phash64_batch(stack[1:997]),
         phash64_batch(stack[997:])]
    )
    assert (parts == ref).all()


def _kernel_payloads(n, seed):
    """``n`` encoded random images of mixed dims, png and jpeg."""
    from feature_store_spark.functions.images import encode_image

    rng = np.random.default_rng(seed)
    return [
        encode_image(
            rng.integers(0, 256, size=(int(rng.integers(5, 40)),
                                       int(rng.integers(5, 40)), 3),
                         dtype=np.uint8),
            ("png", "jpeg")[i % 2],
        )
        for i in range(n)
    ]


def _assert_features(out, payloads):
    """Each row of the kernel's struct output equals the per-image
    reference (phash64 / decode_stats of decode_image); null payloads
    give all-null fields."""
    from feature_store_spark.functions.images import (
        IMAGE_FEATURES_SCHEMA,
        decode_image,
        decode_stats,
        phash64,
    )

    assert len(out) == len(payloads)
    got = out.to_pylist()
    for row, buf in zip(got, payloads):
        assert list(row) == IMAGE_FEATURES_SCHEMA.fieldNames()
        if buf is None:
            assert all(v is None for v in row.values())
            continue
        px = decode_image(buf)
        assert row["phash"] == phash64(px)
        assert (row["dec_w"], row["dec_h"]) == (px.shape[1], px.shape[0])
        assert tuple(row[f] for f in ("mean_r", "mean_g", "mean_b",
                                      "std_r", "std_g", "std_b")) \
            == decode_stats(px)


def test_features_batch_nulls_interleaved():
    """Null payloads keep their rows with null features while the
    surrounding rows still hash correctly (index bookkeeping of the
    batched kernel), for ``binary`` and ``large_binary`` offsets, whole
    and sliced (non-zero ``offset``)."""
    import pyarrow as pa

    from feature_store_spark.functions.images import _features_batch

    imgs = _kernel_payloads(6, seed=12)
    payloads = [imgs[0], None, None, imgs[1], imgs[2], None, imgs[3],
                imgs[4], None, imgs[5]]
    for typ in (pa.binary(), pa.large_binary()):
        arr = pa.array(payloads, typ)
        _assert_features(_features_batch(arr), payloads)
        for lo, hi in ((1, 10), (3, 8), (2, 3)):
            sliced = arr.slice(lo, hi - lo)
            assert sliced.offset == lo
            _assert_features(_features_batch(sliced), payloads[lo:hi])


def test_features_batch_all_null_and_empty():
    import pyarrow as pa

    from feature_store_spark.functions.images import _features_batch

    for typ in (pa.binary(), pa.large_binary()):
        _assert_features(_features_batch(pa.nulls(4, typ)), [None] * 4)
        _assert_features(_features_batch(pa.array([None, None], typ)),
                         [None] * 2)
        _assert_features(_features_batch(pa.array([], typ)), [])


def test_features_batch_corrupt_payload_raises():
    """Strict decode is the only mode: a corrupt payload anywhere in the
    batch raises (the Spark task fails) instead of giving nulls."""
    import pyarrow as pa

    from feature_store_spark.functions.images import _features_batch

    imgs = _kernel_payloads(2, seed=14)
    for bad in (b"corrupt", b"FSPN\x04\x00\x04\x00not-zlib", b""):
        with pytest.raises(Exception):
            _features_batch(pa.array([imgs[0], None, bad, imgs[1]]))


# ---------------------------------------------------------------------
# dedup: wide-signature LSH path == stacked path; window cluster_size
# ---------------------------------------------------------------------

@pytest.fixture()
def docs_df(spark):
    rows = []
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    for i in range(40):
        base = [words[(i + j) % len(words)] for j in range(12)]
        if i % 3 == 0:  # near-dups of the previous doc
            base[0] = "prefix"
        rows.append((i, " ".join(base)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_lsh_wide_equals_stacked(spark, docs_df):
    from feature_store_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_wide,
    )

    stacked = lsh_candidate_pairs(
        minhash_signatures(docs_df, num_hashes=4), num_hashes=4, band_size=2
    )
    wide = lsh_candidate_pairs(
        None, num_hashes=4, band_size=2,
        wide_signatures=minhash_wide(docs_df, num_hashes=4),
    )
    a = sorted(map(tuple, stacked.collect()))
    b = sorted(map(tuple, wide.collect()))
    release_caches()
    assert a == b and len(a) > 0


def test_lsh_wide_equals_stacked_capped(spark, docs_df):
    from feature_store_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_wide,
    )

    stacked = lsh_candidate_pairs(
        minhash_signatures(docs_df, num_hashes=4), num_hashes=4,
        band_size=2, max_bucket_size=3,
    )
    wide = lsh_candidate_pairs(
        None, num_hashes=4, band_size=2, max_bucket_size=3,
        wide_signatures=minhash_wide(docs_df, num_hashes=4),
    )
    a = sorted(map(tuple, stacked.collect()))
    b = sorted(map(tuple, wide.collect()))
    release_caches()
    assert a == b


def test_dup_clusters_window_size_matches_group_join(spark):
    """The round-6 window-count cluster_size equals the old
    groupBy+join-back computation."""
    from feature_store_spark.operators.dedup import dup_clusters

    docs = spark.createDataFrame([(i,) for i in range(12)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (8, 8)], ["doc_a", "doc_b"]
    )
    out = dup_clusters(docs, pairs, id_col="doc_id",
                       id_a="doc_a", id_b="doc_b").collect()
    release_caches()
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
           for r in out}
    assert got[0] == (0, 3, True)
    assert got[1] == (0, 3, False)
    assert got[2] == (0, 3, False)
    assert got[5] == (5, 2, True)
    assert got[6] == (5, 2, False)
    assert got[8] == (8, 1, True)   # self-loop singleton
    assert got[11] == (11, 1, True)  # isolated singleton
    assert len(got) == 12


def test_connected_components_edges_deduped_matches_default(spark):
    """edges_deduped=True (skip the defensive distinct on symmetrized
    edges) gives the same components for a<b deduped input — duplicates
    never change a min aggregate, so this pins the perf flag is safe."""
    from feature_store_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 5), (3, 6)], ["doc_a", "doc_b"]
    ).distinct()
    a = sorted(map(tuple, connected_components(
        pairs, "doc_a", "doc_b").collect()))
    release_caches()
    b = sorted(map(tuple, connected_components(
        pairs, "doc_a", "doc_b", edges_deduped=True).collect()))
    release_caches()
    assert a == b and len(a) == 8


# ---------------------------------------------------------------------
# winnow: map-only aggregates == explode + groupBy
# ---------------------------------------------------------------------

def test_winnow_maponly_equals_group_form(spark, tmp_path):
    from feature_store_spark import text_queries as tq
    from feature_store_spark.pipeline.datagen import write_parquet

    rows = pd.DataFrame({
        "doc_id": range(30),
        "text": ["word%d repeated text block %d tail" % (i % 7, i % 5)
                 for i in range(30)],
        "lang": ["en"] * 30,
    })
    write_parquet(rows, str(tmp_path / "documents.parquet"))
    new = tq.q_winnow_fingerprint(spark, str(tmp_path))
    # the pre-round-6 formulation, inlined
    d = spark.read.parquet(str(tmp_path / "documents.parquet"))
    grams = (
        f"transform(sequence(1, greatest(length(text) - {tq._WINNOW_K} + 1, 1)),"
        f" i -> substring(text, i, {tq._WINNOW_K}))"
    )
    hashes = (
        f"transform({grams}, g ->"
        f" CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT))"
    )
    d = d.select("doc_id", F.expr(hashes).alias("__hashes"))
    h = F.col("__hashes")
    cnt = F.greatest(F.size(h) - F.lit(tq._WINNOW_W - 1), F.lit(1))
    wins = F.slice(h, 1, cnt)
    for k in range(1, tq._WINNOW_W):
        wins = F.zip_with(wins, F.slice(h, k + 1, cnt),
                          lambda a, b: F.least(a, b))
    old = (
        d.select("doc_id", F.explode(F.array_distinct(wins)).alias("fp"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fingerprints"),
             F.min("fp").alias("min_fp"), F.max("fp").alias("max_fp"))
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
    assert [(f.name, f.dataType) for f in new.schema.fields] == \
        [(f.name, f.dataType) for f in old.schema.fields]


def test_winnow_edge_texts_match_oracle(spark, tmp_path):
    """Empty, NULL, shorter-than-k, exactly-k and k+2 texts: Spark and the
    DuckDB oracle agree row for row (a NULL text has no fingerprints)."""
    import duckdb

    from feature_store_spark import text_queries as tq
    from feature_store_spark.pipeline.datagen import write_parquet

    texts = ["", None, "abc", "abcdefgh", "abcdefghij"]
    path = str(tmp_path / "documents.parquet")
    write_parquet(pd.DataFrame({"doc_id": range(len(texts)), "text": texts,
                                "lang": ["en"] * len(texts)}), path)
    got = sorted(map(tuple, tq.q_winnow_fingerprint(spark, str(tmp_path))
                     .collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = sorted(con.execute(tq.SQL_WINNOW_FINGERPRINT).fetchall())
    assert got == want
    assert got[1] == (1, 0, None, None)


# ---------------------------------------------------------------------
# scan fan-out: adaptive, row-preserving
# ---------------------------------------------------------------------

def test_fan_out_adaptive(spark):
    from feature_store_spark.io.scan import fan_out

    small = spark.range(100).coalesce(1)
    fanned = fan_out(small)
    assert fanned.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    assert sorted(r["id"] for r in fanned.collect()) == list(range(100))
    wide = spark.range(100).repartition(
        spark.sparkContext.defaultParallelism + 4
    )
    assert fan_out(wide) is wide  # no-op above target


def test_split_estimate_matches_spark(spark, tmp_path):
    """The cheap split estimate equals Spark's own scan partition count:
    8 small files at the default 128m and at 1m (where dividing the
    total by maxPartitionBytes alone gave 1 and 37 against 4 and 8), and
    one ~2.4 MB file cut into chunks at 1m."""
    from pyspark.sql import functions as F

    from feature_store_spark.io.scan import _estimated_splits

    small = str(tmp_path / "small")
    spark.range(8000).repartition(8).write.parquet(small)
    single = str(tmp_path / "single")
    spark.range(300_000).select(F.rand(7).alias("x")).coalesce(1) \
        .write.parquet(single)
    conf = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(conf)
    try:
        for size in ("128m", "1m"):
            spark.conf.set(conf, size)
            for path in (small, single):
                df = spark.read.parquet(path)
                assert _estimated_splits(df) == df.rdd.getNumPartitions(), \
                    (size, path)
    finally:
        spark.conf.set(conf, before)


# ---------------------------------------------------------------------
# registry ordering invariant (round-5 verdict task 4)
# ---------------------------------------------------------------------

# queries allowed past the driver's 50-row record window, with the twin
# inside the window that pins the same operator coverage
_TWINS = {"asof_lookback": "pit_latest_expiry", "lsh_pairs": "lsh_pairs_capped"}


def test_registry_first_50_covers_every_untwinned_query():
    from feature_store_spark.registry import REGISTRY

    names = list(REGISTRY)
    head, tail = names[:50], names[50:]
    assert names[0] == "image_pipeline" and names[1] == "resize_roundtrip"
    for q in tail:
        assert q in _TWINS, (
            f"{q} sits past registry position 50 without a declared twin — "
            "the driver's correctness record would silently drop it"
        )
        assert _TWINS[q] in head, f"{q}'s twin {_TWINS[q]} must be in [:50]"


# ---------------------------------------------------------------------
# torn-manifest crash property (round-5 verdict task 7): a manifest cut
# at ANY byte offset of its final line reads as a consistent prefix, and
# the next append repairs it so read-before == read-after minus the new
# entry — the exactly-once commit story, pinned at every cut point.
# ---------------------------------------------------------------------

def test_manifest_torn_tail_every_cut_point(tmp_path):
    from feature_store_spark.io.tables import PartitionedTable

    def entry(i):
        return {
            "snapshot_id": f"snap-{i:04d}-x", "parent": None, "op": "append",
            "partitions": {"a": i}, "mapping": {"a": [f"data/v{i:04d}"]},
            "meta": {"i": i}, "touched": ["a"],
        }

    ref = PartitionedTable(str(tmp_path / "ref"), "t", "d")
    ref._append_manifest(entry(0))
    ref._append_manifest(entry(1))
    with open(ref._manifest_path, "rb") as f:
        full = f.read()
    last_start = full[:-1].rfind(b"\n") + 1  # start of the final line

    for cut in range(last_start, len(full) + 1):
        root = tmp_path / f"cut{cut}"
        tbl = PartitionedTable(str(root), "t", "d")
        import os as _os
        _os.makedirs(tbl.path, exist_ok=True)
        with open(tbl._manifest_path, "wb") as f:
            f.write(full[:cut])
        before = tbl._read_manifest()
        # read sees entry 0 always; entry 1 only when its line survived
        # completely (with or without the trailing newline)
        want = 2 if cut >= len(full) - 1 else 1
        assert len(before) == want, f"cut={cut}"
        assert before[0]["snapshot_id"] == "snap-0000-x"
        # repair-and-append must agree with what read accepted
        tbl._append_manifest(entry(2))
        after = tbl._read_manifest()
        assert after[:-1] == before, f"repair disagreed with read at cut={cut}"
        assert after[-1]["snapshot_id"] == "snap-0002-x"


# ---------------------------------------------------------------------
# snapshot-table empty-partition semantics (round-5 ADVICE)
# ---------------------------------------------------------------------

def test_append_empty_partition_meta_keeps_existing_dirs(spark, tmp_path):
    from feature_store_spark.io.tables import PartitionedTable

    tbl = PartitionedTable(str(tmp_path), "t", partition_col="d")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["x", "d"])
    tbl.write(df, mode="overwrite")
    # append a batch that planned partition "a" but produced zero rows
    empty = spark.createDataFrame([], "x bigint, d string")
    with pytest.warns(UserWarning, match="empty partitions"):
        tbl.write(empty, mode="append",
                  partition_meta={"a": {"content": "h1"}})
    snap = tbl.current_snapshot()
    assert snap.partitions["a"] == 1, "append clobbered partition 'a'"
    assert snap.mapping["a"], "append erased partition 'a' dir list"
    got = tbl.read(spark, partitions=["a"]).collect()
    assert [r["x"] for r in got] == [1]


def test_read_all_empty_partitions_returns_empty_frame(spark, tmp_path):
    from feature_store_spark.io.tables import PartitionedTable

    tbl = PartitionedTable(str(tmp_path), "t", partition_col="d")
    df = spark.createDataFrame([(1, "a")], ["x", "d"])
    tbl.write(df, mode="overwrite")
    empty = spark.createDataFrame([], "x bigint, d string")
    with pytest.warns(UserWarning, match="empty partitions"):
        tbl.write(empty, mode="overwrite_partitions",
                  partition_meta={"b": {"content": "h2"}})
    out = tbl.read(spark, partitions=["b"])
    assert out.count() == 0
    assert set(out.columns) == {"x", "d"}
    # unknown partition still errors
    with pytest.raises(FileNotFoundError):
        tbl.read(spark, partitions=["zzz"])


def test_multi_get_on_all_empty_publish(spark, tmp_path):
    from feature_store_spark.pipeline.infer import OnlineStore, ParquetKVSink

    root = str(tmp_path / "kv")
    sink = ParquetKVSink(root)
    empty = spark.createDataFrame([], "user_id string, f double")
    sink.write(empty, "feat", key="user_id")
    store = OnlineStore(root, sink)
    got = store.multi_get("feat", ["u1", "u2"], key="user_id")
    assert len(got) == 0
