"""K-means (operators/clustering.py): semantics vs a NumPy model of the
identical algorithm, empty-cluster handling, and the zero-shuffle
assignment plan contract."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from kafka_streams_learning_spark.operators import clustering
from kafka_streams_learning_spark.plans import explain as E
from kafka_streams_learning_spark.sources.batch import load_table

from .conftest import SF_DIR


def _snap(x, scale=1e6):
    return math.floor(float(x) * scale + 0.5) / scale


def _model_kmeans(vecs: np.ndarray, k: int, n_iter: int):
    """Driver-side model of the exact algorithm: lowest-id seeds, snapped
    means, argmin with (dist, cluster) tie-break, empty clusters drop."""
    snap = np.vectorize(_snap)
    cents = {j: snap(vecs[j].astype(np.float64)) for j in range(k)}

    def assign(cents):
        ids = sorted(cents)
        out = []
        for v in vecs.astype(np.float64):
            best = min(
                (sum((v - cents[c]) * (v - cents[c])), c) for c in ids
            )
            out.append((best[1], best[0]))
        return out

    for _ in range(n_iter):
        a = assign(cents)
        new = {}
        for c in sorted(cents):
            members = [vecs[i].astype(np.float64) for i, (ci, _) in enumerate(a) if ci == c]
            if members:
                new[c] = snap(np.mean(members, axis=0))
        cents = new
    return assign(cents)


def test_kmeans_matches_model(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    rows = emb.orderBy("vec_id").select("vec_id", "embedding").collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float32)
    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in clustering.kmeans(emb, k=4, n_iter=2, dim=64).collect()
    }
    want = _model_kmeans(vecs, k=4, n_iter=2)
    for i, r in enumerate(rows):
        cluster, dist = got[r["vec_id"]]
        assert cluster == want[i][0]
        assert dist == pytest.approx(want[i][1], rel=1e-12)


def test_kmeans_empty_clusters_drop(spark):
    # 6 identical points, k=3: every point lands in cluster 0 after the
    # first assignment, clusters 1-2 empty out and must disappear without
    # crashing or relabeling the survivors.
    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(6)], "vec_id: long, embedding: array<float>"
    )
    out = clustering.kmeans(df, k=3, n_iter=2, dim=2).collect()
    assert {r["cluster"] for r in out} == {0}
    assert all(r["dist"] == 0.0 for r in out)


def test_kmeans_assignment_is_shuffle_free(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = [[0.0] * 64, [1.0] * 64]
    assigned = clustering.assign_clusters(emb, cents)
    assert E.exchange_count(assigned) == 0


def test_assignment_guards_literal_plan_bound(spark):
    """VERDICT r8 item 6: a k×d centroid matrix past the literal-plan
    bound must raise (directing callers to a broadcast-join assignment)
    instead of silently shipping a multi-MB literal with every stage.
    Just-over fails, at-the-bound still works."""
    import pytest

    emb = load_table(spark, SF_DIR, "embeddings")
    d = 100
    over = [[0.0] * d for _ in range(101)]  # 10_100 cells > 10_000
    with pytest.raises(ValueError, match="literal-plan bound"):
        clustering.assign_clusters(emb, over)
    at_bound = [[0.0] * d for _ in range(100)]  # exactly 10_000 cells
    clustering.assign_clusters(emb, at_bound)  # constructs fine


def test_update_is_partial_agg_k_row_shuffle(spark):
    # the Lloyd update groupBy must partial-aggregate map-side: the plan
    # carries partial_avg before the exchange
    emb = load_table(spark, SF_DIR, "embeddings")
    assigned = clustering.assign_clusters(emb, [[0.0] * 64, [1.0] * 64])
    aggs = [
        clustering.snap6(F.avg(F.col("embedding").getItem(i).cast("double"))).alias(
            f"c{i}"
        )
        for i in range(64)
    ]
    plan = E.formatted_plan(assigned.groupBy("cluster").agg(*aggs))
    assert "partial_avg" in plan


def test_snap6_is_engine_exact(spark):
    # the same snap on the same doubles, Python vs JVM — bit-for-bit
    vals = [0.1234565, -0.9999995, 3.14159265358979, 1e-7, -1e-7, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "x: double")
    got = {
        r["x"]: r["s"]
        for r in df.select("x", clustering.snap6(F.col("x")).alias("s")).collect()
    }
    assert got == {v: _snap(v) for v in vals}


def test_semantic_pairs_subset_of_exact_with_same_scores(spark):
    from kafka_streams_learning_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = clustering.kmeans_centroids(emb, k=4, n_iter=2, dim=64)
    sem = similarity.semantic_near_dup_pairs(emb, cents, 0.2).collect()
    exact = {
        (r["vec_a"], r["vec_b"]): r["score"]
        for r in similarity.embedding_near_dup_pairs(emb, 0.2).collect()
    }
    assert sem, "threshold produced no pairs — test data drifted"
    for r in sem:
        # every semantic pair is a true pair with the bit-identical score
        assert exact[(r["vec_a"], r["vec_b"])] == r["score"]
    # and the in-cluster restriction keeps a useful fraction of them
    assert len(sem) / len(exact) >= 0.1


def test_semantic_pairs_plan_is_equi_join_not_cartesian(spark):
    from kafka_streams_learning_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = {0: [0.0] * 64, 1: [1.0] * 64}
    df = similarity.semantic_near_dup_pairs(emb, cents, 0.3)
    plan = E.formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_kmeans_sampled_training_assigns_full_corpus(spark):
    """The 100 TB path: train Lloyd's on a deterministic sample, assign
    everything. Centroids must come from sample rows only (seeding =
    lowest ids WITHIN the sample) and the final assignment must cover
    every corpus row with a valid trained cluster id."""
    from pyspark.sql import functions as F

    from kafka_streams_learning_spark.operators.clustering import (
        assign_labeled,
        kmeans_centroids,
    )

    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_centroids(
        df, k=3, n_iter=2, dim=2, train_filter=F.col("vec_id") % 4 == 0
    )
    assert 1 <= len(cents) <= 3
    out = assign_labeled(df, cents).collect()
    assert len(out) == 60
    assert {r.cluster for r in out} <= set(cents)
    # deterministic: same sample, same centroids
    again = kmeans_centroids(
        df, k=3, n_iter=2, dim=2, train_filter=F.col("vec_id") % 4 == 0
    )
    assert again == cents


def test_x39_and_x62_share_one_sampled_model(spark):
    """x39's SemDeDup and x62's assignment audit must train ONE sampled
    k-means model per (process, sf): the shared artifact is keyed by sf
    and both catalog rows resolve through _sampled_centroids."""
    from kafka_streams_learning_spark import catalog_ext as X
    from kafka_streams_learning_spark.catalog import clear_model_caches

    sf = "/root/testdata/sf0.001"
    clear_model_caches()
    m1 = X._sampled_centroids(spark, sf)
    assert X._sampled_centroids(spark, sf) is m1  # cache hit, no retrain
    # and the model is the sampled-training one: it differs from the
    # full-corpus x35 model (same k/iters, different training set)
    full = X._trained_centroids(spark, sf)
    assert m1 != full
