"""k-means operator semantics (value-level equality vs DuckDB is proven by
the kmeans_embeddings oracle; these tests pin the algorithmic invariants on
hand-built vectors where the right answer is obvious)."""

from __future__ import annotations

from songs_etl_spark.operators.clustering import (
    assign_arrow,
    kmeans_assign,
    quantize_micro,
    train_centroids,
)


def _toy(spark):
    # two tight blobs far apart; ids 0,1 seed the two clusters
    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [0.1, -0.1]),
        (3, [0.05, 0.0]),
        (4, [10.1, 9.9]),
        (5, [9.9, 10.05]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_kmeans_separates_blobs(spark):
    got = {r.vec_id: r.cluster for r in kmeans_assign(_toy(spark), k=2, n_iter=3).collect()}
    assert got[0] == got[2] == got[3]
    assert got[1] == got[4] == got[5]
    assert got[0] != got[1]


def _spherical(df, k, n_iter):
    """spherical_kmeans_assign's trainer and labelling pass over ``df``."""
    vecs = df.select("vec_id", quantize_micro("embedding").alias("emb"))
    return assign_arrow(vecs, train_centroids(vecs, k, n_iter, cosine=True), cosine=True)


def test_kmeans_covers_every_vector_and_is_deterministic(spark):
    df = _toy(spark)
    for run in (kmeans_assign, _spherical):
        a = sorted(tuple(r) for r in run(df, k=2, n_iter=3).collect())
        b = sorted(tuple(r) for r in run(df.repartition(5), k=2, n_iter=3).collect())
        assert a == b  # bit-identical under different partitioning
        assert len(a) == 6


def test_kmeans_distance_is_to_own_centroid(spark):
    # single cluster: centroid = mean of all points; dist > 0 for off-center
    rows = [(0, [0.0]), (1, [2.0]), (2, [4.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: r.dist for r in kmeans_assign(df, k=1, n_iter=2).collect()}
    # centroid in micro-units = 2e6; dists = (2e6)^2, 0, (2e6)^2
    assert out[1] == 0.0
    assert out[0] == out[2] == (2e6) ** 2
