"""k-means over embeddings: blob recovery, empty-cluster survival,
layout invariance, Lloyd improvement. Oracle parity for the
``embedding_kmeans`` driver query is covered by test_oracle_parity."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _blob_df(spark, seed=7, n_per=40, centers=((0.0, 0.0), (10.0, 0.0), (0.0, 10.0))):
    rng = np.random.RandomState(seed)
    rows = []
    i = 0
    for b, c in enumerate(centers):
        for _ in range(n_per):
            v = (np.array(c) + rng.randn(2) * 0.3).tolist()
            rows.append((i, v, b))
            i += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, blob int")


def test_kmeans_recovers_separated_blobs(spark):
    from contessa_spark.operators.clustering import kmeans_embeddings

    df = _blob_df(spark)
    out = kmeans_embeddings(df, k=3, iters=4)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    blob = {r["vec_id"]: r["blob"] for r in df.collect()}
    assert len(got) == len(blob)
    # same blob → same cluster, different blob → different cluster
    by_blob = {}
    for vid, b in blob.items():
        by_blob.setdefault(b, set()).add(got[vid])
    assert all(len(s) == 1 for s in by_blob.values()), by_blob
    assert len({next(iter(s)) for s in by_blob.values()}) == 3


def test_kmeans_iterations_improve_or_hold_sse(spark):
    from contessa_spark.operators.clustering import kmeans_embeddings

    df = _blob_df(spark, seed=11, n_per=30)
    X = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}

    def sse(assign):
        cl = {}
        for vid, c in assign.items():
            cl.setdefault(c, []).append(X[vid])
        tot = 0.0
        for vs in cl.values():
            M = np.array(vs)
            tot += ((M - M.mean(axis=0)) ** 2).sum()
        return tot

    a0 = {r["vec_id"]: r["cluster"] for r in kmeans_embeddings(df, k=3, iters=0).collect()}
    a3 = {r["vec_id"]: r["cluster"] for r in kmeans_embeddings(df, k=3, iters=3).collect()}
    assert sse(a3) <= sse(a0) + 1e-9


def test_kmeans_identical_points_and_empty_clusters(spark):
    """All-identical vectors: every row lands on the lowest seed id and
    the starved seeds' centroids survive (no crash, no NaN)."""
    from contessa_spark.operators.clustering import kmeans_embeddings

    rows = [(i, [1.0, 2.0, 3.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_embeddings(df, k=4, iters=2)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert len(got) == 20
    assert len(set(got.values())) == 1


def test_kmeans_layout_invariant(spark):
    from contessa_spark.operators.clustering import kmeans_embeddings

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def run(d):
        return {
            r["vec_id"]: r["cluster"]
            for r in kmeans_embeddings(d, k=8, iters=2).collect()
        }

    a = run(df)
    b = run(df.repartition(7))
    assert a == b and len(a) == df.count()
    # clusters are seed ids drawn from the input
    ids = {r["vec_id"] for r in df.select("vec_id").collect()}
    assert set(a.values()) <= ids


def test_kmeans_dim_mismatch_raises_and_empty_input(spark):
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from contessa_spark.operators.clustering import kmeans_embeddings

    rows = [(0, [0.0, 0.0]), (1, [5.0, 5.0]), (2, [0.1])]  # ragged dim
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(SparkRuntimeException, match="dim"):
        kmeans_embeddings(df, k=2, iters=1).collect()

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert kmeans_embeddings(empty, k=2, iters=1).count() == 0


@pytest.mark.parametrize("init", ["greedy", "md5"])
@pytest.mark.parametrize("nan_id", [97, 84])
def test_kmeans_nan_vector_moves_no_other_row(spark, init, nan_id):
    """A vector with a NaN component is assigned somewhere, but adds to
    no centroid's sum or count and is never a seed, so every other row
    keeps its cluster. Id 84 has the lowest md5 rank of all 31 ids: it
    would be the first seed of either init."""
    from contessa_spark.operators.clustering import kmeans_embeddings

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(30)]
    schema = "vec_id long, embedding array<double>"

    def clusters(rows):
        out = kmeans_embeddings(spark.createDataFrame(rows, schema), k=3, iters=2, init=init)
        return {r["vec_id"]: r["cluster"] for r in out.collect()}

    base = clusters(rows)
    with_nan = clusters(rows + [(nan_id, [float("nan")] + [1.0] * 7)])
    assert nan_id in with_nan
    del with_nan[nan_id]
    assert with_nan == base
