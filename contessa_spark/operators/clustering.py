"""Distributed k-means over an embedding column — the coarse-quantizer
/ corpus-organization primitive behind SemDedup's cluster stage
(`operators/semantic.py` inlines a single pivot assignment; this is
the full Lloyd loop), semantic mixture construction, and IVF-style
partitioning (`similarity.ivf_topk` trains its own tiny quantizer; this
one is corpus-scale).

Spark-first plan (the classic scalable k-means shape):

1. seed selection — the ``k`` rows with the lowest ``md5(salt | id)``
   (layout-stable TakeOrderedAndProject; the same deterministic-
   selection trick as ``semantic.semantic_dedup`` whose Spark/DuckDB
   identity is oracle-proven). Seeds are collected once driver-side
   (k × d doubles — tiny) and closed over the assignment UDF.
2. per iteration:
   a. assignment — one numpy GEMM per Arrow batch: cluster = the seed
      id with the smallest ROUNDED (6 dp) euclidean distance, ties to
      the lowest seed id (argmin first-min over pid-ordered centroids
      ≡ SQL ``ORDER BY dist ASC, pid ASC LIMIT 1``). Rounding before
      argmin keeps every boundary decision engine-agnostic — the
      ``embedding_kmeans`` oracle recomputes the whole loop in DuckDB
      with unrolled CTEs (the ``domain_pagerank`` trick).
   b. centroid update — per-BATCH partial (cluster, sum-vector,
      count) rows from ``mapInArrow`` (≤ k rows per Arrow batch, a
      map-side combine), exploded to (cluster, dim, partial) and
      summed in ONE tiny shuffle of ≤ batches·k·d scalar rows; the
      k × d result is collected to the driver and broadcast into the
      next iteration's UDF closure. The full-width (id, vector) data
      is NEVER shuffled — at 10¹²-doc scale the only thing that moves
      is partial sums.
      A cluster that loses all members keeps its previous centroid
      (mirrored in the oracle via LEFT JOIN + coalesce).
3. final assignment with the last centroids → (id, cluster).

Both Python stages read their vectors with ``vectors.matrix`` (Arrow
in, Arrow out, no pandas).

Scale notes: every pass over the corpus is a narrow scan + Arrow-batch
GEMM (no shuffle of vectors, no driver materialization of anything
larger than k × d); ``iters`` passes total. Zero-norm rows are NOT
excluded (L2 distance is well-defined everywhere — unlike the cosine
operators); a vector whose length ≠ ``dim`` raises, the same
``dim_check`` guard as the sibling similarity operators. A vector with
a NaN or infinite component is assigned (to the lowest seed id when
every distance is NaN) but is never a seed and adds to no centroid, so
it moves no other row.

Reference parity: contessa has no embedding ops — forward-looking
training-pipeline operator (SURVEY.md §2 extension), same family as
`operators/semantic.py`.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from contessa_spark.hashing import list_array
from contessa_spark.vectors import embedding_base, matrix


def kmeans_embeddings(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "km",
    dim: Optional[int] = None,
    init: str = "greedy",
    init_sample_rows: int = 4096,
) -> DataFrame:
    """Lloyd k-means → (id, cluster); ``cluster`` is the seed row's id.

    ``iters`` centroid updates follow the seed assignment; the output
    is the assignment under the FINAL centroids. Deterministic for a
    given input regardless of physical layout: seeds are md5-ordered,
    every argmin compares 6-dp-rounded distances with lowest-seed-id
    tie-breaks, and centroid means differ across layouts only in final
    ulps (orders of magnitude inside the rounding guard).

    ``init``:
    * ``"greedy"`` (default) — farthest-first (Gonzalez k-center) over
      the ``init_sample_rows`` lowest-md5 rows, collected once and run
      in numpy driver-side. One extra scan total; escapes the
      all-seeds-in-one-cluster local optimum plain Lloyd cannot leave.
      Deterministic: md5 sample order, rounded distances, lowest-id
      ties.
    * ``"md5"`` — the k lowest-md5 rows directly (zero extra cost, and
      the form the DuckDB ``embedding_kmeans`` oracle replays
      CTE-by-CTE).
    """
    spark = df.sparkSession
    base, dim = embedding_base(df, id_col, vec_col, dim)
    if base is None:
        return spark.createDataFrame([], f"{id_col} long, cluster long")

    # --- 1. deterministic seed selection (md5-ordered, collect once)
    hkey = F.md5(
        F.concat_ws("|", F.lit(salt), F.col("_id").cast("string")).cast("binary")
    )
    if init not in ("greedy", "md5"):
        raise ValueError(f"unknown init {init!r}: use 'greedy' or 'md5'")
    n_pool = k if init == "md5" else max(init_sample_rows, k)
    # a vector with a NaN or infinite component is never a seed: its
    # column of distances would be NaN for every row
    finite = F.forall("_v", lambda x: ~F.isnan(x) & (F.abs(x) != F.lit(float("inf"))))
    pool = (
        base.filter(finite)
        .withColumn("_h", hkey)
        .orderBy("_h", "_id")
        .limit(n_pool)
        .select("_id", "_v")
        .toArrow()
    )
    if not pool.num_rows:
        return spark.createDataFrame([], f"{id_col} long, cluster long")
    ids = pool.column("_id").to_numpy().astype(np.int64)
    V = matrix(pool.column("_v"), dim)
    if init == "md5" or len(ids) <= k:
        chosen = np.arange(min(k, len(ids)))
    else:
        # farthest-first on the md5 sample: start from the lowest-md5
        # row, repeatedly add the point with the largest rounded
        # distance to its nearest chosen seed (ties → lowest id)
        chosen = [0]
        dmin = np.round(
            np.sqrt(np.maximum(((V - V[0]) ** 2).sum(axis=1), 0.0)), 6
        )
        dmin[0] = -1.0  # chosen points can never be re-picked
        while len(chosen) < k:
            nxt = int(np.lexsort((ids, -dmin))[0])
            chosen.append(nxt)
            d = np.round(
                np.sqrt(np.maximum(((V - V[nxt]) ** 2).sum(axis=1), 0.0)), 6
            )
            dmin = np.minimum(dmin, d)
            dmin[nxt] = -1.0
        chosen = np.array(chosen)
    # argmin first-min == lowest pid
    chosen = chosen[np.argsort(ids[chosen], kind="stable")]
    pids = ids[chosen]
    C = V[chosen]

    def assign_ids(centroids: np.ndarray):
        """Arrow UDF: vector → seed id of the nearest centroid."""
        cn = (centroids * centroids).sum(axis=1)

        def _assign(vecs: pa.Array) -> pa.Array:
            V = matrix(vecs, dim)
            d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ centroids.T) + cn
            dist = np.round(np.sqrt(np.maximum(d2, 0.0)), 6)
            return pa.array(pids[np.argmin(dist, axis=1)])

        return F.arrow_udf(_assign, "long")

    # --- 2b. map-side partial sums; only (cluster, dim, partial)
    # scalars ever shuffle
    def partials(batches):
        for b in batches:
            if not b.num_rows:
                continue
            V = matrix(b.column("_v"), dim)
            cl = b.column("cluster").to_numpy()
            cids = np.unique(cl)
            # a row with a non-finite component is assigned but moves
            # no centroid: it adds to neither the sum nor the count
            finite = np.isfinite(V).all(axis=1)
            masks = [(cl == cid) & finite for cid in cids]
            psum = pa.array(np.concatenate([V[m].sum(axis=0) for m in masks]))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cids),
                    list_array(np.full(len(cids), dim), psum),
                    pa.array([int(m.sum()) for m in masks], pa.int64()),
                ],
                names=["cluster", "psum", "cnt"],
            )

    for _ in range(iters):
        assigned = base.withColumn("cluster", assign_ids(C)(F.col("_v")))
        part_df = assigned.mapInArrow(
            partials, "cluster long, psum array<double>, cnt long"
        )
        stats = (
            part_df.select(
                "cluster", "cnt", F.posexplode("psum").alias("pos", "s")
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("n"))
            .collect()
        )
        sums = {}
        cnts = {}
        for r in stats:
            sums.setdefault(r["cluster"], np.zeros(dim))[r["pos"]] = r["s"]
            # each (cluster, pos) group sums cnt once per source batch,
            # so n is the full cluster count (identical for every pos)
            cnts[r["cluster"]] = r["n"]
        newC = C.copy()  # empty cluster → previous centroid survives
        for i, pid in enumerate(pids):
            if cnts.get(int(pid), 0) > 0:
                newC[i] = sums[int(pid)] / cnts[int(pid)]
        C = newC

    out = base.withColumn("cluster", assign_ids(C)(F.col("_v")))
    return out.select(F.col("_id").alias(id_col), "cluster")
