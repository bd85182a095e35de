"""SemDedup-style semantic cluster deduplication (Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication").

Lexical near-dup passes (MinHash / SimHash / n-gram Jaccard) miss
documents that say the same thing in different words. SemDedup finds
them in embedding space: cluster the corpus with a cheap coarse
quantizer, then drop, within each cluster, every document whose cosine
to an already-kept cluster-mate exceeds a threshold. Pairwise work is
confined to clusters — no corpus-level pair join anywhere.

Spark-first plan:
1. pivot selection — the ``n_cells`` rows with the lowest
   ``md5(salt | id)`` (layout-stable, TakeOrderedAndProject, same
   deterministic-selection trick as ``sampling.sample_hash_col`` whose
   Spark/DuckDB identity is oracle-proven). Pivots are collected once
   driver-side (tiny) and closed over the assignment UDF — an implicit
   broadcast, like the IVF quantizer in ``similarity.ivf_topk``.
2. assignment — one numpy GEMM per Arrow batch: cell = the pivot id
   with the highest ROUNDED (6 dp) cosine, ties to the lowest pivot id
   (np.argmax first-max over pid-ordered pivots ≡ SQL ``ORDER BY cos
   DESC, pid ASC LIMIT 1``). Rounding before argmax keeps the
   boundary decision engine-agnostic.
3. within-cell dedup — ``groupBy(cell).applyInArrow``: unit-normalize
   the cell's matrix, one GEMM for all pairwise cosines, keep-first by
   ascending id (a row drops iff some LOWER id in the cell is within
   ``threshold``). Shuffle carries (id, vector) once, keyed by cell.

Both Python stages read their vectors with ``vectors.matrix`` and
normalize them with ``vectors.unit_rows`` — Arrow in, Arrow out, no
pandas.

Scale notes: the pairwise stage is O(|cell|²) BY DESIGN — the SemDedup
paper sizes clusters so this is tractable (they run 50k clusters over
LAION). ``max_cell_rows`` guards the executor: a cell above it raises
with the remedy (raise ``n_cells``) instead of OOMing. Zero-norm
vectors are excluded up front (their cosine is undefined; Spark's
NaN-compares-high semantics would otherwise rank them wrongly — same
guard as ``similarity``).

Reference parity: contessa has no embedding ops — this is a
forward-looking training-pipeline operator (SURVEY.md §2 extension).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from contessa_spark.vectors import embedding_base, matrix, unit_rows


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_cells: int = 8,
    salt: str = "sem",
    dim: Optional[int] = None,
    max_cell_rows: int = 200_000,
) -> DataFrame:
    """Semantic cluster dedup → (id, cell, keep).

    ``keep`` is False iff another document in the same cell has a
    LOWER id and rounded-6dp cosine ≥ ``threshold`` (keep-first by id:
    deterministic, layout-independent). ``cell`` is the pivot doc's id.

    The decision rule is exactly SQL-expressible (see the
    ``dedup_semantic`` oracle in ``__spark_entry__``): pivot selection,
    assignment, and the drop predicate all recompute bit-identically in
    DuckDB from the same md5 ordering and 6-dp-rounded cosines.
    """
    empty = f"{id_col} long, cell long, keep boolean"
    base, dim = embedding_base(df, id_col, vec_col, dim)
    if base is None:
        return df.sparkSession.createDataFrame([], empty)
    # zero-norm vectors have no cosine: exclude them from clustering
    # entirely (mirrored in the oracle's WHERE list_dot_product > 0)
    sqnorm = F.aggregate(
        F.col("_v"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    base = base.where(sqnorm > 0)

    # --- 1. deterministic pivot selection (md5-ordered, collect once)
    hkey = F.md5(
        F.concat_ws("|", F.lit(salt), F.col("_id").cast("string")).cast("binary")
    )
    pivots = (
        base.withColumn("_h", hkey)
        .orderBy("_h", "_id")  # total order: layout-stable collect
        .limit(n_cells)
        .select("_id", "_v")
        .toArrow()
    )
    if not pivots.num_rows:
        return df.sparkSession.createDataFrame([], empty)
    # pid-ascending order so argmax first-max == lowest pid on ties
    pids = pivots.column("_id").to_numpy().astype(np.int64)
    order = np.argsort(pids, kind="stable")
    pids = pids[order]
    P = unit_rows(matrix(pivots.column("_v"))[order])[0]

    # --- 2. assignment: one GEMM per Arrow batch, rounded argmax-cosine
    def _cells(vecs: pa.Array) -> pa.Array:
        U = unit_rows(matrix(vecs, dim))[0]
        return pa.array(pids[np.argmax(np.round(U @ P.T, 6), axis=1)])

    assigned = base.withColumn("cell", F.arrow_udf(_cells, "long")(F.col("_v")))

    # --- 3. within-cell keep-first dedup (one GEMM per cell)
    def dedup_cell(t: pa.Table) -> pa.Table:
        n = t.num_rows
        cell = t.column("cell")[0].as_py()
        if n > max_cell_rows:
            raise ValueError(
                f"semantic_dedup cell {cell} has {n} rows "
                f"(> max_cell_rows={max_cell_rows}); raise n_cells so the "
                "O(cell^2) pairwise stage stays tractable"
            )
        ids = t.column("_id").to_numpy().astype(np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        U = unit_rows(matrix(t.column("_v"))[order])[0]
        # row i drops iff any j<i has cosine >= threshold. BLOCKED: a
        # one-shot n×n similarity matrix would be 320 GB at the
        # max_cell_rows cap; each block row only needs columns j < i,
        # so peak memory is block×n (≈1.6 GB at the cap), and the
        # decision for i is independent of whether j itself dropped
        # (keep-first chains through dropped docs by design — see
        # docstring), so no cross-block ordering state is needed.
        dropped = np.zeros(n, dtype=bool)
        block = 1024
        for s0 in range(0, n, block):
            e0 = min(s0 + block, n)
            S = np.round(U[s0:e0] @ U[:e0].T, 6)  # (block, e0)
            ge = S >= threshold
            # row i drops iff any ge[i, j] for j < i: columns left of
            # the block are all admissible; within the block's square
            # only the strict lower triangle is (j < i) — both reduce
            # with vectorized any(), no per-row Python
            dropped[s0:e0] = ge[:, :s0].any(axis=1) | np.tril(
                ge[:, s0:e0], k=-1
            ).any(axis=1)
        return pa.table({"_id": ids, "cell": np.full(n, cell, dtype=np.int64), "keep": ~dropped})

    out = assigned.groupBy("cell").applyInArrow(
        dedup_cell, schema="_id long, cell long, keep boolean"
    )
    return out.select(
        F.col("_id").alias(id_col), F.col("cell"), F.col("keep")
    )
