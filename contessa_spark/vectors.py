"""The embedding operators' batch kernel: one way to read an Arrow
batch of vectors as a matrix, one unit-length rule and one size-checked
input, shared by ``operators.similarity``, ``operators.semantic``,
``operators.clustering``, ``operators.decontaminate`` and
``dedup.embedding_near_dups_blocked``.

Every operator of that family runs its batches as ``arrow_udf``,
``mapInArrow`` or ``applyInArrow`` over ``matrix``: the Arrow batch is
the unit of transfer and no pandas object is built.
"""

from __future__ import annotations

from typing import Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def matrix(vectors, dim: Optional[int] = None) -> np.ndarray:
    """A (chunked or sliced) Arrow list array of ``n`` vectors as a
    fresh C-contiguous ``(n, dim)`` float64 matrix; ``dim`` defaults to
    the rows' length, and no rows give ``(0, dim or 0)``.

    The values come through ``pc.list_flatten``, which honours a sliced
    batch's offset, and are always copied: a matrix-vector product over
    a view at an Arrow buffer offset can differ in its last ulp from the
    same product over a fresh array, and the cosine operators report
    6-dp-rounded values that oracles compare exactly. Raises
    ``ValueError`` on a NULL row or rows of unequal length."""
    if isinstance(vectors, pa.ChunkedArray):
        vectors = vectors.combine_chunks()
    lens = np.diff(vectors.offsets.to_numpy())
    if dim is None:
        dim = int(lens[0]) if len(lens) else 0
    if vectors.null_count or (lens != dim).any():
        raise ValueError(f"vectors must be non-NULL and of length {dim}")
    flat = pc.list_flatten(vectors).to_numpy(zero_copy_only=False)
    return np.array(flat, dtype=np.float64).reshape(len(vectors), dim)


def norms(V: np.ndarray) -> np.ndarray:
    """Euclidean length of each row of ``V`` (NaN for a row that holds
    a NaN)."""
    return np.linalg.norm(V, axis=1)


def unit_rows(V: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """``(U, ok)``: each row of ``V`` divided by its length, and whether
    it has a direction (length > 0, so False for zero and NaN lengths).
    A zero row stays zero; a row of NaN length comes out all NaN. Rows
    that are not ``ok`` have no cosine: callers drop or mask them."""
    n = norms(V)
    return V / np.where(n == 0, 1.0, n)[:, None], n > 0


def dim_check(vec: Column, dim: int) -> Column:
    """Per-row declared-dim guard as a FILTER predicate: true when the
    vector's size equals ``dim``, raises otherwise. A wrong declared
    dim otherwise produces silently-wrong math (GEMMs against planes or
    pivots of the wrong width, the bucket-collapse degeneration the LSH
    docstrings document). Use via ``.where(dim_check(col, dim))`` — a
    predicate evaluates ONCE per row. ``size()`` is O(1) on arrays — no
    extra Spark job, unlike a ``first()`` check."""
    return F.when(F.size(vec) == dim, F.lit(True)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"declared dim={dim} but embedding has size "),
                F.size(vec).cast("string"),
            )
        )
    )


def embedding_base(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: Optional[int],
    id_as: str = "_id",
    vec_as: str = "_v",
) -> Tuple[Optional[DataFrame], Optional[int]]:
    """``(base, dim)``: ``df``'s id and vector columns as ``id_as`` and
    ``vec_as``, the vector cast to ``array<double>`` and every row's
    size checked against ``dim`` (``dim_check``). ``dim=None`` takes
    the first row's size, one ``first()`` job; when ``df`` has no row,
    both are None."""
    base = df.select(
        F.col(id_col).alias(id_as), F.col(vec_col).cast("array<double>").alias(vec_as)
    )
    if dim is None:
        first = base.select(F.size(vec_as)).first()
        if first is None:
            return None, None
        dim = first[0]
    return base.where(dim_check(F.col(vec_as), dim)), dim
