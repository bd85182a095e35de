"""Approximate-nearest-neighbor search over an embedding column.

* ``brute_force_topk`` — exact cosine top-k: candidate pair join +
  window rank. The correctness baseline; O(Q·N) pairs but the pair
  rows are narrow and Catalyst broadcasts the (small) query side.
* ``hyperplane_lsh_topk`` — the scale path: random-hyperplane signed
  signatures (Charikar 2002 SimHash-for-cosine) bucket the corpus;
  top-k is searched only within matching buckets (multi-probe via
  several independent tables). Hyperplanes derive deterministically
  from a seed (``hashing.splitmix64``), so signatures are stable
  across partitionings; recall is tunable with n_tables × n_bits.
* ``ivf_topk`` — IVF-style variant: k-means-free coarse quantizer
  using hash-selected pivot vectors; probes the closest n_probe cells.

At 10^12 rows the bucket join replaces an impossible cross join.
Distance/signature math runs as numpy GEMMs inside Arrow-batched
pandas UDFs (pivot/plane matrices closed over — implicit broadcast):
the r1-r3 pure-expression forms were exactly as distributed, but at
dim=64 their expanded/interpreted trees cost seconds-per-call of
driver-side PLANNING + janino compile (measured ~2 s for one 64-term
dot, ~30 s for IVF's 16×64 cell scorer) — the plan, not the data, was
the bottleneck.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from contessa_spark.hashing import splitmix64


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


def _hyperplanes(dim: int, n_bits: int, seed: int) -> List[List[float]]:
    """Deterministic pseudo-gaussian hyperplanes from a seed (sum of
    uniforms ≈ normal; all integer hashing, no RNG state)."""
    planes = []
    for b in range(n_bits):
        row = []
        for d in range(dim):
            acc = 0.0
            for r in range(4):
                h = splitmix64(seed * 1_000_003 + b * 10_007 + d * 101 + r)
                acc += (h / 2**64) - 0.5
            row.append(acc)
        planes.append(row)
    return planes


def bucket_signatures_udf(dim: int, n_bits: int, n_tables: int, seed: int):
    """pandas UDF: vector → array<long> of per-table sign-bucket ids
    (index = table). Table t uses ``_hyperplanes(dim, n_bits, seed +
    7919·t)``; bit i is set iff dot(plane_i, v) ≥ 0 and bucket = Σ 1<<i,
    all computed as one (batch × n_tables·n_bits) GEMM."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes = np.array(
        [
            _hyperplanes(dim, n_bits, seed + 7919 * t)
            for t in range(n_tables)
        ],
        dtype=np.float64,
    ).reshape(n_tables * n_bits, dim)
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    def _buckets(vecs):
        V = np.array(list(vecs), dtype=np.float64)
        if V.ndim != 2:  # empty batch
            return pd.Series([[] for _ in range(len(vecs))])
        bits = (V @ planes.T) >= 0  # (n, n_tables*n_bits)
        bits = bits.reshape(len(V), n_tables, n_bits)
        buckets = (bits * weights[None, None, :]).sum(axis=2)
        return pd.Series(buckets.astype(np.int64).tolist())

    _buckets.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return F.pandas_udf(_buckets, T.ArrayType(T.LongType()))


def pair_cosine_udf():
    """pandas UDF: (vec_a, vec_b) → cosine rounded to 6 dp — one
    vectorized einsum per Arrow batch. Used for exact re-ranking on
    candidate pairs: a dim-expanded codegen dot is equally exact but
    costs ~2 s of planning+janino per execution at dim=64 (measured).
    A zero-norm vector yields NaN — and in Spark SQL NaN compares
    GREATER than every double (NaN >= t is TRUE; NaN sorts FIRST under
    desc), the opposite of numpy/SQL-standard semantics. Consumers must
    therefore DROP NaN rows explicitly (``~F.isnan('cosine')``) before
    any threshold or rank — every operator in this module does."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    def _cos(a, b):
        A = np.array(list(a), dtype=np.float64)
        B = np.array(list(b), dtype=np.float64)
        if A.ndim != 2:
            return pd.Series(np.zeros(len(a), dtype=np.float64))
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(np.round(num / den, 6))

    _cos.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    # asNondeterministic (guide §4.4): every consumer filters on the
    # UDF column (NaN drop / threshold), and the optimizer otherwise
    # duplicates the eval below the pushed filter AND in the projection
    # — each candidate pair paid the einsum twice (verified: 2
    # ArrowEvalPython nodes → 1 in all three ANN verify plans). The
    # function is pure; the marking only stops reorder/duplication.
    return F.pandas_udf(_cos, T.DoubleType()).asNondeterministic()


def brute_force_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k via blocked GEMM: the query matrix (a top-k
    query set is small by definition) is collected once and closed over
    the scorer UDF — an implicit broadcast — and each corpus Arrow
    batch computes its full similarity block with ONE numpy float64
    matmul; per-batch local top-k results are merged once per PARTITION
    (two-level re-rank), so the final global window ranks only
    ≤ partitions×k rows per query (each level's local top-k ⊇ the
    global top-k, so this stays exact). Zero-norm vectors (NaN cosine)
    are masked out inside the block — they never reach ranking.

    Output: (query_id, neighbor_id, cosine, rank); cosine rounded to
    6 dp BEFORE ranking (deterministic and engine-agnostic — raw-double
    ordering can disagree with an external oracle in the last ulp),
    ties break on neighbor_id.

    Why GEMM and not a codegen pair join: the expression form expands
    the dot to ``dim`` element_at terms, and at dim=64 the PLANNING +
    janino compile of that tree costs ~2 s per query execution —
    dominating any corpus below ~10⁶ rows (measured; the r1-r3 form).
    The GEMM plan is a dozen nodes, and 25M dots are a handful of BLAS
    calls instead of 25M interpreted-or-compiled expressions.

    ``max_queries`` guards the driver collect: beyond it, raise —
    a query set that large should use ``hyperplane_lsh_topk`` or a
    bucketed join, not all-pairs brute force."""
    import numpy as np
    import pandas as pd

    corpus = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    qrows = query_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).take(max_queries + 1)
    if len(qrows) > max_queries:
        raise ValueError(
            f"brute_force_topk query side exceeds max_queries="
            f"{max_queries}; use hyperplane_lsh_topk / ivf_topk for "
            "large query sets"
        )
    if not qrows:
        return df.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r["_qv"] for r in qrows], dtype=np.float64)
    if dim is not None and Q.shape[1] != dim:
        raise ValueError(
            f"declared dim={dim} but query embeddings have size {Q.shape[1]}"
        )
    dim = Q.shape[1]
    Qn = np.linalg.norm(Q, axis=1)
    corpus = corpus.where(dim_check(F.col("_cv"), dim))

    def score_blocks(batches):
        # Two-level top-k: per-BATCH local top-k is accumulated across
        # the whole partition and merged ONCE at iterator exhaustion, so
        # each partition emits ≤ k rows per query. The final per-query
        # window therefore re-ranks ≤ partitions×k rows — bounded by the
        # layout, not by the Arrow batch count (at 10⁶ batches the old
        # per-batch emission concentrated 10⁷ rows in one window task).
        out_q, out_n, out_c = [], [], []
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            C = np.array(list(pdf["_cv"]), dtype=np.float64)
            Cn = np.linalg.norm(C, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (C @ Q.T) / (Cn[:, None] * Qn[None, :])  # (nc, nq)
            S = np.round(S, 6)
            kk = min(k, len(ids))
            for j in range(len(qids)):
                col = S[:, j]
                # exclude self AND zero-norm NaN cosines (numpy lexsort
                # puts NaN LAST but Spark's window ranks it FIRST — mask
                # here so both levels agree: NaN never appears at all)
                mask = (ids != qids[j]) & np.isfinite(col)
                cand_ids = ids[mask]
                cand = col[mask]
                if not cand.size:
                    continue
                # local top-k on (cosine desc, id asc): lexsort keys
                order = np.lexsort((cand_ids, -cand))[:kk]
                out_q.append(np.full(len(order), qids[j], dtype=np.int64))
                out_n.append(cand_ids[order])
                out_c.append(cand[order])
        if out_q:
            aq = np.concatenate(out_q)
            an = np.concatenate(out_n)
            ac = np.concatenate(out_c)
            # partition-level merge: per-query top-k over the batch winners
            order = np.lexsort((an, -ac, aq))  # (query, cosine desc, id)
            aq, an, ac = aq[order], an[order], ac[order]
            # rank within each query run: position − run start
            starts = np.flatnonzero(np.r_[True, aq[1:] != aq[:-1]])
            run_id = np.cumsum(np.r_[True, aq[1:] != aq[:-1]]) - 1
            pos = np.arange(len(aq)) - starts[run_id]
            keep = pos < k
            yield pd.DataFrame(
                {
                    "query_id": aq[keep],
                    "neighbor_id": an[keep],
                    "cosine": ac[keep],
                }
            )

    local = corpus.mapInPandas(
        score_blocks, schema="query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_lsh_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: per-table sign-bucket join, union of candidates,
    exact re-rank. Recall < 1 by design; the bucket join shuffles
    (table, bucket) keys instead of forming Q×N pairs.

    ``dim`` MUST equal the true vector dimension (inferred via one
    ``first()`` job when omitted): the hyperplane matrix is built at
    that size, and the r1 zip_with form silently degenerated ALL rows
    into bucket 0 on a mismatch (found by the oracle gate; hence
    inference-by-default). A wrong DECLARED dim now raises per-row
    (``dim_check``) before any signature math runs.

    Candidate dedup happens on (query_id, neighbor_id) ID PAIRS ONLY —
    a table/bucket can pair the same ids up to n_tables times, and
    carrying the two vectors through that distinct would put
    ~2·dim·8 bytes/row (~1 KB at dim=64) on the dedup shuffle for no
    reason. Vectors re-attach afterwards: the corpus side by join, the
    query side broadcast (a top-k query set is small by construction) —
    ~16× fewer dedup-shuffle bytes at dim=64."""
    corpus = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    queries = query_df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    if dim is None:
        first = corpus.select(F.size("_cv")).first()
        if first is None:
            return df.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, cosine double, rank int"
            )
        dim = first[0]
    corpus = corpus.withColumn("_cv", F.col("_cv").cast("array<double>")).where(
        dim_check(F.col("_cv"), dim)
    )
    queries = queries.withColumn("_qv", F.col("_qv").cast("array<double>")).where(
        dim_check(F.col("_qv"), dim)
    )

    buckets = bucket_signatures_udf(dim, n_bits, n_tables, seed)
    c_all = corpus.select(
        "neighbor_id", F.posexplode(buckets(F.col("_cv"))).alias("tbl", "bucket")
    )
    q_all = queries.select(
        "query_id", F.posexplode(buckets(F.col("_qv"))).alias("tbl", "bucket")
    )

    cand = (
        c_all.join(q_all, ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(corpus, "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .withColumn("cosine", pair_cosine_udf()(F.col("_qv"), F.col("_cv")))
        # zero-norm vectors → NaN, which Spark ranks FIRST under desc —
        # drop before the window so they never outrank real neighbors
        .where(~F.isnan(F.col("cosine")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _ivf_train_sample(
    corpus: DataFrame,
    vec_df_col: str,
    seed: int,
    train_fraction: Optional[float],
    max_train_vectors: int,
) -> DataFrame:
    """The IVF quantizer's train sample: a hash-threshold predicate
    (``train_fraction``) and the ``max_train_vectors`` rows of lowest
    ``xxhash64(neighbor_id, seed)`` — layout-stable, bounded driver
    memory, and an ordered limit that compiles to
    TakeOrderedAndProject, never a global sort."""
    train = corpus
    if train_fraction is not None:
        thr = max(1, int(train_fraction * 1_000_000))
        train = corpus.where(
            F.pmod(
                F.xxhash64(F.col("neighbor_id"), F.lit(seed * 2 + 1)),
                F.lit(1_000_000),
            )
            < thr
        )
    return (
        train.withColumn("_h", F.xxhash64(F.col("neighbor_id"), F.lit(seed)))
        .orderBy("_h", "neighbor_id")  # total order: bit-stable collect
        .limit(max_train_vectors)
        .select(vec_df_col)
    )


def _train_ivf_pivots(
    corpus: DataFrame,
    vec_df_col: str,
    dim: int,
    n_cells: int,
    seed: int,
    train_iters: int,
    train_fraction: Optional[float],
    max_train_vectors: int = 100_000,
) -> List[List[float]]:
    """Spherical-k-means coarse quantizer, faiss-style: the TRAIN
    SAMPLE is collected once (hash-threshold predicate + hash-ordered
    ``max_train_vectors`` cap — layout-stable, bounded driver memory)
    and ``train_iters`` Lloyd iterations run driver-side in numpy
    (assign to argmax dot, update = renormalized per-cell mean, empty
    cells keep their pivot). A quantizer needs thousands of vectors,
    not the corpus — this is how every production IVF trains.

    vs the r1-r3 Spark-side Lloyd loop, this removes (a) one full
    Spark job per iteration whose plan embedded n_cells × dim
    expression terms (~30 s of planning/janino per ivf_topk call,
    measured), and (b) a latent nondeterminism: distributed float
    SUM order depends on the physical partitioning, so pivot means —
    and thus cell boundaries — could drift across layouts; the
    driver-side sum over hash-ordered rows is bit-stable.

    Init rows = the ``n_cells`` lowest-hash sample rows
    (``_ivf_train_sample`` returns them first)."""
    import numpy as np

    rows = _ivf_train_sample(
        corpus, vec_df_col, seed, train_fraction, max_train_vectors
    ).collect()
    if not rows:
        return []
    V = np.array([r[vec_df_col] for r in rows], dtype=np.float64)

    def _unit_rows(M):
        n = np.linalg.norm(M, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return M / n

    P = _unit_rows(V[: min(n_cells, len(V))].copy())
    for _ in range(train_iters):
        cell = np.argmax(V @ P.T, axis=1)  # first-max, like the SQL form
        newP = P.copy()
        for c in range(len(P)):
            members = V[cell == c]
            if len(members):
                newP[c] = members.sum(axis=0)
        P = _unit_rows(newP)
    return [[float(x) for x in p] for p in P]


def hyperplane_lsh_join(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bits: int = 8,
    n_tables: int = 6,
    seed: int = 42,
    max_df: Optional[int] = None,
    observation=None,
    dim: Optional[int] = None,
) -> DataFrame:
    """Embedding near-dup pairs via LSH pre-bucketing — the 10⁹-vector
    path that ``dedup.embedding_near_dups_blocked`` (exact all-pairs
    GEMM) cannot walk.

    Plan: per table, a sign-signature bucket id
    (``bucket_signatures_udf``: deterministic hyperplanes, one GEMM per
    Arrow batch); candidate pairs emitted per (table, bucket) group by
    the capped ``mapInArrow`` group pass MinHash, the Hamming
    near-dups and the capped n-gram path share (``dedup._group_pairs``,
    including its ``max_df`` hot-bucket cap) — then every candidate is
    verified with ``pair_cosine_udf``.
    No cross join and no all-blocks-pair join anywhere; shuffles carry
    (table, bucket, id) entries and candidate id pairs only.

    Recall for a pair at cosine s: 1 − (1 − p^n_bits)^n_tables with
    p = 1 − arccos(s)/π (Charikar 2002). At threshold 0.95 the default
    (8 bits × 6 tables) gives ≈ 0.96; for low thresholds use fewer
    bits / more tables.
    """
    from contessa_spark.operators.dedup import _group_pairs, _id_pairs

    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    if dim is None:
        first = base.select(F.size("_v")).first()
        if first is None:
            return df.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cosine double"
            )
        dim = first[0]
    base = base.where(dim_check(F.col("_v"), dim))

    entries = base.select(
        "_id",
        F.posexplode(
            bucket_signatures_udf(dim, n_bits, n_tables, seed)(F.col("_v"))
        ).alias("tbl", "bucket"),
    )

    cand = _group_pairs(
        entries, ["tbl", "bucket"], "_id", _id_pairs, "id_a long, id_b long", max_df, observation
    ).distinct()

    a = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        # pair_cosine_udf rounds to 6dp; thresholding the rounded value
        # keeps the verify decision identical to the reported cosine.
        # NaN (zero-norm vector) satisfies >= in Spark — drop explicitly.
        .withColumn("cosine", pair_cosine_udf()(F.col("va"), F.col("vb")))
        .where(~F.isnan(F.col("cosine")) & (F.col("cosine") >= threshold))
        .select("id_a", "id_b", "cosine")
    )


def ivf_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_iters: int = 3,
    train_fraction: Optional[float] = None,
    dim: Optional[int] = None,
) -> DataFrame:
    """IVF-flat ANN: spherical-k-means pivots (deterministic
    sample-trained quantizer — see ``_train_ivf_pivots``), every
    vector assigned to its best cell, queries probe the ``n_probe``
    best cells, exact re-rank inside.

    The pivot matrix is tiny and lives in the UDF closures (implicit
    broadcast): assignment/probing is one numpy GEMM per Arrow batch,
    the re-rank a vectorized ``pair_cosine_udf``. (The r1-r3 form
    expanded everything to n_cells × dim codegen terms — measured
    ~30 s of driver-side planning+janino PER CALL at 16×64, dwarfing
    execution; same lesson as ``brute_force_topk``.) Pivots are unit
    vectors, so argmax-dot ≡ argmax-cosine without per-row norms; the
    cell join still shuffles on the cell key — the architecture that
    survives query sets too large to collect.

    Probe ties break on the LOWER cell id (numpy stable argsort).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    corpus = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    if dim is None:
        first = corpus.select(F.size("_cv")).first()
        if first is None:
            return df.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, cosine double, rank int"
            )
        dim = first[0]
    corpus = corpus.where(dim_check(F.col("_cv"), dim))
    pivots = _train_ivf_pivots(
        corpus, "_cv", dim, n_cells, seed, train_iters, train_fraction
    )
    if not pivots:
        return df.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    P = np.array(pivots, dtype=np.float64)

    def _probe_udf(n: int):
        def _cells(vecs):
            V = np.array(list(vecs), dtype=np.float64)
            if V.ndim != 2:
                return pd.Series([[] for _ in range(len(vecs))])
            S = V @ P.T
            order = np.argsort(-S, axis=1, kind="stable")[:, :n]
            return pd.Series(order.astype(np.int32).tolist())

        _cells.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
        # pure; marked non-deterministic so the join/filter on the
        # derived cell column can't duplicate the GEMM eval (§4.4)
        return F.pandas_udf(
            _cells, T.ArrayType(T.IntegerType())
        ).asNondeterministic()

    c_assigned = corpus.withColumn(
        "cell", F.element_at(_probe_udf(1)(F.col("_cv")), 1)
    )
    queries = query_df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).where(dim_check(F.col("_qv"), dim))
    q_assigned = queries.withColumn(
        "cell", F.explode(_probe_udf(n_probe)(F.col("_qv")))
    )
    scored = (
        c_assigned.join(q_assigned, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        # rank on the ROUNDED score: deterministic and engine-agnostic
        # (raw-double ordering can disagree in the last ulp)
        .withColumn("cosine", pair_cosine_udf()(F.col("_qv"), F.col("_cv")))
        # NaN (zero-norm) would rank FIRST under desc in Spark — drop
        .where(~F.isnan(F.col("cosine")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
