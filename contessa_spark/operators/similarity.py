"""Approximate-nearest-neighbor search over an embedding column.

* ``brute_force_topk`` — exact cosine top-k: one GEMM per corpus
  Arrow batch against the collected query matrix + window rank. The
  correctness baseline; O(Q·N) dots, no pair rows at all.
* ``hyperplane_lsh_topk`` — the scale path: random-hyperplane signed
  signatures (Charikar 2002 SimHash-for-cosine) bucket the corpus;
  top-k is searched only within matching buckets (multi-probe via
  several independent tables). Hyperplanes derive deterministically
  from a seed (``hashing.splitmix64``), so signatures are stable
  across partitionings; recall is tunable with n_tables × n_bits.
* ``ivf_topk`` — IVF-style variant: k-means-free coarse quantizer
  using hash-selected pivot vectors; probes the closest n_probe cells.

At 10^12 rows the bucket join replaces an impossible cross join.
Distance/signature math runs as numpy GEMMs over each Arrow batch's
``vectors.matrix`` inside ``arrow_udf``s and ``mapInArrow`` (pivot/plane
matrices closed over — implicit broadcast):
the r1-r3 pure-expression forms were exactly as distributed, but at
dim=64 their expanded/interpreted trees cost seconds-per-call of
driver-side PLANNING + janino compile (measured ~2 s for one 64-term
dot, ~30 s for IVF's 16×64 cell scorer) — the plan, not the data, was
the bottleneck.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from contessa_spark.hashing import list_array, splitmix64
from contessa_spark.vectors import embedding_base, matrix, norms, unit_rows

#: the top-k searches' output, also when there is nothing to search
_TOPK_SCHEMA = "query_id long, neighbor_id long, cosine double, rank int"


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
    """Arrow UDF: vector → array<long> of per-table sign-bucket ids
    (index = table). Table t uses ``_hyperplanes(dim, n_bits, seed +
    7919·t)``; bit i is set iff dot(plane_i, v) ≥ 0 and bucket = Σ 1<<i,
    all computed as one (batch × n_tables·n_bits) GEMM."""
    planes = np.array(
        [
            _hyperplanes(dim, n_bits, seed + 7919 * t)
            for t in range(n_tables)
        ],
        dtype=np.float64,
    ).reshape(n_tables * n_bits, dim)
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    def _buckets(vecs: pa.Array) -> pa.Array:
        bits = (matrix(vecs, dim) @ planes.T) >= 0  # (n, n_tables*n_bits)
        buckets = (bits.reshape(len(vecs), n_tables, n_bits) * weights).sum(axis=2)
        return list_array(np.full(len(vecs), n_tables), buckets.astype(np.int64).ravel())

    return F.arrow_udf(_buckets, "array<bigint>")


def _pair_cosines(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row i's cosine of ``A[i]`` and ``B[i]``, rounded to 6 dp: one
    einsum over the pairs; a zero-norm row gives NaN."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.round(np.einsum("ij,ij->i", A, B) / (norms(A) * norms(B)), 6)


def pair_cosine_udf():
    """Arrow UDF: (vec_a, vec_b) → cosine rounded to 6 dp — one
    vectorized einsum per Arrow batch. Used for exact re-ranking on
    candidate pairs: a dim-expanded codegen dot is equally exact but
    costs ~2 s of planning+janino per execution at dim=64 (measured).
    A zero-norm vector yields NaN — and in Spark SQL NaN compares
    GREATER than every double (NaN >= t is TRUE; NaN sorts FIRST under
    desc), the opposite of numpy/SQL-standard semantics. Consumers must
    therefore DROP NaN rows explicitly (``~F.isnan('cosine')``) before
    any threshold or rank — every operator in this module does."""

    def _cos(a: pa.Array, b: pa.Array) -> pa.Array:
        return pa.array(_pair_cosines(matrix(a), matrix(b)))

    # asNondeterministic (guide §4.4): every consumer filters on the
    # UDF column (NaN drop / threshold), and the optimizer otherwise
    # duplicates the eval below the pushed filter AND in the projection
    # — each candidate pair paid the einsum twice (verified: 2
    # ArrowEvalPython nodes → 1 in all three ANN verify plans). The
    # function is pure; the marking only stops reorder/duplication.
    return F.arrow_udf(_cos, "double").asNondeterministic()


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The re-rankers' one tail: each query's ``k`` best rows of
    ``scored`` by (cosine desc, neighbor_id asc), ranked from 1."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


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
    qt = (
        query_df.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        )
        .limit(max_queries + 1)
        .toArrow()
    )
    if qt.num_rows > max_queries:
        raise ValueError(
            f"brute_force_topk query side exceeds max_queries="
            f"{max_queries}; use hyperplane_lsh_topk / ivf_topk for "
            "large query sets"
        )
    if not qt.num_rows:
        return df.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    qids = qt.column("query_id").to_numpy().astype(np.int64)
    Q = matrix(qt.column("_qv"))
    if dim is not None and Q.shape[1] != dim:
        raise ValueError(
            f"declared dim={dim} but query embeddings have size {Q.shape[1]}"
        )
    dim = Q.shape[1]
    Qn = norms(Q)
    corpus, _ = embedding_base(df, id_col, vec_col, dim, "neighbor_id", "_cv")

    def score_blocks(batches):
        # Two-level top-k: per-BATCH local top-k is accumulated across
        # the whole partition and merged ONCE at iterator exhaustion, so
        # each partition emits ≤ k rows per query. The final per-query
        # window therefore re-ranks ≤ partitions×k rows — bounded by the
        # layout, not by the Arrow batch count (at 10⁶ batches the old
        # per-batch emission concentrated 10⁷ rows in one window task).
        out_q, out_n, out_c = [], [], []
        for b in batches:
            if not b.num_rows:
                continue
            ids = b.column(0).to_numpy().astype(np.int64)
            C = matrix(b.column(1), dim)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (C @ Q.T) / (norms(C)[:, None] * Qn[None, :])  # (nc, nq)
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
            yield pa.RecordBatch.from_arrays(
                [pa.array(aq[keep]), pa.array(an[keep]), pa.array(ac[keep])],
                names=["query_id", "neighbor_id", "cosine"],
            )

    return _top_k(
        corpus.mapInArrow(
            score_blocks, schema="query_id long, neighbor_id long, cosine double"
        ),
        k,
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
    corpus, dim = embedding_base(df, id_col, vec_col, dim, "neighbor_id", "_cv")
    if corpus is None:
        return df.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    queries, _ = embedding_base(query_df, id_col, vec_col, dim, "query_id", "_qv")

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
    return _top_k(scored, k)


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
) -> np.ndarray:
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
    (``_ivf_train_sample`` returns them first). Returns the
    ``(n_cells, dim)`` unit pivot matrix; no rows for an empty sample."""
    V = matrix(
        _ivf_train_sample(
            corpus, vec_df_col, seed, train_fraction, max_train_vectors
        ).toArrow().column(0),
        dim,
    )
    if not len(V):
        return V
    P = unit_rows(V[:n_cells])[0]
    for _ in range(train_iters):
        cell = np.argmax(V @ P.T, axis=1)  # first-max, like the SQL form
        newP = P.copy()
        for c in range(len(P)):
            members = V[cell == c]
            if len(members):
                newP[c] = members.sum(axis=0)
        P = unit_rows(newP)[0]
    return P


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
    Arrow batch); each (table, bucket) group collects ``struct(_id,
    _v)`` and goes through the capped ``mapInArrow`` group pass MinHash,
    the Hamming near-dups and the capped n-gram path share
    (``dedup._group_pairs``, including its ``max_df`` hot-bucket cap).
    The group step verifies its own candidates: a batch's pairs are
    deduped, and each remaining pair's cosine is the one einsum of
    ``pair_cosine_udf`` over the two vectors carried in the group —
    no join back to the vectors, no cross join, no all-blocks-pair
    join; ``distinct()`` leaves one row per pair. The group shuffle
    carries each vector once per table it shares a bucket in, which is
    still less than the two join-backs moved (12.4 → 6.4 MB shuffled
    by ``embedding_near_dups_lsh`` at sf0.1).

    Recall for a pair at cosine s: 1 − (1 − p^n_bits)^n_tables with
    p = 1 − arccos(s)/π (Charikar 2002). At threshold 0.95 the default
    (8 bits × 6 tables) gives ≈ 0.96; for low thresholds use fewer
    bits / more tables.
    """
    from contessa_spark.operators.dedup import _distinct_pairs, _group_pairs

    base, dim = embedding_base(df, id_col, vec_col, dim)
    if base is None:
        return df.sparkSession.createDataFrame([], "id_a long, id_b long, cosine double")

    def cosine_step(cols, x, y):
        ids, V = cols["_id"], cols["_v"]
        x, y, _ = _distinct_pairs(ids, x, y)
        cos = _pair_cosines(V[x], V[y])
        # the threshold applies to the rounded cosine, so the verify
        # decision is the reported value's; NaN (a zero-norm vector)
        # fails it
        m = cos >= threshold
        return {"id_a": ids[x][m], "id_b": ids[y][m], "cosine": cos[m]}

    entries = base.select(
        F.posexplode(
            bucket_signatures_udf(dim, n_bits, n_tables, seed)(F.col("_v"))
        ).alias("tbl", "bucket"),
        F.struct("_id", "_v").alias("_doc"),
    )
    return _group_pairs(
        entries,
        ["tbl", "bucket"],
        "_doc",
        cosine_step,
        "id_a long, id_b long, cosine double",
        max_df,
        observation,
    ).distinct()


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
    corpus, dim = embedding_base(df, id_col, vec_col, dim, "neighbor_id", "_cv")
    if corpus is None:
        return df.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    P = _train_ivf_pivots(
        corpus, "_cv", dim, n_cells, seed, train_iters, train_fraction
    )
    if not len(P):
        return df.sparkSession.createDataFrame([], _TOPK_SCHEMA)

    def _probe_udf(n: int):
        def _cells(vecs: pa.Array) -> pa.Array:
            order = np.argsort(-(matrix(vecs, dim) @ P.T), axis=1, kind="stable")[:, :n]
            return list_array(np.full(len(vecs), order.shape[1]), order.astype(np.int32).ravel())

        # pure; marked non-deterministic so the join/filter on the
        # derived cell column can't duplicate the GEMM eval (§4.4)
        return F.arrow_udf(_cells, "array<int>").asNondeterministic()

    c_assigned = corpus.withColumn(
        "cell", F.element_at(_probe_udf(1)(F.col("_cv")), 1)
    )
    queries, _ = embedding_base(query_df, id_col, vec_col, dim, "query_id", "_qv")
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
    return _top_k(scored, k)
