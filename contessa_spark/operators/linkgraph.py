"""Link-graph operators: PageRank-style domain authority.

Crawl pipelines rank domains by link authority (OPIC in Common Crawl's
crawler; Google's PageRank in the original) and use the score as a
quality prior next to content heuristics. This is the standard power
iteration, Spark-first: each round is one join (distribute rank along
out-edges) + one map-side-combined aggregate (sum contributions per
target) — the textbook iterative-algorithm shape on a DataFrame
engine, with the lineage-truncation lesson from ``dedup_components``
applied (checkpoint every few rounds or the plan tree grows
geometrically).

Reference parity: no counterpart in contessa (SURVEY.md §2
extension — crawl-quality priors).

DETERMINISM — why integer arithmetic: float power iteration sums
contributions in physical-partition order, so the low bits of every
rank depend on the layout, and an external oracle can never
hash-match. Here ranks are scaled integers (``rank * SCALE``) and each
contribution is ``rank * damping_num // (damping_den * out_degree)``
— integer floor division. Integer sums are associative-commutative
EXACTLY, so any partitioning, any engine, any summation order produces
bit-identical ranks. The truncation error per round is < out_degree
ulps of 1/SCALE — irrelevant at SCALE=10⁹ — and buys total
reproducibility (same trick as ``sampling._threshold_hex_floor``).

Dangling nodes (no out-edges) leak their rank mass (their share of the
damping term vanishes) — the simple convention, shared by the oracle;
redistributing dangling mass adds a per-round global sum for a
cosmetic normalization this use case doesn't need (relative order is
what a quality prior consumes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scale: ranks live in [0, SCALE] (sum ≈ n_nodes * SCALE)
SCALE = 1_000_000_000
#: rounds between lineage-truncating checkpoints of the iterated
#: scores: the plan tree grows geometrically with the rounds on a lazy
#: engine (a HITS round is two half-steps, so it checkpoints sooner)
PAGERANK_CHECKPOINT_EVERY = 6
HITS_CHECKPOINT_EVERY = 3


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Integer-arithmetic PageRank over an edge list → (node,
    rank_scaled) with ``rank_scaled ≈ rank × 10⁹``.

    Nodes = distinct endpoints of ``edges`` (isolated nodes don't
    exist in an edge list by definition). Parallel edges count once —
    the edge set is ``distinct()``-ed so multigraph inputs don't
    double-distribute rank (mirror in any oracle).

    Per iteration: ``contrib(e) = rank[src] * damping_num //
    (damping_den * outdeg[src])``; ``rank'[v] = base + Σ contrib`` with
    ``base = (damping_den - damping_num) * SCALE // damping_den``.
    Every rank starts at SCALE (the ×n_nodes convention, so no global
    count is needed to initialize).
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # (src, dst, outdeg) and the node list are loop-invariant: MATERIALIZE
    # them once (eager localCheckpoint, same mechanism as
    # dedup_components) — left lazy, every iteration re-derives them
    # from the source scan and the plan re-reads the input once per
    # round per use (measured on the 3-iter driver query: 14 scans /
    # 33 exchanges collapse to the checkpointed tables' reuse). On a
    # cluster, swap localCheckpoint for persist(MEMORY_AND_DISK) +
    # reliable checkpoint if executor loss matters.
    ed = e.join(outdeg, "src").localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)

    base = (damping_den - damping_num) * SCALE // damping_den
    ranks = nodes.withColumn("rank_scaled", F.lit(SCALE).cast("long"))
    for i in range(iters):
        contribs = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                # `div` is true LONG integer division — `/` would round
                # through binary64 and reintroduce layout-dependent ulps
                F.expr(
                    f"(rank_scaled * {int(damping_num)}L) div "
                    f"({int(damping_den)}L * outdeg)"
                ).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_sum"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("_sum"), F.lit(0)))
            .cast("long")
            .alias("rank_scaled"),
        )
        if (i + 1) % PAGERANK_CHECKPOINT_EVERY == 0:
            # geometric plan growth is the iterative-algorithm tax on a
            # lazy engine; truncate lineage like dedup_components does
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def hits(
    edges: DataFrame,
    iters: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = SCALE,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over an edge list →
    (node, auth_scaled, hub_scaled), L1-normalized fixed-point integers
    with Σ score ≈ ``scale`` per vector.

    The second classic link-authority signal next to :func:`pagerank`:
    a page is a good *authority* if good *hubs* link to it, and vice
    versa — mutual recursion, solved by power iteration. Each half-step
    is one join (pull the partner score across an edge) + one map-side-
    combined sum + one global L1 normalization (a single-row aggregate,
    broadcast back).

    DETERMINISM — same integer design as :func:`pagerank`: scores are
    scaled longs, sums are exactly associative-commutative, and the
    normalization is ``raw * scale div total`` (LONG floor division),
    so any layout / engine / summation order is bit-identical. (Float
    HITS normalizes by the L2 norm; any fixed positive normalization
    yields the same ranking fixed point, and L1 keeps the arithmetic
    in integers.)

    OVERFLOW-SAFE BY CONSTRUCTION: hubs initialize at ``scale div
    n_nodes`` (one count over the checkpointed node list), so every
    vector's L1 mass is ≤ ``scale`` from the start and stays so after
    each normalization. Hence a raw half-step sum is ≤ scale, the
    rescale product ≤ scale², and a total ≤ max_outdegree × scale —
    all < 2⁶³ for the default scale up to ~9×10⁹ degree. Requires
    ``scale ≥ n_nodes`` (raises otherwise); at 10⁹ nodes the uniform
    init is coarse (1 ulp) but the first normalization restores full
    ``scale`` resolution.

    Parallel edges count once (``distinct()``-ed, mirror in oracles).
    A node with no in-edges has authority 0; no out-edges → hub 0. If
    an entire vector sums to 0 (degenerate graphs) it stays all-zero
    instead of dividing by zero.

    Reference parity: no counterpart in contessa (SURVEY.md §2
    extension — crawl-quality priors, linkgraph family).
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # loop-invariant: materialize once (see pagerank above)
    e = e.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)

    def _pull_and_normalize(
        score: DataFrame, score_col: str, edge_from: str, edge_to: str, out_col: str
    ) -> DataFrame:
        """out[v] = normalize(Σ_{edge (from=u, to=v)} score[u])."""
        raw = (
            e.join(score, e[edge_from] == score["node"])
            .groupBy(F.col(edge_to).alias("node"))
            .agg(F.sum(score_col).alias("_raw"))
        )
        raw = nodes.join(raw, "node", "left").select(
            "node", F.coalesce(F.col("_raw"), F.lit(0)).cast("long").alias("_raw")
        )
        total = raw.agg(F.sum("_raw").cast("long").alias("_t"))
        return raw.crossJoin(F.broadcast(total)).select(
            "node",
            F.when(F.col("_t") == 0, F.lit(0).cast("long"))
            .otherwise(F.expr(f"(_raw * {int(scale)}L) div _t"))
            .alias(out_col),
        )

    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("auth_scaled"),
            F.lit(0).cast("long").alias("hub_scaled"),
        )
    init = int(scale) // n_nodes
    if init == 0:
        raise ValueError(
            f"hits: scale={scale} < n_nodes={n_nodes}; raise `scale` "
            "(keep scale**2 < 2**63) so the uniform init is non-zero"
        )
    hub = nodes.withColumn("hub_scaled", F.lit(init).cast("long"))
    auth = None
    for i in range(iters):
        auth = _pull_and_normalize(hub, "hub_scaled", "src", "dst", "auth_scaled")
        hub = _pull_and_normalize(auth, "auth_scaled", "dst", "src", "hub_scaled")
        if (i + 1) % HITS_CHECKPOINT_EVERY == 0 and i + 1 < iters:
            auth = auth.localCheckpoint(eager=True)
            hub = hub.localCheckpoint(eager=True)
    return auth.join(hub, "node")
