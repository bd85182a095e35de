"""Misra–Gries heavy hitters: deterministic guarantee bounds under
multiple layouts, exact regime (capacity ≥ distinct), skewed-item
presence, null filtering."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _exact_counts(spark, df, value_col, group_col=None):
    from pyspark.sql import functions as F

    gc = [group_col] if group_col else []
    rows = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*gc, value_col)
        .count()
        .collect()
    )
    out = {}
    for r in rows:
        key = r[group_col] if group_col else None
        out.setdefault(key, {})[r[value_col]] = r["count"]
    return out


def test_exact_regime_matches_true_topk(spark):
    """capacity ≥ distinct items per partition → zero decrements: MG
    IS the exact top-k, layout-invariant, max_undercount = 0."""
    from contessa_spark.operators.heavy_hitters import misra_gries_topk

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = misra_gries_topk(
        ev, "user_id", "event_type", k=10, capacity=4096
    ).collect()
    true = _exact_counts(spark, ev, "user_id", "event_type")
    assert out
    for r in out:
        assert r["max_undercount"] == 0
        assert r["est_count"] == true[r["event_type"]][r["item"]]
    # rank ordering: count desc, item asc
    by_g = {}
    for r in out:
        by_g.setdefault(r["event_type"], []).append(r)
    for g, rs in by_g.items():
        rs.sort(key=lambda r: r["rank"])
        want = sorted(
            true[g].items(), key=lambda kv: (-kv[1], kv[0])
        )[: len(rs)]
        assert [(r["item"], r["est_count"]) for r in rs] == want
    # layout invariance in the exact regime
    out2 = misra_gries_topk(
        ev.repartition(7), "user_id", "event_type", k=10, capacity=4096
    ).collect()
    key = lambda r: (r["event_type"], r["rank"])
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_guarantee_bounds_hold_under_any_layout(spark):
    """Tiny capacity forces decrements; estimates become layout-
    dependent but the MG guarantee (true − undercount ≤ est ≤ true)
    must hold in every layout."""
    from contessa_spark.operators.heavy_hitters import misra_gries_topk

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    true = _exact_counts(spark, ev, "user_id")
    for nparts in (1, 3, 17):
        out = misra_gries_topk(
            ev.repartition(nparts), "user_id", k=200, capacity=8
        ).collect()
        assert out
        for r in out:
            t = true[None][r["item"]]
            assert r["est_count"] <= t, (r, t)
            assert t - r["est_count"] <= r["max_undercount"], (r, t)


def test_skewed_heavy_hitter_always_survives(spark):
    """An item holding 50 % of the stream beats any capacity-8 summary:
    guaranteed present with a positive lower bound."""
    from pyspark.sql import functions as F

    from contessa_spark.operators.heavy_hitters import misra_gries_topk

    df = spark.range(4000).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold_"), F.col("id")))
        .alias("v")
    )
    out = misra_gries_topk(df.repartition(5), "v", k=5, capacity=8).collect()
    top = {r["item"]: r for r in out}
    assert "hot" in top
    r = top["hot"]
    assert r["rank"] == 1
    assert r["est_count"] >= 2000 - r["max_undercount"]
    assert r["est_count"] - r["max_undercount"] > 0


def test_nulls_filtered_and_group_isolation(spark):
    from contessa_spark.operators.heavy_hitters import misra_gries_topk

    rows = [("a", "x"), ("a", "x"), ("a", None), ("b", "y"), ("b", "x")]
    df = spark.createDataFrame(rows, "g string, v string")
    out = misra_gries_topk(df, "v", "g", k=5, capacity=16).collect()
    got = {(r["g"], r["item"]): r["est_count"] for r in out}
    assert got == {("a", "x"): 2, ("b", "x"): 1, ("b", "y"): 1}


def test_max_undercount_is_sum_of_partition_decrements(spark):
    """``max_undercount`` is the sum of each partition's decrement
    total, and est_count the sum of its surviving counters: equal to a
    pure-Python weighted Misra–Gries run over each partition of a
    fixed-layout input at capacity 8. Within a partition and group every
    item's count is distinct, so the summary's count-descending update
    order is fixed. Items sit above 2**53, where a float64 round trip
    would change them."""
    from collections import Counter

    from contessa_spark.operators.heavy_hitters import misra_gries_topk

    # five equal blocks, one per partition; items overlap across blocks
    base = 2**60
    rows = [
        (g, base + 7 * p + j)
        for p in range(5)
        for g in ("a", "b")
        for j in range(12 + (g == "b"))
        for _ in range(j + 1)
    ]
    rdd = spark.sparkContext.parallelize(rows, 5)
    df = spark.createDataFrame(rdd, "g string, v long")

    capacity, dec, est = 8, Counter(), Counter()
    parts = rdd.glom().collect()
    assert [len(set(part)) for part in parts] == [25] * 5
    for part in parts:
        for g in ("a", "b"):
            counters, d = {}, 0
            for item, c in Counter(v for h, v in part if h == g).most_common():
                counters[item] = c
                if len(counters) > capacity:
                    m = min(counters.values())
                    d += m
                    counters = {i: n - m for i, n in counters.items() if n > m}
            dec[g] += d
            est.update({(g, i): n for i, n in counters.items()})
    assert all(dec.values())

    out = misra_gries_topk(df, "v", "g", k=100, capacity=capacity).collect()
    assert {r["g"]: r["max_undercount"] for r in out} == dec
    assert {(r["g"], r["item"]): r["est_count"] for r in out} == est


def test_tied_counts_update_in_first_seen_order(spark):
    """Within a batch, items with equal counts update the summary in
    first-seen order (``Counter.most_common``'s order). At capacity 2,
    a first batch leaves item 1 at 5 and item 2 at 1; in the second,
    items 3 and 4 (2 each, 3 seen first) each force a decrement of 1,
    so 4 survives, 1 ends at 3 and the undercount is 2."""
    from contessa_spark.operators.heavy_hitters import misra_gries_topk

    df = spark.createDataFrame([(v,) for v in [1] * 5 + [2, 3, 4, 3, 4]], "v long").coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "6")
    try:
        out = misra_gries_topk(df, "v", k=5, capacity=2).collect()
    finally:
        spark.conf.set(key, old)
    assert {r["item"]: r["est_count"] for r in out} == {1: 3, 4: 1}
    assert {r["max_undercount"] for r in out} == {2}
