"""Misra–Gries heavy hitters: approximate top items with a bounded,
mergeable summary (Misra & Gries 1982; merge rule from Agarwal et al.
2013, "Mergeable Summaries").

The exact top-k operators (`text_analysis.top_terms_per_lang`'s salted
two-level top-k) shuffle every (term, partial count) group. When the
key space is huge (domains, tokens, URLs at 10¹² docs) and only the
heavy tail matters, a Misra–Gries summary needs ONE pass, O(1/ε)
state per partition, and a driver-side merge of ≤ partitions · (1/ε)
candidate rows — no corpus shuffle at all. Deterministic guarantee
(not probabilistic): for every item,

    true_count − εN  ≤  estimate  ≤  true_count

so every item with frequency > εN is guaranteed present (no false
negatives above the threshold), and reported estimates never
overcount.

Spark-first plan: ``mapInPandas`` runs the classic counter algorithm
per Arrow batch stream (value_counts-vectorized, not per-row Python:
each batch's exact counts feed the MG state, decrements amortize), one
summary row per (group, item) candidate; a groupBy-sum merges partial
summaries, subtracting nothing — summing MG summaries and re-pruning
to the top 1/ε preserves the guarantee with ε doubled (Agarwal et al.
Thm 1). Each partition's decrement total rides in the same aggregate
as a NULL-item row and is exposed as ``max_undercount``, so callers
see the actual error bound, not the worst case. The summary is read
once — nothing materialized, no join back.

The ESTIMATES are layout-dependent (merge order changes decrements) —
the GUARANTEE is not. Tests gate the guarantee under multiple layouts;
the driver query is rows-only by design.

Reference parity: contessa has no approximate operators — forward-
looking training-pipeline operator (SURVEY.md §2 extension, sketch
family: MinHash / SimHash / bloom / HLL / MG).
"""

from __future__ import annotations

from typing import List, Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cols(cols: Union[str, Sequence[str], None]) -> List[str]:
    if cols is None:
        return []
    return [cols] if isinstance(cols, str) else list(cols)


def misra_gries_topk(
    df: DataFrame,
    value_col: str,
    group_cols: Union[str, Sequence[str], None] = None,
    k: int = 20,
    capacity: int = 256,
) -> DataFrame:
    """Approximate top-``k`` items per group → group_cols + (item,
    est_count, max_undercount) with est_count descending, item-lex
    tie-break, row_number ≤ k.

    ``capacity`` is the per-partition counter budget (ε = 1/capacity:
    any item with true frequency > N/capacity per partition survives
    locally; after the merge the bound is the SUM of per-partition
    decrements, reported exactly in ``max_undercount`` — identical for
    every row of a group). est_count never exceeds the true count.

    Plan: the ``mapInPandas`` summary emits item rows with
    ``part_dec = 0`` and one NULL-item row per (partition, group) with
    a decrement; ``groupBy(*group_cols, item)`` sums both columns;
    ``max_undercount`` is ``sum(_dec)`` over ``partitionBy(*group_cols)``;
    NULL items drop, then ``row_number`` ranks over the same window
    partitioning. A NULL group key is a group like any other.
    """
    import pandas as pd

    gc = _cols(group_cols)
    sel = gc + [value_col]
    src = df.select(*sel).where(F.col(value_col).isNotNull())

    def summarize(batches):
        # state per group: {group_key: ({item: count}, decrement_total)}
        state: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            keys = (
                list(zip(*[pdf[c] for c in gc])) if gc else [()] * len(pdf)
            )
            kf = pd.Series(keys)
            for gkey, sub in pdf.groupby(kf, sort=False):
                counters, dec = state.get(gkey, ({}, 0))
                # exact counts within the batch, then one MG update per
                # DISTINCT item — vectorized, no per-row loop
                vc = sub[value_col].value_counts()
                for item, c in vc.items():
                    if item in counters:
                        counters[item] += int(c)
                    else:
                        counters[item] = int(c)
                        if len(counters) > capacity:
                            # decrement by the current minimum count:
                            # removes ≥1 counter, amortized O(1)
                            m = min(counters.values())
                            dec += m
                            counters = {
                                i: n - m
                                for i, n in counters.items()
                                if n > m
                            }
                state[gkey] = (counters, dec)
        rows = []
        for gkey, (counters, dec) in state.items():
            for item, c in counters.items():
                rows.append((*gkey, item, c, 0))
            if dec:
                # one NULL-item row carries this partition's decrement
                # total (input NULLs are filtered, so NULL is free)
                rows.append((*gkey, None, 0, dec))
        cols = gc + ["item", "part_count", "part_dec"]
        # object columns: a NULL item must not turn int64 items into
        # float64, which rounds items above 2**53
        yield pd.DataFrame(rows, columns=cols, dtype=object)

    gtypes = [f"`{c}` {dict(src.dtypes)[c]}" for c in gc]
    vtype = dict(src.dtypes)[value_col]
    schema = ", ".join(
        gtypes + [f"item {vtype}", "part_count long", "part_dec long"]
    )
    # merge: per-item partial counts sum to est_count; the NULL-item
    # rows carry each partition's decrement total, so the group's bound
    # is its NULL row's _dec, spread by a window sum that shares the
    # rank's exchange on the group
    merged = (
        src.mapInPandas(summarize, schema)
        .groupBy(*gc, "item")
        .agg(
            F.sum("part_count").alias("est_count"),
            F.sum("part_dec").alias("_dec"),
        )
        .withColumn("max_undercount", F.sum("_dec").over(Window.partitionBy(*gc)))
        .where(F.col("item").isNotNull())
    )
    w = Window.partitionBy(*gc).orderBy(F.desc("est_count"), F.asc("item"))
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*gc, "item", "est_count", "max_undercount", "rank")
    )
