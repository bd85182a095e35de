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

Spark-first plan: ``mapInArrow`` runs the classic counter algorithm
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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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

    Plan: the ``mapInArrow`` summary emits item rows with
    ``part_dec = 0`` and one NULL-item row per (partition, group) with
    a decrement; ``groupBy(*group_cols, item)`` sums both columns;
    ``max_undercount`` is ``sum(_dec)`` over ``partitionBy(*group_cols)``;
    NULL items drop, then ``row_number`` ranks over the same window
    partitioning. A NULL group key is a group like any other.
    """
    gc = _cols(group_cols)
    sel = gc + [value_col]
    src = df.select(*sel).where(F.col(value_col).isNotNull())

    def summarize(batches):
        # state per group: {group_key: ({item: count}, decrement_total)}
        state: dict = {}
        for b in batches:
            types = b.schema.types + [pa.int64(), pa.int64()]
            keys = zip(*[b.column(c).to_pylist() for c in gc]) if gc else [()] * b.num_rows
            rows_of: dict = {}
            for i, gkey in enumerate(keys):
                rows_of.setdefault(gkey, []).append(i)
            for gkey, idx in rows_of.items():
                counters, dec = state.get(gkey, ({}, 0))
                # exact counts within the batch, then one MG update per
                # DISTINCT item, count-descending (ties first-seen
                # first) — vectorized, no per-row loop
                vc = pc.value_counts(b.column(value_col).take(idx))
                counts = vc.field("counts").to_numpy()
                order = np.argsort(-counts, kind="stable")
                for item, c in zip(vc.field("values").take(order).to_pylist(), counts[order].tolist()):
                    if item in counters:
                        counters[item] += c
                    else:
                        counters[item] = c
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
        if not rows:
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, t) for c, t in zip(zip(*rows), types)],
            names=gc + ["item", "part_count", "part_dec"],
        )

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
        src.mapInArrow(summarize, schema)
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
