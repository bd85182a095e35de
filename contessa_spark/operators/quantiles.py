"""Mergeable quantile summaries: deterministic MRL/KLL-style
compaction (Manku, Rajagopalan & Lindsay 1998; Karnin, Lang & Liberty
2016 — with the random coin removed; Agarwal et al. 2013 for the
merge rule).

Exact per-group quantiles need a full sort (or at least a shuffle of
every value) per group. At 10¹² rows that is the single most expensive
thing a pipeline can ask for. A quantile summary needs ONE pass,
O(capacity · log(n/capacity)) state per partition, and a union of the
per-partition summaries — no corpus shuffle — at the price of a
bounded, *reported* rank error.

Structure (classic equal-weight levels): level ``i`` holds items of
weight ``2^i`` in a buffer of at most ``capacity`` items. Inserts land
in level 0 with weight 1; a full buffer is sorted and its odd-indexed
half is promoted one level (weights double). Each such compaction of a
weight-``w`` buffer moves any rank query by at most ``w``, so the
summary's total rank error is the sum of compacted weights — which we
accumulate EXACTLY per (partition, group) and surface as
``max_rank_error`` instead of quoting the worst-case ε·n. Merging
summaries = concatenating their weighted items; rank errors add
(Agarwal et al. §3). Deterministic by construction — no coin flips
(always the odd-indexed half), fixed iteration orders — so the same
input in the same layout gives bit-identical output; across layouts
the ESTIMATES may differ but the GUARANTEE

    |true_rank(estimate) − ⌈φ·N⌉|  ≤  max_rank_error

holds for every layout (pytest-gated under 1/3/17-partition layouts).
``N`` is exact: compaction preserves total weight, so Σweights = n.

In the EXACT regime (capacity ≥ rows per partition per group) no
compaction ever fires: weights stay 1, max_rank_error = 0, and the
estimate IS the definitional quantile — the value at 1-indexed rank
⌈φ·N⌉ of the ascending multiset. The driver oracle
(``events_value_quantiles``) runs this regime; ⌈φ·N⌉ is computed in
IEEE-double on both engines (φ is CAST to DOUBLE in the SQL) so the
rank is bit-identical even for φ like 0.9 with no exact binary form.

Reference parity: contessa has no approximate operators — forward-
looking training-pipeline operator (SURVEY.md §2 extension, sketch
family: MinHash / SimHash / bloom / HLL / MG / quantiles).
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence, Union

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cols(cols: Union[str, Sequence[str], None]) -> List[str]:
    if cols is None:
        return []
    return [cols] if isinstance(cols, str) else list(cols)


class _Summary:
    """One group's level structure: levels[i] = python list of floats
    at weight 2^i; err = exact accumulated rank-error bound."""

    __slots__ = ("levels", "err", "capacity")

    def __init__(self, capacity: int):
        self.levels: List[list] = [[]]
        self.err = 0
        self.capacity = capacity

    def insert_batch(self, values) -> None:
        self.levels[0].extend(values)
        lvl = 0
        while lvl < len(self.levels) and len(self.levels[lvl]) > self.capacity:
            buf = sorted(self.levels[lvl])
            # odd-indexed half promotes with doubled weight; an odd
            # leftover item stays at this level (keeps Σweights exact)
            promoted = buf[1::2]
            self.levels[lvl] = [buf[-1]] if len(buf) % 2 else []
            if lvl + 1 == len(self.levels):
                self.levels.append([])
            self.levels[lvl + 1].extend(promoted)
            self.err += 1 << lvl  # one compaction at weight 2^lvl
            lvl += 1

    def rows(self):
        for lvl, buf in enumerate(self.levels):
            w = 1 << lvl
            for v in buf:
                yield (float(v), w)


def quantile_summary_partials(
    df: DataFrame,
    value_col: str,
    group_cols: Union[str, Sequence[str], None] = None,
    capacity: int = 4096,
) -> DataFrame:
    """One-pass per-partition summaries → group_cols + (item double,
    weight long, part_err long, pid int).

    ``part_err`` repeats on every row a (partition, group) emits — sum
    it per group via max-per-pid (two partitions can share a value, so
    sum(DISTINCT) would be wrong; same accounting as
    ``heavy_hitters.misra_gries_topk``).

    Plan: a ``mapInArrow`` pass folds each partition's batches into
    per-group summaries, in row order within a group, and emits them
    once the partition is read.
    """
    gc = _cols(group_cols)
    src = df.select(*gc, value_col).where(F.col(value_col).isNotNull())

    def summarize(batches):
        state: dict = {}
        for b in batches:
            types = [b.schema.field(c).type for c in gc] + [pa.float64(), pa.int64(), pa.int64()]
            keys = zip(*[b.column(c).to_pylist() for c in gc]) if gc else [()] * b.num_rows
            groups: dict = {}
            for gkey, v in zip(keys, b.column(value_col).cast(pa.float64()).to_pylist()):
                groups.setdefault(gkey, []).append(v)
            for gkey, values in groups.items():
                s = state.get(gkey)
                if s is None:
                    s = state[gkey] = _Summary(capacity)
                s.insert_batch(values)
        if not state:
            return
        rows = [(*gkey, v, w, s.err) for gkey, s in state.items() for v, w in s.rows()]
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, t) for c, t in zip(zip(*rows), types)],
            names=gc + ["item", "weight", "part_err"],
        )

    gtypes = [f"`{c}` {dict(src.dtypes)[c]}" for c in gc]
    schema = ", ".join(
        gtypes + ["item double", "weight long", "part_err long"]
    )
    return src.mapInArrow(summarize, schema).withColumn(
        "pid", F.spark_partition_id()
    )


def grouped_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: Union[str, Sequence[str], None] = None,
    phis: Sequence[float] = (0.25, 0.5, 0.75, 0.9),
    capacity: int = 4096,
) -> DataFrame:
    """Approximate quantiles per group → group_cols + (phi,
    quantile_est, max_rank_error), one row per (group, φ), φ ascending.

    For each φ the estimate is the smallest summary value whose
    cumulative weight reaches ``⌈φ·N⌉`` (N = Σweights = exact row
    count); its true rank is within ``max_rank_error`` of that target.
    Merged per-group input to the final step is ≤ partitions ×
    capacity × ⌈log₂(n/capacity)⌉ rows — at 1000 executors × 4096 that
    is a few million summary rows per group, not n; for extreme
    group counts add a hierarchical pre-merge (tree of unions +
    re-compactions) before this step.
    """
    gc = _cols(group_cols)
    phis = [float(p) for p in phis]
    if not phis or min(phis) <= 0.0 or max(phis) > 1.0:
        raise ValueError("phis must lie in (0, 1]")
    partials = quantile_summary_partials(
        df, value_col, group_cols, capacity
    )

    out_gtypes = [f"`{c}` {dict(partials.dtypes)[c]}" for c in gc]
    out_schema = ", ".join(
        out_gtypes
        + ["phi double", "quantile_est double", "max_rank_error long"]
    )

    def finalize(t: pa.Table) -> pa.Table:
        err = pc.sum(t.group_by("pid").aggregate([("part_err", "max")]).column("part_err_max")).as_py()
        order = pc.sort_indices(t, [("item", "ascending")])  # stable
        items = t.column("item").take(order).to_numpy()
        cum = np.cumsum(t.column("weight").take(order).to_numpy())
        est = []
        for phi in sorted(phis):
            target = math.ceil(phi * int(cum[-1]))  # IEEE-double product, as oracle
            est.append(float(items[np.searchsorted(cum, target, side="left")]))
        k = len(est)
        return pa.table(
            {
                **{c: pa.repeat(t.column(c)[0], k) for c in gc},
                "phi": pa.array(sorted(phis), pa.float64()),
                "quantile_est": pa.array(est, pa.float64()),
                "max_rank_error": pa.repeat(pa.scalar(err, pa.int64()), k),
            }
        )

    if gc:
        return partials.groupBy(*gc).applyInArrow(finalize, out_schema)

    def finalize_global(t: pa.Table) -> pa.Table:
        out = finalize(t)
        return out.add_column(0, "_g", pa.repeat(pa.scalar(1, pa.int32()), out.num_rows))

    return partials.groupBy(F.lit(1).alias("_g")).applyInArrow(
        finalize_global, "_g int, " + out_schema
    ).drop("_g")
