"""Trained interpolated Kneser-Ney n-gram LM (the CCNet quality filter).

CCNet (Wenzek et al. 2020) ranks web documents by the perplexity of a
KenLM (Heafield 2011) 5-gram model trained on clean in-domain text;
low-perplexity documents form the "head" quality bucket. The reference
engine has no LM at all (contessa is a SQL rule runner) — this module
is the train-your-own counterpart of `functions/perplexity.py`'s
fixed hashed-bigram scorer, re-expressed Spark-first:

* **counts are a DataFrame aggregate** — ONE corpus scan emits every
  order's n-grams (tagged arrays concatenated per row, one explode),
  ONE shuffle groupBy counts them with map-side partial aggregation.
  At 100 TB this is the only heavy stage and it is embarrassingly
  parallel; count cutoffs (`min_count`) and per-order caps
  (`max_grams`, TakeOrderedAndProject — never a full sort) bound what
  the driver collects, exactly KenLM's `--prune`.
* **smoothing runs driver-side on the collected counts** (they are
  bounded), building interpolated Kneser-Ney per Chen & Goodman
  (1999): absolute discount D per order, CONTINUATION counts for the
  lower orders, and back-off weights computed as RESIDUAL mass — so
  every conditional stays a proper distribution even when pruning
  dropped grams (the sum-to-one test asserts this directly).
* **scoring is one fused ``arrow_udf``** over the closure-broadcast
  model: per document, position i is scored with the longest order
  available (unigram at doc start, bigram next, n-gram beyond) and
  perplexity = exp(-mean log P). Zero shuffles, text crosses the
  Arrow boundary once.

Integer counts are exact regardless of partitioning, and the
driver-side smoothing iterates in sorted order — the trained model is
bit-deterministic across physical layouts (tested).

Tokenization matches the engine's whitespace-token convention:
JVM `split(text, '(?U)\\s+')` on the counting side (shared with the
DuckDB oracle via `textstats.DUCKDB_WS`), `re.split(r"\\s+")` on the
scoring side.
"""

from __future__ import annotations

import math
import re
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: scoring-side tokenizer (python mirror of the JVM (?U)\s+ split)
_WS_RE = re.compile(r"\s+", re.UNICODE)

UNK = "<unk>"


def py_tokens(text: Optional[str]) -> List[str]:
    """Scoring-side tokenizer (python ``\\s+`` split; the counting
    side uses ``_java_ws_re`` — the explicit White_Space class — for
    exact oracle agreement on control codes)."""
    if not text:
        return []
    return [w for w in _WS_RE.split(text) if w]


def _java_ws_re():
    """Tokenizer regex matching EXACTLY the Java ``(?U)\\s`` set (the
    explicit Unicode White_Space class from textstats) — python's
    ``\\s`` additionally matches U+001C–1F, which would diverge from
    the DuckDB oracle's whitespace class on those control codes."""
    import re as _re

    from contessa_spark.functions.textstats import WS_CHARS

    return _re.compile("[" + _re.escape(WS_CHARS) + "]+")


def _grams_udf(n: int):
    """``arrow_udf``: text → array<string> of space-joined word n-grams.

    Replaces the ``transform(sequence, i -> concat_ws(slice(words)))``
    Column form: higher-order array lambdas are interpreted per
    element, measured 39 s (slice form) / 91 s (element_at form) vs
    3 s for this UDF on the 50k-doc sf1.0 trigram count at local[32] —
    identical gram multiset (exactness checked by groupBy-count diff
    and the DuckDB oracle). Tokenization uses the Java-exact
    whitespace class so oracle agreement is preserved even on control
    codes. A NULL text has no grams."""
    ws = _java_ws_re()

    def _g(texts: pa.Array) -> pa.Array:
        out = []
        for t in texts.to_pylist():
            w = [x for x in ws.split(t or "") if x]
            if len(w) < n:
                out.append([])
                continue
            if n == 1:
                out.append(w)
            else:
                out.append(
                    [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]
                )
        return pa.array(out, pa.list_(pa.string()))

    return F.arrow_udf(_g, "array<string>")


def _tagged_grams_udf(order: int):
    """``arrow_udf``: text → array<struct<k:int, gram:string>> of every
    order's grams 1..order, concatenated — the one-scan multi-order
    form ``all_order_counts`` explodes (same UDF economics as
    ``_grams_udf``)."""
    ws = _java_ws_re()
    gram_type = pa.list_(pa.struct([("k", pa.int32()), ("gram", pa.string())]))

    def _g(texts: pa.Array) -> pa.Array:
        out = []
        for t in texts.to_pylist():
            w = [x for x in ws.split(t or "") if x]
            tagged = []
            for k in range(1, order + 1):
                if len(w) < k:
                    continue
                if k == 1:
                    tagged.extend((1, x) for x in w)
                else:
                    tagged.extend(
                        (k, " ".join(w[i : i + k]))
                        for i in range(len(w) - k + 1)
                    )
            out.append(tagged)
        return pa.array(out, gram_type)

    return F.arrow_udf(_g, "array<struct<k:int, gram:string>>")


def ngram_counts(
    df: DataFrame, n: int, text_col: str = "text"
) -> DataFrame:
    """Corpus n-gram counts: (gram string, n bigint). One scan, one
    map-side-combined shuffle — the oracle-able counting stage."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(_grams_udf(n)(F.col(text_col))).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def top_ngram_counts(
    df: DataFrame, n: int, k: int = 200, text_col: str = "text"
) -> DataFrame:
    """Top-k corpus n-grams by (count desc, gram asc) — deterministic
    total order, TakeOrderedAndProject (no full sort)."""
    return ngram_counts(df, n, text_col).orderBy(
        F.desc("n"), F.asc("gram")
    ).limit(k)


def all_order_counts(
    df: DataFrame,
    order: int,
    text_col: str = "text",
    min_count: int = 1,
    max_grams: int = 1_000_000,
) -> List[Dict[Tuple[str, ...], int]]:
    """Counts for every order 1..`order` from ONE corpus scan and ONE
    shuffle: per row the tagged gram arrays of all orders are
    concatenated and exploded once; the groupBy keeps (order, gram).
    Per-order cutoff + deterministic cap bound the driver collect.

    Returns `[c1, c2, ..., c_order]`, each mapping a word tuple to its
    count."""
    counted = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(_tagged_grams_udf(order)(F.col(text_col))).alias("t"))
        .groupBy(F.col("t.k").alias("k"), F.col("t.gram").alias("gram"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= F.lit(min_count))
    )
    # ONE collect for every order: the per-order cap is a rank window
    # over the same (n desc, gram asc) total order the per-order
    # orderBy+limit used — identical contents, but one Spark job
    # instead of `order` filtered re-sorts of the counted frame
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.desc("n"), F.asc("gram"))
    rows = (
        counted.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.lit(max_grams))
        .collect()
    )
    out: List[Dict[Tuple[str, ...], int]] = [{} for _ in range(order)]
    for r in rows:
        out[int(r["k"]) - 1][tuple(r["gram"].split(" "))] = int(r["n"])
    return out


def _ney_discount(counts: Dict[Tuple[str, ...], int]) -> float:
    """Ney absolute discount D = n1/(n1+2·n2) from count-of-counts,
    clamped to (0, 1); 0.75 when the statistic degenerates."""
    n1 = sum(1 for c in counts.values() if c == 1)
    n2 = sum(1 for c in counts.values() if c == 2)
    if n1 == 0 or n1 + 2 * n2 == 0:
        return 0.75
    return min(0.95, max(0.05, n1 / (n1 + 2.0 * n2)))


class KNModel:
    """Interpolated Kneser-Ney model of order 2 or 3 (precomputed
    lookup tables; proper distribution per context by residual-mass
    back-off weights — holds under pruning).

    * `p1[w]`   — full unigram probability (continuation counts,
      discounted, interpolated with 1/V uniform); `p1_floor` covers
      every word outside the table (incl. `<unk>`), so no token ever
      has zero probability.
    * `t2[(v,w)]` + `l2[v]` — discounted bigram continuation part and
      the context's back-off weight; a context absent from `l2` backs
      off with weight 1 (nothing was kept ⇒ all mass backs off).
    * order 3 adds `t3[(u,v,w)]` + `l3[(u,v)]` over RAW counts with
      the true bigram count as denominator.
    """

    __slots__ = ("order", "p1", "p1_floor", "t2", "l2", "t3", "l3", "V")

    def __init__(self, order, p1, p1_floor, t2, l2, t3, l3, V):
        self.order = order
        self.p1 = p1
        self.p1_floor = p1_floor
        self.t2 = t2
        self.l2 = l2
        self.t3 = t3
        self.l3 = l3
        #: train-time vocabulary size (unigram words ∪ continuation
        #: words ∪ <unk>) — the closed vocab over which every
        #: conditional sums to exactly 1; words outside it share the
        #: <unk> floor (standard closed-vocab + <unk> semantics)
        self.V = V

    # -- probabilities ------------------------------------------------
    def prob1(self, w: str) -> float:
        return self.p1.get(w, self.p1_floor)

    def prob2(self, v: str, w: str) -> float:
        return self.t2.get((v, w), 0.0) + self.l2.get(v, 1.0) * self.prob1(w)

    def prob3(self, u: str, v: str, w: str) -> float:
        if self.order < 3:
            return self.prob2(v, w)
        return (
            self.t3.get((u, v, w), 0.0)
            + self.l3.get((u, v), 1.0) * self.prob2(v, w)
        )

    def logprob_doc(self, toks: List[str]) -> float:
        """Mean log P over the document: position 0 scored by the
        unigram, position 1 by the bigram, the rest by the full order
        (no sentence sentinels — document-as-sequence)."""
        if not toks:
            return -math.log(1.0e6)
        lp = math.log(self.prob1(toks[0]))
        if len(toks) > 1:
            lp += math.log(self.prob2(toks[0], toks[1]))
        for i in range(2, len(toks)):
            lp += math.log(self.prob3(toks[i - 2], toks[i - 1], toks[i]))
        return lp / len(toks)

    def perplexity(self, text: Optional[str]) -> float:
        return float(math.exp(-self.logprob_doc(py_tokens(text))))


def train_kn_from_counts(
    counts: List[Dict[Tuple[str, ...], int]],
    discount: Optional[float] = None,
) -> KNModel:
    """Build the model from per-order count dicts (`all_order_counts`
    output). `discount=None` estimates D per order by the Ney formula;
    all iteration is in sorted order — deterministic."""
    order = len(counts)
    if order not in (2, 3):
        raise ValueError(f"order must be 2 or 3, got {order}")
    c1, c2 = counts[0], counts[1]
    c3 = counts[2] if order == 3 else {}

    # ---- unigram: continuation counts from the bigram table
    cont1: Dict[str, int] = {}
    for (v, w) in sorted(c2):
        cont1[w] = cont1.get(w, 0) + 1
    cont1_total = sum(cont1.values())
    d1 = discount if discount is not None else _ney_discount(
        cont1 if cont1 else c1
    )
    vocab = sorted(set(w for (w,) in c1) | set(cont1) | {UNK})
    V = len(vocab)
    p1: Dict[str, float] = {}
    if cont1_total > 0:
        kept = 0.0
        for w in sorted(cont1):
            disc = max(cont1[w] - d1, 0.0) / cont1_total
            p1[w] = disc
            kept += disc
        lam1 = 1.0 - kept
    else:
        # degenerate corpus (no bigrams): fall back to raw unigrams
        tot = sum(c1.values())
        kept = 0.0
        for (w,), c in sorted(c1.items()):
            disc = max(c - d1, 0.0) / tot if tot else 0.0
            p1[w] = disc
            kept += disc
        lam1 = 1.0 - kept if tot else 1.0
    floor = lam1 / V
    for w in list(p1):
        p1[w] += floor
    p1_floor = floor

    # ---- bigram: continuation counts from the trigram table (order 3)
    #      or raw counts (order 2 top level)
    t2: Dict[Tuple[str, str], float] = {}
    l2: Dict[str, float] = {}
    if order == 3:
        cont2: Dict[Tuple[str, str], int] = {}
        for (u, v, w) in sorted(c3):
            cont2[(v, w)] = cont2.get((v, w), 0) + 1
        d2 = discount if discount is not None else _ney_discount(
            cont2 if cont2 else c2
        )
        ctx2: Dict[str, int] = {}
        for (v, w), c in sorted(cont2.items()):
            ctx2[v] = ctx2.get(v, 0) + c
        for (v, w) in sorted(cont2):
            denom = ctx2[v]
            t2[(v, w)] = max(cont2[(v, w)] - d2, 0.0) / denom
        kept2: Dict[str, float] = {}
        for (v, w), p in t2.items():
            kept2[v] = kept2.get(v, 0.0) + p
        for v in sorted(kept2):
            l2[v] = 1.0 - kept2[v]
    else:
        d2 = discount if discount is not None else _ney_discount(c2)
        ctx_tot: Dict[str, int] = {}
        for (v, w), c in sorted(c2.items()):
            ctx_tot[v] = ctx_tot.get(v, 0) + c
        # truest denominator is the context's UNIGRAM count when kept
        # (robust to bigram pruning: residual mass backs off)
        for (v, w), c in sorted(c2.items()):
            denom = c1.get((v,), ctx_tot[v])
            t2[(v, w)] = max(c - d2, 0.0) / denom
        kept2 = {}
        for (v, w), p in t2.items():
            kept2[v] = kept2.get(v, 0.0) + p
        for v in sorted(kept2):
            l2[v] = 1.0 - kept2[v]

    # ---- trigram top level: raw counts over true bigram denominators
    t3: Dict[Tuple[str, str, str], float] = {}
    l3: Dict[Tuple[str, str], float] = {}
    if order == 3:
        d3 = discount if discount is not None else _ney_discount(c3)
        for (u, v, w), c in sorted(c3.items()):
            denom = c2.get((u, v))
            if not denom:
                continue  # context bigram pruned away: back off fully
            t3[(u, v, w)] = max(c - d3, 0.0) / denom
        kept3: Dict[Tuple[str, str], float] = {}
        for (u, v, w), p in t3.items():
            kept3[(u, v)] = kept3.get((u, v), 0.0) + p
        for uv in sorted(kept3):
            l3[uv] = 1.0 - kept3[uv]

    return KNModel(order, p1, p1_floor, t2, l2, t3, l3, V)


def train_kn(
    df: DataFrame,
    text_col: str = "text",
    order: int = 3,
    discount: Optional[float] = None,
    min_count: int = 1,
    max_grams: int = 1_000_000,
) -> KNModel:
    """Train from a corpus DataFrame: ONE tagged-explode scan for all
    orders' counts (`all_order_counts`), smoothing driver-side."""
    return train_kn_from_counts(
        all_order_counts(df, order, text_col, min_count, max_grams),
        discount,
    )


def kn_perplexity_udf(model: KNModel):
    """``arrow_udf``: text → KN perplexity (model closure-broadcast)."""

    def _ppl(texts: pa.Array) -> pa.Array:
        return pa.array([model.perplexity(t) for t in texts.to_pylist()], pa.float64())

    return F.arrow_udf(_ppl, "double")


def kn_perplexity(
    df: DataFrame,
    model: KNModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, kn_ppl): document perplexity under the trained model —
    one fused UDF pass, zero shuffles."""
    return df.select(
        F.col(id_col),
        kn_perplexity_udf(model)(F.col(text_col)).alias("kn_ppl"),
    )


# ------------------------------------------------------------ persistence

def save_model(spark, model: KNModel, path: str) -> None:
    """Persist as parquet (table, key, value) — same pin-the-artifact
    contract as `bpe.save_merges` / `unigram.save_vocab`."""
    # "\x00" is the gram-component separator below; a token containing
    # it would round-trip into a wrong-arity key and silently mis-score
    # after load — refuse at save time (whitespace tokenization permits
    # NUL bytes inside tokens)
    for tbl in (model.p1, model.t2, model.l2, model.t3, model.l3):
        for k in tbl:
            parts = (k,) if isinstance(k, str) else k
            if any("\x00" in p for p in parts):
                raise ValueError(
                    "save_model: token contains the \\x00 key separator"
                )
    rows = [("meta", "order", float(model.order)),
            ("meta", "V", float(model.V)),
            ("meta", "p1_floor", model.p1_floor)]
    rows += [("p1", w, p) for w, p in sorted(model.p1.items())]
    rows += [("t2", "\x00".join(k), p) for k, p in sorted(model.t2.items())]
    rows += [("l2", v, p) for v, p in sorted(model.l2.items())]
    rows += [("t3", "\x00".join(k), p) for k, p in sorted(model.t3.items())]
    rows += [("l3", "\x00".join(k), p) for k, p in sorted(model.l3.items())]
    spark.createDataFrame(
        rows, "tbl string, key string, value double"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_model(spark, path: str) -> KNModel:
    rows = spark.read.parquet(path).collect()
    meta = {r["key"]: r["value"] for r in rows if r["tbl"] == "meta"}
    p1 = {r["key"]: r["value"] for r in rows if r["tbl"] == "p1"}
    t2 = {tuple(r["key"].split("\x00")): r["value"]
          for r in rows if r["tbl"] == "t2"}
    l2 = {r["key"]: r["value"] for r in rows if r["tbl"] == "l2"}
    t3 = {tuple(r["key"].split("\x00")): r["value"]
          for r in rows if r["tbl"] == "t3"}
    l3 = {tuple(r["key"].split("\x00")): r["value"]
          for r in rows if r["tbl"] == "l3"}
    return KNModel(
        int(meta["order"]), p1, meta["p1_floor"], t2, l2, t3, l3,
        int(meta["V"]),
    )
