"""Fused per-row annotation UDF.

langid + perplexity + scrub + ALL heuristic text stats in ONE Arrow
pandas UDF returning a struct:

* the document text crosses the JVM↔Python boundary exactly once;
* the per-word stats (stopword fraction, repetition, mean word length)
  use python set/dict lookups — O(1) per word — where the codegen'd
  Column equivalents degrade to LINEAR scans (array_contains over a
  150-word literal costs ~360µs/doc/core at 2M docs; the python set
  does the same in ~15µs). The Column versions in
  functions/textstats.py remain the SQL-comparable reference forms;
  this module reuses the same pure ``py_*`` cores, so values are
  identical bit-for-bit.

The pure cores are the same shared functions the test oracle uses, so
fusing changes nothing semantically.
"""

from __future__ import annotations

from contessa_spark.functions.langid import detect
from contessa_spark.functions.scrub import scrub_text
from contessa_spark.functions.textstats import py_symbol_ratio

FIELDS = [
    ("lang_pred", "string"),
    ("lang_conf", "double"),
    ("ppl", "double"),
    ("scrubbed_text", "string"),
    ("pii_changed", "boolean"),
    ("n_chars", "long"),
    ("symbol_ratio", "double"),
    ("repetition", "double"),
    ("stopword_frac", "double"),
    ("mean_word_len", "double"),
]


def annotate_rows(texts):
    """Pure batch core: dict of column-name → list for an iterable of
    (possibly None) strings.

    Tokenizes each document ONCE, then computes every word-level signal
    from ONE ``pd.factorize`` over the batch's flattened tokens: the
    lowercasing, the stopword membership and the word length run once
    per UNIQUE token (Zipf: ~30× fewer than token occurrences), the
    32-bit FNV hash once per batch over the unique lowered tokens
    (``hashing.fnv1a``), all broadcast back through the code array;
    perplexity runs on the flat hash array (``perplexity_flat``);
    stopword counts and word-length sums are exact-integer cumsum range
    sums. Values are bit-identical to the old per-row form — same
    tokenization (whitespace-run split; lowering a token never changes
    split boundaries), same integer counts, same per-doc float
    arithmetic — which the one-signal-at-a-time ``py_*`` test oracles
    still check independently.
    """
    import numpy as np

    from contessa_spark.functions.perplexity import perplexity_flat
    from contessa_spark.functions.textstats import _STOPSET
    from contessa_spark.hashing import fnv1a

    texts = [t if isinstance(t, str) else "" for t in texts]
    n_docs = len(texts)
    cols = {name: [None] * n_docs for name, _ in FIELDS}
    toks_per_doc = [t.split() for t in texts]
    lens = np.fromiter(map(len, toks_per_doc), dtype=np.int64, count=n_docs)
    bounds = np.concatenate(([0], np.cumsum(lens)))
    total = int(bounds[-1])
    if total:
        import itertools

        import pandas as pd

        flat = np.empty(total, dtype=object)
        flat[:] = list(itertools.chain.from_iterable(toks_per_doc))
        codes, uniq = pd.factorize(flat)
        uniq_list = uniq.tolist()
        uniq_lower = [u.lower() for u in uniq_list]
        n_uniq = len(uniq_list)
        hs_flat = fnv1a(uniq_lower, 32).view(np.int64)[codes]
        stop_cs = np.concatenate(
            (
                [0],
                np.cumsum(
                    np.fromiter(
                        (u in _STOPSET for u in uniq_lower),
                        dtype=np.int64,
                        count=n_uniq,
                    )[codes]
                ),
            )
        )
        wlen_cs = np.concatenate(
            (
                [0],
                np.cumsum(
                    np.fromiter(
                        map(len, uniq_list), dtype=np.int64, count=n_uniq
                    )[codes]
                ),
            )
        )
        ppl_arr = perplexity_flat(hs_flat, bounds[:-1], lens)
        stop_cnt = stop_cs[bounds[1:]] - stop_cs[bounds[:-1]]
        wlen_sum = wlen_cs[bounds[1:]] - wlen_cs[bounds[:-1]]
    for i, t in enumerate(texts):
        l, c = detect(t)
        cols["lang_pred"][i] = l
        cols["lang_conf"][i] = c
        s = scrub_text(t)
        # NULL when unchanged: ~95% of docs need no scrubbing, so this
        # drops most of the UDF's Arrow return payload; the Spark side
        # coalesces back to the original text (annotate()).
        changed = s != t
        cols["scrubbed_text"][i] = s if changed else None
        cols["pii_changed"][i] = changed
        cols["n_chars"][i] = len(t)
        cols["symbol_ratio"][i] = py_symbol_ratio(t)
        n = int(lens[i])
        if n == 0:
            cols["ppl"][i] = 1.0e6
            cols["repetition"][i] = 1.0
            cols["stopword_frac"][i] = 0.0
            cols["mean_word_len"][i] = 0.0
        else:
            cols["ppl"][i] = float(ppl_arr[i])
            cols["repetition"][i] = 1.0 - len(set(toks_per_doc[i])) / n
            cols["stopword_frac"][i] = int(stop_cnt[i]) / n
            cols["mean_word_len"][i] = int(wlen_sum[i]) / n
    return cols


def spark_udf():
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    out_type = T.StructType(
        [
            T.StructField(name, getattr(T, {
                "string": "StringType",
                "double": "DoubleType",
                "boolean": "BooleanType",
                "long": "LongType",
            }[typ])())
            for name, typ in FIELDS
        ]
    )

    def _annotate(texts):
        return pd.DataFrame(annotate_rows(texts))

    _annotate.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf(_annotate, out_type)
