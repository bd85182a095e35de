"""Fused per-row annotation UDF.

langid + perplexity + scrub + ALL heuristic text stats in ONE
``arrow_udf`` (an Arrow string array in, one struct array out):

* the document text crosses the JVM↔Python boundary exactly once;
* the per-word stats (stopword fraction, repetition, mean word length)
  run once per DISTINCT word of the batch's ``hashing.word_table``,
  then as vectorized sums over the word codes — where the codegen'd
  Column equivalents degrade to LINEAR scans (array_contains over a
  150-word literal costs ~360µs/doc/core at 2M docs). The Column
  forms in functions/textstats.py remain the SQL-comparable
  reference; the pure ``py_*`` cores are the test oracle, and values
  are identical bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from contessa_spark.functions.langid import detect
from contessa_spark.functions.perplexity import perplexity_flat
from contessa_spark.functions.scrub import scrub_text
from contessa_spark.functions.textstats import _STOPSET, py_symbol_ratio
from contessa_spark.hashing import doc_sums, fnv1a, lowercase, string_array, word_table

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

_ARROW = {"string": pa.string(), "double": pa.float64(), "boolean": pa.bool_(), "long": pa.int64()}
_STOPWORDS = pa.array(sorted(_STOPSET))


def annotate_rows(texts):
    """Pure batch core: dict of column name → values (one per text)
    for a batch of (possibly NULL) texts, an Arrow string array or a
    Python sequence.

    The words come from ONE raw-case ``hashing.word_table``; lowering,
    stopword membership, word length and the 32-bit FNV hash of the
    lowered word run once per DISTINCT word. Perplexity runs on the
    flat hash array (``perplexity_flat``), stopword counts and
    word-length sums are exact integer sums per doc, and repetition
    counts distinct codes per doc: the same words, counts and float
    division as the ``py_*`` test oracles, so values are bit-identical.
    langid, scrub and the symbol ratio run per text.
    """
    arr = string_array(texts)
    offsets, codes, words = word_table(arr)
    lens = np.diff(offsets)
    lowered = lowercase(words)
    hs_flat = fnv1a(lowered, 32).view(np.int64)[codes]
    is_stop = pc.is_in(lowered, value_set=_STOPWORDS).to_numpy(zero_copy_only=False)
    wlen = pc.utf8_length(words).to_numpy()
    # repetition: distinct (doc, code) keys, counted per doc
    doc = np.repeat(np.arange(len(arr), dtype=np.int64), lens)
    distinct = np.bincount(np.unique(doc * len(words) + codes) // max(len(words), 1), minlength=len(arr))
    n = np.maximum(lens, 1)
    has = lens > 0
    pylist = arr.to_pylist()
    langs = [detect(t) for t in pylist]
    scrubbed = [scrub_text(t) for t in pylist]
    changed = [s != t for s, t in zip(scrubbed, pylist)]
    return {
        "lang_pred": [lang for lang, _ in langs],
        "lang_conf": [conf for _, conf in langs],
        "ppl": perplexity_flat(hs_flat, offsets[:-1], lens),
        # NULL when unchanged: ~95% of docs need no scrubbing, so this
        # drops most of the UDF's Arrow return payload; the Spark side
        # coalesces back to the original text (annotate()).
        "scrubbed_text": [s if c else None for s, c in zip(scrubbed, changed)],
        "pii_changed": changed,
        "n_chars": pc.utf8_length(arr).to_numpy(),
        "symbol_ratio": [py_symbol_ratio(t) for t in pylist],
        "repetition": np.where(has, 1.0 - distinct / n, 1.0),
        "stopword_frac": np.where(has, doc_sums(is_stop[codes], offsets) / n, 0.0),
        "mean_word_len": np.where(has, doc_sums(wlen[codes], offsets) / n, 0.0),
    }


def spark_udf():
    from pyspark.sql import functions as F

    def _annotate(texts: pa.Array) -> pa.Array:
        cols = annotate_rows(texts)
        return pa.StructArray.from_arrays(
            [pa.array(cols[name], _ARROW[typ]) for name, typ in FIELDS],
            names=[name for name, _ in FIELDS],
        )

    return F.arrow_udf(_annotate, ", ".join(f"{name} {typ}" for name, typ in FIELDS))
