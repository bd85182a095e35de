"""Model-based document quality scoring: a fastText-style linear
classifier over hashed bag-of-words features — the
FineWeb-edu / DCLM-baseline pattern (public method: train a cheap
classifier on quality labels, score the whole corpus, threshold).

Spark shape:

* TRAINING touches a deterministic hash-threshold doc sample only
  (same predicate family as IVF/BPE sampling — stable across physical
  layouts, unlike ``df.sample``); features + labels for the ≤
  ``max_train_docs`` sampled rows are collected and a full-batch
  logistic regression runs driver-side in numpy (fixed iterations,
  float64 — bit-deterministic). A linear probe needs thousands of
  rows, not the corpus.
* SCORING is one ``arrow_udf`` (Arrow in and out) with the
  weight vector closed over (a few KB — implicit broadcast); per-doc
  cost is a word-hash pass over the text, no shuffle anywhere.

Labels: any boolean/0-1 column. The driver query self-distills from
the heuristic keep rule (C4/Gopher conjunction) — the standard
bootstrap when no human/LLM labels exist; production swaps in real
labels without touching the plumbing.

Features: FNV-64 hashes of the lowercased words of a batch's
``hashing.word_table`` (each distinct word hashed once) into
``n_features`` buckets, log(1+tf) weighting, L2 normalization, plus a
bias. Collisions are benign at the usual
2^12–2^16 sizes (hashing-trick regime).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from contessa_spark.hashing import fnv1a, string_array, word_table


#: engineered features appended after the hashed buckets: L2-normalized
#: BOW erases document LENGTH, which most quality rules key on — the
#: log-length terms restore it (scaled to O(1) so one lr fits all dims)
N_EXTRA = 3  # log-chars, log-words, bias


def _hash_words(texts, n_features: int):
    """Dense log-tf L2-normalized hashed bag-of-words + log-length
    features + bias: a list with one vector per (possibly NULL) text of
    an Arrow string array or Python sequence, or one vector for a
    single ``str``. Pure core shared by training and the scoring UDF;
    each distinct word of the batch's lowercased ``word_table`` hashes
    once, and each vector is still its own array, so its norm and dot
    products run on the same memory layout as a per-text build."""
    single = isinstance(texts, str)
    arr = string_array([texts] if single else texts)
    offsets, codes, words = word_table(arr, lower=True)
    buckets = (fnv1a(words) % np.uint64(n_features)).astype(np.int64)[codes]
    n_chars = pc.utf8_length(arr).to_numpy()
    out = []
    for d in range(len(arr)):
        v = np.zeros(n_features + N_EXTRA, dtype=np.float64)
        v[:n_features] = np.bincount(buckets[offsets[d] : offsets[d + 1]], minlength=n_features)
        bow = v[:n_features]
        nz = bow > 0
        bow[nz] = np.log1p(bow[nz])
        norm = np.linalg.norm(bow)
        if norm > 0:
            bow /= norm
        v[n_features] = np.log1p(n_chars[d]) / 10.0
        v[n_features + 1] = np.log1p(offsets[d + 1] - offsets[d]) / 10.0
        v[-1] = 1.0  # bias
        out.append(v)
    return out[0] if single else out


def train_logreg(
    X: "np.ndarray",
    y: "np.ndarray",
    iters: int = 500,
    lr: float = 2.0,
    l2: float = 1e-4,
    balanced: bool = True,
) -> "np.ndarray":
    """Full-batch gradient descent, fixed iteration count — simple and
    bit-deterministic (no shuffling, no early stop on a noisy metric).

    ``balanced`` weights each class inversely to its frequency
    (sklearn's ``class_weight='balanced'``): quality-filter labels are
    HEAVILY imbalanced (a strict keep conjunction passes ~10 % of web
    text), and the unweighted loss is minimized by predicting the
    majority class — the balanced loss puts the 0.5 threshold at the
    class boundary instead."""
    n, d = X.shape
    if balanced and 0 < y.sum() < n:
        pos = y.sum()
        sw = np.where(y > 0.5, n / (2.0 * pos), n / (2.0 * (n - pos)))
    else:
        sw = np.ones(n, dtype=np.float64)
    w = np.zeros(d, dtype=np.float64)
    for _ in range(iters):
        # clip logits: exp overflow past ~709 would emit RuntimeWarnings
        # (the saturated probabilities are identical either way)
        p = 1.0 / (1.0 + np.exp(-np.clip(X @ w, -500, 500)))
        grad = X.T @ (sw * (p - y)) / sw.sum() + l2 * w
        w -= lr * grad
    return w


def train_quality_classifier(
    df: DataFrame,
    label_col: Optional[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
    sample_fraction: Optional[float] = None,
    max_train_docs: int = 10_000,
    iters: int = 200,
    seed: int = 42,
    label_fn=None,
) -> "np.ndarray":
    """Returns the weight vector (len ``n_features``+``N_EXTRA``,
    bias last).

    The sample is a hash-threshold predicate on the id (layout-stable);
    ``max_train_docs`` caps driver memory via TakeOrderedAndProject on
    the same hash (deterministic which rows survive, independent of
    partitioning).

    ``label_fn`` (text → float label, or None to drop the row) labels
    the ≤``max_train_docs`` COLLECTED rows driver-side instead of
    evaluating a label Column for every sampled row — when the label
    is derived from the text (the self-distillation bootstrap), the
    Column form made Spark compute the full stat columns for the whole
    hash sample just to project the ≤2k survivors (TakeOrdered prunes
    rows, not upstream column work). Callers must pre-filter rows the
    Column form would have dropped (label NULL ⟺ text NULL for the
    stat-based labels) so the top-k pool is identical."""
    if label_fn is not None:
        base = df.select(F.col(id_col), F.col(text_col))
    else:
        base = df.select(
            F.col(id_col),
            F.col(text_col),
            F.col(label_col).cast("double").alias("_y"),
        ).where(F.col(label_col).isNotNull())
    h = F.xxhash64(F.col(id_col), F.lit(seed))
    if sample_fraction is not None:
        thr = max(1, int(sample_fraction * 1_000_000))
        base = base.where(F.pmod(h, F.lit(1_000_000)) < thr)
    rows = (
        base.withColumn("_h", h)
        # total order (hash, id): the collected ROW ORDER feeds float
        # sums, so it must be bit-stable across physical layouts
        .orderBy("_h", id_col)
        .limit(max_train_docs)
        .select(text_col, *([] if label_fn is not None else ["_y"]))
        .collect()
    )
    if label_fn is not None:
        labeled = [
            (r[text_col], label_fn(r[text_col])) for r in rows
        ]
        labeled = [(t, y) for t, y in labeled if y is not None]
        X = np.stack(_hash_words([t for t, _ in labeled], n_features))
        y = np.array([float(y) for _, y in labeled], dtype=np.float64)
    else:
        X = np.stack(_hash_words([r[text_col] for r in rows], n_features))
        y = np.array([r["_y"] for r in rows], dtype=np.float64)
    return train_logreg(X, y, iters=iters)


def quality_score_udf(weights: "np.ndarray", n_features: int = 4096):
    """Arrow UDF: text → P(label=1) under the trained linear model."""
    w = np.asarray(weights, dtype=np.float64)

    def _score(texts: pa.Array) -> pa.Array:
        out = np.empty(len(texts), dtype=np.float64)
        for i, v in enumerate(_hash_words(texts, n_features)):
            z = min(500.0, max(-500.0, float(v @ w)))
            out[i] = 1.0 / (1.0 + np.exp(-z))
        return pa.array(out)

    return F.arrow_udf(_score, "double")


def classify_quality(
    df: DataFrame,
    weights: "np.ndarray",
    n_features: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """(id, clf_prob, clf_keep) for the whole corpus — one UDF pass."""
    prob = quality_score_udf(weights, n_features)(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.round(prob, 6).alias("clf_prob"),
    ).withColumn("clf_keep", F.col("clf_prob") >= threshold)
