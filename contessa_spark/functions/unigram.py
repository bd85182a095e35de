"""Unigram-LM subword tokenizer (Kudo 2018, the SentencePiece
"unigram" model) — the other production tokenizer family next to BPE
(``functions/bpe.py``): instead of greedy merges, a vocabulary of
pieces with log-probabilities, trained by EM + pruning, applied by
Viterbi (the max-probability segmentation of each word).

Reference parity: no counterpart in contessa (SURVEY.md §2
extension — tokenizer family, next to functions/bpe.py).

Scale shape — identical to the BPE module's: training consumes the
bounded WORD-FREQUENCY table (one map-side-combined aggregate + hash
sample + top-``max_words`` cap — ``bpe.word_frequencies``), never the
corpus; the EM/prune loop runs driver-side over that dict; encoding
ships the final piece table to workers inside the subword apply kernel
``bpe._subword_udf`` (each batch's unique words Viterbi-segmented
once, through one bounded word memo per UDF).

Training runs FULL-LATTICE EM by default (``em_mode="lattice"``):
expected piece counts from forward-backward over every segmentation of
each word — the Kudo 2018 §3.2 E-step — in log-space (manual
fixed-order logsumexp: no underflow on long words, bit-deterministic
summation). ``em_mode="hard"`` keeps the Viterbi-count variant (counts
from each word's single best segmentation — SentencePiece's "viterbi"
training mode); ``tests/test_unigram.py`` holds lattice training to a
corpus log-likelihood ≥ hard-EM's on the same data.

Remaining simplifications, chosen to keep the algorithm exact and
deterministic rather than feature-complete:

* pruning drops the pieces whose removal costs the least total
  likelihood mass (expected usage under the current model in lattice
  mode, Viterbi usage in hard mode), ``prune_frac`` at a time, never
  single characters (they are the OOV-proof floor — every word always
  segments);
* determinism everywhere: ties in Viterbi break toward the LONGER
  first piece then lexicographic; pruning ties break lexicographic;
  lattice sums run in one fixed traversal order over a sorted word
  table — no distributed float sums.
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_PIECE_LEN = 16


def _vocab_floor(logp: Dict[str, float]) -> float:
    """Unseen-single-char fallback score for a piece table — one
    O(vocab) scan; compute ONCE per vocabulary and pass into
    ``_viterbi`` (an encode UDF calls _viterbi per unmemoized word:
    recomputing the min there was an O(vocab) scan in the hot path)."""
    return min(logp.values(), default=-10.0) - 10.0


def _viterbi(
    word: str, logp: Dict[str, float], floor: Optional[float] = None
) -> List[str]:
    """Max-log-prob segmentation of ``word`` into vocabulary pieces.
    Assumes every single character of ``word`` is in ``logp`` (the
    trainer guarantees it for trained text; unseen characters fall
    back to the ``floor`` score so encoding never fails)."""
    n = len(word)
    # best[i] = (score, backpointer_start, piece)
    NEG = float("-inf")
    if floor is None:
        floor = _vocab_floor(logp)
    best: List[Tuple[float, int]] = [(NEG, -1)] * (n + 1)
    best[0] = (0.0, -1)
    piece_at: List[Optional[str]] = [None] * (n + 1)
    for end in range(1, n + 1):
        # longer pieces first: equal-score ties keep the longest piece
        for start in range(max(0, end - MAX_PIECE_LEN), end):
            prev = best[start][0]
            if prev == NEG:
                continue
            piece = word[start:end]
            lp = logp.get(piece)
            if lp is None:
                if end - start > 1:
                    continue
                lp = floor  # single unseen char: floor fallback
            score = prev + lp
            cur = best[end][0]
            if score > cur or (
                score == cur
                and piece_at[end] is not None
                and (
                    len(piece) > len(piece_at[end])
                    or (len(piece) == len(piece_at[end]) and piece < piece_at[end])
                )
            ):
                best[end] = (score, start)
                piece_at[end] = piece
    out: List[str] = []
    i = n
    while i > 0:
        start = best[i][1]
        out.append(word[start:i])
        i = start
    out.reverse()
    return out


def _logsumexp(terms: List[float]) -> float:
    """Fixed-order log-sum-exp (no numpy: summation order must be the
    list order for bit-determinism)."""
    if not terms:
        return float("-inf")
    m = max(terms)
    if m == float("-inf"):
        return m
    return m + math.log(sum(math.exp(t - m) for t in terms))


def _arc_logp(piece: str, logp: Dict[str, float], floor: float):
    """Arc score for a lattice edge: vocabulary pieces score their
    log-prob; single UNSEEN characters score the floor (the OOV path
    that keeps every word segmentable); longer unseen spans are not
    arcs."""
    lp = logp.get(piece)
    if lp is None and len(piece) == 1:
        return floor
    return lp


def _log_forward(word: str, logp: Dict[str, float], floor: float) -> List[float]:
    """log alpha[j] = log sum over all segmentations of word[:j]."""
    n = len(word)
    la = [float("-inf")] * (n + 1)
    la[0] = 0.0
    for j in range(1, n + 1):
        terms = []
        for i in range(max(0, j - MAX_PIECE_LEN), j):
            if la[i] == float("-inf"):
                continue
            lp = _arc_logp(word[i:j], logp, floor)
            if lp is not None:
                terms.append(la[i] + lp)
        la[j] = _logsumexp(terms)
    return la


def _expected_counts(
    word: str,
    c: int,
    logp: Dict[str, float],
    floor: float,
    counts: Dict[str, float],
) -> None:
    """Forward-backward E-step for one word: add ``c`` × the expected
    number of times each piece is used, marginalized over ALL
    segmentations (Kudo 2018 §3.2), into ``counts``. Fixed traversal
    order (j ascending, i ascending) keeps float accumulation
    deterministic."""
    n = len(word)
    la = _log_forward(word, logp, floor)
    lz = la[n]
    if lz == float("-inf"):
        return
    lb = [float("-inf")] * (n + 1)
    lb[n] = 0.0
    for i in range(n - 1, -1, -1):
        terms = []
        for j in range(i + 1, min(n, i + MAX_PIECE_LEN) + 1):
            if lb[j] == float("-inf"):
                continue
            lp = _arc_logp(word[i:j], logp, floor)
            if lp is not None:
                terms.append(lp + lb[j])
        lb[i] = _logsumexp(terms)
    for j in range(1, n + 1):
        for i in range(max(0, j - MAX_PIECE_LEN), j):
            if la[i] == float("-inf") or lb[j] == float("-inf"):
                continue
            piece = word[i:j]
            lp = _arc_logp(piece, logp, floor)
            if lp is None:
                continue
            counts[piece] = counts.get(piece, 0.0) + c * math.exp(
                la[i] + lp + lb[j] - lz
            )


def corpus_loglik(
    word_counts: Dict[str, int], logp: Dict[str, float]
) -> float:
    """Corpus log-likelihood under the piece table: Σ c·log Z(word),
    Z marginalizing over every segmentation (floor-scored unseen
    single chars included) — the quantity full-lattice EM ascends."""
    floor = _vocab_floor(logp)
    total = 0.0
    for w, c in sorted(word_counts.items()):
        if not w:
            continue
        total += c * _log_forward(w, logp, floor)[len(w)]
    return total


def train_unigram_from_counts(
    word_counts: Dict[str, int],
    vocab_size: int = 1024,
    seed_factor: int = 4,
    em_iters: int = 2,
    prune_frac: float = 0.25,
    em_mode: str = "lattice",
) -> Dict[str, float]:
    """Train a unigram piece table → {piece: logprob}.

    Seed = all substrings (≤ ``MAX_PIECE_LEN``) of the corpus words,
    scored by occurrence-weighted frequency, capped at
    ``seed_factor × vocab_size`` (single characters always included).
    Then repeat: EM re-estimation (full-lattice forward-backward
    expected counts by default; Viterbi counts with
    ``em_mode="hard"``) → prune the lowest-likelihood-loss pieces
    ``prune_frac`` at a time — until the vocabulary fits
    ``vocab_size``, finishing with ``em_iters`` final EM passes."""
    if em_mode not in ("lattice", "hard"):
        raise ValueError(f"em_mode must be 'lattice' or 'hard', got {em_mode!r}")
    words = sorted(
        (w, int(c)) for w, c in word_counts.items() if w
    )  # fixed iteration order: determinism
    if not words:
        return {}

    # ---- seed: substring counts (occurrence-weighted), chars forced in
    sub_counts: Dict[str, int] = {}
    for w, c in words:
        L = len(w)
        for i in range(L):
            for j in range(i + 1, min(L, i + MAX_PIECE_LEN) + 1):
                s = w[i:j]
                sub_counts[s] = sub_counts.get(s, 0) + c
    chars = {w[i] for w, _ in words for i in range(len(w))}
    multi = sorted(
        ((s, c) for s, c in sub_counts.items() if len(s) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[: max(0, seed_factor * vocab_size - len(chars))]
    vocab = {s for s, _ in multi} | chars

    def e_step(logp: Dict[str, float]) -> Dict[str, float]:
        counts: Dict[str, float] = {}
        floor = _vocab_floor(logp)
        if em_mode == "lattice":
            for w, c in words:
                _expected_counts(w, c, logp, floor, counts)
        else:
            for w, c in words:
                for piece in _viterbi(w, logp, floor):
                    counts[piece] = counts.get(piece, 0.0) + c
        return counts

    def em_pass(v: set) -> Dict[str, float]:
        total0 = sum(sub_counts.get(p, 1) for p in sorted(v))
        logp = {
            p: math.log(sub_counts.get(p, 1) / total0) for p in sorted(v)
        }
        for _ in range(em_iters):
            counts = e_step(logp)
            total = sum(counts.get(p, 0.0) + 1e-9 for p in sorted(v))
            logp = {
                p: math.log((counts.get(p, 0.0) + 1e-9) / total)
                for p in sorted(v)
            }
        return logp

    logp = em_pass(vocab)
    while len(vocab) > vocab_size:
        # likelihood loss of removing piece p ≈ its usage mass under
        # the current model (expected in lattice mode, Viterbi in
        # hard); unused pieces go first, then the lightest users
        usage = {p: 0.0 for p in vocab}
        usage.update(
            (p, c) for p, c in e_step(logp).items() if p in usage
        )
        removable = sorted(
            ((p, u) for p, u in usage.items() if len(p) > 1),
            key=lambda kv: (kv[1], kv[0]),
        )
        n_drop = min(
            max(1, int(len(vocab) * prune_frac)),
            max(0, len(vocab) - vocab_size),
            len(removable),
        )
        if n_drop == 0:
            break  # only single chars left above target: cannot shrink
        for p, _ in removable[:n_drop]:
            vocab.discard(p)
        logp = em_pass(vocab)
    return logp


def train_unigram(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1024,
    sample_fraction: Optional[float] = None,
    max_words: int = 50_000,
    seed: int = 42,
    id_col: Optional[str] = None,
    em_mode: str = "lattice",
) -> Dict[str, float]:
    from contessa_spark.functions.bpe import word_frequencies

    freq = word_frequencies(
        df, text_col, sample_fraction, max_words, seed, id_col
    ).collect()
    return train_unigram_from_counts(
        {r["word"]: r["n"] for r in freq}, vocab_size, em_mode=em_mode
    )


def unigram_token_counts(
    df: DataFrame,
    logp: Dict[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, unigram_tokens): token budget under the trained unigram
    vocabulary — comparable with ``bpe_token_counts``."""
    from contessa_spark.functions.bpe import _subword_udf

    floor = _vocab_floor(logp)
    udf = _subword_udf(lambda w: _viterbi(w, logp, floor))
    return df.select(
        F.col(id_col), udf(F.col(text_col)).alias("unigram_tokens")
    )


# ---------------------------------------------------------------- persistence

def save_vocab(spark, logp: Dict[str, float], path: str) -> None:
    """Persist the trained piece table as parquet (piece, logprob) —
    same pin-the-artifact contract as ``bpe.save_merges``."""
    spark.createDataFrame(
        sorted(logp.items()), "piece string, logprob double"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_vocab(spark, path: str) -> Dict[str, float]:
    return {
        r["piece"]: r["logprob"] for r in spark.read.parquet(path).collect()
    }
