"""Trained WordPiece tokenizer (Schuster & Nakajima 2012; BERT's
tokenizer — the third industry-standard subword family next to BPE
(`functions/bpe.py`) and the unigram LM (`functions/unigram.py`)).

The reference engine has no tokenizer (contessa is a SQL rule runner);
token budgeting is a training-data-pipeline concern. Spark-first
shape, shared with the sibling tokenizers:

* the ONLY distributed stage is the bounded word-frequency aggregate
  (`bpe.word_frequencies`: map-side combine + TakeOrderedAndProject,
  optional deterministic hash-threshold document sample);
* training runs driver-side on the collected counts: greedy merges
  like BPE, but scored by the unigram-LM likelihood gain
  ``score(a,b) = count(ab) / (count(a) · count(b))`` — the WordPiece
  objective (this is what distinguishes it from BPE's raw pair
  frequency). Symbol and pair counts update incrementally per merge;
  ties break on the lexicographically smallest pair — deterministic
  for a given count dict (and counts are exact integers from Spark,
  so for a given corpus regardless of physical layout);
* encoding is BERT's greedy longest-match-first per word
  (continuation pieces carry the ``##`` prefix; a word with any
  uncovered span becomes a single ``[UNK]``), run once per unique
  word of each Arrow batch through one bounded word memo per UDF in
  the shared subword apply kernel (``bpe._subword_udf``) — Zipf makes
  the hit rate high.

Vocabulary persistence mirrors `bpe.save_merges` (parquet, rank
order)."""

from __future__ import annotations

from typing import Dict, Iterable, List, Optional, Set, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UNK = "[UNK]"
CONT = "##"
MAX_WORD_CHARS = 200  # BERT's guard: longer words → [UNK] outright


def word_symbols(word: str) -> Tuple[str, ...]:
    """BERT symbol form: first char bare, continuations ##-prefixed."""
    return tuple(
        ch if i == 0 else CONT + ch for i, ch in enumerate(word)
    )


def _merge_sym(a: str, b: str) -> str:
    return a + (b[len(CONT):] if b.startswith(CONT) else b)


def train_wordpiece_from_counts(
    word_counts: Dict[str, int],
    vocab_size: int = 1024,
    min_pair_count: int = 2,
) -> List[str]:
    """Train a WordPiece vocabulary from a word-frequency dict.

    Returns the vocab as a list: ``[UNK]``, then the alphabet (bare +
    ## forms, lexicographic), then merged pieces in merge order. Stops
    at ``vocab_size`` entries or when no pair reaches
    ``min_pair_count``."""
    words: Dict[Tuple[str, ...], int] = {}
    for w, c in sorted(word_counts.items()):
        if not w or len(w) > MAX_WORD_CHARS:
            continue
        sym = word_symbols(w)
        words[sym] = words.get(sym, 0) + int(c)

    sym_counts: Dict[str, int] = {}
    pair_counts: Dict[Tuple[str, str], int] = {}
    pair_words: Dict[Tuple[str, str], set] = {}
    for sym, c in words.items():
        for s in sym:
            sym_counts[s] = sym_counts.get(s, 0) + c
        for a, b in zip(sym, sym[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
            pair_words.setdefault((a, b), set()).add(sym)

    vocab: List[str] = [UNK] + sorted(sym_counts)
    while len(vocab) < vocab_size:
        best: Optional[Tuple[str, str]] = None
        best_score = 0.0
        for p, c in pair_counts.items():
            if c < min_pair_count:
                continue
            denom = sym_counts[p[0]] * sym_counts[p[1]]
            score = c / denom
            if best is None or score > best_score or (
                score == best_score and p < best
            ):
                best, best_score = p, score
        if best is None:
            break
        new_sym = _merge_sym(*best)
        vocab.append(new_sym)
        touched = list(pair_words.get(best, ()))
        for sym in touched:
            c = words.pop(sym, None)
            if c is None:
                continue
            for s in sym:
                sym_counts[s] -= c
                if sym_counts[s] <= 0:
                    del sym_counts[s]
            for a, b in zip(sym, sym[1:]):
                pair_counts[(a, b)] -= c
                if pair_counts[(a, b)] <= 0:
                    del pair_counts[(a, b)]
                ws = pair_words.get((a, b))
                if ws is not None:
                    ws.discard(sym)
                    if not ws:
                        del pair_words[(a, b)]
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(new_sym)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            merged = tuple(out)
            words[merged] = words.get(merged, 0) + c
            for s in merged:
                sym_counts[s] = sym_counts.get(s, 0) + c
            for a, b in zip(merged, merged[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
                pair_words.setdefault((a, b), set()).add(merged)
    return vocab


def encode_word(word: str, vocab: Set[str]) -> List[str]:
    """BERT greedy longest-match-first; any uncovered span → [UNK]
    for the whole word."""
    if not word:
        return []
    if len(word) > MAX_WORD_CHARS:
        return [UNK]
    out: List[str] = []
    i = 0
    n = len(word)
    while i < n:
        j = n
        piece = None
        while j > i:
            cand = word[i:j] if i == 0 else CONT + word[i:j]
            if cand in vocab:
                piece = cand
                break
            j -= 1
        if piece is None:
            return [UNK]
        out.append(piece)
        i = j
    return out


def decode_tokens(tokens: Iterable[str]) -> str:
    """Inverse of per-word encoding (UNK-free input): join minus ##."""
    return "".join(
        t[len(CONT):] if t.startswith(CONT) else t for t in tokens
    )


def train_wordpiece(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1024,
    sample_fraction: Optional[float] = None,
    max_words: int = 50_000,
    seed: int = 42,
    id_col: Optional[str] = None,
) -> List[str]:
    """Train from a corpus DataFrame via the bounded distributed
    word-frequency aggregate (`bpe.word_frequencies` — lowercased,
    matching BERT-uncased convention)."""
    from contessa_spark.functions.bpe import word_frequencies

    freq = word_frequencies(
        df, text_col, sample_fraction, max_words, seed, id_col
    ).collect()
    return train_wordpiece_from_counts(
        {r["word"]: r["n"] for r in freq}, vocab_size
    )


def wordpiece_token_counts(
    df: DataFrame,
    vocab: List[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, wordpiece_tokens): token budget under the trained vocab —
    comparable with `bpe_token_counts` / `unigram_token_counts`."""
    from contessa_spark.functions.bpe import _subword_udf

    vs = set(vocab)
    udf = _subword_udf(lambda w: encode_word(w, vs))
    return df.select(
        F.col(id_col), udf(F.col(text_col)).alias("wordpiece_tokens")
    )


# ---------------------------------------------------------------- persistence

def save_vocab(spark, vocab: List[str], path: str) -> None:
    """Persist as parquet (rank, token) — same pin-the-artifact
    contract as `bpe.save_merges` / `unigram.save_vocab`."""
    spark.createDataFrame(
        list(enumerate(vocab)), "rank int, token string"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_vocab(spark, path: str) -> List[str]:
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [r["token"] for r in rows]
