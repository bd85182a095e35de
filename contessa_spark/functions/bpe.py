"""Byte-pair-encoding tokenizer: deterministic merge training on a
corpus sample + vectorized apply.

The ``bpeish_tokens`` regex count (text_analysis.py) approximates a
subword tokenizer's budget; this module is the real thing (Sennrich et
al. 2016): train a merge table from corpus word frequencies, then
encode with the standard lowest-rank-first greedy merge loop — so
``pack_documents`` budgets can match a production tokenizer's token
counts exactly for a given vocab.

Scale shape: training needs a WORD-FREQUENCY table, not the corpus —
one count aggregate (map-side combined, hot words collapse per
partition) + a deterministic hash-threshold sample + a
TakeOrderedAndProject top-``max_words`` cap bound the driver-side
state to ~max_words rows regardless of corpus size. The merge loop
runs driver-side over that dict (the classic incremental pair-count
algorithm — only words containing the merged pair are touched);
encoding ships the rank table to workers inside ``_subword_udf``, the
apply kernel all three subword tokenizers share: an ``arrow_udf`` that
takes each Arrow batch's words from one lowercased
``hashing.word_table`` and encodes each DISTINCT word once, through one
bounded word memo per UDF (words are Zipf — most lookups hit).

Determinism: ties in pair frequency break on the lexicographically
smallest pair; the sample is a hash predicate (stable across
partitionings, unlike ``df.sample``); the word cap orders by
(count DESC, word ASC).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from contessa_spark.hashing import doc_sums, list_array, word_table

#: end-of-word sentinel appended as its own symbol (Sennrich form);
#: never collides with text because words are whitespace-split (and in
#: byte mode the byte alphabet is single chars, so the multi-char
#: sentinel cannot collide either)
EOW = "</w>"


# ------------------------------------------------------- byte alphabet

def _bytes_to_unicode() -> Dict[int, str]:
    """GPT-2's reversible byte→printable-unicode table (Radford et al.
    2019, public `encoder.py`): the 188 visible latin-1 bytes map to
    themselves; the rest shift up past U+0100 so every byte has a
    printable, non-whitespace stand-in. Merging over THESE symbols is
    what makes byte-level BPE lossless on arbitrary unicode — any
    character is just 1-4 alphabet symbols, nothing is ever OOV."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("\xa1"), ord("\xac") + 1))
        + list(range(ord("\xae"), ord("\xff") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, [chr(c) for c in cs]))


_B2U = _bytes_to_unicode()
_U2B = {u: b for b, u in _B2U.items()}


# ---------------------------------------------------------------- pure core

def word_symbols(word: str, byte_level: bool = False) -> Tuple[str, ...]:
    if byte_level:
        return tuple(_B2U[b] for b in word.encode("utf-8")) + (EOW,)
    return tuple(word) + (EOW,)


def train_bpe_from_counts(
    word_counts: Dict[str, int], n_merges: int, byte_level: bool = False
) -> List[Tuple[str, str]]:
    """Classic BPE training over a word-frequency dict. Incremental:
    pair counts and a pair→words index update only for words containing
    the merged pair, so each merge costs O(words touched), not O(all).
    Ties break on the lexicographically smallest pair — fully
    deterministic for a given dict. ``byte_level`` trains over the
    GPT-2 byte alphabet instead of raw characters."""
    words: Dict[Tuple[str, ...], int] = {}
    for w, c in word_counts.items():
        if not w:
            continue
        sym = word_symbols(w, byte_level)
        words[sym] = words.get(sym, 0) + int(c)

    pair_counts: Dict[Tuple[str, str], int] = {}
    pair_words: Dict[Tuple[str, str], set] = {}
    for sym, c in words.items():
        for a, b in zip(sym, sym[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
            pair_words.setdefault((a, b), set()).add(sym)

    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        best_c = 0
        for p, c in pair_counts.items():
            if c > best_c or (c == best_c and best is not None and p < best):
                best, best_c = p, c
        if best is None or best_c < 2:
            break  # nothing left worth merging
        merges.append(best)
        new_sym_str = best[0] + best[1]
        touched = list(pair_words.get(best, ()))
        for sym in touched:
            c = words.pop(sym, None)
            if c is None:
                continue
            # remove old pair contributions
            for a, b in zip(sym, sym[1:]):
                pair_counts[(a, b)] -= c
                if pair_counts[(a, b)] <= 0:
                    del pair_counts[(a, b)]
                ws = pair_words.get((a, b))
                if ws is not None:
                    ws.discard(sym)
                    if not ws:
                        del pair_words[(a, b)]
            # apply the merge left-to-right
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(new_sym_str)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_sym = tuple(out)
            words[new_sym] = words.get(new_sym, 0) + c
            for a, b in zip(new_sym, new_sym[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
                pair_words.setdefault((a, b), set()).add(new_sym)
    return merges


def encode_word(
    word: str, ranks: Dict[Tuple[str, str], int], byte_level: bool = False
) -> List[str]:
    """GPT-2-style greedy apply: repeatedly merge the adjacent pair
    with the LOWEST rank until none remains."""
    sym = list(word_symbols(word, byte_level))
    while len(sym) > 1:
        best_i, best_r = -1, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_r is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def decode_tokens(tokens: List[str], byte_level: bool = False) -> str:
    """Inverse of per-word encoding: concatenation minus the sentinel
    (byte mode additionally maps the alphabet back to bytes and
    utf-8-decodes — lossless round-trip for ANY unicode input)."""
    joined = "".join(tokens).replace(EOW, "")
    if byte_level:
        return bytes(_U2B[ch] for ch in joined).decode("utf-8")
    return joined


# ---------------------------------------------------------------- training

def word_frequencies(
    df: DataFrame,
    text_col: str = "text",
    sample_fraction: Optional[float] = None,
    max_words: int = 50_000,
    seed: int = 42,
    id_col: Optional[str] = None,
) -> DataFrame:
    """(word, n) for the top ``max_words`` corpus words, optionally over
    a deterministic hash-threshold doc sample (NOT ``df.sample``, whose
    per-partition RNG changes with the physical layout). One map-side
    combined aggregate + TakeOrderedAndProject — driver never sees more
    than ``max_words`` rows. Lowercased (tokenizer vocabularies case-
    fold here; flip by passing a pre-cased column)."""
    from contessa_spark.functions.textstats import spark_words_col

    base = df
    if sample_fraction is not None:
        key = F.col(id_col) if id_col else F.col(text_col)
        thr = max(1, int(sample_fraction * 1_000_000))
        base = df.where(
            F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(1_000_000)) < thr
        )
    return (
        base.select(F.explode(spark_words_col(text_col)).alias("word"))
        .select(F.lower("word").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(max_words)
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 512,
    sample_fraction: Optional[float] = None,
    max_words: int = 50_000,
    seed: int = 42,
    id_col: Optional[str] = None,
    byte_level: bool = False,
) -> List[Tuple[str, str]]:
    freq = word_frequencies(
        df, text_col, sample_fraction, max_words, seed, id_col
    ).collect()
    return train_bpe_from_counts(
        {r["word"]: r["n"] for r in freq}, n_merges, byte_level
    )


# ---------------------------------------------------------------- apply

#: words one subword UDF memoizes before it stops adding (bounded
#: worker memory; Zipf words make most lookups hit well before it)
_MEMO_WORDS = 2_000_000


def _subword_udf(encode_word, tokens: bool = False):
    """The apply kernel of every trained subword tokenizer (BPE,
    unigram, WordPiece): Arrow UDF text → BIGINT token count, or
    → array<string> tokens with ``tokens=True``. Per Arrow batch, the
    words come from one lowercased ``hashing.word_table`` and
    ``encode_word`` runs once per distinct word through one bounded
    memo that lives as long as the UDF; counts are summed per doc
    through the codes (exact int64 range sums), tokens are the
    per-word encodings gathered in word order."""
    memo: Dict[str, List[str]] = {}

    def _apply(texts: pa.Array) -> pa.Array:
        offsets, codes, words = word_table(texts, lower=True)
        encs = []
        for w in words.to_pylist():
            got = memo.get(w)
            if got is None:
                got = encode_word(w)
                if len(memo) < _MEMO_WORDS:
                    memo[w] = got
            encs.append(got)
        n_toks = np.fromiter(map(len, encs), dtype=np.int64, count=len(encs))
        per_doc = doc_sums(n_toks[codes], offsets)
        if not tokens:
            return pa.array(per_doc)
        # word occurrence i's tokens are entries first[codes[i]], … of
        # the distinct words' tokens; they start at out[i] in the output
        first = np.cumsum(n_toks) - n_toks
        out = np.cumsum(n_toks[codes]) - n_toks[codes]
        idx = np.arange(per_doc.sum()) + np.repeat(first[codes] - out, n_toks[codes])
        flat = pa.array([t for e in encs for t in e], pa.string())
        return list_array(per_doc, flat.take(idx))

    return F.arrow_udf(_apply, "array<string>" if tokens else "bigint")


def _bpe_encoder(merges: List[Tuple[str, str]], byte_level: bool):
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    return lambda w: encode_word(w, ranks, byte_level)


def bpe_encode_udf(merges: List[Tuple[str, str]], byte_level: bool = False):
    """Arrow UDF: text → array<string> of BPE tokens (lowercased
    whitespace words, each word encoded independently — merges never
    cross the EOW sentinel)."""
    return _subword_udf(_bpe_encoder(merges, byte_level), tokens=True)


def bpe_token_count_udf(merges: List[Tuple[str, str]], byte_level: bool = False):
    """Arrow UDF: text → BIGINT token count (no token materialization
    — the pack-budget hot path)."""
    return _subword_udf(_bpe_encoder(merges, byte_level))


def bpe_token_counts(
    df: DataFrame,
    merges: List[Tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    byte_level: bool = False,
) -> DataFrame:
    """(id, bpe_tokens, ws_tokens): the trained-vocab token budget next
    to the whitespace baseline (their ratio is the fertility the
    regex approximation guessed at)."""
    ws = F.size(
        F.filter(F.split(F.col(text_col), r"(?U)\s+"), lambda x: x != F.lit(""))
    ).cast("long")
    return df.select(
        F.col(id_col),
        bpe_token_count_udf(merges, byte_level)(F.col(text_col)).alias("bpe_tokens"),
        ws.alias("ws_tokens"),
    )


# ---------------------------------------------------------------- persistence

def save_merges(
    spark, merges: List[Tuple[str, str]], path: str
) -> None:
    """Persist a trained merge table as parquet (rank, left, right) —
    the artifact a pipeline trains once and every later job loads
    (tokenizer drift between training and packing silently changes
    every token budget; a persisted table pins it)."""
    spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_merges(spark, path: str) -> List[Tuple[str, str]]:
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["left"], r["right"]) for r in rows]
