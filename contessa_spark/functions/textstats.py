"""C4/Gopher-style heuristic text statistics.

Signals (Raffel et al. 2020 §2.2 "C4"; Rae et al. 2021 Gopher §A1.1):
document length, symbol ratio, word repetition, stop-word fraction,
mean word length. Each has TWO implementations that must agree
exactly:

* a Spark ``Column`` expression (JVM-side, whole-stage-codegen — the
  hot path; no Python involved), and
* a pure-Python function used by the test oracle.

Tokenization is "split on whitespace runs, drop empties" in both.
The letter class includes Latin-1 accents so de/fr/es/it/cs text is
not penalized as symbols.

Whitespace contract: "whitespace" means the Unicode White_Space set
(NBSP, U+2028/29, U+3000, …) on BOTH sides — the JVM regexes carry the
``(?U)`` (UNICODE_CHARACTER_CLASS) flag so Java ``\\s`` matches it,
and the Python keep/delete table is built from the same explicit set.
Known residual divergence: Python ``str.split()`` additionally treats
the C0 separators U+001C–001F as whitespace (Java does not). The
Python word paths (every word-level UDF, through
``hashing.word_table``'s Arrow split) match ``str.split()`` there too,
so only these JVM Column forms differ on those unprintable control
codes — accepted as out of contract and kept out of the Column-form
property tests.
"""

from __future__ import annotations

import re
from typing import Dict, List

from contessa_spark.functions.langid import SEED_CORPORA

# ---- shared constants ------------------------------------------------

#: the Unicode White_Space code points (what Java (?U)\s matches)
WS_CHARS = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)
_WS_SET = frozenset(WS_CHARS)

#: JVM (Java-regex) form — (?U) makes \s match the White_Space set
_LETTER_CLASS = r"(?U)[A-Za-zÀ-ÿ0-9\s]"
_ALNUM_RE = re.compile(r"[A-Za-zÀ-ÿ0-9]")

#: DuckDB/RE2 equivalent of (?U)\s (RE2 has no (?U); \p{Z} = separators,
#: \x09-\x0d + \x85 the rest) — used by the oracle SQL builders
DUCKDB_WS = r"\x09-\x0d\x85\p{Z}"

# str.translate table deleting every keep-class char — C-speed
# equivalent of the regex sub (regex sub was the hotspot at
# ~150µs/doc). Built from the EXPLICIT keep set (alnum ∪ White_Space)
# so it agrees with the JVM (?U) class even on NBSP/U+2028/U+3000; all
# keep codepoints are ≤ 0x3000, chars above stay → counted as symbols.
_KEEP_DELETE_TABLE = {
    cp: None
    for cp in range(0x3001)
    if _ALNUM_RE.match(chr(cp)) or chr(cp) in _WS_SET
}

# stop words: the 25 most frequent tokens of each language's seed
# corpus, unioned — deterministic, derived, multi-language.
def _build_stopwords() -> List[str]:
    stops = set()
    for corpus in SEED_CORPORA.values():
        freq: Dict[str, int] = {}
        for w in corpus.split():
            freq[w] = freq.get(w, 0) + 1
        top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
        stops.update(w for w, _ in top)
    return sorted(stops)


STOPWORDS: List[str] = _build_stopwords()
_STOPSET = set(STOPWORDS)


# ---- pure-python cores (test oracle) --------------------------------

def py_tokens(text: str) -> List[str]:
    return text.split()


def py_n_chars(text: str) -> int:
    return len(text)


def py_symbol_ratio(text: str) -> float:
    if not text:
        return 1.0
    return len(text.translate(_KEEP_DELETE_TABLE)) / len(text)


def py_repetition(text: str) -> float:
    toks = py_tokens(text)
    if not toks:
        return 1.0
    return 1.0 - len(set(toks)) / len(toks)


def py_stopword_frac(text: str) -> float:
    toks = py_tokens(text)
    if not toks:
        return 0.0
    return sum(1 for t in toks if t.lower() in _STOPSET) / len(toks)


def py_mean_word_len(text: str) -> float:
    toks = py_tokens(text)
    if not toks:
        return 0.0
    return sum(len(t) for t in toks) / len(toks)


# ---- Spark Column builders (the engine path) -------------------------

def spark_words_col(text_col: str = "text"):
    """split-on-whitespace-runs, drop empties — matches ``str.split()``
    (modulo U+001C–1F, see module docstring); (?U) makes Java \\s cover
    Unicode whitespace like Python's. ``array_remove(…, "")`` drops the
    empties the leading/trailing-whitespace splits produce — identical
    to the earlier ``filter(x != '')`` lambda, one less higher-order
    expression in the plan."""
    from pyspark.sql import functions as F

    return F.array_remove(F.split(F.col(text_col), r"(?U)\s+"), "")


#: complement of the keep class — one regexp_count instead of building
#: the stripped string with regexp_replace and measuring it
_SYMBOL_CLASS = r"(?U)[^A-Za-zÀ-ÿ0-9\s]"


def _stopword_token_pattern() -> str:
    """Whole-token stopword matcher as ONE Java regex over the lowered
    text: tokens are whitespace runs, so a token matches a stopword iff
    the stopword appears bounded by ^/\\s and \\s/$ in the lowered text
    (lowercasing never creates or removes whitespace, so boundaries are
    stable). The alternation is grouped by first character with
    longest-first suffixes — Java's regex tries alternatives
    left-to-right at every position, and the first-char dispatch cuts
    the ~140 attempted branches per token to the handful sharing the
    token's first letter (measured 4× over the flat alternation at
    sf1.0). Counting matches equals counting stopword tokens because
    token matches are disjoint (each ends at whitespace)."""
    import re as _re
    from collections import defaultdict

    groups = defaultdict(list)
    for w in sorted(STOPWORDS, key=len, reverse=True):
        groups[w[0]].append(w)
    alts = []
    for ch in sorted(groups):
        ws = groups[ch]
        # escape defensively: the list is derived from seed corpora, so
        # a future corpus edit must not silently corrupt the pattern
        # (escaping is the identity on the current all-letter words)
        suffixes = [_re.escape(w[1:]) for w in ws]
        ech = _re.escape(ch)
        has_empty = "" in suffixes
        suffixes = [s for s in suffixes if s]
        if not suffixes:
            alts.append(ech)
        elif has_empty:
            alts.append(f"{ech}(?:{'|'.join(suffixes)})?")
        else:
            alts.append(f"{ech}(?:{'|'.join(suffixes)})")
    return r"(?U)(?:^|(?<=\s))(?:" + "|".join(alts) + r")(?=\s|$)"


_STOPWORD_TOKEN_RE = _stopword_token_pattern()


def spark_stat_columns(text_col: str = "text", words_col: str = None):
    """dict of stat-name → Column, all JVM-side (no UDF).

    Every column is built from codegen-friendly primitives
    (``regexp_count``, ``split``, ``array_distinct``) instead of
    interpreted higher-order lambdas — the earlier
    ``filter(words, array_contains(stops, lower(w)))`` stopword scan
    alone cost ~3 ms/doc (150 core-s for 50k docs); the whole-token
    stopword regex plus count-based symbol/word-length forms cut the
    five-stat scan ~2.5× at sf1.0 with bit-identical output (each
    replacement computes the same exact integers, then the same IEEE
    double division; equality is property-tested against the ``py_*``
    oracles and was exhaustively checked on the sf corpora).

    Pass ``words_col`` (a pre-materialized array column from
    ``spark_words_col``) when computing several stats over one table so
    the split runs once.
    """
    from pyspark.sql import functions as F

    c = F.col(text_col)
    words = F.col(words_col) if words_col else spark_words_col(text_col)
    # word count == number of non-whitespace runs: with no materialized
    # words column, counting runs directly keeps the three guards/
    # denominators from each embedding their own copy of the split
    # (codegen does not CSE across columns; only `repetition`, which
    # needs the distinct set, pays the split then)
    n_words = (
        F.size(words)
        if words_col
        else F.when(c.isNull(), F.lit(-1)).otherwise(
            F.regexp_count(c, F.lit(r"(?U)\S+"))
        )
    )

    return {
        "n_chars": F.length(c).cast("long"),
        # count of non-keep chars == length of the stripped remainder
        "symbol_ratio": F.when(F.length(c) == 0, F.lit(1.0)).otherwise(
            F.regexp_count(c, F.lit(_SYMBOL_CLASS))
            / F.length(c).cast("double")
        ),
        "repetition": F.when(n_words == 0, F.lit(1.0)).otherwise(
            1.0 - F.size(F.array_distinct(words)) / n_words.cast("double")
        ),
        "stopword_frac": F.when(n_words == 0, F.lit(0.0)).otherwise(
            F.regexp_count(F.lower(c), F.lit(_STOPWORD_TOKEN_RE))
            / n_words.cast("double")
        ),
        # Σ len(word) == n_chars − whitespace chars (tokens are exactly
        # the non-whitespace runs)
        "mean_word_len": F.when(n_words == 0, F.lit(0.0)).otherwise(
            (F.length(c) - F.regexp_count(c, F.lit(r"(?U)\s")))
            / n_words.cast("double")
        ),
    }
