"""BPE tokenizer: hand-computed merge golden (Sennrich-style corpus),
determinism across dict order and physical partitioning, round-trip,
and the pack_documents budget integration."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from contessa_spark.functions.bpe import (
    EOW,
    bpe_token_counts,
    decode_tokens,
    encode_word,
    train_bpe,
    train_bpe_from_counts,
)

CORPUS = {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_train_merges_golden():
    """Hand-derived first five merges, including the lexicographic
    tie-breaks at count 9 ((e,s) < (s,t) < (t,</w>)) and count 7
    ((l,o) < (o,w))."""
    merges = train_bpe_from_counts(CORPUS, 5)
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", EOW),
        ("l", "o"),
        ("lo", "w"),
    ]


def test_train_deterministic_across_dict_order():
    a = train_bpe_from_counts(CORPUS, 50)
    b = train_bpe_from_counts(dict(reversed(list(CORPUS.items()))), 50)
    assert a == b


def test_train_stops_below_count_two():
    # every pair unique -> nothing worth merging beyond singletons
    merges = train_bpe_from_counts({"abc": 1, "xyz": 1}, 10)
    assert merges == []


def test_encode_golden_and_roundtrip():
    merges = train_bpe_from_counts(CORPUS, 5)
    ranks = {p: i for i, p in enumerate(merges)}
    assert encode_word("lowest", ranks) == ["low", "est" + EOW]
    assert encode_word("newest", ranks) == ["n", "e", "w", "est" + EOW]
    # unseen word: falls back to chars + whatever merges apply
    assert decode_tokens(encode_word("slowest", ranks)) == "slowest"
    for w in ["low", "lower", "newest", "widest", "zzz", "", "low" * 20]:
        assert decode_tokens(encode_word(w, ranks)) == w


def test_spark_training_partition_invariant(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    m1 = train_bpe(docs, n_merges=64, max_words=5000)
    m2 = train_bpe(docs.repartition(7), n_merges=64, max_words=5000)
    assert m1 == m2 and len(m1) == 64


def test_bpe_token_counts_and_pack_budget(spark):
    from pyspark.sql import functions as F

    from contessa_spark.functions.bpe import bpe_token_count_udf
    from contessa_spark.operators.text_analysis import pack_documents

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    merges = train_bpe(docs, n_merges=128, max_words=5000)
    counts = bpe_token_counts(docs, merges).collect()
    assert len(counts) == 500
    for r in counts:
        # every ws word yields >= 1 bpe token; fully-merged words yield
        # exactly one, so ws <= bpe <= chars+1 per word
        assert r["bpe_tokens"] >= r["ws_tokens"]

    packed = pack_documents(
        docs,
        budget_tokens=4096,
        n_buckets=8,
        n_tokens_col=bpe_token_count_udf(merges)(F.col("text")),
    )
    rows = packed.collect()
    assert len(rows) == 500
    # pack ids are dense per bucket and n_tokens is the BPE count
    by_doc = {r["doc_id"]: r for r in rows}
    cnt_by_doc = {r["doc_id"]: r["bpe_tokens"] for r in counts}
    assert all(by_doc[d]["n_tokens"] == cnt_by_doc[d] for d in by_doc)


def test_byte_level_roundtrip_arbitrary_unicode():
    """Byte-level mode must encode/decode ANY unicode word losslessly —
    including scripts absent from training (the GPT-2 byte-alphabet
    guarantee the char-level mode lacks)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from contessa_spark.functions.bpe import (
        decode_tokens,
        encode_word,
        train_bpe_from_counts,
    )

    merges = train_bpe_from_counts(
        {"héllo": 10, "wörld": 8, "日本語": 7, "the": 20}, 64, byte_level=True
    )
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @settings(max_examples=200, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
                blacklist_characters=" \t\n\r",  # words are ws-split
            ),
            min_size=1,
            max_size=24,
        )
    )
    def _rt(word):
        toks = encode_word(word, ranks, byte_level=True)
        assert decode_tokens(toks, byte_level=True) == word

    _rt()


def test_byte_level_alphabet_is_reversible_and_printable():
    from contessa_spark.functions.bpe import _B2U, _U2B

    assert len(_B2U) == 256 and len(_U2B) == 256
    for b, u in _B2U.items():
        assert _U2B[u] == b
        assert not u.isspace()  # stand-ins never collide with ws-split


def test_byte_level_spark_encode_partition_invariant(spark):
    from pyspark.sql import functions as F

    from contessa_spark.functions.bpe import bpe_encode_udf, train_bpe

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(50)
    merges = train_bpe(docs, n_merges=64, byte_level=True)
    assert merges

    def run(df):
        return {
            r["doc_id"]: tuple(r["toks"])
            for r in df.select(
                "doc_id",
                bpe_encode_udf(merges, byte_level=True)(F.col("text")).alias("toks"),
            ).collect()
        }

    a = run(docs)
    b = run(docs.repartition(7))
    assert a == b and a


def _subword_case(name, counts):
    """(udf column factory, pure per-word encoder) for one tokenizer
    trained on ``counts``."""
    from pyspark.sql import functions as F

    from contessa_spark.functions import unigram, wordpiece
    from contessa_spark.functions.bpe import bpe_encode_udf

    if name.startswith("bpe"):
        merges = train_bpe_from_counts(counts, 128)
        ranks = {p: i for i, p in enumerate(merges)}

        def enc(w):
            return encode_word(w, ranks)

        if name == "bpe_encode":
            return (lambda df: df.select("doc_id", bpe_encode_udf(merges)(F.col("text")).alias("t"))), enc
        return (lambda df: bpe_token_counts(df, merges).select("doc_id", F.col("bpe_tokens").alias("t"))), enc
    if name == "unigram":
        logp = unigram.train_unigram_from_counts(counts, vocab_size=256)
        floor = unigram._vocab_floor(logp)
        return (
            lambda df: unigram.unigram_token_counts(df, logp).select("doc_id", F.col("unigram_tokens").alias("t"))
        ), (lambda w: unigram._viterbi(w, logp, floor))
    vocab = wordpiece.train_wordpiece_from_counts(counts, vocab_size=512)
    vs = set(vocab)
    return (
        lambda df: wordpiece.wordpiece_token_counts(df, vocab).select("doc_id", F.col("wordpiece_tokens").alias("t"))
    ), (lambda w: wordpiece.encode_word(w, vs))


@pytest.mark.parametrize("name", ["bpe_counts", "bpe_encode", "unigram", "wordpiece"])
def test_subword_udfs_match_per_word_encoding(spark, name, high_vocab):
    """Every subword UDF equals its pure per-word encoder on each doc:
    a count is ``sum(len(encode_word(w)) for w in t.lower().split())``
    and ``bpe_encode_udf``'s tokens are the per-word encodings
    concatenated. Small Arrow batches make one task span several
    batches, so the word memo is reused across them; NULL, empty,
    NUL-containing and case-folding words are included, and the
    high-vocabulary corpus's first texts add ~10⁴ distinct words."""
    from collections import Counter

    def lower_split(t):
        return (t or "").lower().split()

    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet("/root/testdata/sf0.001/documents.parquet").orderBy("doc_id").limit(60).collect()
    ]
    docs += [
        (-1, None),
        (-2, ""),
        (-3, "a\x00b a\x00c a\x00b"),
        (-4, "İstanbul ǅemal HELLO Hello hello ΣΊΣΥΦΟΣ"),
        (-5, "  \t\n "),
    ]
    docs += [(1_000_000 + i, t) for i, t in enumerate(high_vocab[:300])]
    counts = Counter(w for _, t in docs for w in lower_split(t))
    udf_rows, enc = _subword_case(name, counts)
    df = spark.createDataFrame(docs, "doc_id long, text string").coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = {r["doc_id"]: r["t"] for r in udf_rows(df).collect()}
    finally:
        spark.conf.set(key, old)
    want = {}
    for d, t in docs:
        per_word = [enc(w) for w in lower_split(t)]
        if name == "bpe_encode":
            want[d] = [tok for toks in per_word for tok in toks]
        else:
            want[d] = sum(map(len, per_word))
    assert got == want
