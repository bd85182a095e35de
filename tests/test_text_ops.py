"""Unit semantics for corpus/text operators whose oracle runs on data
that doesn't exercise them (testdata documents are single-line)."""

import pytest
from pyspark.sql import functions as F

from contessa_spark.operators.text_analysis import line_stats, token_topk_per_lang


def test_line_stats_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "- item a\n* item b\nplain line\nteaser text...\nmore…"),
            (2, "no lists here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_stats(docs).collect()}
    assert got[1]["n_lines"] == 5
    assert got[1]["bullet_frac"] == 0.4  # 2 of 5
    assert got[1]["ellipsis_frac"] == 0.4  # '...' and '…'
    assert got[2] == got[2].__class__(doc_id=2, n_lines=1, bullet_frac=0.0, ellipsis_frac=0.0)


def test_dup_ngram_char_frac_semantics(spark):
    from contessa_spark.operators.text_analysis import (
        dup_ngram_char_frac,
        py_dup_ngram_char_frac,
    )

    # "a b a b a": 2-grams = (a b)×2, (b a)×2 — every gram duplicated
    assert py_dup_ngram_char_frac("a b a b a") == 1.0
    # all-distinct grams → 0
    assert py_dup_ngram_char_frac("one two three four") == 0.0
    assert py_dup_ngram_char_frac("") == 0.0
    assert py_dup_ngram_char_frac("single") == 0.0
    # "x x x y": grams (x x)×2 dup weight 2·2=4, (x y)×1 weight 2 → 4/6
    assert py_dup_ngram_char_frac("x x x y") == 4 / 6

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "one two three four"), (3, "x x x y")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["dup_ngram_frac"] for r in dup_ngram_char_frac(docs).collect()}
    assert got == {1: 1.0, 2: 0.0, 3: round(4 / 6, 6)}


def test_token_topk_per_lang_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "en", "the cat The DOG the"),
            (2, "en", "dog dog runs"),
            (3, "fr", "le chat le"),
        ],
        "doc_id long, lang string, text string",
    )
    out = token_topk_per_lang(docs, k=2)
    rows = {(r["lang"], r["rank"]): (r["token"], r["n"]) for r in out.collect()}
    assert rows[("en", 1)] == ("dog", 3)  # lowercased: DOG+dog+dog
    assert rows[("en", 2)] == ("the", 3) or rows[("en", 1)] == ("the", 3)
    # 'dog' and 'the' both have 3; tie breaks alphabetically: dog first
    assert rows[("en", 1)] == ("dog", 3) and rows[("en", 2)] == ("the", 3)
    assert rows[("fr", 1)] == ("le", 2)


def test_dup_line_fracs_semantics(spark):
    from contessa_spark.operators.text_analysis import dup_line_fracs

    docs = spark.createDataFrame(
        [
            # lines: nav(3), contentA, contentB → 5 lines, 2 dups;
            # chars: nav=3×3=9, A=8, B=8 → tot 25, distinct 19 → dup 6/25
            (1, "nav\ncontentA\nnav\ncontentB\nnav"),
            # paragraphs: "p one" ×2 + "p two" → 3 paras 1 dup (5 chars);
            # lines: "p one","","p two","","p one" → 5 lines, 2 dups
            # ("p one" and the empty separator line), dup chars 5/15
            (2, "p one\n\np two\n\np one"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dup_line_fracs(docs).collect()}
    assert got[1]["dup_line_frac"] == round(2 / 5, 6)
    assert got[1]["dup_line_char_frac"] == round(6 / 25, 6)
    assert got[1]["dup_para_frac"] == 0.0  # one paragraph (no \n\n)
    assert got[2]["dup_para_frac"] == round(1 / 3, 6)
    assert got[2]["dup_para_char_frac"] == round(5 / 15, 6)
    assert got[2]["dup_line_frac"] == round(2 / 5, 6)
    assert got[2]["dup_line_char_frac"] == round(5 / 15, 6)
    assert got[3]["dup_line_frac"] == 0.0
    assert got[3]["dup_line_char_frac"] == 0.0
    assert got[3]["dup_para_char_frac"] == 0.0


def test_top_ngram_char_frac_semantics(spark):
    from contessa_spark.operators.text_analysis import (
        py_top_ngram_char_frac,
        top_ngram_char_frac,
    )

    # "a b a b a" (9 chars): top 2-gram "a b" count 2, len 3 → 6/9
    assert py_top_ngram_char_frac("a b a b a", 2) == 6 / 9
    # top 3-gram "a b a" count 2 (overlapping), len 5 → 10/9 (uncapped)
    assert py_top_ngram_char_frac("a b a b a", 3) == 10 / 9
    assert py_top_ngram_char_frac("", 2) == 0.0
    assert py_top_ngram_char_frac("one", 2) == 0.0
    # tie at count 1 → lexicographically smallest gram: "one two" (7)
    # over 17 chars
    assert py_top_ngram_char_frac("one two three", 2) == 7 / 13

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, ""), (3, "one two three")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in top_ngram_char_frac(docs, ns=(2, 3)).collect()}
    assert got[1]["top_2gram_char_frac"] == round(6 / 9, 6)
    assert got[1]["top_3gram_char_frac"] == round(10 / 9, 6)
    assert got[2]["top_2gram_char_frac"] == 0.0
    assert got[3]["top_2gram_char_frac"] == round(7 / 13, 6)


def test_ngram_contamination_semantics_and_plan(spark):
    """Known overlaps: doc 1 shares its full text with the benchmark,
    doc 2 shares one 3-gram, doc 3 shares none; the benchmark gram set
    must be broadcast (corpus side never shuffles for the probe)."""
    from contessa_spark.operators.decontaminate import ngram_contamination

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "a different text with the quick brown tail"),
            (3, "completely unrelated words here"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over")], "doc_id long, text string"
    )
    out_df = ngram_contamination(docs, bench, n=3)
    got = {r["doc_id"]: (r["hit_ngrams"], r["contaminated"]) for r in out_df.collect()}
    # doc 1: grams {the quick brown, quick brown fox, brown fox jumps}
    # — all inside the benchmark's gram set
    assert got[1] == (3, True)
    assert got[2] == (1, True)  # only "the quick brown"
    assert got[3] == (0, False)
    assert got[4] == (0, False)

    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_alpha_word_stats_semantics(spark):
    from contessa_spark.operators.text_analysis import alpha_word_stats

    docs = spark.createDataFrame(
        [
            (1, "four words all alpha"),
            (2, "123 456 789 word1"),   # only "word1" has a letter: 1/4
            (3, ""),
            (4, "mixed 42 :: text!"),   # mixed(1) 42(0) ::(0) text!(1) → 2/4
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in alpha_word_stats(docs).collect()}
    assert got[1]["alpha_word_frac"] == 1.0 and got[1]["passes_alpha_80"]
    assert got[2]["alpha_word_frac"] == 0.25 and not got[2]["passes_alpha_80"]
    assert got[3]["alpha_word_frac"] == 0.0 and not got[3]["passes_alpha_80"]
    assert got[4]["alpha_word_frac"] == 0.5 and not got[4]["passes_alpha_80"]


def test_pack_documents_semantics(spark):
    """Exclusive-cumsum packing: packs fill to the budget in
    (bucket, doc_id) order; oversized docs take their own slot."""
    from contessa_spark.operators.text_analysis import pack_documents

    docs = spark.createDataFrame(
        [
            (0, "one two three"),          # 3 tokens
            (2, " ".join(["w"] * 5)),      # 5 tokens
            (4, " ".join(["w"] * 20)),     # oversized vs budget 8
            (6, "tail doc"),               # 2 tokens
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in pack_documents(
            docs, budget_tokens=8, n_buckets=1,
            bucket_col=__import__("pyspark.sql.functions", fromlist=["lit"]).lit(0),
        ).collect()
    }
    # cum_excl: 0, 3, 8, 28 → packs 0, 0, 1, 3
    assert out[0]["pack_id"] == 0 and out[0]["n_tokens"] == 3
    assert out[2]["pack_id"] == 0
    assert out[4]["pack_id"] == 1
    assert out[6]["pack_id"] == 3
    assert all(r["bucket"] == 0 for r in out.values())


def test_pack_documents_bfd_semantics(spark):
    """Best-fit-decreasing: sizes [6,5,4,3,2,1] at budget 7 pack
    PERFECTLY into 3 full packs (6+1, 5+2, 4+3) — the exact case the
    greedy tail wastes; ties and fit choices are deterministic."""
    from pyspark.sql import functions as F

    from contessa_spark.operators.text_analysis import pack_documents_bfd

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate([6, 5, 4, 3, 2, 1])],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in pack_documents_bfd(
            docs, budget_tokens=7, n_buckets=1, bucket_col=F.lit(0)
        ).collect()
    }
    packs = {}
    for r in out.values():
        packs.setdefault(r["pack_id"], []).append(r["n_tokens"])
    assert len(packs) == 3
    assert sorted(sorted(v) for v in packs.values()) == [[1, 6], [2, 5], [3, 4]]
    # placement order is size-desc: 6→pack0, 5→pack1, 4→pack2, then
    # best-fit sends 3 to pack2, 2 to pack1, 1 to pack0
    assert out[0]["pack_id"] == 0 and out[5]["pack_id"] == 0
    assert out[1]["pack_id"] == 1 and out[4]["pack_id"] == 1
    assert out[2]["pack_id"] == 2 and out[3]["pack_id"] == 2


def test_pack_documents_bfd_budget_invariant_and_utilization(spark):
    """On the real corpus: every BFD pack fits the budget (except
    single oversized docs), the layout is partition-invariant, and the
    pack count beats sequential budget-respecting next-fit — the
    utilization win over order-greedy packing."""
    from pyspark.sql import functions as F

    from contessa_spark.operators.text_analysis import pack_documents_bfd

    budget = 600
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = pack_documents_bfd(
        docs, budget_tokens=budget, n_buckets=4,
        bucket_col=F.pmod(F.col("doc_id"), F.lit(4)),
    ).collect()
    packs = {}
    for r in rows:
        packs.setdefault((r["bucket"], r["pack_id"]), []).append(r["n_tokens"])
    for members in packs.values():
        assert sum(members) <= budget or len(members) == 1
    # layout invariance (the sort key is total → deterministic)
    again = pack_documents_bfd(
        docs.repartition(13), budget_tokens=budget, n_buckets=4,
        bucket_col=F.pmod(F.col("doc_id"), F.lit(4)),
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # vs next-fit in doc_id order (budget-respecting baseline)
    nf_packs = 0
    by_bucket = {}
    for r in sorted(rows, key=lambda r: (r["bucket"], r["doc_id"])):
        by_bucket.setdefault(r["bucket"], []).append(r["n_tokens"])
    for members in by_bucket.values():
        cur = 0
        nf_packs += 1
        for n in members:
            if cur + n > budget and cur > 0:
                nf_packs += 1
                cur = 0
            cur += n
    assert len(packs) < nf_packs  # measured on this fixed corpus


def test_token_topk_salting_invariant(spark):
    """The salted two-level top-k must be EXACT: results identical for
    any n_salt (each (lang, token) row is unique after the count
    aggregate, so per-bucket top-k ⊇ global top-k)."""
    docs = spark.createDataFrame(
        [
            (i, "en", f"w{i % 7} common common w{i % 5}")
            for i in range(40)
        ] + [(100, "fr", "le la le un")],
        "doc_id long, lang string, text string",
    )
    base = {
        (r["lang"], r["rank"], r["token"], r["n"])
        for r in token_topk_per_lang(docs, k=3, n_salt=1).collect()
    }
    for n_salt in (2, 8, 64):
        got = {
            (r["lang"], r["rank"], r["token"], r["n"])
            for r in token_topk_per_lang(docs, k=3, n_salt=n_salt).collect()
        }
        assert got == base, n_salt


def test_tfidf_top_terms_semantics(spark):
    """Hand-checked smoothed tf-idf: corpus-wide terms score low,
    doc-unique terms high; ties break on the term."""
    import math

    from contessa_spark.operators.text_analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common rare1 common common"),
            (2, "common rare2"),
            (3, "common other"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["score"])
        for r in tfidf_top_terms(docs, k=2).collect()
    }
    idf_rare = math.log(4 / 2) + 1  # df=1, N=3
    idf_common = math.log(4 / 4) + 1  # df=3
    # doc1: common tf=3 * idf_common=1.0 -> 3.0 ; rare1 = idf_rare ~ 1.693
    assert got[(1, 1)] == ("common", 3, 3.0)
    assert got[(1, 2)][0] == "rare1"
    assert abs(got[(1, 2)][2] - round(idf_rare, 6)) < 1e-9
    # doc2: rare2 (1.693) beats common (1.0)
    assert got[(2, 1)][0] == "rare2" and got[(2, 2)][0] == "common"


def test_quality_terciles_semantics(spark):
    """Per-language tercile split: ~1/3 in each bucket per lang, head
    holds the TOP scores, thresholds independent across languages."""
    from pyspark.sql import functions as F

    from contessa_spark.operators.text_analysis import quality_terciles

    rows = [(i, "en", float(i)) for i in range(90)] + [
        (100 + i, "de", 1000.0 + i) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, quality_score double")
    out = quality_terciles(df)
    counts = {
        (r["lang"], r["bucket"]): r["n"]
        for r in out.groupBy("lang", "bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # en: 90 docs → ~30 per bucket; de: 30 docs → ~10 per bucket
    for lang, total in (("en", 90), ("de", 30)):
        for b in ("head", "middle", "tail"):
            assert abs(counts[(lang, b)] - total / 3) <= 1, (lang, b, counts)
    # head really is the top tercile within its own language
    en = {r["doc_id"]: r["bucket"] for r in out.where(F.col("lang") == "en").collect()}
    assert en[89] == "head" and en[0] == "tail" and en[45] == "middle"
    de = {r["doc_id"]: r["bucket"] for r in out.where(F.col("lang") == "de").collect()}
    assert de[129] == "head" and de[100] == "tail"  # de thresholds ≫ en scores


def test_quality_terciles_null_lang_forms_own_stratum(spark):
    """NULL-lang rows must NOT vanish (accounting stays total, as in
    domain_stats): they form their own stratum with their own
    thresholds — null-safe broadcast join, not an inner equi-join."""
    from pyspark.sql import functions as F

    from contessa_spark.operators.text_analysis import quality_terciles

    rows = [(i, "en", float(i)) for i in range(6)] + [
        (10 + i, None, 100.0 + i) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, quality_score double")
    out = quality_terciles(df).collect()
    assert len(out) == 12  # every input row accounted for
    nul = {r["doc_id"]: r["bucket"] for r in out if r["lang"] is None}
    assert len(nul) == 6
    # NULL stratum gets its own terciles, independent of en's
    assert nul[15] == "head" and nul[10] == "tail"


def test_chunk_documents_semantics(spark):
    from pyspark.sql import functions as F

    from contessa_spark.operators.text_analysis import chunk_documents

    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),
            (2, "a b"),          # shorter than one chunk → 1 chunk
            (3, ""),             # empty → no chunks
            (4, " ".join(f"x{i}" for i in range(9))),  # exact multiple
        ],
        "doc_id long, text string",
    )
    out = sorted(
        map(tuple, chunk_documents(df, chunk_tokens=4, overlap=1).collect())
    )
    assert out == [
        (1, 0, 4, "w0 w1 w2 w3"),
        (1, 1, 4, "w3 w4 w5 w6"),
        (1, 2, 4, "w6 w7 w8 w9"),
        (2, 0, 2, "a b"),
        (4, 0, 4, "x0 x1 x2 x3"),
        (4, 1, 4, "x3 x4 x5 x6"),
        (4, 2, 3, "x6 x7 x8"),
    ]
    # every word of every non-empty doc appears in some chunk; adjacent
    # chunks overlap by exactly `overlap` words (except the tail)
    import pytest as _pt

    with _pt.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)


#: NULL, empty, whitespace-only and non-BMP texts: the inputs where a
#: per-row text UDF's NULL handling and string decoding show
_EDGE_TEXTS = [None, "", " \t\n ", "frak 😀 the cat 😀 the cat sat"]


def _udf_values(udf):
    """``df -> {i: value}`` for a one-column UDF over ``t``."""
    return lambda df: {r["i"]: r["v"] for r in df.select("i", udf(F.col("t")).alias("v")).collect()}


def _edge_cases():
    from contessa_spark.functions import langid, scrub
    from contessa_spark.functions.badwords import ac_count_batch, build_ac_dense, phrase_hits_udf
    from contessa_spark.functions.kenlm import (
        _grams_udf,
        _java_ws_re,
        _tagged_grams_udf,
        kn_perplexity_udf,
        train_kn_from_counts,
    )
    from contessa_spark.functions.textnorm import normalize_text_udf, py_normalize
    from contessa_spark.operators.text_analysis import (
        dup_ngram_char_frac,
        py_dup_ngram_char_frac,
        py_top_ngram_char_frac,
        top_ngram_char_frac,
    )

    phrases = ["frak", "the cat"]
    model = train_kn_from_counts(
        [{("the",): 3, ("cat",): 2, ("sat",): 1}, {("the", "cat"): 2, ("cat", "sat"): 1}], 0.5
    )

    def words(t):
        return [w for w in _java_ws_re().split(t) if w]

    def grams(t, n):
        w = words(t)
        return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]

    return {
        "langid": (
            lambda df: {i: tuple(v) for i, v in _udf_values(langid.spark_udf())(df).items()},
            langid.detect,
        ),
        "scrub": (
            lambda df: {i: tuple(v) for i, v in _udf_values(scrub.spark_udf())(df).items()},
            lambda t: tuple(c[0] for c in scrub.scrub_batch([t])),
        ),
        "phrase_hits": (
            _udf_values(phrase_hits_udf(phrases)),
            lambda t: int(ac_count_batch([t], build_ac_dense(phrases))[0]),
        ),
        "textnorm": (_udf_values(normalize_text_udf()), py_normalize),
        "kn_perplexity": (_udf_values(kn_perplexity_udf(model)), model.perplexity),
        "grams": (_udf_values(_grams_udf(2)), lambda t: grams(t, 2)),
        "tagged_grams": (
            lambda df: {i: [tuple(g) for g in v] for i, v in _udf_values(_tagged_grams_udf(2))(df).items()},
            lambda t: [(1, w) for w in words(t)] + [(2, g) for g in grams(t, 2)],
        ),
        "top_ngram_char_frac": (
            lambda df: {
                r["i"]: (r["top_2gram_char_frac"], r["top_3gram_char_frac"])
                for r in top_ngram_char_frac(df, ns=(2, 3), text_col="t", id_col="i").collect()
            },
            lambda t: tuple(round(py_top_ngram_char_frac(t, n), 6) for n in (2, 3)),
        ),
        "dup_ngram_char_frac": (
            lambda df: {r["i"]: r["dup_ngram_frac"] for r in dup_ngram_char_frac(df, text_col="t", id_col="i").collect()},
            lambda t: round(py_dup_ngram_char_frac(t), 6),
        ),
    }


@pytest.mark.parametrize(
    "case",
    [
        "langid",
        "scrub",
        "phrase_hits",
        "textnorm",
        "kn_perplexity",
        "grams",
        "tagged_grams",
        "top_ngram_char_frac",
        "dup_ngram_char_frac",
    ],
)
def test_text_udfs_match_cores_on_null_and_edge_texts(spark, case):
    """Each per-row text UDF returns its pure core's value on an empty,
    a whitespace-only and a non-BMP text, and on a NULL text the core's
    value for the empty text."""
    spark_values, core = _edge_cases()[case]
    df = spark.createDataFrame(list(enumerate(_EDGE_TEXTS)), "i long, t string")
    assert spark_values(df) == {i: core("" if t is None else t) for i, t in enumerate(_EDGE_TEXTS)}
