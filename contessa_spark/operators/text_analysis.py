"""Text-analysis operators over a documents table: token counting,
quality scoring, language ID, document fingerprinting.

JVM Column expressions wherever SQL can express the semantics (token
counts, quality score, fingerprints — all oracle-comparable); Python
runs over Arrow batches only where SQL cannot: ``arrow_udf``s for
language ID and the per-document n-gram fractions, one
``applyInArrow`` group pass for best-fit-decreasing packing.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from contessa_spark.functions import langid
from contessa_spark.functions.textstats import spark_stat_columns
from contessa_spark.operators.dedup import fingerprint_col

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols —
# the classic GPT-2-style pre-tokenizer shape, regex-only approximation.
# (?U): \s = Unicode White_Space, same contract as textstats.
BPE_ISH_PATTERN = r"(?U)[A-Za-zÀ-ÿ]+|[0-9]+|[^A-Za-zÀ-ÿ0-9\s]"


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, ws_tokens, bpeish_tokens, n_chars) — whitespace tokens and a
    BPE-ish regex token count, both JVM-side."""
    c = F.col(text_col)
    ws = F.size(F.filter(F.split(c, r"(?U)\s+"), lambda x: x != F.lit("")))
    bpe = F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))
    return df.select(
        F.col(id_col),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpeish_tokens"),
        F.length(c).cast("long").alias("n_chars"),
    )


def quality_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """Per-doc heuristic stats + a composite [0,1] quality score.

    score = mean of (not-too-short, low-symbol, low-repetition,
    has-stopwords) indicator-ish terms — a C4-flavored scalar useful
    for threshold sweeps. All JVM. ``keep_cols`` pass through untouched
    (carrying e.g. ``lang`` here costs nothing; joining it back on the
    id later costs a second corpus scan — measured on the terciles
    driver query: 4 scans → 2).
    """
    from contessa_spark.functions.textstats import spark_words_col

    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.col(text_col),
        spark_words_col(text_col).alias("_words"),
    )
    for name, col in spark_stat_columns(text_col, words_col="_words").items():
        out = out.withColumn(name, col)
    out = out.drop("_words")
    score = (
        F.least(F.col("n_chars") / F.lit(200.0), F.lit(1.0))
        + (1.0 - F.least(F.col("symbol_ratio") / F.lit(0.15), F.lit(1.0)))
        + (1.0 - F.least(F.col("repetition") / F.lit(0.85), F.lit(1.0)))
        + F.least(F.col("stopword_frac") / F.lit(0.10), F.lit(1.0))
    ) / 4.0
    return out.drop(text_col).withColumn("quality_score", F.round(score, 6)).withColumn(
        "symbol_ratio", F.round("symbol_ratio", 6)
    ).withColumn("repetition", F.round("repetition", 6)).withColumn(
        "stopword_frac", F.round("stopword_frac", 6)
    ).withColumn("mean_word_len", F.round("mean_word_len", 6))


def detect_language(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, lang_pred, lang_conf, agrees) via the hashed-trigram model."""
    lid = langid.spark_udf()
    out = df.withColumn("_lid", lid(F.col(text_col)))
    cols = [
        F.col(id_col),
        F.col("_lid.lang_pred").alias("lang_pred"),
        F.round(F.col("_lid.lang_conf"), 6).alias("lang_conf"),
    ]
    if "lang" in df.columns:
        cols.append((F.col("_lid.lang_pred") == F.col("lang")).alias("agrees"))
    return out.select(*cols)


def token_topk_per_lang(
    df: DataFrame,
    k: int = 10,
    text_col: str = "text",
    lang_col: str = "lang",
    n_salt: int = 64,
) -> DataFrame:
    """Corpus-level token statistics: the k most frequent lowercased
    whitespace tokens per language — the vocabulary summary every
    training-data pipeline wants as a sanity dashboard.

    Plan shape at 100 TB: explode → ONE shuffle on (lang, token) with
    map-side partial counts (hot tokens like 'the' pre-aggregate per
    partition, so skew never concentrates raw rows), then a SALTED
    two-level top-k over the aggregated vocab: level 1 ranks within
    (lang, pmod(xxhash64(token), n_salt)) — ~|vocab|/n_salt rows per
    task — level 2 re-ranks only the ≤ k·n_salt per-bucket survivors.
    Exact (each (lang, token) row is unique after the groupBy, so the
    global top-k is a subset of the per-bucket top-ks); no task ever
    sorts a whole language's distinct-token table, which on web text is
    10⁸⁺ junk tokens for a major language. Ties break on the token for
    determinism.
    """
    from pyspark.sql import Window

    from contessa_spark.functions.textstats import spark_words_col

    counts = (
        df.select(F.col(lang_col).alias("lang"), spark_words_col(text_col).alias("_w"))
        .select("lang", F.explode("_w").alias("token"))
        .select("lang", F.lower("token").alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w1 = Window.partitionBy("lang", "_salt").orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    survivors = (
        counts.withColumn("_salt", F.pmod(F.xxhash64("token"), F.lit(n_salt)))
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
        .drop("_salt", "_r1")
    )
    w2 = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("lang", "token", "n", "rank")
    )


def line_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher §A1.1 line-shape signals: fraction of lines that start
    with a bullet glyph and that end with an ellipsis — boilerplate
    nav/teaser detectors. Pure per-row JVM (split + filter + size), no
    UDF, no shuffle."""
    lines = F.split(F.col(text_col), "\n")
    n = F.size(lines)
    bullets = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ")
            | l.startswith("* ")
            | l.startswith("• "),
        )
    )
    ellipsis = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_lines"),
        F.round(bullets / n.cast("double"), 6).alias("bullet_frac"),
        F.round(ellipsis / n.cast("double"), 6).alias("ellipsis_frac"),
    )


def dup_line_fracs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher §A1.1 duplicate line / paragraph fractions: of a doc's
    lines (split on \\n) and paragraphs (split on \\n\\n), the fraction
    of entries that are repeats of an earlier entry, and the fraction
    of their characters belonging to those repeat occurrences —
    (total − distinct) over total, in both counts and chars. Pure
    per-row JVM (split/array_distinct/aggregate), no shuffle."""

    def _fracs(parts, prefix):
        n = F.size(parts)
        nd = F.size(F.array_distinct(parts))
        tot = F.aggregate(
            parts, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )
        dtot = F.aggregate(
            F.array_distinct(parts), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )
        return [
            F.round((n - nd) / n.cast("double"), 6).alias(f"dup_{prefix}_frac"),
            F.when(tot == 0, F.lit(0.0))
            .otherwise(F.round((tot - dtot) / tot.cast("double"), 6))
            .alias(f"dup_{prefix}_char_frac"),
        ]

    lines = F.split(F.col(text_col), "\n")
    paras = F.split(F.col(text_col), "\n\n")
    return df.select(
        F.col(id_col), *_fracs(lines, "line"), *_fracs(paras, "para")
    )


def py_top_ngram_char_frac(text: str, n: int) -> float:
    """Pure core (Gopher §A1.1 'fraction of characters contained within
    the most frequently-occurring n-gram', the DataTrove/NeMo-Curator
    convention): count(top gram) × len(top gram string, spaces
    included) / len(raw text). Ties break on the lexicographically
    smallest gram (deterministic, unlike Counter insertion order).
    Uncapped by convention (overlapping occurrences can exceed 1 on
    degenerate docs)."""
    if not text:
        return 0.0
    words = text.split()
    if len(words) < n:
        return 0.0
    counts: dict = {}
    for i in range(len(words) - n + 1):
        g = " ".join(words[i : i + n])
        counts[g] = counts.get(g, 0) + 1
    best_cnt = max(counts.values())
    best = min(g for g in counts if counts[g] == best_cnt)
    return best_cnt * len(best) / len(text)


def top_ngram_char_frac(
    df: DataFrame,
    ns: tuple = (2, 3, 4),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, top_{n}gram_char_frac …) for each n — ONE ``arrow_udf``
    computes every n in a single pass over the words (per-doc
    statistic: dict counting in the UDF, no corpus shuffle — the same
    measured call as ``dup_ngram_char_frac``). A NULL text scores as
    the empty text."""
    names = [f"top_{n}gram_char_frac" for n in ns]

    def _fracs(texts: pa.Array) -> pa.Array:
        docs = [t or "" for t in texts.to_pylist()]
        return pa.StructArray.from_arrays(
            [pa.array([py_top_ngram_char_frac(t, n) for t in docs], pa.float64()) for n in ns],
            names=names,
        )

    udf = F.arrow_udf(_fracs, ", ".join(f"{name} double" for name in names))
    # struct first, fields second — evaluates the UDF exactly once
    return df.select(F.col(id_col), udf(F.col(text_col)).alias("_t")).select(
        F.col(id_col),
        *[
            F.round(F.col(f"_t.top_{n}gram_char_frac"), 6).alias(
                f"top_{n}gram_char_frac"
            )
            for n in ns
        ],
    )


def alpha_word_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher §A1.2 'at least 80 % of words contain an alphabetic
    character': per-doc fraction of words with ≥1 letter and the
    boolean 80 %-gate. Pure per-row JVM regexp counts (no split, no
    interpreted filter lambda — r7): a token contains a letter iff the
    anchored pattern matches at its start, and the word count is the
    number of non-whitespace runs; both counts are exactly the old
    split-based integers (checked on edges and the sf corpora)."""
    c = F.col(text_col)
    n = F.when(c.isNull(), F.lit(-1)).otherwise(
        F.regexp_count(c, F.lit(r"(?U)\S+"))
    )
    alpha = F.regexp_count(
        c, F.lit(r"(?U)(?:^|(?<=\s))[^\sA-Za-zÀ-ÿ]*[A-Za-zÀ-ÿ]\S*(?=\s|$)")
    )
    frac = F.when(n == 0, F.lit(0.0)).otherwise(alpha / n.cast("double"))
    return df.select(
        F.col(id_col),
        F.round(frac, 6).alias("alpha_word_frac"),
        (frac >= 0.8).alias("passes_alpha_80"),
    )


def py_dup_ngram_char_frac(text: str, n: int = 2) -> float:
    """Pure core (Gopher §A1.1 'duplicate n-gram character fraction'):
    of all characters covered by word n-gram occurrences, the fraction
    belonging to n-grams that occur more than once. A gram's character
    weight is the sum of its word lengths (separators excluded)."""
    words = text.split()
    if len(words) < n:
        return 0.0
    counts: dict = {}
    weights: dict = {}
    for i in range(len(words) - n + 1):
        g = " ".join(words[i : i + n])
        counts[g] = counts.get(g, 0) + 1
        if g not in weights:
            weights[g] = sum(len(w) for w in words[i : i + n])
    den = sum(counts[g] * weights[g] for g in counts)
    if den == 0:
        return 0.0
    num = sum(counts[g] * weights[g] for g in counts if counts[g] > 1)
    return num / den


def dup_ngram_char_frac(
    df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, dup_ngram_frac) over the shared pure core — an
    ``arrow_udf`` (per-word dict counting is the measured fast path;
    the equivalent explode+groupBy would shuffle every gram of the
    corpus for a PER-DOC statistic). A NULL text scores as the empty
    text."""

    def _frac(texts: pa.Array) -> pa.Array:
        return pa.array([py_dup_ngram_char_frac(t or "", n) for t in texts.to_pylist()], pa.float64())

    udf = F.arrow_udf(_frac, "double")
    return df.select(
        F.col(id_col), F.round(udf(F.col(text_col)), 6).alias("dup_ngram_frac")
    )


def pack_documents(
    df: DataFrame,
    budget_tokens: int = 2048,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_col: Column = None,
    n_tokens_col: Column = None,
) -> DataFrame:
    """Sequence packing for training-batch construction: assign each
    doc to a pack of ≈``budget_tokens`` whitespace tokens.

    True greedy bin-packing is order-sequential; the distributed form
    packs WITHIN deterministic hash buckets — ``pack_id = floor(
    exclusive-cumulative-tokens / budget)`` over (bucket, doc_id)
    order. One shuffle on the bucket key; the running-sum window stays
    inside its bucket partition (bounded size ≈ corpus/n_buckets), so
    no global ordering ever materializes. Oversized docs (> budget)
    occupy their own pack slot(s) rather than being split — splitting
    belongs to the tokenizer stage.

    Output: (id, bucket, pack_id, n_tokens); (bucket, pack_id) is the
    globally-unique pack key.

    ``bucket_col`` overrides the default ``pmod(xxhash64(id), n)``
    bucketing (e.g. an engine-portable ``id % n`` for external
    cross-checks, or a curriculum/domain key).

    ``n_tokens_col`` overrides the whitespace token counter — pass
    ``functions.bpe.bpe_token_count_udf(merges)(col)`` so pack budgets
    match a TRAINED subword vocabulary instead of the ws
    approximation.
    """
    from pyspark.sql import Window

    toks = (
        n_tokens_col.cast("long")
        if n_tokens_col is not None
        else F.size(
            F.filter(F.split(F.col(text_col), r"(?U)\s+"), lambda x: x != F.lit(""))
        ).cast("long")
    )
    if bucket_col is None:
        bucket_col = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
    base = df.select(
        F.col(id_col),
        bucket_col.cast("int").alias("bucket"),
        toks.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        id_col,
        "bucket",
        F.floor(cum_excl / budget_tokens).cast("long").alias("pack_id"),
        "n_tokens",
    )


def pack_documents_bfd(
    df: DataFrame,
    budget_tokens: int = 2048,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_col: Column = None,
    n_tokens_col: Column = None,
) -> DataFrame:
    """Best-fit-decreasing sequence packing — the budget-RESPECTING
    sibling of ``pack_documents``. The greedy cumsum packer assigns a
    boundary-crossing document to the pack where its running sum
    STARTS, so packs routinely exceed the budget and the tail of each
    pack's budget is wasted; BFD sorts each bucket's documents by
    (n_tokens DESC, id ASC) and places every document into the open
    pack with the LEAST remaining capacity that still fits (new pack
    when none fits — oversized documents therefore sit alone, same
    convention as the greedy packer).

    Invariant: every pack's token sum ≤ ``budget_tokens`` unless the
    pack is a single oversized document.

    Plan: same single shuffle on the bucket key; the per-bucket state
    (a remaining-capacity list, one entry per open pack) lives inside
    one ``applyInArrow`` group of bounded size ≈ corpus/n_buckets —
    the bisect-managed capacity list makes the bucket pass
    O(docs·log packs). Fully deterministic (sort key is total), so the
    layout reproduces under any partitioning AND in the recursive-CTE
    DuckDB oracle.

    Output: (id, bucket, pack_id, n_tokens); pack_id is the 0-based
    pack-creation index within the bucket."""
    import bisect

    toks = (
        n_tokens_col.cast("long")
        if n_tokens_col is not None
        else F.size(
            F.filter(F.split(F.col(text_col), r"(?U)\s+"), lambda x: x != F.lit(""))
        ).cast("long")
    )
    if bucket_col is None:
        bucket_col = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
    base = df.select(
        F.col(id_col).alias("_id"),
        bucket_col.cast("int").alias("bucket"),
        toks.alias("n_tokens"),
    )

    def bfd(t: pa.Table) -> pa.Table:
        # a stable sort: equal (n_tokens, _id) keys keep their order
        t = t.take(pc.sort_indices(t, [("n_tokens", "descending"), ("_id", "ascending")]))
        packs: list = []  # sorted (remaining, pack_id): bisect((n, -1))
        next_id = 0       # finds min remaining >= n, lowest id on ties
        assigned = []
        for n in t.column("n_tokens").to_pylist():
            i = bisect.bisect_left(packs, (n, -1))
            if i < len(packs):
                rem, pid = packs.pop(i)
                bisect.insort(packs, (rem - n, pid))
            else:
                pid = next_id
                next_id += 1
                bisect.insort(packs, (budget_tokens - n, pid))
            assigned.append(pid)
        return pa.table(
            {
                "_id": t.column("_id").cast(pa.int64()),
                "bucket": t.column("bucket"),
                "pack_id": pa.array(assigned, pa.int64()),
                "n_tokens": t.column("n_tokens"),
            }
        )

    out = base.groupBy("bucket").applyInArrow(
        bfd, schema="_id long, bucket int, pack_id long, n_tokens long"
    )
    return out.select(
        F.col("_id").alias(id_col), "bucket", "pack_id", "n_tokens"
    )


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, fingerprint md5-of-normalized-text, head_hash rolling-ish
    prefix hash) — cheap doc identity keys for incremental dedup."""
    c = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(c)), r"(?U)\s+", " ")
    return df.select(
        F.col(id_col),
        fingerprint_col(text_col).alias("fingerprint"),
        F.xxhash64(F.substring(norm, 1, 64)).alias("head_hash"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    n_docs: int = None,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the keyword-extraction /
    doc-summarization staple. idf = ln((N+1)/(df+1)) + 1 (the
    smoothed sklearn convention: never zero, no division by absent
    terms); score = tf · idf rounded to 6 dp BEFORE ranking (ties
    break on the term) so ordering is engine-agnostic.

    Plan at 100 TB: (id, term, tf) and the term document-frequency
    table are both map-side-combined hash aggregates (hot terms
    collapse per partition before their shuffles); the idf join probes
    one row per distinct (id, term); the final window partitions by
    DOC id — groups are bounded by a single document's vocabulary, so
    no salting is needed (contrast ``token_topk_per_lang``, whose
    groups span the corpus). ``min_df`` drops hapax noise before the
    join.
    Output: (id, term, tf, score, rank)."""
    from pyspark.sql import Window

    from contessa_spark.functions.textstats import spark_words_col

    terms = (
        df.select(F.col(id_col), spark_words_col(text_col).alias("_w"))
        .select(id_col, F.explode("_w").alias("term"))
        .select(id_col, F.lower("term").alias("term"))
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    if n_docs is None:
        # pass n_docs when known — counting is a whole extra scan
        n_docs = df.count()
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= min_df)
        .withColumn(
            "_idf",
            F.log((F.lit(float(n_docs + 1))) / (F.col("_df") + 1)) + 1.0,
        )
    )
    scored = tf.join(dfreq.select("term", "_idf"), "term").withColumn(
        "score", F.round(F.col("tf") * F.col("_idf"), 6)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    # explicit doc-keyed repartition feeding the window: the (id, term)
    # rows compress to a few MB, so AQE's byte-based coalescing was
    # collapsing the window stage to 1-2 tasks (measured ~2 s
    # single-core sort over 2.7M rows at sf1.0); an explicit
    # numPartitions is exempt from coalescing and already satisfies the
    # window's clustering, so no extra exchange appears. Sized by the
    # LARGER of core count and the session's shuffle partitions so the
    # anti-coalescing fix never caps parallelism below the cluster's
    # configured shuffle width at scale.
    spark = df.sparkSession
    n_part = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    return (
        scored.repartition(n_part, id_col)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "score", "rank")
    )


def quality_terciles(
    df: DataFrame,
    score_col: str = "quality_score",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style per-language quality bucketing (Wenzek et al. 2020
    §4.3): split each language's documents into head/middle/tail at the
    terciles of a quality metric — the partition CCNet publishes its
    corpus in (they use LM perplexity; any monotone quality score
    slots in, and the SQL-expressible composite from
    ``quality_scores`` keeps this oracle-checkable end to end).

    Plan: one map-side-combined exact-percentile aggregate per language
    (#langs rows — tiny) broadcast back onto the corpus; the bucket is
    a CASE at the scan. Thresholds round to 6 dp before comparison
    (Spark's exact ``percentile`` and DuckDB's ``quantile_cont`` share
    the linear-interpolation definition — parity proven by
    ``doc_length_quantiles``), so boundary docs land identically on
    both engines. head = TOP tercile of the score.
    Output: (id, lang, score, bucket)."""
    thr = df.groupBy(lang_col).agg(
        F.round(F.expr(f"percentile({score_col}, {1 / 3!r})"), 6).alias("_t1"),
        F.round(F.expr(f"percentile({score_col}, {2 / 3!r})"), 6).alias("_t2"),
    )
    bucket = (
        F.when(F.col(score_col) >= F.col("_t2"), F.lit("head"))
        .when(F.col(score_col) >= F.col("_t1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    # NULL-lang rows form their own stratum rather than vanishing:
    # groupBy already buckets NULL as one group on both engines, so
    # the only gap is the equi-join — make it null-safe (eqNullSafe is
    # still a broadcast-hash-joinable condition) and the accounting
    # stays total, matching domain_stats' NULL-domain convention.
    thr = thr.withColumnRenamed(lang_col, "_lk")
    return (
        df.join(F.broadcast(thr), F.col(lang_col).eqNullSafe(F.col("_lk")))
        .select(id_col, lang_col, score_col, bucket.alias("bucket"))
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunking: split long documents into ≤
    ``chunk_tokens``-word chunks whose starts advance by
    ``chunk_tokens − overlap`` (consecutive chunks share ``overlap``
    words of context) — the standard context-window packing prep for
    training/embedding long pages.

    Pure JVM: one words-array materialization, an integer chunk count
    ``max(1, ceil((n − overlap) / step))`` computed with `div`
    arithmetic (engine-exact — float ceil would differ in edge ulps),
    ``posexplode(sequence(...))`` to emit chunk indexes, and
    ``slice``/``concat_ws`` per chunk. Empty documents yield no
    chunks. No shuffle, no UDF; output rows ≈ total_words/step.

    Output: (id, chunk_id, n_tokens, chunk_text)."""
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap={overlap} must be smaller than chunk_tokens={chunk_tokens}"
        )
    from contessa_spark.functions.textstats import spark_words_col

    step = chunk_tokens - overlap
    words = df.select(
        F.col(id_col), spark_words_col(text_col).alias("_w")
    ).withColumn("_n", F.size("_w"))
    n_chunks = F.greatest(
        F.lit(1), F.expr(f"(_n - {overlap} + {step} - 1) div {step}")
    )
    chunks = (
        words.where(F.col("_n") > 0)
        .select(
            id_col,
            "_w",
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
                "chunk_id", "_start"
            ),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.slice(
                F.col("_w"), F.col("chunk_id") * step + 1, chunk_tokens
            ).alias("_cw"),
        )
    )
    return chunks.select(
        id_col,
        "chunk_id",
        F.size("_cw").cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.col("_cw")).alias("chunk_text"),
    )
