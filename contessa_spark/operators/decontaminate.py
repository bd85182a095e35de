"""Benchmark decontamination: flag corpus documents sharing word
n-grams with an evaluation/benchmark set.

The standard LLM-training hygiene pass (GPT-3 appendix C uses 13-gram
overlap; The Pile and most open pipelines follow): before training,
every document that shares at least one n-gram with any benchmark
document is flagged (and usually dropped or split). Re-expressed
Spark-first:

* the benchmark side is, by nature, tiny next to the corpus (eval
  suites are thousands of documents, the corpus is 10¹²) — its
  distinct n-gram HASH set is a few MB and is explicitly
  ``broadcast()``: the corpus-side scan never shuffles;
* n-grams are FNV-64 hashes (``dedup.hashed_shingles_udf``), so the
  broadcast carries 8-byte longs, and the corpus side computes its
  grams in the same single fused UDF pass used by the dedup operators;
* output is per-document (id, hit_ngrams, contaminated) — the count
  supports thresholded policies (e.g. drop on ≥2 distinct hits), the
  boolean is the GPT-3-style any-overlap flag.

False-positive rate from hash collisions is ≤ |bench grams|·2⁻⁶⁴ per
doc gram — irrelevant at any real benchmark size.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from contessa_spark.operators.dedup import hashed_shingles_udf
from contessa_spark.vectors import matrix, unit_rows


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """(id, hit_ngrams, contaminated) — distinct word n-grams of each
    doc found anywhere in the benchmark's n-gram set.

    Plan: benchmark grams → distinct hash set → ``broadcast`` inner
    join against the exploded corpus grams → per-doc count → left join
    back so clean docs report 0. One corpus UDF pass, zero corpus
    shuffles besides the per-doc count (partial-aggregated on the
    already-co-located explode output).
    """
    # hashed_shingles_udf returns struct(hs, n) since r7 — explode the
    # hash array field; asNondeterministic pins the UDF above any
    # caller-side spread exchange (see dedup.py)
    grams = hashed_shingles_udf(n).asNondeterministic()

    def gram_col(c):
        return F.explode(grams(c).getField("hs"))

    bench_grams = (
        benchmark.select(gram_col(F.col(bench_text_col)).alias("_g"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col), gram_col(F.col(text_col)).alias("_g")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "_g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("hit_ngrams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("hit_ngrams"), F.lit(0)).alias("hit_ngrams"),
            (F.coalesce(F.col("hit_ngrams"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bench_vectors: int = 100_000,
) -> DataFrame:
    """Embedding-level decontamination: flag corpus rows whose maximum
    cosine against ANY benchmark embedding reaches ``threshold`` —
    catches paraphrased/translated benchmark leakage that n-gram
    overlap can't see (the rephrased-MMLU failure mode).

    Plan: the benchmark matrix (eval suites are small by nature) is
    collected once and closed over a ``mapInArrow`` scorer — one numpy
    GEMM per corpus Arrow batch, per-row max over the benchmark axis,
    ZERO corpus shuffles (each row's verdict completes within its own
    batch; same shape as ``brute_force_topk`` without even the final
    window). ``max_bench_vectors`` guards the driver collect.

    Accounting stays TOTAL: every corpus row appears in the output
    exactly once. Rows for which cosine is undefined — NULL vector,
    dimension mismatch with the benchmark, zero (or NaN) norm — are
    emitted with ``max_cosine`` NULL and ``contaminated`` false rather
    than silently dropped, so callers joining verdicts back by id never
    lose documents. Zero-norm BENCHMARK rows are still excluded from
    the benchmark matrix (see the NaN-ranks-first trap in
    ``operators.similarity``).
    Output: (id, max_cosine, contaminated); max_cosine rounded to 6 dp
    (round is monotone, so round-then-max ≡ max-then-round).
    """
    sqnorm = F.aggregate(F.col("_v"), F.lit(0.0), lambda a, x: a + x * x)
    bench = (
        benchmark.select(F.col(vec_col).cast("array<double>").alias("_v"))
        .where(sqnorm > 0)
        .limit(max_bench_vectors + 1)
        .toArrow()
    )
    if bench.num_rows > max_bench_vectors:
        raise ValueError(
            f"benchmark side exceeds max_bench_vectors={max_bench_vectors}; "
            "a 'benchmark' that large should use the LSH join path"
        )
    out_schema = f"{id_col} long, max_cosine double, contaminated boolean"
    if not bench.num_rows:
        # nothing to leak: everything is clean with max_cosine NULL
        return corpus.select(
            F.col(id_col),
            F.lit(None).cast("double").alias("max_cosine"),
            F.lit(False).alias("contaminated"),
        )
    B = unit_rows(matrix(bench.column("_v")))[0]
    dim = B.shape[1]

    base = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )

    def score(batches):
        for b in batches:
            if not b.num_rows:
                continue
            vs = b.column(1)
            # validity decided IN the batch (not a pre-filter), so
            # excluded rows still get an output row with NULL cosine
            valid = pc.fill_null(pc.equal(pc.list_value_length(vs), dim), False)
            U, ok = unit_rows(matrix(vs.filter(valid), dim))
            mx = np.full(b.num_rows, np.nan)
            mx[np.flatnonzero(valid.to_numpy(zero_copy_only=False))[ok]] = np.round(
                (U[ok] @ B.T).max(axis=1), 6
            )
            # NaN slots are NULL; contaminated is a real boolean either way
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).cast(pa.int64()),
                    pa.array(mx, mask=np.isnan(mx)),
                    pa.array(~np.isnan(mx) & (mx >= threshold)),
                ],
                names=[id_col, "max_cosine", "contaminated"],
            )

    return base.mapInArrow(score, schema=out_schema)
