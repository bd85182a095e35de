"""North-star pipeline tests: keep/drop F1 vs the pure-Python reference
implementation, byte-identical scrubbed text per url, per-rule counts,
and checkpoint/resume via per-partition lineage (BASELINE.json)."""

from datetime import datetime

import pytest

from contessa_spark.pipeline import PipelineConfig, QualityFilterPipeline
from contessa_spark.reference_impl import aggregate_counts, evaluate_rows
from contessa_spark.sources.webgen import gen_row, generate

N_DOCS = 600
TASK_TS = datetime(2025, 8, 1, 12, 0)


@pytest.fixture(scope="module")
def web_df(spark):
    return generate(spark, N_DOCS, seed=42)


@pytest.fixture(scope="module")
def golden():
    rows = [gen_row(i, seed=42) for i in range(N_DOCS)]
    return {r.url: r for r in evaluate_rows(rows)}


@pytest.fixture(scope="module")
def pipeline_result(spark, web_df, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("pipe"))
    pipe = QualityFilterPipeline(spark, base, PipelineConfig(n_buckets=8))
    summary = pipe.run(web_df, task_ts=TASK_TS)
    out = spark.read.parquet(pipe.output_path)
    return pipe, summary, out


def test_generator_deterministic_across_partitionings(spark):
    a = generate(spark, 50, seed=42).orderBy("url").collect()
    b = generate(spark, 50, seed=42).repartition(7).orderBy("url").collect()
    assert a == b
    # and matches the pure-python generator exactly
    pure = sorted((gen_row(i, 42) for i in range(50)), key=lambda r: r["url"])
    for row, ref in zip(a, pure):
        assert row["url"] == ref["url"]
        assert row["text"] == ref["text"]
        assert row["lang"] == ref["lang"]
        assert bytes(row["html"]) == ref["html"]


def test_keep_drop_f1(pipeline_result, golden):
    _, summary, out = pipeline_result
    assert summary["input"] == N_DOCS
    rows = out.select("url", "keep").collect()
    assert len(rows) == N_DOCS
    tp = fp = fn = 0
    for r in rows:
        ref = golden[r["url"]]
        if r["keep"] and ref.keep:
            tp += 1
        elif r["keep"] and not ref.keep:
            fp += 1
        elif not r["keep"] and ref.keep:
            fn += 1
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"F1={f1} (tp={tp} fp={fp} fn={fn})"
    # with shared pure cores the match must actually be exact
    assert fp == 0 and fn == 0


def test_scrubbed_text_byte_identical(pipeline_result, golden):
    _, _, out = pipeline_result
    for r in out.select("url", "scrubbed_text").collect():
        assert r["scrubbed_text"] == golden[r["url"]].scrubbed_text


def test_scrub_masks_pii(pipeline_result):
    _, _, out = pipeline_result
    scrubbed = out.where("pii_changed").select("scrubbed_text").collect()
    assert scrubbed  # generator plants PII/toxic docs
    for r in scrubbed:
        t = r["scrubbed_text"]
        assert "@example.com" not in t
        assert "frak" not in t.lower()


def test_per_rule_counts_match_reference(spark, pipeline_result, golden):
    pipe, _, _ = pipeline_result
    ref_counts = aggregate_counts((gen_row(i, 42) for i in range(N_DOCS)))
    q = {
        r["rule_name"]: r
        for r in spark.read.parquet(pipe.quality_path).collect()
    }
    for name, c in ref_counts.items():
        row = q[name]
        assert (row["total_records"], row["failed"], row["passed"]) == (
            c["total"],
            c["failed"],
            c["passed"],
        ), name


def test_lineage_covers_all_buckets(spark, pipeline_result):
    pipe, _, out = pipeline_result
    lineage = spark.read.parquet(pipe.lineage_path)
    assert lineage.count() == out.select("bucket").distinct().count()
    total = lineage.groupBy().sum("input_count").collect()[0][0]
    assert total == N_DOCS


def test_resume_skips_completed_buckets(spark, web_df, tmp_path_factory, golden):
    """Kill-and-rerun: second run with full lineage is a no-op; partial
    lineage processes only the missing buckets."""
    base = str(tmp_path_factory.mktemp("resume"))
    cfg = PipelineConfig(n_buckets=8)
    pipe = QualityFilterPipeline(spark, base, cfg)
    pipe.run(web_df, task_ts=TASK_TS)
    out1 = spark.read.parquet(pipe.output_path)
    n1 = out1.count()

    # rerun: everything checkpointed → nothing reprocessed, output stable
    summary2 = pipe.run(web_df, task_ts=TASK_TS)
    assert summary2["resumed_buckets_skipped"] == 8
    assert spark.read.parquet(pipe.output_path).count() == n1
    assert summary2["input"] == N_DOCS  # lineage totals unchanged


def test_crash_between_write_and_lineage_is_idempotent(
    spark, web_df, tmp_path_factory
):
    """A crash after the parquet write but before the lineage merge
    leaves output files with no lineage row; the resumed run must
    REPLACE those partitions (dynamic partition overwrite), never
    append duplicates (ADVICE r1)."""
    base = str(tmp_path_factory.mktemp("crash"))
    cfg = PipelineConfig(n_buckets=8)
    pipe = QualityFilterPipeline(spark, base, cfg)
    pipe.run(web_df, task_ts=TASK_TS)

    # simulate the crash window: drop the lineage rows of two buckets
    # while their output partitions stay on disk
    from contessa_spark.pipeline import LINEAGE_KEY
    from contessa_spark.results import LocalSmallTableMerge

    import shutil

    lineage = LocalSmallTableMerge.read(pipe.lineage_path)
    crashed = sorted(lineage["bucket"].unique())[:2]
    survivors = lineage[~lineage["bucket"].isin(crashed)]
    shutil.rmtree(pipe.lineage_path)
    LocalSmallTableMerge.merge(survivors, pipe.lineage_path, LINEAGE_KEY)

    summary = pipe.run(web_df, task_ts=TASK_TS)
    assert summary["resumed_buckets_skipped"] == 8 - len(crashed)
    out = spark.read.parquet(pipe.output_path)
    assert out.count() == N_DOCS  # no duplicated rows in re-done buckets
    assert out.select("url").distinct().count() == N_DOCS
    lineage2 = LocalSmallTableMerge.read(pipe.lineage_path)
    assert int(lineage2["input_count"].sum()) == N_DOCS


def test_input_partition_bucketing(spark, web_df, tmp_path, golden):
    """bucket_by='input_partition': zero-shuffle plan (no Exchange
    before the UDF), same quality counts, resume by input shard."""
    from pyspark.sql import functions as F

    from contessa_spark.pipeline import LINEAGE_KEY, annotate, with_decisions
    from contessa_spark.results import LocalSmallTableMerge

    # stable parquet input with a known partitioning
    src = str(tmp_path / "src")
    web_df.repartition(6).write.parquet(src)
    inp = spark.read.parquet(src)

    cfg = PipelineConfig(bucket_by="input_partition")
    pipe = QualityFilterPipeline(spark, str(tmp_path / "run"), cfg)
    s = pipe.run(inp, task_ts=TASK_TS)
    assert s["input"] == N_DOCS

    out = spark.read.parquet(pipe.output_path)
    assert out.count() == N_DOCS
    # same keep decisions as the url-bucketed pipeline (golden refs)
    for r in out.select("url", "keep").collect():
        assert r["keep"] == golden[r["url"]].keep

    # the write plan must contain NO shuffle (Exchange) node
    narrow = inp.select("url", "warc_ts", "text", "lang").withColumn(
        "bucket", F.spark_partition_id()
    )
    plan = (
        with_decisions(annotate(narrow), cfg, bucket=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan

    # resume: drop one shard's lineage row → only that shard re-runs
    import shutil

    lineage = LocalSmallTableMerge.read(pipe.lineage_path)
    n_shards = lineage["bucket"].nunique()
    crashed = sorted(lineage["bucket"].unique())[:1]
    survivors = lineage[~lineage["bucket"].isin(crashed)]
    shutil.rmtree(pipe.lineage_path)
    LocalSmallTableMerge.merge(survivors, pipe.lineage_path, LINEAGE_KEY)
    s2 = pipe.run(inp, task_ts=TASK_TS)
    assert s2["resumed_buckets_skipped"] == n_shards - 1
    out2 = spark.read.parquet(pipe.output_path)
    assert out2.count() == N_DOCS
    assert out2.select("url").distinct().count() == N_DOCS


def test_schema_version_guard(spark, web_df, tmp_path):
    """A base_path written with a different schema_version refuses to
    run (the reference's migration-check semantic, migration.py:7-132)."""
    import json
    import os

    from contessa_spark.pipeline import SCHEMA_VERSION

    base = str(tmp_path / "ver")
    pipe = QualityFilterPipeline(spark, base, PipelineConfig(n_buckets=4))
    # fresh path: marker written at the current version
    assert pipe.check_schema_version() == SCHEMA_VERSION
    with open(os.path.join(base, "schema_version.json"), "w") as f:
        json.dump({"schema_version": 999}, f)
    with pytest.raises(ValueError, match="schema_version"):
        pipe.run(web_df, task_ts=TASK_TS)


def test_max_len_rule_fires(spark, pipeline_result):
    """The generator plants over-length docs; the max_len rule must
    actually fail some rows (regression: a never-firing rule)."""
    _, _, out = pipeline_result
    assert out.where("NOT rule_max_len_lte").count() > 0
    assert out.where("n_chars > 20000 AND keep").count() == 0


def test_url_dedup_stage(spark, tmp_path):
    """cfg.dedup_urls keeps the earliest capture per url."""
    from pyspark.sql import functions as F

    base = generate(spark, 100, seed=42)
    later = base.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 10 DAYS")
    ).withColumn("text", F.concat(F.col("text"), F.lit(" UPDATED")))
    both = base.unionByName(later)
    pipe = QualityFilterPipeline(
        spark, str(tmp_path / "dd"), PipelineConfig(n_buckets=4, dedup_urls=True)
    )
    s = pipe.run(both, task_ts=TASK_TS)
    assert s["input"] == 100  # duplicates removed before annotation
    out = spark.read.parquet(pipe.output_path)
    assert out.count() == 100
    assert out.where("scrubbed_text LIKE '%UPDATED'").count() == 0


def test_input_fingerprint_guard_refuses_remapped_resume(spark, web_df, tmp_path):
    """input_partition resume depends on an unchanged input listing /
    split conf (bucket = spark_partition_id). A resume against a
    different listing must REFUSE instead of silently remapping bucket
    ids (ADVICE r2)."""
    src6 = str(tmp_path / "src6")
    web_df.repartition(6).write.parquet(src6)
    src3 = str(tmp_path / "src3")
    web_df.repartition(3).write.parquet(src3)

    cfg = PipelineConfig(bucket_by="input_partition")
    pipe = QualityFilterPipeline(spark, str(tmp_path / "run"), cfg)
    pipe.run(spark.read.parquet(src6), task_ts=TASK_TS)

    # same base, different file listing, completed buckets present
    with pytest.raises(ValueError, match="input_partition resume refused"):
        pipe.run(spark.read.parquet(src3), task_ts=TASK_TS)

    # identical input resumes fine (all buckets skipped)
    s = pipe.run(spark.read.parquet(src6), task_ts=TASK_TS)
    assert s["resumed_buckets_skipped"] > 0

    # a FRESH base (no completed buckets) accepts any input
    pipe2 = QualityFilterPipeline(spark, str(tmp_path / "run2"), cfg)
    pipe2.run(spark.read.parquet(src3), task_ts=TASK_TS)


def test_validate_mode_respects_full_mode_checkpoints(spark, web_df, tmp_path):
    """The fingerprint guard must treat completed buckets in EITHER
    lineage namespace as "resuming": a validate-mode run (no validate
    buckets yet) against changed input must refuse — not silently
    refresh the marker and let a later full-mode resume remap buckets
    (ADVICE r3)."""
    src6 = str(tmp_path / "src6")
    web_df.repartition(6).write.parquet(src6)
    src3 = str(tmp_path / "src3")
    web_df.repartition(3).write.parquet(src3)

    cfg = PipelineConfig(bucket_by="input_partition")
    pipe = QualityFilterPipeline(spark, str(tmp_path / "run"), cfg)
    pipe.run(spark.read.parquet(src6), task_ts=TASK_TS)  # full mode

    with pytest.raises(ValueError, match="input_partition resume refused"):
        pipe.run(spark.read.parquet(src3), task_ts=TASK_TS, mode="validate")

    # and the marker was NOT refreshed: a full resume on the ORIGINAL
    # input still works (guard state intact)
    s = pipe.run(spark.read.parquet(src6), task_ts=TASK_TS)
    assert s["resumed_buckets_skipped"] > 0


def test_quality_task_ts_is_the_lineage_instant(spark, web_df, tmp_path):
    """A tz-aware task_ts under a non-UTC session time zone: the quality
    table names the run by the naive instant the lineage holds (Spark's
    session-time-zone value), also on a resumed run that collects no
    lineage row."""
    from datetime import timedelta, timezone

    from contessa_spark.results import LocalSmallTableMerge

    ts = datetime(2026, 7, 1, 12, 0, tzinfo=timezone(timedelta(hours=5)))
    want = {datetime(2026, 7, 1, 3, 0)}  # 07:00 UTC in New York (UTC-4)
    conf = "spark.sql.session.timeZone"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "America/New_York")
    try:
        pipe = QualityFilterPipeline(spark, str(tmp_path), PipelineConfig(n_buckets=4))
        pipe.run(web_df, task_ts=ts)
        assert set(LocalSmallTableMerge.read(pipe.lineage_path)["task_ts"]) == want
        assert set(LocalSmallTableMerge.read(pipe.quality_path)["task_ts"]) == want
        # every bucket is done: the rerun collects no lineage row
        assert pipe.run(web_df, task_ts=ts)["resumed_buckets_skipped"] == 4
        assert set(LocalSmallTableMerge.read(pipe.quality_path)["task_ts"]) == want
        assert len(LocalSmallTableMerge.read(pipe.lineage_path)) == 4
    finally:
        spark.conf.set(conf, old)
