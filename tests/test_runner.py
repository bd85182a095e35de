"""End-to-end runner parity (test/integration/test_runner.py:89-153,
FIXTURES.md F4) + persistence/upsert/median semantics."""

from datetime import date, datetime, timedelta, timezone

import pytest

from contessa_spark import runner as runner_mod
from contessa_spark.results import (
    QUALITY_CHECK_SCHEMA,
    ParquetMergeWriter,
    build_quality_rows,
)
from contessa_spark.runner import QualityRunner

TASK_TS = datetime(2018, 9, 12, 12, 0, 0)

BOOKING_SCHEMA = (
    "id bigint, src string, dst string, price int, "
    "turnover_after_refunds double, initial_price double, created_at timestamp"
)
BOOKING_ROWS = [
    (1, "BTS", None, 1, 100.0, 11.0, datetime(2018, 9, 12, 11, 50)),
    (2, None, "PEK", 33, 1.1, 13.0, datetime(2018, 1, 12, 15, 50)),  # outside 30d
    (3, "VIE", "JFK", 4, 5.5, 23.4, datetime(2018, 9, 11, 11, 50)),
    (4, "VIE", "VIE", 4, 0.0, 0.0, datetime(2018, 9, 11, 11, 50)),
]

CUSTOM_SQL = """
    SELECT
      CASE WHEN src = 'BTS' and dst is null THEN false ELSE true END as res
    from {{ table_fullname }}
"""

RULES = [
    {"name": "not_null_name", "type": "not_null", "column": "dst", "time_filter": "created_at"},
    {"name": "gt_name", "type": "gt", "column": "price", "value": 10, "time_filter": "created_at"},
    {"name": "sql_name", "type": "sql", "sql": CUSTOM_SQL, "column": "src_dst", "description": "test sql rule"},
    {"name": "not_name", "type": "not", "column": "src", "value": "dst"},
]


@pytest.fixture(scope="module")
def booking(spark):
    return spark.createDataFrame(BOOKING_ROWS, schema=BOOKING_SCHEMA)


def test_runner_e2e_in_memory(spark, booking):
    runner = QualityRunner(spark)
    out = runner.run(
        RULES,
        booking,
        check_table={"schema_name": "tmp", "table_name": "booking_all_v2"},
        context={"task_ts": TASK_TS},
    )
    by_name = {r.rule_name: r for r in out}
    r = by_name["not_null_name"]
    assert (r.failed, r.passed) == (1, 2)
    g = by_name["gt_name"]
    assert (g.failed, g.passed) == (3, 0)
    s = by_name["sql_name"]
    assert (s.failed, s.passed) == (1, 3)
    n = by_name["not_name"]
    assert (n.failed, n.passed) == (1, 3)
    assert n.status == "invalid"
    assert g.failed_percentage == 100.0


def test_runner_persists_and_upserts(spark, booking, tmp_path):
    path = str(tmp_path / "quality_check_booking")
    runner = QualityRunner(spark)
    rows = runner.run(
        RULES,
        booking,
        check_table={"schema_name": "tmp", "table_name": "booking_all_v2"},
        result_table_path=path,
        context={"task_ts": TASK_TS},
        today=date(2018, 9, 12),
    )
    assert len(rows) == 4
    stored = spark.read.schema(QUALITY_CHECK_SCHEMA).parquet(path)
    assert stored.count() == 4
    # first run: result table was empty at median time
    assert all(r["median_30_day_failed"] is None for r in stored.collect())

    # re-run same task_ts → rows REPLACED, not duplicated (db.py:61-88)
    runner.run(
        RULES,
        booking,
        check_table={"schema_name": "tmp", "table_name": "booking_all_v2"},
        result_table_path=path,
        context={"task_ts": TASK_TS},
        today=date(2018, 9, 12),
    )
    stored = spark.read.schema(QUALITY_CHECK_SCHEMA).parquet(path)
    assert stored.count() == 4
    # same-day rerun: the median window cutoff is the DATE string
    # (models.py:140-141) so the noon rows of 2018-09-12 are NOT <=
    # '2018-09-12' — medians stay None, matching the reference quirk
    assert all(r["median_30_day_failed"] is None for r in stored.collect())

    # new task_ts a day later → rows appended; medians now see run 1
    runner.run(
        RULES,
        booking,
        check_table={"schema_name": "tmp", "table_name": "booking_all_v2"},
        result_table_path=path,
        context={"task_ts": datetime(2018, 9, 13, 12, 0)},
        today=date(2018, 9, 13),
    )
    stored = spark.read.schema(QUALITY_CHECK_SCHEMA).parquet(path)
    assert stored.count() == 8
    meds = {
        r["rule_name"]: r["median_30_day_failed"]
        for r in stored.collect()
        if r["task_ts"] == datetime(2018, 9, 13, 12, 0)
    }
    # median over run-1 failed values 1,3,1,1 → 1.0
    assert meds["gt_name"] == 1.0


def test_median_30_day_window(spark, tmp_path):
    """FIXTURES.md F6 / test_models.py:54-78: medians 10.5 / 155 at
    today=2018-09-12; the 2018-07-12 row falls outside the window."""
    from contessa_spark.results import medians_30_day

    path = str(tmp_path / "quality_check_t")
    seed = [
        (10, 200, datetime(2018, 9, 11)),
        (3, 22, datetime(2018, 9, 10)),
        (11, 110, datetime(2018, 9, 9)),
        (55, 476, datetime(2018, 9, 8)),
        (77, 309, datetime(2018, 7, 12)),
    ]
    rows = [
        {
            "attribute": "a",
            "rule_name": "r",
            "rule_type": "t",
            "rule_description": None,
            "total_records": f + p,
            "failed": f,
            "median_30_day_failed": None,
            "passed": p,
            "median_30_day_passed": None,
            "failed_percentage": 0.0,
            "passed_percentage": 0.0,
            "status": "valid",
            "time_filter": "not_set",
            "task_ts": ts,
            "created_at": ts,
        }
        for f, p, ts in seed
    ]
    spark.createDataFrame(rows, schema=QUALITY_CHECK_SCHEMA).write.parquet(path)
    med = medians_30_day(spark, path, today=date(2018, 9, 12))
    assert med == {"failed": 10.5, "passed": 155.0}


def test_user_context_overrides_defaults(spark):
    from contessa_spark.table import Table

    ctx = QualityRunner.get_context(
        Table("tmp", "t"), {"task_ts": TASK_TS, "extra": 1}
    )
    assert ctx["task_ts"] == TASK_TS
    assert ctx["extra"] == 1
    assert ctx["table_fullname"] == "tmp.t"


def test_custom_sql_strict_jinja(spark, booking):
    """test_rules.py:384-403 — missing template var raises."""
    import jinja2

    runner = QualityRunner(spark)
    bad = [
        {
            "name": "s",
            "type": "sql",
            "sql": "SELECT {{ missing_var }} FROM {{ table_fullname }}",
            "column": "c",
            "description": "d",
        }
    ]
    with pytest.raises(jinja2.UndefinedError):
        runner.run(bad, booking, context={"task_ts": TASK_TS})


def test_persisted_run_jobs_are_counting_scans_only(spark, booking, tmp_path, monkeypatch, job_groups):
    """A persisted run merges and takes its 30-day medians on the driver
    (no Spark job) and fetches no failed examples: its column rules and
    its custom-SQL rule are counted by exactly one SQL execution (one
    action), and ``run_custom_sql_rule`` is never called."""
    path = str(tmp_path / "quality_check_booking")
    ctx = {"schema_name": "tmp", "table_name": "booking_all_v2"}
    yesterday = TASK_TS - timedelta(days=1)
    # history for the medians and the merge to read
    QualityRunner(spark).run(
        RULES, booking, check_table=ctx, result_table_path=path,
        context={"task_ts": yesterday}, today=yesterday.date(),
    )
    groups = ["run_column_rules", "run_custom_sql_rule", "medians_30_day", "read_result_table"]
    for name in groups:
        monkeypatch.setattr(runner_mod, name, job_groups.label(getattr(runner_mod, name), name))
    monkeypatch.setattr(ParquetMergeWriter, "merge", job_groups.label(ParquetMergeWriter.merge, "merge"))
    rows = QualityRunner(spark).run(
        RULES, booking, check_table=ctx, result_table_path=path,
        context={"task_ts": TASK_TS}, today=TASK_TS.date(),
    )
    counts = job_groups.counts(groups + ["merge"])
    assert counts["run_column_rules"][0] >= 1
    assert counts["run_column_rules"][1] == 1
    for name in ("run_custom_sql_rule", "medians_30_day", "read_result_table", "merge"):
        assert counts[name] == (0, 0), name
    assert {r["rule_name"]: (r["total_records"], r["passed"], r["failed"]) for r in rows} == {
        "not_null_name": (3, 2, 1), "gt_name": (3, 0, 3), "sql_name": (4, 3, 1), "not_name": (4, 3, 1),
    }
    # the medians saw yesterday's rows; the merge kept them
    assert {r["median_30_day_failed"] for r in rows} == {1.0}
    assert spark.read.schema(QUALITY_CHECK_SCHEMA).parquet(path).count() == 8


def test_sql_rules_counted_with_the_column_rules(spark, booking):
    """Custom-SQL rules counted in ``run_column_rules``'s one action
    give what ``run_custom_sql_rule`` gives for each alone, in
    ``only_failures_mode`` too, with results in rule order."""
    from contessa_spark.compiler import run_column_rules, run_custom_sql_rule

    booking.createOrReplaceTempView("booking_sql_rules")
    sql_rules = QualityRunner.build_rules([
        {"name": "s", "type": "sql", "sql": CUSTOM_SQL, "column": "c", "description": "d"},
        {"name": "f", "type": "sql", "column": "c", "description": "d", "only_failures_mode": True,
         "sql": "SELECT id, src FROM {{ table_fullname }} WHERE price > 3"},
    ])
    (gt,) = QualityRunner.build_rules([{"name": "g", "type": "gt", "column": "price", "value": 3}])
    ctx = {"task_ts": TASK_TS, "table_fullname": "booking_sql_rules"}
    frames = [(r, r.evaluate(spark, ctx)) for r in sql_rules]
    together = run_column_rules(booking, [gt], TASK_TS, 10, frames)
    alone = [run_custom_sql_rule(spark, r, ctx, 10) for r in sql_rules]
    assert [(r.total_records, r.passed, r.failed) for r in together] == [(4, 3, 1), (4, 3, 1), (0, 0, 3)]
    def key(r):
        return r.total_records, r.passed, r.failed, sorted(r.failed_example)

    assert [key(r) for r in together[1:]] == [key(r) for r in alone]
    assert sorted(together[2].failed_example) == [(2, None), (3, "VIE"), (4, "VIE")]


def test_non_boolean_sql_rule_raises_before_any_action(spark, booking, job_groups):
    """contessa/rules.py:84-87: a custom-SQL rule whose first column is
    not boolean raises ValueError, and no counting action runs."""
    bad = [{"name": "s", "type": "sql", "column": "c", "description": "d",
            "sql": "SELECT price FROM {{ table_fullname }}"}]
    run = job_groups.label(QualityRunner(spark).run, "bad_sql_rule")
    with pytest.raises(ValueError, match="list of booleans"):
        run(RULES[:2] + bad, booking, context={"task_ts": TASK_TS})
    assert job_groups.counts(["bad_sql_rule"])["bad_sql_rule"] == (0, 0)


def test_in_memory_run_returns_failed_examples(spark, booking):
    out = QualityRunner(spark).run(
        RULES, booking,
        check_table={"schema_name": "tmp", "table_name": "booking_all_v2"},
        context={"task_ts": TASK_TS},
    )
    by_name = {r.rule_name: r for r in out}
    assert by_name["not_null_name"].failed_example == [(None,)]
    assert sorted(by_name["gt_name"].failed_example) == [(1,), (4,), (4,)]
    assert by_name["sql_name"].failed_example == [(False,)]
    assert by_name["not_name"].failed_example == [("VIE",)]


def _rewrite_as(spark, src, dst, layout):
    """Copy the result table at ``src`` to ``dst`` with ``failed``
    set to -1, stored with one of the timestamp layouts a result table
    can hold: Spark's INT96, naive micros, or UTC-adjusted micros."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    df = spark.read.schema(QUALITY_CHECK_SCHEMA).parquet(src).withColumn("failed", F.lit(-1))
    if layout == "spark_int96":
        df.write.parquet(dst)
        part = next(f for f in os.listdir(dst) if f.endswith(".parquet"))
        assert pq.ParquetFile(os.path.join(dst, part)).schema.column(13).physical_type == "INT96"
        return
    table = pa.Table.from_pylist([r.asDict() for r in df.collect()])
    ts_type = pa.timestamp("us", tz="UTC" if layout == "utc_us" else None)
    for c in ("task_ts", "created_at"):
        # collect() gives driver-local naive datetimes: store the instants
        utc = [v.astimezone(timezone.utc) for v in table.column(c).to_pylist()]
        if ts_type.tz is None:
            utc = [v.replace(tzinfo=None) for v in utc]
        table = table.set_column(table.schema.get_field_index(c), c, pa.array(utc, ts_type))
    os.makedirs(dst)
    pq.write_table(table, os.path.join(dst, "part-00000.parquet"))


@pytest.mark.parametrize("layout", ["spark_int96", "naive_us", "utc_us"])
def test_upsert_replaces_rows_whatever_the_timestamp_layout(spark, booking, tmp_path, layout):
    """Re-running a task_ts replaces its rows in a table written by
    Spark (INT96), by a naive-micros writer or with UTC-adjusted
    micros; other nights' rows survive."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    ctx = {"schema_name": "tmp", "table_name": "booking_all_v2"}
    yesterday = TASK_TS - timedelta(days=1)
    for ts in (yesterday, TASK_TS):
        QualityRunner(spark).run(
            RULES, booking, check_table=ctx, result_table_path=src,
            context={"task_ts": ts}, today=ts.date(),
        )
    _rewrite_as(spark, src, dst, layout)
    QualityRunner(spark).run(
        RULES, booking, check_table=ctx, result_table_path=dst,
        context={"task_ts": TASK_TS}, today=TASK_TS.date(),
    )
    stored = spark.read.schema(QUALITY_CHECK_SCHEMA).parquet(dst).collect()
    assert len(stored) == 8
    assert sorted(r["failed"] for r in stored if r["task_ts"] == TASK_TS) == [1, 1, 1, 3]
    assert {r["failed"] for r in stored if r["task_ts"] == yesterday} == {-1}


def test_all_null_description_stays_a_string_column(spark, booking, tmp_path):
    """Column types come from QUALITY_CHECK_SCHEMA, not the values: an
    all-NULL rule_description is still a string column Spark reads."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "quality_check_nodesc")

    def no_descriptions(*args):
        return [{**r, "rule_description": None} for r in build_quality_rows(*args)]

    QualityRunner(spark, row_builder=no_descriptions).run(
        RULES, booking,
        check_table={"schema_name": "tmp", "table_name": "booking_all_v2"},
        result_table_path=path, context={"task_ts": TASK_TS}, today=TASK_TS.date(),
    )
    assert str(pq.read_schema(path + "/part-00000.parquet").field("rule_description").type) == "string"
    stored = spark.read.schema(QUALITY_CHECK_SCHEMA).parquet(path).collect()
    assert len(stored) == 4
    assert all(r["rule_description"] is None for r in stored)
    assert {r["task_ts"] for r in stored} == {TASK_TS}


def test_iceberg_result_paths_reach_the_merge_writer(spark, booking, tmp_path, monkeypatch):
    """``iceberg:`` result paths go to ``IcebergMergeWriter`` for both
    quality rows and consistency rows — never to a parquet writer,
    which would fail on the URI and leave a local temp directory. The
    MERGE itself is stubbed: no Iceberg catalog runs here."""
    from contessa_spark.consistency import ConsistencyChecker
    from contessa_spark.results import (
        CONSISTENCY_CHECK_SCHEMA,
        CONSISTENCY_UPSERT_KEY,
        UPSERT_KEY,
        IcebergMergeWriter,
    )

    calls = []

    def merge(self, rows, table, key_cols, schema, existing=None):
        calls.append((table, key_cols, schema, len(rows)))

    monkeypatch.setattr(IcebergMergeWriter, "merge", merge)
    monkeypatch.chdir(tmp_path)
    rows = QualityRunner(spark).run(
        RULES[:2],
        booking,
        check_table={"schema_name": "tmp", "table_name": "booking_all_v2"},
        result_table_path="iceberg:db.qc",
        context={"task_ts": TASK_TS},
    )
    ConsistencyChecker(spark).run(
        "count", booking, booking, result_table_path="iceberg:db.cc",
        context={"task_ts": TASK_TS},
    )
    assert calls == [
        ("iceberg:db.qc", UPSERT_KEY, QUALITY_CHECK_SCHEMA, len(rows)),
        ("iceberg:db.cc", CONSISTENCY_UPSERT_KEY, CONSISTENCY_CHECK_SCHEMA, 1),
    ]
    assert list(tmp_path.iterdir()) == []
