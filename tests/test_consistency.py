"""ConsistencyChecker parity (test/integration/test_consistency.py:86-232,
FIXTURES.md F4/F5)."""

from datetime import datetime

import pytest

from contessa_spark.consistency import ConsistencyChecker

TASK_TS = datetime(2018, 9, 12, 12, 0, 0)

BOOKING_SCHEMA = (
    "id bigint, src string, dst string, price int, "
    "turnover_after_refunds double, initial_price double, created_at timestamp"
)
LEFT_ROWS = [
    (1, "BTS", None, 1, 100.0, 11.0, datetime(2018, 9, 12, 13, 0)),
    (2, None, "PEK", 33, 1.1, 13.0, datetime(2018, 1, 12, 13, 0)),
    (3, "VIE", "JFK", 4, 5.5, 23.4, datetime(2018, 9, 11, 13, 0)),
    (4, "VIE", "VIE", 4, 0.0, 0.0, datetime(2018, 9, 11, 13, 0)),
]


@pytest.fixture(scope="module")
def left(spark):
    return spark.createDataFrame(LEFT_ROWS, schema=BOOKING_SCHEMA)


@pytest.fixture(scope="module")
def right_missing_one(spark):
    return spark.createDataFrame(LEFT_ROWS[:3], schema=BOOKING_SCHEMA)


def test_count_inconsistent(spark, left, right_missing_one):
    cc = ConsistencyChecker(spark)
    res = cc.run("count", left, right_missing_one, context={"task_ts": TASK_TS})
    # passed=min(4,3)=3, failed=4-3=+1 (signed), total=max=4
    assert res.status == "invalid"
    assert (res.total_records, res.failed, res.passed) == (4, 1, 3)
    assert res.failed_percentage == 25.0


def test_count_signed_other_direction(spark, left, right_missing_one):
    cc = ConsistencyChecker(spark)
    res = cc.run("count", right_missing_one, left, context={"task_ts": TASK_TS})
    assert res.failed == -1  # signed: left - right
    assert res.status == "invalid"
    assert res.failed_percentage == 25.0  # abs(failed)/total


def test_count_valid(spark, left):
    cc = ConsistencyChecker(spark)
    res = cc.run("count", left, left, context={"task_ts": TASK_TS})
    assert res.status == "valid"
    assert (res.total_records, res.failed, res.passed) == (4, 0, 4)


def test_diff_column_order_insensitive(spark):
    """F5: same data, shuffled physical column order → DIFF valid
    (columns sorted by name, consistency_checker.py:134-142)."""
    cc = ConsistencyChecker(spark)
    user = spark.createDataFrame([(1, "john doe")], schema="id bigint, name string")
    user_shuffled = spark.createDataFrame(
        [("john doe", 1)], schema="name string, id bigint"
    )
    res = cc.run("diff", user, user_shuffled, context={"task_ts": TASK_TS})
    assert res.status == "valid"
    assert (res.total_records, res.failed, res.passed) == (1, 0, 1)


def test_diff_inconsistent(spark, left, right_missing_one):
    cc = ConsistencyChecker(spark)
    res = cc.run("diff", left, right_missing_one, context={"task_ts": TASK_TS})
    assert res.status == "invalid"
    # 3 common rows, 1 only-left
    assert (res.total_records, res.failed, res.passed) == (4, 1, 3)
    assert len(res.failed_example) == 1


def test_custom_sql_forbids_columns(spark, left):
    cc = ConsistencyChecker(spark)
    with pytest.raises(ValueError):
        cc.run(
            "diff",
            left,
            left,
            columns=["id"],
            left_sql="SELECT 1",
            context={"task_ts": TASK_TS},
        )


def test_custom_sql_sides(spark, left):
    cc = ConsistencyChecker(spark)
    left.createOrReplaceTempView("booking_cc")
    res = cc.run(
        "diff",
        left,
        left,
        left_sql="SELECT id FROM booking_cc WHERE id <= 3",
        right_sql="SELECT id FROM booking_cc",
        context={"task_ts": TASK_TS},
    )
    assert (res.passed, res.failed) == (3, 1)
    assert res.status == "invalid"


def test_automatic_time_filter(spark, left):
    cc = ConsistencyChecker(spark)
    tf = cc.construct_automatic_time_filter(left, created_at_column="created_at")
    assert tf.columns[0].since == datetime(2018, 1, 12, 13, 0)
    # applying it keeps all rows (window starts at the min)
    res = cc.run("count", left, left, time_filter=tf, context={"task_ts": TASK_TS})
    assert res.total_records == 4


def test_count_with_columns_counts_non_null(spark, left):
    cc = ConsistencyChecker(spark)
    res = cc.run("count", left, left, columns=["src"], context={"task_ts": TASK_TS})
    # count(src): 3 non-null on both sides
    assert (res.total_records, res.failed, res.passed) == (3, 0, 3)


def test_consistency_persists_and_upserts(spark, left, right_missing_one, tmp_path):
    """Persisted ConsistencyCheck row with upsert identity
    (contessa/models.py:195-205)."""
    path = str(tmp_path / "consistency_check_booking")
    cc = ConsistencyChecker(spark)
    cc.run(
        "count", left, right_missing_one,
        context={"task_ts": TASK_TS},
        left_table_name="tmp.booking", right_table_name="hello.booking",
        result_table_path=path,
    )
    stored = spark.read.parquet(path)
    assert stored.count() == 1
    row = stored.collect()[0]
    assert row["status"] == "invalid"
    assert row["left_table"] == "tmp.booking"
    # same task_ts rerun replaces
    cc.run(
        "count", left, left,
        context={"task_ts": TASK_TS},
        left_table_name="tmp.booking", right_table_name="hello.booking",
        result_table_path=path,
    )
    stored = spark.read.parquet(path)
    assert stored.count() == 1
    assert stored.collect()[0]["status"] == "valid"
    # diff adds a second row (different type in the key)
    cc.run(
        "diff", left, left,
        context={"task_ts": TASK_TS},
        left_table_name="tmp.booking", right_table_name="hello.booking",
        result_table_path=path,
    )
    assert spark.read.parquet(path).count() == 2


def test_count_is_one_action_with_signed_failed(spark, left, monkeypatch):
    """COUNT over custom-SQL sides collects both counts in one action;
    ``failed`` stays signed (l - r), total = max, passed = min."""
    cc = ConsistencyChecker(spark)
    left.createOrReplaceTempView("booking_cnt")
    frame_cls = type(left)
    actions = []
    collect = frame_cls.collect

    def counted(self):
        actions.append(1)
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", counted)
    res = cc.run(
        "count", left, left,
        left_sql="SELECT count(*) AS n FROM booking_cnt WHERE id <= 3",
        right_sql="SELECT count(*) AS c FROM booking_cnt",
        context={"task_ts": TASK_TS},
    )
    assert len(actions) == 1
    assert (res.total_records, res.failed, res.passed) == (4, -1, 3)
    assert res.status == "invalid"


def test_diff_is_one_action_and_caches_nothing(spark, job_groups, leaves_nothing):
    """DIFF with examples returns its counts and at most
    ``collect_examples`` rows of the symmetric difference from one SQL
    execution, and leaves no persisted RDD or cached plan behind."""
    lo = spark.range(0, 30).selectExpr("id", "CAST(id % 7 AS STRING) AS tag", "NULL AS note")
    hi = spark.range(15, 40).selectExpr("id", "CAST(id % 7 AS STRING) AS tag", "NULL AS note")
    cc = ConsistencyChecker(spark)
    run = job_groups.label(cc.run, "diff_examples")
    with leaves_nothing():
        res = run("diff", lo, hi, context={"task_ts": TASK_TS}, collect_examples=10)
    assert job_groups.counts(["diff_examples"])["diff_examples"][1] == 1
    # 15 rows in both, 15 only left, 10 only right (Python-set semantics)
    assert (res.total_records, res.passed, res.failed) == (40, 15, 25)
    declarative = ConsistencyChecker.diff_compare_df(lo, hi).collect()[0]
    assert (res.passed, res.failed) == (declarative["passed"], declarative["failed"])
    # rows compare on the right side's columns sorted by name
    cols = sorted(hi.columns)
    l_rows = {tuple(r) for r in lo.select(*cols).collect()}
    r_rows = {tuple(r) for r in hi.select(*cols).collect()}
    assert len(res.failed_example) == 10
    assert set(res.failed_example) <= l_rows ^ r_rows
    assert len(set(res.failed_example)) == 10
