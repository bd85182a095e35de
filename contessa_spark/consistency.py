"""ConsistencyChecker — two-table COUNT / DIFF comparisons, distributed.

Reference: contessa/consistency_checker.py:45-256. The reference
fetches BOTH tables fully into driver-side Python lists and compares
Python sets (consistency_checker.py:227-231 — its scalability cliff).
Here both sides stay DataFrames and the comparison is a distributed
``intersect`` / ``subtract`` (shuffle-based set ops), so DIFF works at
any scale; only the final counters reach the driver.

Exact parity carried over:

* COUNT: ``passed = min(l, r)``, ``failed = l - r`` (SIGNED),
  ``total = max(l, r)``, valid iff failed == 0; the persisted
  percentage uses ``abs(failed)`` (consistency_checker.py:170-180,
  models.py:360-362);
* DIFF: column list defaults to the RIGHT table's columns sorted by
  name (order-insensitive comparison, consistency_checker.py:134-142);
  ``passed = |L ∩ R|``, ``failed = |L △ R|``, ``total = passed +
  failed`` — Python-set (distinct) semantics;
* custom SQL per side forbids ``columns``/``time_filter``
  (consistency_checker.py:58-62);
* automatic time filter = ``min(since_column)`` of the left table
  (consistency_checker.py:240-256).
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from contessa_spark.results import CheckResult
from contessa_spark.time_filter import (
    TimeFilter,
    TimeFilterColumn,
    TimeFilterConjunction,
)
from contessa_spark.utils import AggregatedResult, render_jinja_sql


class ConsistencyChecker:
    COUNT = "count"
    DIFF = "diff"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def run(
        self,
        method: str,
        left_df: DataFrame,
        right_df: DataFrame,
        columns: Optional[List[str]] = None,
        time_filter=None,
        left_sql: Optional[str] = None,
        right_sql: Optional[str] = None,
        context: Optional[Dict] = None,
        left_table_name: str = "left",
        right_table_name: str = "right",
        collect_examples: int = 10,
        result_table_path: Optional[str] = None,
    ) -> CheckResult:
        if (left_sql or right_sql) and (columns or time_filter):
            # consistency_checker.py:58-62
            raise ValueError(
                "When using custom sql you cannot use `columns` or `time_filter`"
            )
        ctx = {"task_ts": datetime.now()}
        if context:
            ctx.update(context)
        task_ts = ctx["task_ts"]

        # one window predicate serves both sides
        window = time_filter.predicate(task_ts) if isinstance(time_filter, TimeFilter) else None
        left = self._side(left_df, left_sql, method, columns, window, right_df, ctx)
        right = self._side(right_df, right_sql, method, columns, window, right_df, ctx)

        if method == self.COUNT:
            results = self._compare_counts(left, right)
        elif method == self.DIFF:
            results = self._compare_diff(left, right, collect_examples)
        else:
            raise NotImplementedError(f"Method {method} not implemented")

        cr = CheckResult()
        cr.init_row_consistency(
            {"type": method, "name": "consistency", "description": ""},
            results,
            left_table_name,
            right_table_name,
            time_filter=time_filter,
            context=ctx,
        )
        if result_table_path:
            self.persist(cr, task_ts, result_table_path)
        return cr

    def persist(self, cr: CheckResult, task_ts: datetime, path: str) -> None:
        """Upsert one ConsistencyCheck row (contessa/models.py:157-205;
        identity = (type, name, left_table, right_table, task_ts,
        time_filter), consistency_checker.py:233-238) — a driver-side
        parquet rewrite, or ``MERGE INTO`` for an ``iceberg:`` path."""
        import json

        import pandas as pd

        from contessa_spark.results import (
            CONSISTENCY_CHECK_SCHEMA,
            CONSISTENCY_UPSERT_KEY,
            IcebergMergeWriter,
            LocalSmallTableMerge,
        )

        ctx = dict(cr.context or {})
        row = {
            "type": cr.rule_type,
            "name": cr.rule_name,
            "description": cr.rule_description,
            "left_table": ctx.get("left_table_name", "left"),
            "right_table": ctx.get("right_table_name", "right"),
            "status": cr.status,
            "time_filter": cr.time_filter or "not_set",
            "context": json.dumps(
                {k: str(v) for k, v in ctx.items()}, sort_keys=True
            ),
            "task_ts": task_ts,
            "created_at": datetime.now(timezone.utc).replace(tzinfo=None),
        }
        if path.startswith("iceberg:"):
            IcebergMergeWriter(self.spark).merge(
                [row], path, CONSISTENCY_UPSERT_KEY, CONSISTENCY_CHECK_SCHEMA
            )
        else:
            LocalSmallTableMerge.merge(
                pd.DataFrame([row]), path, CONSISTENCY_UPSERT_KEY
            )

    def _side(
        self,
        df: DataFrame,
        custom_sql: Optional[str],
        method: str,
        columns: Optional[List[str]],
        window: Optional[Column],
        right_df: DataFrame,
        ctx: Dict,
    ) -> DataFrame:
        if custom_sql:
            return self.spark.sql(render_jinja_sql(custom_sql, ctx))
        if window is not None:
            df = df.where(window)
        if method == self.COUNT:
            if columns:
                # count(c1, c2, ...) counts rows where all cols non-null
                cond = None
                for c in columns:
                    p = F.col(c).isNotNull()
                    cond = p if cond is None else (cond & p)
                return df.agg(F.count_if(cond).alias("cnt"))
            return df.agg(F.count(F.lit(1)).alias("cnt"))
        # DIFF: explicit column list, defaulting to right side's columns
        # sorted by name (order-insensitive, consistency_checker.py:134-142)
        cols = columns or sorted(right_df.columns)
        return df.select(*cols)

    @staticmethod
    def _compare_counts(left: DataFrame, right: DataFrame) -> AggregatedResult:
        # both sides' counts in ONE action: a union tagged by side, so
        # the two scans run as concurrent stages of one query instead
        # of two sequential collects. Each side's value is its first
        # row's first column, as a custom-SQL side may return more.
        tagged = left.select(
            F.lit(0).alias("side"), F.col(left.columns[0]).alias("n")
        ).unionByName(
            right.select(F.lit(1).alias("side"), F.col(right.columns[0]).alias("n"))
        )
        first: Dict[int, int] = {}
        for side, n in tagged.collect():
            first.setdefault(side, n)
        l, r = first[0], first[1]
        passed = min(l, r)
        failed = (l - passed) - (r - passed)  # signed, = l - r
        return AggregatedResult(total_records=max(l, r), failed=failed, passed=passed)

    @staticmethod
    def _tag_presence(left: DataFrame, right: DataFrame) -> DataFrame:
        """ONE-pass core of the DIFF method: union both sides with
        presence flags and group by every column. Replaces the
        three-subtree INTERSECT + 2×EXCEPT form, which scanned EACH
        input three times with a distinct-aggregate shuffle per set op;
        this scans each side once and shuffles once (with map-side
        partial aggregation collapsing duplicates first). Python-set
        semantics preserved: groupBy treats NULL keys as equal exactly
        like INTERSECT/EXCEPT's null-safe comparison, and max(flag)
        gives distinct-set membership. The right side is renamed to the
        left's column names POSITIONALLY, mirroring INTERSECT's
        positional schema alignment."""
        cols = left.columns
        one, zero = F.lit(1), F.lit(0)
        u = left.withColumns({"_in_l": one, "_in_r": zero}).unionByName(
            right.toDF(*cols).withColumns({"_in_l": zero, "_in_r": one})
        )
        return u.groupBy(*cols).agg(
            F.max("_in_l").alias("_l"), F.max("_in_r").alias("_r")
        )

    @staticmethod
    def _compare_diff(
        left: DataFrame, right: DataFrame, collect_examples: int
    ) -> AggregatedResult:
        # Python-set semantics ⇒ distinct set ops, computed in ONE scan
        # of each side (_tag_presence) and ONE action: the counters'
        # one-row aggregate is cross-joined to the first
        # ``collect_examples`` differing rows, gathered into one list.
        # Both branches hold the same tagged subtree, so Spark's
        # exchange reuse shuffles each side once; nothing is cached.
        g = ConsistencyChecker._tag_presence(left, right)
        # every group holds at least one side: equal flags mean both
        both = F.col("_l") == F.col("_r")
        counts = g.agg(
            F.count_if(both).alias("passed"), F.count_if(~both).alias("failed")
        )
        if collect_examples:
            counts = counts.crossJoin(
                g.where(~both)
                .select(F.struct(*left.columns).alias("row"))
                .limit(collect_examples)
                .agg(F.collect_list("row").alias("examples"))
            )
        row = counts.collect()[0]
        passed, failed = row["passed"], row["failed"]
        examples = [tuple(r) for r in row["examples"]] if collect_examples else []
        return AggregatedResult(
            total_records=passed + failed,
            failed=failed,
            passed=passed,
            failed_example=examples,
        )

    # -- declarative variants (no driver collect; used by the oracle
    # -- correctness harness and composable into larger plans) --------

    @staticmethod
    def count_compare_df(left: DataFrame, right: DataFrame) -> DataFrame:
        """One-row DataFrame with the COUNT-method comparison
        (passed=min, failed=signed l−r, total=max, status)."""
        l = left.agg(F.count(F.lit(1)).alias("l"))
        r = right.agg(F.count(F.lit(1)).alias("r"))
        row = l.crossJoin(r)
        return row.select(
            F.greatest("l", "r").alias("total_records"),
            (F.col("l") - F.col("r")).alias("failed"),
            F.least("l", "r").alias("passed"),
            F.when(F.col("l") - F.col("r") != 0, F.lit("invalid"))
            .otherwise(F.lit("valid"))
            .alias("status"),
        )

    @staticmethod
    def diff_compare_df(left: DataFrame, right: DataFrame) -> DataFrame:
        """One-row DataFrame with the DIFF-method comparison (set
        semantics): passed=|L∩R|, failed=|L△R|, total=sum, status.
        All three counters come from the single-shuffle presence-tag
        aggregation (``_tag_presence``) instead of three independent
        INTERSECT/EXCEPT subtrees — each input is scanned once."""
        g = ConsistencyChecker._tag_presence(left, right)
        row = g.agg(
            F.count(F.when(F.col("_l") + F.col("_r") == 2, 1)).alias("passed"),
            F.count(F.when((F.col("_l") == 1) & (F.col("_r") == 0), 1)).alias(
                "fl"
            ),
            F.count(F.when((F.col("_l") == 0) & (F.col("_r") == 1), 1)).alias(
                "fr"
            ),
        )
        return row.select(
            (F.col("passed") + F.col("fl") + F.col("fr")).alias("total_records"),
            (F.col("fl") + F.col("fr")).alias("failed"),
            F.col("passed"),
            F.when(F.col("fl") + F.col("fr") > 0, F.lit("invalid"))
            .otherwise(F.lit("valid"))
            .alias("status"),
        )

    def construct_automatic_time_filter(
        self,
        left_df: DataFrame,
        created_at_column: Optional[str] = None,
        updated_at_column: Optional[str] = None,
    ) -> TimeFilter:
        """consistency_checker.py:240-256 — window starts at
        min(since_column) of the left table."""
        if created_at_column is None and updated_at_column is None:
            raise ValueError("Automatic time filter need at least one time column")
        since_column = updated_at_column or created_at_column
        since = left_df.agg(F.min(since_column)).collect()[0][0]
        return TimeFilter(
            columns=[TimeFilterColumn(since_column, since=since)],
            conjunction=TimeFilterConjunction.AND,
        )
