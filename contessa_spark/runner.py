"""QualityRunner — the main quality-check lifecycle.

Reference: contessa/runner.py:31-113 (``ContessaRunner.run``). Stage
mapping (SURVEY §3.1):

1. parse/bind + context build (user context overrides defaults,
   runner.py:61-72);
2. normalize (columns × separate_time_filters cross-product);
3. build Rule objects from the registry (bad args raise,
   runner.py:96-113);
4. ensure result table / else in-memory ``CheckResult``;
5. execute — **one DataFrame pass for all Column rules** (the
   idiomatic-Spark win over the reference's per-rule scans,
   runner.py:77-86) + one ``spark.sql`` plan per CustomSqlRule, all
   counted by ONE action (``compiler.run_column_rules``). A persisted
   run fetches no failed examples (the QualityCheck row has no column
   for them), so that counting action is its only Spark work; the
   in-memory run also collects up to ``collect_examples`` failing
   values per rule;
6. enrich with percentages/status/30-day medians (medians computed
   BEFORE merging the current rows — contessa ordering caveat,
   models.py:111 vs runner.py:58). A parquet result table is read
   once, on the driver, and serves both the medians and step 7;
7. MERGE-upsert into the result table keyed on
   (attribute, rule_name, rule_type, task_ts, time_filter) — a
   driver-side rewrite for parquet paths, ``MERGE INTO`` for Iceberg.

No global executor singleton (the reference's is documented
not-thread-safe, contessa/executor.py:91-93) — context is threaded
explicitly, so concurrent runners on one SparkSession are safe.
"""

from __future__ import annotations

from datetime import date, datetime
from typing import Dict, List, Optional, Union

from pyspark.sql import DataFrame, SparkSession

# run_custom_sql_rule is not called here; it stays importable from this
# module for callers that wrap or patch the runner's entry points
from contessa_spark.compiler import run_column_rules, run_custom_sql_rule  # noqa: F401
from contessa_spark.normalizer import RuleNormalizer
from contessa_spark.results import (
    QUALITY_CHECK_SCHEMA,
    UPSERT_KEY,
    CheckResult,
    IcebergMergeWriter,
    ParquetMergeWriter,
    build_quality_rows,
    medians_30_day,
    read_result_table,
)
from contessa_spark.rules import CustomSqlRule, OneColumnRule, get_rule_cls
from contessa_spark.table import Table


class QualityRunner:
    def __init__(self, spark: SparkSession, row_builder=None):
        """``row_builder(rules, agg_results, task_ts, medians) -> rows``
        is the Spark analogue of the reference's ``special_qc_map``
        (contessa/runner.py:29,124-140 — swap the persisted row shape
        per result table); defaults to the standard QualityCheck rows.
        It only runs when persisting, so its ``agg_results`` carry no
        failed examples.
        """
        self.spark = spark
        self.row_builder = row_builder or build_quality_rows

    def run(
        self,
        raw_rules: List[Dict],
        check_df: DataFrame,
        check_table: Optional[Dict] = None,
        result_table_path: Optional[str] = None,
        context: Optional[Dict] = None,
        collect_examples: int = 10,
        today: Optional[date] = None,
    ) -> Union[List[CheckResult], List[dict]]:
        """Run all rules over ``check_df``.

        ``check_df`` is the checked table as a DataFrame (parquet /
        Iceberg / view — anything). ``check_table`` supplies naming for
        the Jinja context; ``result_table_path`` switches persistence on
        (parquet path or ``iceberg:<ident>``), else in-memory
        CheckResults are returned (contessa/runner.py:46-52).

        ``collect_examples`` caps the failing values each in-memory
        ``CheckResult`` carries. A persisted run ignores it: the
        persisted rows cannot hold examples, so none are fetched.
        """
        tbl = Table(**check_table) if check_table else Table(None, "check_table")
        ctx = self.get_context(tbl, context)
        task_ts = ctx["task_ts"]

        normalized = RuleNormalizer.normalize(raw_rules)
        rules = self.build_rules(normalized)

        # register the view CustomSqlRule templates target
        check_df.createOrReplaceTempView(tbl.view_name)
        ctx["table_fullname"] = tbl.view_name

        column_rules = [r for r in rules if isinstance(r, OneColumnRule) and not isinstance(r, CustomSqlRule)]
        sql_rules = [r for r in rules if isinstance(r, CustomSqlRule)]

        n_examples = 0 if result_table_path else collect_examples
        sql_frames = [(rule, rule.evaluate(self.spark, ctx)) for rule in sql_rules]
        counted = run_column_rules(check_df, column_rules, task_ts, n_examples, sql_frames)
        agg_results = {id(rule): res for rule, res in zip(column_rules + sql_rules, counted)}
        ordered = [agg_results[id(r)] for r in rules]

        if result_table_path:
            history = read_result_table(result_table_path, QUALITY_CHECK_SCHEMA)
            medians = medians_30_day(
                self.spark, result_table_path, today=today, history=history
            )
            rows = self.row_builder(rules, ordered, task_ts, medians)
            iceberg = result_table_path.startswith("iceberg:")
            writer = (IcebergMergeWriter if iceberg else ParquetMergeWriter)(self.spark)
            writer.merge(
                rows, result_table_path, UPSERT_KEY, QUALITY_CHECK_SCHEMA,
                existing=history,
            )
            return rows

        out: List[CheckResult] = []
        for rule, res in zip(rules, ordered):
            cr = CheckResult()
            cr.init_row(rule, res, ctx)
            out.append(cr)
        return out

    @staticmethod
    def get_context(check_table: Table, context: Optional[Dict] = None) -> Dict:
        """contessa/runner.py:61-72 — user context overrides defaults."""
        ctx = {"table_fullname": check_table.fullname, "task_ts": datetime.now()}
        if context:
            ctx.update(context)
        return ctx

    @staticmethod
    def build_rules(normalized_rules: List[Dict]):
        """contessa/runner.py:96-113 — registry construction; bad args raise."""
        out = []
        for rule_def in normalized_rules:
            rule_cls = get_rule_cls(rule_def["type"])
            out.append(rule_cls(**rule_def))
        return out
