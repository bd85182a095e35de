"""Rule → Spark plan compiler.

The reference executes one full table scan **per rule**, sequentially,
counting rows in a Python loop (contessa/runner.py:77-86,
contessa/rules.py:61-102). Here all Column-expressible rules over a
table compile into **one** DataFrame pass: a single ``agg`` of 3N
counters (total/passed/failed per rule). Catalyst handles partial
(map-side) + final aggregation, so the whole quality-check run is one
scan + one tiny shuffle regardless of rule count — the plan that
survives a 100 TB table. Each CustomSqlRule's own plan aggregates to
one row that is cross-joined to that pass's row, so the driver counts
all of a run's rules with one action.

Counting semantics (exact parity with contessa/rules.py:84-93):

* ``total``  += 1 for every in-scope row,
* ``passed`` += 1 iff the predicate is TRUE,
* ``failed`` += 1 iff the predicate is FALSE,
* a NULL predicate counts in total only (three-valued logic).

"Scope" is the composed WHERE of the rule's time_filter and condition
(contessa/rules.py:41-59): a NULL scope expression excludes the row,
exactly as SQL WHERE does.
"""

from __future__ import annotations

from datetime import datetime
from functools import reduce
from operator import and_
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from contessa_spark.rules import CustomSqlRule, OneColumnRule
from contessa_spark.utils import AggregatedResult


def scope_predicate(rule, task_ts: datetime) -> Optional[Column]:
    """Compose time_filter AND condition (contessa/rules.py:41-59,
    contessa/executor.py:28-51). Returns None when the rule has neither
    (whole-table scope)."""
    parts: List[Column] = []
    if rule.time_filter:
        parts.append(rule.time_filter.predicate(task_ts))
    if rule.condition:
        parts.append(F.expr(rule.condition))
    if not parts:
        return None
    return reduce(and_, parts)


def compile_counters(
    rule: OneColumnRule, task_ts: datetime, idx: int, rows: Column
) -> List[Column]:
    """3 aggregate Columns (total, passed, failed) for one rule;
    ``rows`` counts every row, the total of a rule with no scope.

    ``count_if`` counts the rows where its argument is TRUE, so a NULL
    scope or predicate falls out of every counter, as under SQL WHERE
    (``NULL AND FALSE`` is FALSE, ``NULL AND TRUE`` is NULL)."""
    scope = scope_predicate(rule, task_ts)
    pred = rule.predicate()
    if scope is None:
        total, passed, failed = rows, F.count_if(pred), F.count_if(~pred)
    else:
        total = F.count_if(scope)
        passed, failed = F.count_if(scope & pred), F.count_if(scope & ~pred)
    return [
        total.alias(f"total_{idx}"),
        passed.alias(f"passed_{idx}"),
        failed.alias(f"failed_{idx}"),
    ]


def _all_counters(rules: Sequence[OneColumnRule], task_ts: datetime) -> List[Column]:
    """``compile_counters`` of every rule, in order, sharing one
    row count (each Column built is a driver round trip to the JVM)."""
    rows = F.count(F.lit(1))
    return [c for i, rule in enumerate(rules) for c in compile_counters(rule, task_ts, i, rows)]


def run_column_rules(
    df: DataFrame,
    rules: Sequence[OneColumnRule],
    task_ts: datetime,
    collect_examples: int = 10,
    sql_rules: Sequence[Tuple[CustomSqlRule, DataFrame]] = (),
) -> List[AggregatedResult]:
    """Count every Column-expressible rule in ONE scan of ``df`` and
    every ``(CustomSqlRule, frame)`` of ``sql_rules`` with them, in ONE
    action: each SQL rule's frame (``rule.evaluate(spark, context)``)
    aggregates to one row, and the one-row aggregates are joined with
    ``crossJoin``, so the driver plans and collects once. Results come
    in order: ``rules``, then ``sql_rules``.

    Examples (failing values) are fetched lazily per rule via
    ``limit(n)`` — Spark's CollectLimit stops early, never a full-set
    driver collect (unlike the reference's O(failures) Python set,
    contessa/rules.py:74-95). That is one more action per failing rule;
    ``collect_examples=0`` skips them, leaving the counting action as
    the only one (a persisted ``QualityRunner`` run does this: its rows
    have no example column).
    """
    counts: List[DataFrame] = []
    if rules:
        counts.append(df.agg(*_all_counters(rules, task_ts)))
    counts.extend(_sql_counts(rule, out, j) for j, (rule, out) in enumerate(sql_rules))
    if not counts:
        return []
    row = reduce(DataFrame.crossJoin, counts).collect()[0]

    results: List[AggregatedResult] = []
    for i, rule in enumerate(rules):
        total = row[f"total_{i}"]
        passed = row[f"passed_{i}"]
        failed = row[f"failed_{i}"]
        examples: List[Any] = []
        if collect_examples and failed:
            scope = scope_predicate(rule, task_ts)
            failing = rule.predicate().eqNullSafe(F.lit(False))
            cond = failing if scope is None else (scope & failing)
            examples = [
                tuple(r)
                for r in df.where(cond)
                .select(rule.attribute)
                .limit(collect_examples)
                .collect()
            ]
        if getattr(rule, "only_failures_mode", False):
            # contessa/rules.py:80-82,96-101: report total_records=0;
            # failures are the failing rows themselves.
            results.append(
                AggregatedResult(
                    total_records=0, failed=failed, passed=0, failed_example=examples
                )
            )
        else:
            results.append(
                AggregatedResult(
                    total_records=total,
                    failed=failed,
                    passed=passed,
                    failed_example=examples,
                )
            )
    for j, (rule, out) in enumerate(sql_rules):
        results.append(_sql_result(rule, out, row, j, collect_examples))
    return results


def counters_df(
    df: DataFrame, rules: Sequence[OneColumnRule], task_ts: datetime
) -> DataFrame:
    """Fully declarative variant of run_column_rules: ONE scan, 3N
    counters, reshaped to one row per rule with ``stack`` — no driver
    collect, so it composes into larger plans and the driver/oracle
    correctness harness can hash it directly.

    Output: (attribute, rule_name, rule_type, total_records, failed,
    passed, status).
    """
    one = df.agg(*_all_counters(rules, task_ts))
    parts = []
    for i, rule in enumerate(rules):
        parts.append(
            f"'{rule.attribute}', '{rule.name}', '{rule.type}', "
            f"total_{i}, failed_{i}, passed_{i}"
        )
    stacked = one.selectExpr(
        f"stack({len(rules)}, {', '.join(parts)}) AS "
        f"(attribute, rule_name, rule_type, total_records, failed, passed)"
    )
    return stacked.withColumn(
        "status",
        F.when(F.col("failed") > 0, F.lit("invalid")).otherwise(F.lit("valid")),
    )


def _sql_counts(rule: CustomSqlRule, out: DataFrame, idx: int) -> DataFrame:
    """One-row aggregate of a CustomSqlRule's frame: ``sql_failed_{idx}``
    (every row) in ``only_failures_mode``, else ``sql_total_{idx}``,
    ``sql_passed_{idx}`` and ``sql_failed_{idx}`` over its first column.

    That column must be boolean validity (contessa/rules.py:84-87
    raises ValueError otherwise)."""
    if rule.only_failures_mode:
        return out.agg(F.count(F.lit(1)).alias(f"sql_failed_{idx}"))
    first = out.schema[0]
    if first.dataType.simpleString() != "boolean":
        raise ValueError(
            f"Your query for rule `{rule.name}` of type `{rule.type}` does not "
            f"return list of booleans in column `valid`."
        )
    valid = F.col(first.name)
    return out.agg(
        F.count(F.lit(1)).alias(f"sql_total_{idx}"),
        F.count_if(valid).alias(f"sql_passed_{idx}"),
        F.count_if(~valid).alias(f"sql_failed_{idx}"),
    )


def _sql_result(
    rule: CustomSqlRule, out: DataFrame, row, idx: int, collect_examples: int
) -> AggregatedResult:
    """A CustomSqlRule's result from the counters ``_sql_counts`` put in
    ``row``, with up to ``collect_examples`` failing rows fetched by one
    more action: every column of a failing row in ``only_failures_mode``
    (contessa/rules.py:80-82, total_records=0), else the columns after
    the validity column."""
    failed = row[f"sql_failed_{idx}"]
    if rule.only_failures_mode:
        examples = [tuple(r) for r in out.limit(collect_examples).collect()] if collect_examples else []
        return AggregatedResult(total_records=0, failed=failed, passed=0, failed_example=examples)
    examples: List[Any] = []
    if collect_examples and failed:
        valid = F.col(out.schema[0].name)
        rest = [f.name for f in out.schema.fields[1:]]
        ex_df = out.where(valid.eqNullSafe(F.lit(False)))
        ex_df = ex_df.select(*rest) if rest else ex_df
        examples = [tuple(r) for r in ex_df.limit(collect_examples).collect()]
    return AggregatedResult(
        total_records=row[f"sql_total_{idx}"],
        failed=failed,
        passed=row[f"sql_passed_{idx}"],
        failed_example=examples,
    )


def run_custom_sql_rule(
    spark: SparkSession,
    rule: CustomSqlRule,
    context: Dict[str, Any],
    collect_examples: int = 10,
) -> AggregatedResult:
    """Evaluate one CustomSqlRule on its own (its own ``spark.sql``
    plan and counting action); ``QualityRunner`` instead counts its SQL
    rules in ``run_column_rules``'s one action.

    First result column must be boolean validity
    (contessa/rules.py:84-87 raises ValueError otherwise);
    ``only_failures_mode`` treats every returned row as a failure with
    total_records=0 (contessa/rules.py:80-82). ``collect_examples=0``
    skips the failed-example action, as in ``run_column_rules``.
    """
    out = rule.evaluate(spark, context)
    row = _sql_counts(rule, out, 0).collect()[0]
    return _sql_result(rule, out, row, 0, collect_examples)
