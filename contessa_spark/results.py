"""Quality-check result model + idempotent persistence.

Reference: contessa/models.py — QualityCheck row schema
(models.py:40-68), percentage/status derivation (models.py:117-127),
30-day median enrichment (models.py:129-151), and upsert identity
``(attribute, rule_name, rule_type, task_ts, time_filter)``
(models.py:78-87) realized as INSERT ... ON CONFLICT DO UPDATE
(contessa/db.py:61-88).

Spark realization: a fixed StructType (no dynamic per-table classes —
the table *name* is the parameter), widened counters to LongType for
10^12-row scale, and a writer chosen by the result path:

* ``IcebergMergeWriter`` — ``iceberg:<ident>`` paths, the real
  deployment: ``MERGE INTO`` keyed on the identity (+ optional
  ``partition_id`` for per-partition lineage / checkpoint-resume); the
  30-day medians are read through Spark;
* ``ParquetMergeWriter`` — parquet result directories. The table holds
  one row per rule per run (hundreds of rows), so it is control-plane
  data: the upsert is a driver-side pandas/pyarrow rewrite through
  ``LocalSmallTableMerge`` and the 30-day medians come from the same
  driver-side read — no Spark job for either. Same observable upsert
  semantics; column types come from the StructType, and timestamps are
  stored as UTC instants (``TimestampType``'s parquet form).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone
from typing import Dict, List, Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from contessa_spark.rules import Rule
from contessa_spark.utils import AggregatedResult

TIME_FILTER_DEFAULT = "not_set"  # contessa/models.py:29

# contessa/models.py:40-68 (SURVEY §1.2 mapping)
QUALITY_CHECK_SCHEMA = T.StructType(
    [
        T.StructField("attribute", T.StringType(), False),
        T.StructField("rule_name", T.StringType(), False),
        T.StructField("rule_type", T.StringType(), False),
        T.StructField("rule_description", T.StringType(), True),
        T.StructField("total_records", T.LongType(), True),
        T.StructField("failed", T.LongType(), True),
        T.StructField("median_30_day_failed", T.DoubleType(), True),
        T.StructField("passed", T.LongType(), True),
        T.StructField("median_30_day_passed", T.DoubleType(), True),
        T.StructField("failed_percentage", T.DoubleType(), True),
        T.StructField("passed_percentage", T.DoubleType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("time_filter", T.StringType(), True),
        T.StructField("task_ts", T.TimestampType(), False),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

UPSERT_KEY = ["attribute", "rule_name", "rule_type", "task_ts", "time_filter"]

CONSISTENCY_CHECK_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("left_table", T.StringType(), False),
        T.StructField("right_table", T.StringType(), False),
        T.StructField("status", T.StringType(), True),
        T.StructField("time_filter", T.StringType(), True),
        T.StructField("context", T.StringType(), True),
        T.StructField("task_ts", T.TimestampType(), False),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

# contessa/models.py:195-205
CONSISTENCY_UPSERT_KEY = [
    "type",
    "name",
    "left_table",
    "right_table",
    "task_ts",
    "time_filter",
]


def percentage(a: float, b: float) -> float:
    """contessa/models.py:121-127 — 0.0 on division by zero."""
    try:
        return (a / b) * 100
    except ZeroDivisionError:
        return 0.0


@dataclass
class CheckResult:
    """In-memory result when no result table is configured
    (contessa/models.py:303-375)."""

    rule_name: str = ""
    rule_type: str = ""
    rule_description: str = ""
    total_records: int = 0
    failed: int = 0
    passed: int = 0
    time_filter: Optional[str] = None
    failed_percentage: float = 0.0
    passed_percentage: float = 0.0
    status: str = "valid"
    failed_example: Optional[list] = None
    context: Optional[Dict] = None

    def init_row(self, rule: Rule, results: AggregatedResult, context: Dict = None):
        self.rule_name = rule.name
        self.rule_type = rule.type
        self.rule_description = rule.description
        self.total_records = results.total_records
        self.failed = results.failed
        self.passed = results.passed
        self.failed_example = results.failed_example
        if rule.time_filter:
            self.time_filter = str(rule.time_filter)
        self.failed_percentage = percentage(self.failed, self.total_records)
        self.passed_percentage = percentage(self.passed, self.total_records)
        self.status = "invalid" if self.failed > 0 else "valid"
        self.context = context

    def init_row_consistency(
        self,
        check: Dict,
        results: AggregatedResult,
        left_table_name: str,
        right_table_name: str,
        time_filter=None,
        context: Dict = None,
    ):
        # contessa/models.py:341-366 — note signed `failed` for COUNT:
        # percentage uses abs(failed); valid iff failed == 0.
        self.rule_type = check["type"]
        self.rule_name = check["name"]
        self.rule_description = check.get("description")
        self.total_records = results.total_records
        self.failed = results.failed
        self.passed = results.passed
        self.failed_example = results.failed_example
        if time_filter:
            self.time_filter = str(time_filter)
        self.failed_percentage = percentage(abs(self.failed), self.total_records)
        self.passed_percentage = percentage(self.passed, self.total_records)
        self.status = "valid" if results.failed == 0 else "invalid"
        context = dict(context or {})
        context.update(
            {"left_table_name": left_table_name, "right_table_name": right_table_name}
        )
        self.context = context


def build_quality_rows(
    rules: List[Rule],
    agg_results: List[AggregatedResult],
    task_ts: datetime,
    medians: Optional[Dict[str, Optional[float]]] = None,
) -> List[dict]:
    """One QualityCheck row per rule (contessa/models.py:89-127)."""
    med = medians or {"failed": None, "passed": None}
    rows = []
    for rule, res in zip(rules, agg_results):
        rows.append(
            {
                "attribute": rule.attribute,
                "rule_name": rule.name,
                "rule_type": rule.type,
                "rule_description": rule.description,
                "total_records": res.total_records,
                "failed": res.failed,
                "median_30_day_failed": med["failed"],
                "passed": res.passed,
                "median_30_day_passed": med["passed"],
                "failed_percentage": percentage(res.failed, res.total_records),
                "passed_percentage": percentage(res.passed, res.total_records),
                "status": "invalid" if res.failed > 0 else "valid",
                "time_filter": str(rule.time_filter)
                if rule.time_filter
                else TIME_FILTER_DEFAULT,
                "task_ts": task_ts,
                "created_at": datetime.now(timezone.utc).replace(tzinfo=None),
            }
        )
    return rows


def medians_30_day(
    spark: SparkSession,
    result_path: str,
    today: Optional[date] = None,
    days: int = 30,
    history=None,
) -> Dict[str, Optional[float]]:
    """Exact 30-day medians over the *existing* result table
    (contessa/models.py:129-151). Computed BEFORE the current run's
    rows are merged, so the current run is excluded (ordering caveat,
    SURVEY §4). Whole-table scope (the reference applies no per-rule
    filter). The window bounds are the two dates' midnights in the
    session time zone, as Spark casts the reference's date-string
    cutoffs, so a run later on ``today`` falls outside it.

    Parquet paths: pandas' exact median over ``history`` (the table as
    ``read_result_table`` returned it; read here when not given) — no
    Spark job. ``iceberg:`` paths: Spark's exact ``median`` aggregate.
    """
    empty = {"failed": None, "passed": None}
    now = today or date.today()
    past = now - timedelta(days=days)
    if result_path.startswith("iceberg:"):
        try:
            table = spark.table(result_path[len("iceberg:") :])
        except Exception:
            return empty
        row = (
            table.where(
                (F.col("task_ts") >= F.lit(str(past)))
                & (F.col("task_ts") <= F.lit(str(now)))
            )
            .agg(
                F.median("failed").alias("failed"),
                F.median("passed").alias("passed"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        return empty if row["n"] == 0 else {"failed": row["failed"], "passed": row["passed"]}

    import pandas as pd

    if history is None:
        history = read_result_table(result_path, QUALITY_CHECK_SCHEMA)
    if history is None:
        return empty
    tz = spark.conf.get("spark.sql.session.timeZone")
    lo, hi = (pd.Timestamp(d).tz_localize(tz) for d in (past, now))
    window = history[(history["task_ts"] >= lo) & (history["task_ts"] <= hi)]
    if not len(window):
        return empty
    medians = {c: window[c].median() for c in ("failed", "passed")}
    return {c: None if pd.isna(m) else float(m) for c, m in medians.items()}


def read_result_table(path: str, schema: T.StructType):
    """The parquet result table at ``path`` as a pandas frame typed by
    ``schema`` (a column the files lack reads as NULL), or None for an
    ``iceberg:`` table or a path with no parquet file.

    ``task_ts``/``created_at`` come back as UTC instants however the
    file stores them: Spark's INT96 and naive micros hold UTC-based
    values (Spark reads both that way under ``TimestampType``), and
    tz-adjusted micros convert. Upsert keys therefore match across
    tables written by Spark, by older pandas writers and by this one.
    """
    if path.startswith("iceberg:"):
        return None
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    parts = []
    for f in files:
        t = pq.read_table(f)
        parts.append(
            pa.Table.from_arrays(
                [
                    # INT96 reads as ns; Spark's values are whole micros
                    t.column(fld.name).cast(fld.type, safe=not pa.types.is_timestamp(fld.type))
                    if fld.name in t.column_names
                    else pa.nulls(t.num_rows, fld.type)
                    for fld in target
                ],
                schema=target,
            )
        )
    return pa.concat_tables(parts).to_pandas()


class ParquetMergeWriter:
    """Upsert into a parquet result table on the driver.

    Stand-in for Iceberg ``MERGE INTO`` — same observable semantics as
    contessa/db.py:61-88 (re-running a check for the same task_ts
    replaces the row). The table holds one row per rule per run, so the
    upsert is a pandas/pyarrow rewrite through ``LocalSmallTableMerge``
    (no Spark job); at production scale use ``IcebergMergeWriter``.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def merge(
        self,
        rows: List[dict],
        path: str,
        key_cols: List[str],
        schema: T.StructType,
        existing=None,
    ) -> None:
        """Upsert ``rows`` (dicts shaped by ``schema``) into ``path``.
        ``existing`` is the table as ``read_result_table`` returned it
        earlier in the same run; it is read here when not given.

        Column types come from ``schema``, not from the values (an
        all-NULL string column stays a string column). Timestamps are
        stored as the instants Spark would store: a naive datetime is
        driver-local time, as ``TimestampType.toInternal`` reads it.
        """
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(schema)
        to_micros = T.TimestampType().toInternal
        ts_cols = [f.name for f in schema if isinstance(f.dataType, T.TimestampType)]
        new = pa.Table.from_pylist(
            [{**r, **{c: to_micros(r.get(c)) for c in ts_cols}} for r in rows],
            schema=target,
        ).to_pandas()
        if existing is None:
            existing = read_result_table(path, schema)
        LocalSmallTableMerge.merge(new, path, key_cols, existing=existing, schema=target)


class LocalSmallTableMerge:
    """Driver-side upsert for TINY control tables (lineage, quality,
    consistency) — pandas + pyarrow, zero Spark jobs.

    Rationale: at any scale these tables hold one row per
    bucket/rule/run — thousands of rows, not data-plane rows. Running
    a Spark job (scheduler round-trip, shuffle file, commit protocol)
    per merge costs seconds of fixed latency per pipeline run; a
    driver-side parquet rewrite is milliseconds with identical upsert
    semantics. Production swaps this for Iceberg MERGE INTO, same
    interface.
    """

    @staticmethod
    def read(path: str):
        import pandas as pd

        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            return None
        return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)

    @classmethod
    def merge(
        cls, new_pdf, path: str, key_cols: List[str], existing=None, schema=None
    ) -> "object":
        """Upsert new_pdf into the parquet dir at path; returns the
        merged pandas frame. ``existing`` is the table already read by
        the caller (read here when None); ``schema`` is the pyarrow
        schema to write (inferred from the frame when None)."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        if existing is None:
            existing = cls.read(path)
        if existing is not None and len(existing) and not len(new_pdf):
            # nothing to upsert (e.g. a fully-resumed run): the table is
            # already the merge result — and concatenating an EMPTY
            # frame is the other half of the pandas all-NA deprecation
            return existing
        if existing is not None and len(existing):
            mask = ~existing.set_index(key_cols).index.isin(
                new_pdf.set_index(key_cols).index
            )
            survivors = existing[mask]
            # full replacement takes the NEW frame's schema: concat with
            # an empty survivor frame would union columns and resurrect
            # ones the caller dropped (migration downgrades do exactly
            # that) as all-NaN
            if not len(survivors):
                merged = new_pdf
            else:
                # pandas 2.x deprecates letting all-NA object columns
                # defer their dtype to the other frame during concat —
                # pre-coerce them to the counterpart's dtype so the
                # merge stays warning-free and future-proof
                survivors = survivors.copy()
                new_pdf = new_pdf.copy()
                for a, b in ((survivors, new_pdf), (new_pdf, survivors)):
                    for c in a.columns:
                        if (
                            c in b.columns
                            and a[c].dtype == object
                            and a[c].isna().all()
                            and b[c].dtype != object
                        ):
                            try:
                                a[c] = a[c].astype(b[c].dtype)
                            except (TypeError, ValueError):
                                pass  # e.g. all-NA → int64: leave as object
                merged = pd.concat([survivors, new_pdf], ignore_index=True)
        else:
            merged = new_pdf
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp, exist_ok=True)
        table = pa.Table.from_pandas(merged, schema=schema, preserve_index=False)
        # The pandas and ARROW:schema footer metadata (~6 KB) would
        # outweigh a table this small; parquet's own logical types carry
        # everything a reader needs. Spark cannot read TIMESTAMP(NANOS)
        # parquet — write micros.
        pq.write_table(
            table.replace_schema_metadata(None),
            os.path.join(tmp, "part-00000.parquet"),
            compression="zstd",
            store_schema=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        return merged


class IcebergMergeWriter:
    """Production writer: real ``MERGE INTO`` keyed on the upsert
    identity — atomic, snapshot-isolated, scan-free for unchanged
    partitions. Requires an Iceberg catalog on the session (not
    available in this sandbox; tested via SQL-text golden tests only).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def merge_sql(self, table: str, source_view: str, key_cols: List[str]) -> str:
        on = " AND ".join(f"t.{c} <=> s.{c}" for c in key_cols)
        return (
            f"MERGE INTO {table} t USING {source_view} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )

    def merge(
        self,
        rows: List[dict],
        table: str,
        key_cols: List[str],
        schema: T.StructType,
        existing=None,
    ) -> None:
        """Same interface as ``ParquetMergeWriter.merge``; ``table`` may
        carry the runner's ``iceberg:`` prefix. ``existing`` is unused:
        the MERGE reads the target itself."""
        table = table[len("iceberg:") :] if table.startswith("iceberg:") else table
        view = f"_merge_src_{uuid.uuid4().hex[:8]}"
        self.spark.createDataFrame(rows, schema=schema).createOrReplaceTempView(view)
        try:
            self.spark.sql(self.merge_sql(table, view, key_cols))
        finally:
            self.spark.catalog.dropTempView(view)
