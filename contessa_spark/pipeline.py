"""The north-star job: language-ID + quality-filter + PII/toxicity scrub
over Common-Crawl-style web pages.

Contessa's rule DSL instantiated as a web-scale filter
(BASELINE.json north_rule): every stage is a registered rule; per-rule
pass/fail counts land in the quality-check table exactly like
Contessa's AggregatedResult rows; per-partition lineage rows make the
run resumable by partition.

Execution shape (designed for 10^12 docs / 1000 executors):

1. ONE scan of the input computes everything per row — langid +
   perplexity + scrub in one Arrow-batched ``arrow_udf``, the C4/Gopher
   heuristics as pure JVM Column expressions — and writes the fully
   annotated dataset (keep flag + per-rule booleans + scrubbed text)
   to the output table, hash-bucketed by url.
2. Lineage + per-rule counts aggregate from the WRITTEN output
   (column-pruned boolean scan), never re-running the UDFs.
3. Resume = skip buckets whose lineage row already exists.

Skew: hot domains are irrelevant to the map-only filter itself, but
the bucket column is ``pmod(xxhash64(url), n_buckets)`` — a salted
uniform key, so output files and lineage groups stay balanced no
matter how hot a domain gets. AQE handles the rest (session.py).

Rule ancestry (SURVEY §2.5):
  lang_match            ← CustomSqlRule        (expr rule)
  perplexity_lt         ← LtRule               rules.py:226-246
  min/max length        ← GteRule/LteRule
  symbol_ratio_lt       ← LtRule
  repetition_lt         ← LtRule
  stopword_frac_gt      ← GtRule
  mean_word_len_between ← expr rule
  pii_scrub             ← CustomSqlRule + only_failures_mode rules.py:80-82
  url/text not_null     ← NotNullRule          rules.py:141-154
"""

from __future__ import annotations

import functools
import operator
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from contessa_spark.functions import langid, perplexity, scrub, textstats
from contessa_spark.results import (
    QUALITY_CHECK_SCHEMA,
    UPSERT_KEY,
    LocalSmallTableMerge,
    percentage,
)
from contessa_spark.rules import get_rule_cls


@dataclass
class PipelineConfig:
    """Thresholds calibrated on the synthetic corpus (see tests)."""

    lang_conf_tau: float = 0.5
    ppl_tau: float = 15000.0
    min_chars: int = 100
    max_chars: int = 20000
    symbol_tau: float = 0.15
    repetition_tau: float = 0.85
    stopword_tau: float = 0.10
    mwl_min: float = 2.5
    mwl_max: float = 8.0
    n_buckets: int = 64  # lineage/checkpoint granularity (url mode)
    dedup_urls: bool = False  # keep earliest warc_ts per url pre-annotation
    # honor <meta name=robots content=noindex> (C4-style opt-out): adds
    # the noindex_absent keep-rule, computed JVM-side from the html
    # column BEFORE it is dropped. Default off: inputs without an html
    # column (and the historical goldens) are unaffected.
    honor_noindex: bool = False
    # bucket_by="url": bucket = pmod(xxhash64(url), n_buckets) — stable
    #   across runs AND input layouts, but costs a full shuffle of the
    #   raw text before annotation (measured: +17 s of stage barrier +
    #   text-row serde at 16 cores / 2M docs, and the difference between
    #   0.70 and 0.87 end-to-end scaling efficiency).
    # bucket_by="input_partition": bucket = spark_partition_id() — the
    #   checkpoint unit is the input shard (exactly how crawl pipelines
    #   checkpoint per WARC file): ZERO shuffle, naturally one output
    #   file per bucket, resume valid while the input listing/split is
    #   unchanged (guarded: run() fingerprints the input listing + split
    #   conf and refuses a resume on mismatch).
    # DEFAULT is "url" because it is the only mode whose bucket ids are
    # reproducible for ad-hoc inputs with no stable file listing; for
    # production file-backed runs PREFER "input_partition" — it is what
    # bench.py and the scaling evidence use, per the measurement above.
    bucket_by: str = "url"


#: output parquet codec — zstd over the default snappy: ~1.4× smaller
#: text payloads, and output I/O — not compression CPU — is the serial
#: tail on shared storage (parallel CPU buys back the encode cost)
OUTPUT_CODEC = "zstd"


#: rule definitions in the contessa DSL (dict form, normalizer-ready)
def rule_defs(cfg: PipelineConfig) -> List[Dict]:
    return [
        {
            "name": "lang_match",
            "type": "expr",
            "column": "lang_pred",
            "expression": f"lang_pred = lang AND lang_conf >= {cfg.lang_conf_tau}",
            "description": "langid agrees with claimed tag at confidence",
        },
        {"name": "perplexity_lt", "type": "lt", "column": "ppl", "value": cfg.ppl_tau},
        {"name": "min_len_gte", "type": "gte", "column": "n_chars", "value": cfg.min_chars},
        {"name": "max_len_lte", "type": "lte", "column": "n_chars", "value": cfg.max_chars},
        {"name": "symbol_ratio_lt", "type": "lt", "column": "symbol_ratio", "value": cfg.symbol_tau},
        {"name": "repetition_lt", "type": "lt", "column": "repetition", "value": cfg.repetition_tau},
        {"name": "stopword_frac_gt", "type": "gt", "column": "stopword_frac", "value": cfg.stopword_tau},
        {
            "name": "mean_word_len_between",
            "type": "expr",
            "column": "mean_word_len",
            "expression": f"mean_word_len >= {cfg.mwl_min} AND mean_word_len <= {cfg.mwl_max}",
            "description": "mean word length in plausible band",
        },
        {"name": "url_not_null", "type": "not_null", "column": "url"},
    ] + (
        [
            {
                "name": "noindex_absent",
                "type": "expr",
                "column": "noindex",
                "expression": "NOT noindex",
                "description": "no robots noindex meta directive",
            }
        ]
        if cfg.honor_noindex
        else []
    )


#: keep = conjunction of all quality rules (pii_scrub only flags/rewrites)
KEEP_RULES = [
    "lang_match",
    "perplexity_lt",
    "min_len_gte",
    "max_len_lte",
    "symbol_ratio_lt",
    "repetition_lt",
    "stopword_frac_gt",
    "mean_word_len_between",
    "url_not_null",
]


def keep_rule_names(cfg: PipelineConfig) -> List[str]:
    return KEEP_RULES + (["noindex_absent"] if cfg.honor_noindex else [])


def annotate(df: DataFrame) -> DataFrame:
    """ONE-pass per-row annotation via ONE fused ``arrow_udf``.

    Text serializes across the JVM↔Python boundary exactly once; every
    derived signal (langid, perplexity, scrub, heuristic stats) comes
    back as one struct. The per-word stats run once per distinct word
    of the batch's word table — see functions/annotate_udf.py for why
    that beats the codegen'd array_contains form by ~20× here. No
    per-row Python at the Spark level (Arrow batches only).
    """
    from contessa_spark.functions import annotate_udf

    fields = {name: F.col(f"_ann.{name}") for name, _ in annotate_udf.FIELDS}
    # the UDF returns NULL when no scrub changed the text
    fields["scrubbed_text"] = F.coalesce(fields["scrubbed_text"], F.col("text"))
    return (
        df.withColumn("_ann", annotate_udf.spark_udf()(F.col("text")))
        .withColumns(fields)
        .drop("_ann")
    )


def _rule_predicates(cfg: PipelineConfig) -> Dict[str, Column]:
    """Compile the DSL defs to named boolean Columns (same compiler
    path the QualityRunner uses)."""
    preds = {}
    for d in rule_defs(cfg):
        rule = get_rule_cls(d["type"])(**d)
        preds[d["name"]] = rule.predicate()
    return preds


def with_decisions(
    annotated: DataFrame, cfg: PipelineConfig, bucket: bool = True
) -> DataFrame:
    """Add per-rule boolean columns + the keep conjunction (+ bucket id
    unless the input already carries one), as one projection."""
    rules = {
        name: pred.eqNullSafe(F.lit(True))
        for name, pred in _rule_predicates(cfg).items()
    }
    cols = {f"rule_{name}": c for name, c in rules.items()}
    # the keep conjunction reads the predicates, not the rule_* columns
    # being defined in the same projection
    cols["keep"] = functools.reduce(
        operator.and_, (rules[name] for name in keep_rule_names(cfg))
    )
    if bucket:
        cols["bucket"] = F.pmod(
            F.xxhash64(F.col("url")), F.lit(cfg.n_buckets)
        ).cast("int")
    return annotated.withColumns(cols)


LINEAGE_KEY = ["bucket"]

#: layout version of everything under ``base_path`` (output columns,
#: lineage schema, quality-check schema). Bump when the layout changes
#: and register the step in ``contessa_spark.migration.MIGRATION_STEPS``.
#: v2: lineage rows carry ``input_fp``.
SCHEMA_VERSION = 2


class QualityFilterPipeline:
    """End-to-end checkpointed run.

    Layout under ``base_path``:
      output/   annotated + filtered docs, partitioned by bucket
      lineage/  one row per completed bucket (input/kept/scrubbed counts
                + per-rule failed counts) — the checkpoint
      quality/  contessa-style quality-check rows per run
    """

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        cfg: Optional[PipelineConfig] = None,
    ):
        self.spark = spark
        self.cfg = cfg or PipelineConfig()
        self.base = base_path
        self.output_path = os.path.join(base_path, "output")
        # validate-mode lineage lives in its own namespace: a counts-only
        # run must never mark buckets complete for a full run (which
        # also writes the output table)
        self.lineage_path = os.path.join(base_path, "lineage")
        self.validate_lineage_path = os.path.join(base_path, "lineage_validate")
        self.quality_path = os.path.join(base_path, "quality")

    # ---- schema version -------------------------------------------

    def check_schema_version(self) -> int:
        """Job-start guard mirroring the reference's alembic check
        (contessa/migration.py:7-132, migration_runner.py:14-65): the
        version marker (an Iceberg table property in production) is
        checked and a mismatch refuses the run instead of silently
        mixing result-table layouts — run
        ``contessa_spark.migration.migrate(base_path)`` to upgrade or
        downgrade the control tables to this build's revision."""
        import json

        marker = os.path.join(self.base, "schema_version.json")
        if os.path.exists(marker):
            with open(marker) as f:
                found = json.load(f).get("schema_version")
            if found != SCHEMA_VERSION:
                raise ValueError(
                    f"result tables at {self.base} were written with "
                    f"schema_version={found}, this build expects "
                    f"{SCHEMA_VERSION} — run contessa_spark.migration."
                    f"migrate({self.base!r}) or use a fresh base_path"
                )
            return found
        os.makedirs(self.base, exist_ok=True)
        with open(marker, "w") as f:
            json.dump({"schema_version": SCHEMA_VERSION}, f)
        return SCHEMA_VERSION

    # ---- input fingerprint (input_partition resume guard) ---------

    def _input_fingerprint(self, df: DataFrame) -> Dict:
        """In ``input_partition`` mode the bucket id IS the input split:
        it depends on the file listing, ``maxPartitionBytes`` and the
        default parallelism. A resume under a different listing/conf
        would silently remap bucket ids — skipping or duplicating the
        wrong rows — so the identifying inputs are fingerprinted here
        and verified on resume (same pattern as check_schema_version)."""
        import hashlib

        files = sorted(df.inputFiles())
        return {
            "n_files": len(files),
            "files_md5": (
                hashlib.md5("\n".join(files).encode()).hexdigest()
                if files
                else None
            ),
            "max_partition_bytes": self.spark.conf.get(
                "spark.sql.files.maxPartitionBytes", None
            ),
            "default_parallelism": self.spark.sparkContext.defaultParallelism,
        }

    def check_input_fingerprint(
        self, df: DataFrame, resuming: bool, fp: Optional[Dict] = None
    ) -> None:
        import json

        marker = os.path.join(self.base, "input_fingerprint.json")
        fp = fp if fp is not None else self._input_fingerprint(df)
        if os.path.exists(marker):
            with open(marker) as f:
                found = json.load(f)
            if found != fp:
                if resuming:
                    raise ValueError(
                        "input_partition resume refused: the input "
                        f"listing/split changed since the checkpoint ({found} "
                        f"vs {fp}) — bucket ids would remap silently. Rerun "
                        "from a fresh base_path, or restore the original "
                        "input and split conf."
                    )
                # no completed buckets: a fresh run may legitimately
                # point at new input — refresh the marker
        os.makedirs(self.base, exist_ok=True)
        with open(marker, "w") as f:
            json.dump(fp, f)

    # ---- checkpoint -----------------------------------------------

    def completed_buckets(self, mode: str = "full") -> List[int]:
        path = self.validate_lineage_path if mode == "validate" else self.lineage_path
        pdf = LocalSmallTableMerge.read(path)
        if pdf is None or not len(pdf):
            return []
        return [int(b) for b in pdf["bucket"].unique()]

    # ---- run ------------------------------------------------------

    def run(
        self,
        df: DataFrame,
        task_ts: Optional[datetime] = None,
        mode: str = "full",
    ) -> Dict:
        """``mode="full"`` writes the annotated/filtered output table;
        ``mode="validate"`` computes only the per-bucket lineage and
        per-rule quality counts (Contessa's native semantic — one scan,
        no output table). Both checkpoint into the same lineage."""
        cfg = self.cfg
        task_ts = task_ts or datetime.now()

        self.check_schema_version()
        done = set(self.completed_buckets(mode))
        input_fp = self._input_fingerprint(df)
        if cfg.bucket_by == "input_partition":
            # "resuming" for the fingerprint guard means completed
            # buckets exist in EITHER lineage namespace: a validate run
            # with no validate buckets yet must not refresh the marker
            # while full-mode checkpoints still reference the old input
            # (the marker refresh would let a later full resume remap
            # buckets silently — the exact hazard the guard prevents)
            other = "validate" if mode == "full" else "full"
            resuming = bool(done) or bool(self.completed_buckets(other))
            self.check_input_fingerprint(df, resuming=resuming, fp=input_fp)
        # compact per-row form for lineage (schema v2): every checkpoint
        # row records which input listing/split produced it
        input_fp_str = (
            f"{input_fp['files_md5'] or 'nofiles'}:{input_fp['n_files']}:"
            f"{input_fp['max_partition_bytes']}:{input_fp['default_parallelism']}"
        )
        lineage_path = (
            self.validate_lineage_path if mode == "validate" else self.lineage_path
        )
        # bucket id + resume filter (+ shuffle in url mode) all happen
        # on the NARROW input (url/warc_ts/text/lang — html is dropped
        # here), BEFORE the annotation UDF: any shuffle moves raw text
        # once instead of text + scrubbed copy + stats, and annotation
        # runs bucket-aligned so its output lands in its bucket file.
        if cfg.bucket_by == "input_partition":
            bucket_col = F.spark_partition_id()
        else:
            bucket_col = F.pmod(
                F.xxhash64(F.col("url")), F.lit(cfg.n_buckets)
            ).cast("int")
        narrow_cols = [F.col("url"), F.col("warc_ts"), F.col("text"), F.col("lang")]
        if cfg.honor_noindex:
            # computed at the scan, before html is dropped; inputs
            # without an html column never opt out
            from contessa_spark.functions.robots import noindex_col

            noindex = (
                noindex_col(F.col("html"))
                if "html" in df.columns
                else F.lit(False)
            )
            narrow_cols.append(noindex.alias("noindex"))
        narrow = df.select(*narrow_cols).withColumn("bucket", bucket_col)
        if done:
            narrow = narrow.where(~F.col("bucket").isin(*done))
        if cfg.dedup_urls:
            # crawl snapshots repeat urls: keep the earliest capture.
            # The window partitions by url — same hash family as the
            # bucket column, so AQE sees a co-partitioned shuffle; at
            # scale this replaces the streaming stateful dedup for
            # batch backfills.
            from pyspark.sql import Window

            w = Window.partitionBy("url").orderBy(
                F.col("warc_ts").asc(), F.col("text").asc()
            )
            narrow = (
                narrow.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )

        out_cols = [
            "url",
            "warc_ts",
            "lang",
            "lang_pred",
            "lang_conf",
            "ppl",
            "n_chars",
            "symbol_ratio",
            "repetition",
            "stopword_frac",
            "mean_word_len",
            "scrubbed_text",
            "pii_changed",
            "keep",
            "bucket",
        ] + (["noindex"] if cfg.honor_noindex else []) + [
            f"rule_{n}" for n in keep_rule_names(cfg)
        ]

        if mode == "validate":
            decided = with_decisions(annotate(narrow), cfg, bucket=False)
            written = decided
        else:
            # bucket-aligned tasks: in url mode that takes a repartition
            # (each task then owns whole buckets, so partitionBy emits
            # one file per bucket instead of tasks × buckets small
            # files); in input_partition mode tasks ARE the buckets and
            # no shuffle exists at all — measured 17 s of stage-barrier
            # + text-row serde saved at 16 cores on the 2M-doc corpus.
            if cfg.bucket_by == "input_partition":
                shuffled = narrow
            else:
                shuffled = narrow.repartition(cfg.n_buckets, F.col("bucket"))
            decided = with_decisions(annotate(shuffled), cfg, bucket=False)
            projected = decided.select(*out_cols)
            # crash-safe resume: dynamic partition OVERWRITE, not append.
            # A crash between the output write and the lineage merge
            # leaves partial bucket files with no lineage row; the
            # resumed run re-processes those buckets and must REPLACE
            # their partitions — append would duplicate rows. Dynamic
            # mode touches only partitions present in this run's data,
            # so completed (resume-skipped) buckets are preserved.
            (
                projected.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", OUTPUT_CODEC)
                .partitionBy("bucket")
                .parquet(self.output_path)
            )
            # aggregates read the WRITTEN columnar output — column
            # pruning scans just the boolean/long columns. Explicit
            # schema: cheap, and robust to an empty write.
            written = self.spark.read.schema(projected.schema).parquet(
                self.output_path
            )
            if done:
                written = written.where(~F.col("bucket").isin(*done))

        rule_aggs = []
        for n in keep_rule_names(cfg) + ["pii_scrub"]:
            col = (
                ~F.col("pii_changed") if n == "pii_scrub" else F.col(f"rule_{n}")
            )
            rule_aggs.append(
                F.count(F.when(col.eqNullSafe(F.lit(False)), 1)).alias(f"failed_{n}")
            )
        lineage_rows = (
            written.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("input_count"),
                F.count(F.when(F.col("keep"), 1)).alias("kept_count"),
                F.count(F.when(F.col("pii_changed"), 1)).alias("scrubbed_count"),
                *rule_aggs,
                F.lit(task_ts).alias("task_ts"),
            )
            .toPandas()  # ≤ n_buckets rows — control-plane data
        )
        lineage_rows["input_fp"] = input_fp_str
        # the quality rows name the run by the instant the lineage holds,
        # Spark's naive session-time-zone value of task_ts; a resumed run
        # that collects no lineage row reads it from a one-row frame
        ts_rows = lineage_rows
        if not len(ts_rows):
            ts_rows = self.spark.createDataFrame([(task_ts,)], "task_ts timestamp").toPandas()
        task_ts = ts_rows["task_ts"].iloc[0]

        # lineage merge, quality rollup and summary are all driver-side
        # pandas over the collected lineage: one Spark job total instead
        # of six (merge reads/writes + rollup + summary).
        merged_lineage = LocalSmallTableMerge.merge(
            lineage_rows, lineage_path, LINEAGE_KEY
        )
        import pandas as pd

        qrows = self._quality_rows(merged_lineage, task_ts)
        qpdf = pd.DataFrame(qrows, columns=[f.name for f in QUALITY_CHECK_SCHEMA.fields])
        # pin dtypes so all-None columns stay typed in parquet
        for c in ("median_30_day_failed", "median_30_day_passed",
                  "failed_percentage", "passed_percentage"):
            qpdf[c] = qpdf[c].astype("float64")
        for c in ("total_records", "failed", "passed"):
            qpdf[c] = qpdf[c].astype("int64")
        LocalSmallTableMerge.merge(qpdf, self.quality_path, UPSERT_KEY)

        return {
            "input": int(merged_lineage["input_count"].sum()),
            "kept": int(merged_lineage["kept_count"].sum()),
            "scrubbed": int(merged_lineage["scrubbed_count"].sum()),
            "buckets_done": int(merged_lineage["bucket"].nunique()),
            "resumed_buckets_skipped": len(done),
        }

    def _quality_rows(self, lineage_pdf, task_ts: datetime) -> List[dict]:
        names = keep_rule_names(self.cfg) + ["pii_scrub"]
        defs = {d["name"]: d for d in rule_defs(self.cfg)}
        out = []
        for n in names:
            total = int(lineage_pdf["input_count"].sum()) if len(lineage_pdf) else 0
            failed = int(lineage_pdf[f"failed_{n}"].sum()) if len(lineage_pdf) else 0
            passed = total - failed
            d = defs.get(n, {"column": "text", "type": "sql"})
            out.append(
                {
                    "attribute": d.get("column", "text"),
                    "rule_name": n,
                    "rule_type": d.get("type", "sql"),
                    "rule_description": d.get("description"),
                    "total_records": total,
                    "failed": failed,
                    "median_30_day_failed": None,
                    "passed": passed,
                    "median_30_day_passed": None,
                    "failed_percentage": percentage(failed, total),
                    "passed_percentage": percentage(passed, total),
                    "status": "invalid" if failed > 0 else "valid",
                    "time_filter": "not_set",
                    "task_ts": task_ts,
                    # naive-UTC to keep the result schema tz-free
                    # (datetime.utcnow is deprecated in 3.12+)
                    "created_at": datetime.now(timezone.utc).replace(tzinfo=None),
                }
            )
        return out
