"""The three benchmark workloads.

Each workload generates its inputs from the seed with the repository's
own generators and computes its correctness oracle before any timing
(``prepare``, no Spark), then runs one closed-loop operation at a time
(``op``) against the library's public API. Every op perturbs a literal
or targets a fresh path, so no op can be served from a result Spark
already holds. ``check`` compares an op's output with the oracle and
returns the mismatches; ``cleanup`` releases what the op left behind.

Heavy imports stay inside methods: the harness times importing the
library as part of set-up, and input generation must not pre-import it.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
from datetime import datetime, timedelta
from typing import Dict, List

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4


def _dir_bytes(path: str, suffix: str = "") -> tuple:
    """(total bytes, file count) of regular files under ``path``."""
    total, count = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
                count += 1
    return total, count


def _gen_scale_data():
    """``scripts/gen_scale_data.py`` reads ``sys.argv`` at import time,
    so it is loaded with an argv of its own."""
    path = os.path.join(REPO, "scripts", "gen_scale_data.py")
    spec = importlib.util.spec_from_file_location("gen_scale_data", path)
    mod = importlib.util.module_from_spec(spec)
    argv = sys.argv
    sys.argv = [path]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


class Workload:
    name = ""
    n_records = 0  # input records one op processes
    in_bytes = 1  # input bytes the out/in ratio divides by

    def __init__(self, work_dir: str, seed: int, tracer):
        self.work = os.path.join(work_dir, self.name)
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.first_out_bytes = 0
        self.layer: Dict[str, list] = {}  # per-op layer samples from checks
        os.makedirs(self.work, exist_ok=True)

    def note(self, key: str, value) -> None:
        self.layer.setdefault(key, []).append(value)

    def prepare(self) -> None:
        raise NotImplementedError

    def bind(self, spark) -> None:
        self.spark = spark

    def op(self, k: int):
        raise NotImplementedError

    def check(self, k: int, res) -> List[str]:
        return []

    def cleanup(self, k: int, res) -> None:
        pass

    def patch_targets(self) -> list:
        return []

    def trace_extra(self) -> Dict[str, float]:
        return {}

    def close(self) -> None:
        pass


# ------------------------------------------------------------ crawl_filter


def _crawl_chunk(args):
    """One input file of the crawl corpus plus its reference counts.
    Runs in a spawned process: rows come from ``webgen.gen_row`` (the
    row function ``webgen.generate`` maps over ``spark.range``), the
    counts from the pure-Python ``reference_impl.aggregate_counts``."""
    lo, hi, seed, path = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from contessa_spark.reference_impl import aggregate_counts
    from contessa_spark.sources.webgen import gen_row

    rows = [gen_row(i, seed) for i in range(lo, hi)]
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path)
    counts = {n: c["failed"] for n, c in aggregate_counts(rows).items()}
    return counts, sum(len(r["text"].encode()) for r in rows), len(rows)


class CrawlFilter(Workload):
    """``QualityFilterPipeline.run(mode="full")`` over a webgen corpus,
    input_partition buckets, zstd output plus lineage merge."""

    name = "crawl_filter"
    n_docs = 6000
    n_files = CORES

    def prepare(self) -> None:
        import multiprocessing

        self.input = os.path.join(self.work, "input")
        os.makedirs(self.input)
        step = self.n_docs // self.n_files
        jobs = [
            (j * step, self.n_docs if j == self.n_files - 1 else (j + 1) * step,
             self.seed, os.path.join(self.input, f"part-{j:05d}.parquet"))
            for j in range(self.n_files)
        ]
        pool = multiprocessing.get_context("spawn").Pool(self.n_files)
        try:
            parts = pool.map(_crawl_chunk, jobs)
        finally:
            pool.close()
            pool.join()
        self.expected = {}
        for counts, _, _ in parts:
            for n, c in counts.items():
                self.expected[n] = self.expected.get(n, 0) + c
        self.in_bytes = sum(p[1] for p in parts)
        self.n_records = sum(p[2] for p in parts)

    def bind(self, spark) -> None:
        from contessa_spark.pipeline import PipelineConfig

        super().bind(spark)
        self.cfg = PipelineConfig(n_buckets=16, bucket_by="input_partition")
        self.web = spark.read.parquet(self.input)

    def op(self, k: int):
        from contessa_spark.pipeline import QualityFilterPipeline

        base = os.path.join(self.work, f"run{k}")
        pipe = QualityFilterPipeline(self.spark, base, self.cfg)
        # fresh base path and a per-op task_ts literal
        summary = pipe.run(self.web, task_ts=datetime(2025, 8, 1) + timedelta(minutes=k))
        return {"pipe": pipe, "summary": summary}

    def check(self, k: int, res) -> List[str]:
        from contessa_spark.results import LocalSmallTableMerge

        errors = []
        summary = res["summary"]
        if summary["input"] != self.n_records:
            errors.append(f"input {summary['input']} != {self.n_records}")
        lineage = LocalSmallTableMerge.read(res["pipe"].lineage_path)
        for rule, want in self.expected.items():
            got = int(lineage[f"failed_{rule}"].sum())
            if got != want:
                errors.append(f"{rule} failed {got} != reference {want}")
        out_bytes, out_files = _dir_bytes(res["pipe"].output_path, ".parquet")
        self.note("pipeline.output_bytes", out_bytes)
        self.note("pipeline.output_files", out_files)
        self.note("pipeline.buckets_done", summary["buckets_done"])
        if k == 0:
            self.first_out_bytes = out_bytes
        return errors

    def cleanup(self, k: int, res) -> None:
        shutil.rmtree(os.path.join(self.work, f"run{k}"), ignore_errors=True)

    def patch_targets(self) -> list:
        from contessa_spark.results import LocalSmallTableMerge

        return [(LocalSmallTableMerge, "merge", "results.lineage_merge")]

    def trace_extra(self) -> Dict[str, float]:
        """Single-core µs/doc of the annotate functions on the corpus's
        own texts, and the annotate stage alone into a noop sink."""
        import time

        from pyspark.sql import functions as F

        from contessa_spark.functions import langid, perplexity, scrub, textstats
        from contessa_spark.functions.annotate_udf import annotate_rows
        from contessa_spark.pipeline import annotate, with_decisions
        from contessa_spark.sources.webgen import gen_row

        texts = [gen_row(i, self.seed)["text"] for i in range(256)]

        def us_per_doc(fn, batch=False):
            best = []
            for _ in range(3):
                t0 = time.perf_counter()
                if batch:
                    fn(texts)
                else:
                    for t in texts:
                        fn(t)
                best.append(time.perf_counter() - t0)
            return sorted(best)[1] / len(texts) * 1e6

        out = {
            "functions.annotate_rows_us_per_doc": us_per_doc(annotate_rows, batch=True),
            "functions.langid_detect_us_per_doc": us_per_doc(langid.detect),
            "functions.perplexity_us_per_doc": us_per_doc(perplexity.perplexity),
            "functions.scrub_text_us_per_doc": us_per_doc(scrub.scrub_text),
            "functions.symbol_ratio_us_per_doc": us_per_doc(textstats.py_symbol_ratio),
        }
        narrow = self.web.select("url", "warc_ts", "text", "lang").withColumn(
            "bucket", F.spark_partition_id()
        )
        self.spark.sparkContext.setJobGroup("annotate_stage", "pipeline.annotate_stage")
        t0 = time.perf_counter()
        with_decisions(annotate(narrow), self.cfg, bucket=False).write.format(
            "noop"
        ).mode("overwrite").save()
        stage = time.perf_counter() - t0
        out["pipeline.annotate_stage_s"] = stage
        out["pipeline.udf_body_share"] = (
            self.n_records * out["functions.annotate_rows_us_per_doc"] / 1e6 / CORES / stage
        )
        return out


# ---------------------------------------------------------------- near_dup


class NearDup(Workload):
    """``dedup_minhash_lsh`` then ``dedup_ngram_jaccard`` from
    ``__spark_entry__.queries()`` on a generated documents table."""

    name = "near_dup"
    n_docs = 5000

    def prepare(self) -> None:
        import duckdb
        import numpy as np
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        table = _gen_scale_data().gen_documents(np.random.default_rng(self.seed), self.n_docs)
        self.base_file = os.path.join(self.work, "base", "documents.parquet")
        os.makedirs(os.path.dirname(self.base_file))
        pq.write_table(table, self.base_file)
        self.n_records = table.num_rows
        self.in_bytes = sum(len(t.encode()) for t in table.column("text").to_pylist())
        con = duckdb.connect()
        try:
            con.execute("SET threads = 4")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.base_file}'")
            rows = con.sql(entry.oracle_sql()["dedup_ngram_jaccard"]).fetchall()
        finally:
            con.close()
        self.oracle = {(int(a), int(b)): float(j) for a, b, j in rows}

    def op(self, k: int):
        import __spark_entry__ as entry

        d = os.path.join(self.work, f"op{k}")
        os.makedirs(d)
        # fresh path per op: same bytes, a plan Spark has not seen
        os.link(self.base_file, os.path.join(d, "documents.parquet"))
        queries = entry.queries()
        out = {}
        for name, span in (
            ("dedup_minhash_lsh", "dedup.minhash_lsh"),
            ("dedup_ngram_jaccard", "dedup.ngram_jaccard"),
        ):
            with self.tracer.span("entry.plan"):
                df = queries[name](self.spark, d)
            with self.tracer.span(span):
                out[name] = df.toArrow()
        return out

    def _pairs(self, table) -> Dict[tuple, float]:
        return {
            (a, b): j
            for a, b, j in zip(
                table.column("id_a").to_pylist(),
                table.column("id_b").to_pylist(),
                table.column("jaccard").to_pylist(),
            )
        }

    def check(self, k: int, res) -> List[str]:
        errors = []
        jac = self._pairs(res["dedup_ngram_jaccard"])
        if jac.keys() != self.oracle.keys():
            errors.append(
                f"ngram_jaccard pairs {len(jac)} != oracle {len(self.oracle)}"
            )
        elif any(abs(j - self.oracle[p]) > 1e-6 for p, j in jac.items()):
            errors.append("ngram_jaccard values differ from oracle")
        mh = self._pairs(res["dedup_minhash_lsh"])
        # LSH may miss pairs, never invent them; verify is exact
        bad = [p for p, j in mh.items() if abs(self.oracle.get(p, -1.0) - j) > 1e-6]
        if bad:
            errors.append(f"{len(bad)} minhash pairs not in oracle")
        self.note("dedup.minhash_verified", len(mh))
        self.note("dedup.ngram_pairs", len(jac))
        self.note(
            "dedup.persisted_rdds_after_op",
            len(self.spark.sparkContext._jsc.getPersistentRDDs()),
        )
        if k == 0:
            self.first_out_bytes = sum(t.nbytes for t in res.values())
        return errors

    def cleanup(self, k: int, res) -> None:
        # the minhash signature table stays persisted after the query
        # returns; release it so ops do not accumulate cached blocks
        self.spark.catalog.clearCache()
        shutil.rmtree(os.path.join(self.work, f"op{k}"), ignore_errors=True)

    def trace_extra(self) -> Dict[str, float]:
        """Candidate pairs before verification: the same LSH call with
        threshold 0 keeps every candidate with a non-empty union."""
        from contessa_spark.operators.dedup import minhash_lsh_candidates

        d = os.path.join(self.work, "candidates")
        os.makedirs(d)
        os.link(self.base_file, os.path.join(d, "documents.parquet"))
        self.spark.sparkContext.setJobGroup("candidates", "dedup.minhash_candidates")
        docs = self.spark.read.parquet(os.path.join(d, "documents.parquet"))
        n = minhash_lsh_candidates(
            docs.repartition(CORES), k=3, n_hashes=32, bands=16, threshold=0.0
        ).count()
        self.spark.catalog.clearCache()
        verified = min(self.layer["dedup.minhash_verified"])
        return {
            "dedup.minhash_candidates": n,
            "dedup.verify_yield": verified / n if n else 0.0,
        }


# -------------------------------------------------------------- dq_nightly

DAY0 = datetime(1998, 6, 1)

RULES = [
    # the rule_counts_lineitem rule set
    {"name": "nn", "type": "not_null", "column": "l_orderkey"},
    {"name": "qty_gt", "type": "gt", "column": "l_quantity", "value": 25},
    {"name": "qty_gte", "type": "gte", "column": "l_quantity", "value": 25},
    {"name": "disc_lt_tax", "type": "lt", "column": "l_discount", "value": "l_tax"},
    {"name": "price_lte", "type": "lte", "column": "l_extendedprice", "value": 30000},
    {"name": "flag_eq", "type": "eq", "column": "l_returnflag", "value": "'N'"},
    {"name": "status_not", "type": "not", "column": "l_linestatus", "value": "'O'"},
    # time-filtered: l_shipdate in [task_ts - 30 days, task_ts)
    {"name": "qty_recent_gt", "type": "gt", "column": "l_quantity", "value": 10,
     "time_filter": "l_shipdate"},
    {"name": "shipped_by_task_ts", "type": "sql", "column": "l_shipdate",
     "description": "no line ships after the check date",
     "sql": "SELECT l_shipdate <= TIMESTAMP '{{ task_ts }}' AS valid, l_orderkey "
            "FROM {{ table_fullname }}"},
]

# DuckDB recount of each rule: (scope, predicate) over lineitem; {ts}
# and {since} are the day's task_ts and task_ts - 30 days
RECOUNT = {
    "nn": ("TRUE", "l_orderkey IS NOT NULL"),
    "qty_gt": ("TRUE", "l_quantity > 25"),
    "qty_gte": ("TRUE", "l_quantity >= 25"),
    "disc_lt_tax": ("TRUE", "l_discount < l_tax"),
    "price_lte": ("TRUE", "l_extendedprice <= 30000"),
    "flag_eq": ("TRUE", "l_returnflag IS NOT DISTINCT FROM 'N'"),
    "status_not": ("TRUE", "l_linestatus IS DISTINCT FROM 'O'"),
    "qty_recent_gt": (
        "l_shipdate >= TIMESTAMP '{since}' AND l_shipdate < TIMESTAMP '{ts}'",
        "l_quantity > 10",
    ),
    "shipped_by_task_ts": ("TRUE", "l_shipdate <= TIMESTAMP '{ts}'"),
}

ORDER_WINDOW_DAYS = 365
HISTORY_DAYS = 30


class DqNightly(Workload):
    """One simulated night per op: ``QualityRunner.run`` over lineitem
    persisted to a result table with 30 days of history, then
    ``ConsistencyChecker.run`` in COUNT and DIFF mode, persisted."""

    name = "dq_nightly"
    n_lineitem = 100_000

    def prepare(self) -> None:
        import duckdb
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        g = _gen_scale_data()
        rng = np.random.default_rng(self.seed)
        n_orders, n_cust = self.n_lineitem // 4, self.n_lineitem // 40
        orders = g.gen_orders(rng, n_orders, n_cust)
        lineitem = g.gen_lineitem(rng, self.n_lineitem, n_orders)
        # the replica lags: ~1% of orders missing, ~0.5% with a stale price
        keep = rng.random(n_orders) >= 0.01
        stale = rng.random(n_orders) < 0.005
        price = pc.if_else(
            pa.array(stale), pc.add(orders.column("o_totalprice"), 1.0),
            orders.column("o_totalprice"),
        )
        replica = orders.set_column(
            orders.schema.get_field_index("o_totalprice"), "o_totalprice", price
        ).filter(pa.array(keep))
        self.paths = {}
        for name, table in (("lineitem", lineitem), ("orders", orders), ("orders_replica", replica)):
            self.paths[name] = os.path.join(self.work, f"{name}.parquet")
            pq.write_table(table, self.paths[name])
        self.n_records = lineitem.num_rows + orders.num_rows + replica.num_rows
        self.in_bytes = sum(os.path.getsize(p) for p in self.paths.values())
        self.qc_path = os.path.join(self.work, "quality_check")
        self.cc_path = os.path.join(self.work, "consistency_check")
        self._write_history(rng)
        self.con = duckdb.connect()
        self.con.execute("SET threads = 4")
        for name, p in self.paths.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    def _write_history(self, rng) -> None:
        """30 earlier nights of result rows, so every night reads a full
        30-day window and merges into a table of realistic size."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from contessa_spark.rules import parse_time_filter

        rows = {c: [] for c in (
            "attribute", "rule_name", "rule_type", "rule_description", "total_records",
            "failed", "median_30_day_failed", "passed", "median_30_day_passed",
            "failed_percentage", "passed_percentage", "status", "time_filter",
            "task_ts", "created_at")}
        for d in range(HISTORY_DAYS, 0, -1):
            ts = DAY0 - timedelta(days=d)
            for r in RULES:
                total = self.n_lineitem
                failed = int(rng.integers(0, total // 2))
                tf = parse_time_filter(r.get("time_filter"))
                for c, v in (
                    ("attribute", r["column"]), ("rule_name", r["name"]),
                    ("rule_type", r["type"]), ("rule_description", r.get("description")),
                    ("total_records", total), ("failed", failed),
                    ("median_30_day_failed", None), ("passed", total - failed),
                    ("median_30_day_passed", None),
                    ("failed_percentage", 100.0 * failed / total),
                    ("passed_percentage", 100.0 * (total - failed) / total),
                    ("status", "invalid" if failed else "valid"),
                    ("time_filter", str(tf) if tf else "not_set"),
                    ("task_ts", ts), ("created_at", ts),
                ):
                    rows[c].append(v)
        ts_type = pa.timestamp("us", tz="UTC")
        types = {"total_records": pa.int64(), "failed": pa.int64(), "passed": pa.int64(),
                 "task_ts": ts_type, "created_at": ts_type}
        for c in ("median_30_day_failed", "median_30_day_passed",
                  "failed_percentage", "passed_percentage"):
            types[c] = pa.float64()
        table = pa.table({c: pa.array(v, types.get(c, pa.string())) for c, v in rows.items()})
        os.makedirs(self.qc_path)
        pq.write_table(table, os.path.join(self.qc_path, "part-00000-history.parquet"))

    def bind(self, spark) -> None:
        super().bind(spark)
        self.tables = {n: spark.read.parquet(p) for n, p in self.paths.items()}

    def _task_ts(self, k: int) -> datetime:
        return DAY0 + timedelta(days=k)

    def _order_filter(self):
        from contessa_spark.time_filter import TimeFilter, TimeFilterColumn

        return TimeFilter(columns=[TimeFilterColumn(
            "o_orderdate", since=timedelta(days=ORDER_WINDOW_DAYS), until="now")])

    def op(self, k: int):
        from contessa_spark import ConsistencyChecker, QualityRunner

        ts = self._task_ts(k)
        rows = QualityRunner(self.spark).run(
            RULES, self.tables["lineitem"],
            check_table={"schema_name": "bench", "table_name": "lineitem"},
            result_table_path=self.qc_path, context={"task_ts": ts}, today=ts.date(),
        )
        checker = ConsistencyChecker(self.spark)
        consistency = {
            method: checker.run(
                method, self.tables["orders"], self.tables["orders_replica"],
                time_filter=self._order_filter(), context={"task_ts": ts},
                left_table_name="orders", right_table_name="orders_replica",
                result_table_path=self.cc_path,
            )
            for method in ("count", "diff")
        }
        return {"rows": rows, "consistency": consistency}

    def _recount(self, ts: datetime) -> Dict[str, tuple]:
        fmt = "%Y-%m-%d %H:%M:%S"
        params = {"ts": ts.strftime(fmt), "since": (ts - timedelta(days=30)).strftime(fmt)}
        cols = []
        for name, (scope, pred) in RECOUNT.items():
            scope, pred = scope.format(**params), pred.format(**params)
            cols.append(
                f"count(*) FILTER (WHERE {scope}), "
                f"count(*) FILTER (WHERE ({scope}) AND ({pred}) IS TRUE), "
                f"count(*) FILTER (WHERE ({scope}) AND ({pred}) IS FALSE)"
            )
        vals = self.con.sql(f"SELECT {', '.join(cols)} FROM lineitem").fetchone()
        return {n: tuple(vals[3 * i: 3 * i + 3]) for i, n in enumerate(RECOUNT)}

    def _consistency_expected(self, ts: datetime) -> Dict[str, tuple]:
        since = (ts - timedelta(days=ORDER_WINDOW_DAYS)).strftime("%Y-%m-%d %H:%M:%S")
        until = ts.strftime("%Y-%m-%d %H:%M:%S")
        win = f"o_orderdate >= TIMESTAMP '{since}' AND o_orderdate < TIMESTAMP '{until}'"
        l, r = self.con.sql(
            f"SELECT (SELECT count(*) FROM orders WHERE {win}), "
            f"(SELECT count(*) FROM orders_replica WHERE {win})"
        ).fetchone()
        both, either = self.con.sql(
            f"SELECT (SELECT count(*) FROM (SELECT * FROM orders WHERE {win} "
            f"INTERSECT SELECT * FROM orders_replica WHERE {win})), "
            f"(SELECT count(*) FROM (SELECT * FROM orders WHERE {win} "
            f"UNION SELECT * FROM orders_replica WHERE {win}))"
        ).fetchone()
        return {
            "count": (max(l, r), min(l, r), l - r),
            "diff": (either, both, either - both),
        }

    def check(self, k: int, res) -> List[str]:
        import pandas as pd

        ts = self._task_ts(k)
        errors = []
        want = self._recount(ts)
        for row in res["rows"]:
            got = (row["total_records"], row["passed"], row["failed"])
            if got != want[row["rule_name"]]:
                errors.append(f"{row['rule_name']} {got} != recount {want[row['rule_name']]}")
        for method, (total, passed, failed) in self._consistency_expected(ts).items():
            cr = res["consistency"][method]
            if (cr.total_records, cr.passed, cr.failed) != (total, passed, failed):
                errors.append(
                    f"consistency {method} {(cr.total_records, cr.passed, cr.failed)} "
                    f"!= {(total, passed, failed)}"
                )
        # medians: the persisted rows of this night against a pandas
        # median of the history window they were computed from
        table = pd.read_parquet(self.qc_path)
        task_ts = table["task_ts"].dt.tz_localize(None) if table["task_ts"].dt.tz else table["task_ts"]
        today = pd.Timestamp(ts.date())
        window = table[(task_ts >= today - pd.Timedelta(days=30)) & (task_ts <= today)
                       & (task_ts != pd.Timestamp(ts))]
        tonight = table[task_ts == pd.Timestamp(ts)]
        if len(tonight) != len(RULES):
            errors.append(f"{len(tonight)} persisted rows for {ts}, want {len(RULES)}")
        for col in ("failed", "passed"):
            want_med = float(window[col].median())
            got = tonight[f"median_30_day_{col}"].astype(float)
            if not ((got - want_med).abs() <= 1e-9 * max(1.0, abs(want_med))).all():
                errors.append(f"median_30_day_{col} {got.tolist()} != pandas {want_med}")
        cc = pd.read_parquet(self.cc_path)
        cc_ts = cc["task_ts"].dt.tz_localize(None) if cc["task_ts"].dt.tz else cc["task_ts"]
        if sorted(cc[cc_ts == pd.Timestamp(ts)]["type"]) != ["count", "diff"]:
            errors.append("consistency rows not persisted")
        self.note("results.history_rows", len(window))
        if k == 0:
            self.first_out_bytes = _dir_bytes(self.qc_path)[0] + _dir_bytes(self.cc_path)[0]
        return errors

    def patch_targets(self) -> list:
        from contessa_spark import runner
        from contessa_spark.consistency import ConsistencyChecker
        from contessa_spark.results import ParquetMergeWriter

        return [
            (runner.QualityRunner, "build_rules", "runner.build_rules"),
            (runner, "run_column_rules", "compiler.run_column_rules"),
            (runner, "run_custom_sql_rule", "compiler.run_custom_sql_rule"),
            (runner, "medians_30_day", "results.medians_30_day"),
            (ParquetMergeWriter, "merge", "results.quality_merge"),
            (ConsistencyChecker, "run", "consistency.run"),
        ]

    def close(self) -> None:
        if getattr(self, "con", None) is not None:
            self.con.close()


WORKLOADS = {w.name: w for w in (CrawlFilter, NearDup, DqNightly)}
