"""contessa_spark — a PySpark-native data-quality / web-text quality-filter engine.

A from-scratch reimplementation of the query and data-processing
capabilities of kiwicom/contessa (reference at /root/reference, v0.2.12),
re-expressed Spark-first:

* the declarative rule DSL (not_null / gt / gte / lt / lte / not / eq /
  custom sql) compiles to ``pyspark.sql.Column`` boolean predicates,
* all rules over one table evaluate in a **single scan** (one
  ``select`` + one ``agg`` of 3N counters) instead of N sequential scans,
* consistency checks (COUNT / DIFF) are distributed set operations,
* results persist to an idempotently-MERGEable quality-check table,
* the shipped rule catalog instantiates the DSL as a language-ID +
  quality-filter + PII/toxicity-scrub pipeline over Common-Crawl-style
  web pages (see ``contessa_spark.pipeline``).

Reference semantics citations use ``path:line`` into /root/reference.
"""

import os
import sys

if "PYTHON_WORKER_FACTORY_SECRET" in os.environ and "pyspark" not in sys.modules:
    # Spark sets that variable only for its Python worker daemon and the
    # workers it forks. A local session that get_spark launched runs
    # ``python -m contessa_spark.worker_daemon`` as its daemon, so this
    # runs there before anything imports pyspark. Spark puts its
    # pyspark.zip ahead of site-packages: source only, and zipimport
    # writes no bytecode, so every daemon compiled PySpark (0.48 s to
    # import the daemon, against 0.12 s from an install). When the rest
    # of sys.path holds an installed pyspark whose version.py (its
    # ``__version__``) equals the zip's, the zip is dropped, and the
    # daemon and every worker it forks import the compiled install.
    import importlib.machinery
    import zipfile

    def _drop_source_pyspark(zip_path):
        rest = [p for p in sys.path if p != zip_path]
        try:
            with zipfile.ZipFile(zip_path) as z:
                zipped = z.read("pyspark/version.py")
            spec = importlib.machinery.PathFinder.find_spec("pyspark", rest)
            with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
                installed = f.read()
        except (AttributeError, TypeError, OSError, KeyError, zipfile.BadZipFile):
            return  # no installed pyspark, or no version to compare
        if installed == zipped:
            sys.path[:] = rest

    for _path in [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]:
        _drop_source_pyspark(_path)

if sys.version_info < (3, 13) and "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    # Spark sets that variable only for its Python workers, and a worker
    # calls importlib.invalidate_caches() before every task
    # (pyspark.worker_util.setup_spark_files). Before CPython 3.13 each
    # zipimporter then re-reads its archive's whole central directory: a
    # reused worker holds 16 (pyspark.zip, the spark-core jar, py4j), ~170
    # ms per task. Here an importer re-reads only when its archive's
    # (mtime, size) differs from the stamp taken before its last re-read.
    import zipimport

    def _reread_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            _reread(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = _reread_if_changed

from contessa_spark.time_filter import TimeFilter, TimeFilterColumn, parse_time_filter
from contessa_spark.normalizer import RuleNormalizer
from contessa_spark.rules import (
    NOT_NULL,
    GT,
    GTE,
    LT,
    LTE,
    NOT,
    EQ,
    SQL,
    Rule,
    get_rule_cls,
)
from contessa_spark.runner import QualityRunner
from contessa_spark.consistency import ConsistencyChecker

__version__ = "0.2.0"

__all__ = [
    "TimeFilter",
    "TimeFilterColumn",
    "parse_time_filter",
    "RuleNormalizer",
    "Rule",
    "get_rule_cls",
    "QualityRunner",
    "ConsistencyChecker",
    "NOT_NULL",
    "GT",
    "GTE",
    "LT",
    "LTE",
    "NOT",
    "EQ",
    "SQL",
]
