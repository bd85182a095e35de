"""Importing ``contessa_spark`` in a Spark Python worker makes the
worker's zip importers re-read their archive only when it changed
(``contessa_spark/__init__.py``); in the driver it changes nothing.

The archive tests run in a fresh interpreter, because the patch is
installed by the package's first import and only where Spark's worker
variable ``PYTHON_WORKER_FACTORY_SECRET`` is set."""

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_zip_rescan = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ zipimporters no longer re-read on invalidate_caches"
)


def _run(code: str, worker: bool) -> None:
    env = {k: v for k, v in os.environ.items() if k != "PYTHON_WORKER_FACTORY_SECRET"}
    if worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test"
    env["PYTHONPATH"] = REPO
    out = subprocess.run([sys.executable, "-c", textwrap.dedent(code)], env=env, capture_output=True, text=True)
    assert out.returncode == 0, out.stderr


_ARCHIVE = """
    import importlib, os, sys, tempfile, zipfile, zipimport

    archive = os.path.join(tempfile.mkdtemp(), "mods.zip")

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as z:
            for name, body in modules.items():
                z.writestr(name + ".py", body)

    reads = []
    _read_directory = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return _read_directory(path)

    zipimport._read_directory = spy
    write(mod_a="A = 1\\n")
    sys.path.insert(0, archive)
    import contessa_spark
    import mod_a
"""


@needs_zip_rescan
def test_worker_unchanged_archive_is_not_reread():
    _run(
        _ARCHIVE
        + """
    importlib.invalidate_caches()  # first call: no stamp yet, re-reads once
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [], reads
    """,
        worker=True,
    )


@needs_zip_rescan
def test_worker_archive_rewritten_in_place_is_reread():
    _run(
        _ARCHIVE
        + """
    importlib.invalidate_caches()
    del reads[:]
    write(mod_a="A = 1\\n", mod_b="B = 2\\n")
    importlib.invalidate_caches()
    assert reads == [archive], reads
    import mod_b
    assert mod_b.B == 2
    """,
        worker=True,
    )


def test_driver_import_leaves_zipimport_untouched():
    _run(
        """
    import zipimport
    original = zipimport.zipimporter.invalidate_caches
    import contessa_spark
    assert zipimport.zipimporter.invalidate_caches is original
    """,
        worker=False,
    )


@needs_zip_rescan
def test_spark_worker_runs_patched_after_library_udf(spark):
    """A probe UDF evaluated in the same Python worker as a library
    UDF (both in one projection, so one ArrowEvalPython) sees the
    library's ``invalidate_caches`` and no directory re-read on a
    repeated call."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from contessa_spark.operators.dedup import simhash_udf

    def probe(ids: pa.Array) -> pa.Array:
        import importlib
        import zipimport

        zips = [imp for imp in sys.path_importer_cache.values() if isinstance(imp, zipimport.zipimporter)]
        importlib.invalidate_caches()  # stamps every importer
        reads = []
        original = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or original(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        state = {
            "module": zipimport.zipimporter.invalidate_caches.__module__,
            "zipimporters": len(zips),
            "reads": len(reads),
        }
        return pa.array([json.dumps(state)] * len(ids))

    df = spark.createDataFrame([("a b c d",)], "text string").repartition(1)
    out = df.select(simhash_udf()("text").alias("h"), F.arrow_udf(probe, "string")("text").alias("p"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    state = json.loads(out.first()["p"])
    assert state == {"module": "contessa_spark", "zipimporters": state["zipimporters"], "reads": 0}
    assert state["zipimporters"] >= 1
