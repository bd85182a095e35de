"""Importing ``contessa_spark`` in a Spark Python worker makes the
worker's zip importers re-read their archive only when it changed, and,
before pyspark is imported, drops Spark's source-only ``pyspark.zip``
from ``sys.path`` when an installed pyspark has its version
(``contessa_spark/__init__.py``); in the driver it changes nothing.
A local session's worker daemon is ``contessa_spark.worker_daemon``,
so its workers import the installed pyspark.

The archive tests run in a fresh interpreter, because the patch is
installed by the package's first import and only where Spark's worker
variable ``PYTHON_WORKER_FACTORY_SECRET`` is set."""

import json
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark import SparkContext

from contessa_spark import class_archive
from contessa_spark.session import get_spark

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


def test_spark_worker_imports_the_installed_pyspark(spark):
    """The ``spark`` fixture's session (local, launched from the
    checkout) runs the library's daemon: its workers have no
    ``pyspark.zip`` on ``sys.path`` and import pyspark from outside any
    zip."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    def probe(ids: pa.Array) -> pa.Array:
        import pyspark

        state = {"zips": [p for p in sys.path if os.path.basename(p) == "pyspark.zip"], "file": pyspark.__file__}
        return pa.array([json.dumps(state)] * len(ids))

    assert spark.conf.get("spark.python.daemon.module") == "contessa_spark.worker_daemon"
    state = json.loads(spark.range(1).select(F.arrow_udf(probe, "string")("id").alias("p")).first()["p"])
    assert state["zips"] == []
    assert os.path.isfile(state["file"]) and ".zip" not in state["file"], state


_FAKE_ZIP = """
    import os, sys, tempfile, zipfile

    fake = os.path.join(tempfile.mkdtemp(), "pyspark.zip")
    with zipfile.ZipFile(fake, "w") as z:
        z.writestr("pyspark/version.py", {version!r})
    sys.path.insert(0, fake)
    import contessa_spark
    import pyspark
    assert (fake in sys.path) is {kept}, sys.path
    assert not pyspark.__file__.startswith(fake)
"""


@pytest.mark.parametrize("same_version", [True, False])
def test_worker_drops_pyspark_zip_only_for_the_installed_version(same_version):
    """A ``pyspark.zip`` ahead of the installed pyspark is dropped when
    its ``version.py`` equals the installed one, and stays when it
    differs; the driver keeps it either way."""
    import pyspark

    with open(os.path.join(os.path.dirname(pyspark.__file__), "version.py")) as f:
        installed = f.read()
    version = installed if same_version else "__version__: str = '0.0.1'\n"
    _run(_FAKE_ZIP.format(version=version, kept=not same_version), worker=True)
    _run(_FAKE_ZIP.format(version=version, kept=True), worker=False)


_DAEMON = "spark.python.daemon.module"


@pytest.fixture
def launched(monkeypatch):
    """``get_spark`` from the checkout against a stand-in launch: the
    options each ``getOrCreate`` saw, with no archive plan."""
    seen = []

    class Session:
        class sparkContext:
            setLogLevel = staticmethod(lambda level: None)

    def builder(options):
        class Builder:
            def getOrCreate(self):
                seen.append(dict(options))
                return Session

        return Builder()

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(class_archive, "_builder", builder)
    monkeypatch.setattr(class_archive, "plan", lambda options: None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.chdir(REPO)
    return seen


def test_local_session_launches_the_library_daemon(launched):
    get_spark("t", master="local[2]")
    get_spark("t", master="local")
    assert [o[_DAEMON] for o in launched] == ["contessa_spark.worker_daemon"] * 2


@pytest.mark.parametrize("case", ["spark_submit", "cluster", "local_cluster", "caller", "not_importable"])
def test_stock_daemon_unless_a_local_launch_that_finds_the_package(launched, monkeypatch, tmp_path, case):
    """Under ``spark-submit`` (the JVM is already running), with a
    non-local master, or when the daemon started in the working
    directory would not import this package, ``spark.python.daemon.module``
    stays unset; a caller's value wins."""
    master, conf = "local[2]", {}
    if case == "spark_submit":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "45678")
    elif case == "cluster":
        master = "spark://localhost:7077"
    elif case == "local_cluster":
        master = "local-cluster[2,1,1024]"
    elif case == "caller":
        conf = {_DAEMON: "pyspark.daemon"}
    else:
        monkeypatch.chdir(tmp_path)
        monkeypatch.delenv("PYTHONPATH", raising=False)
    get_spark("t", master=master, extra_conf=conf)
    [options] = launched
    assert options.get(_DAEMON) == conf.get(_DAEMON)
