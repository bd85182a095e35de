"""SparkSession factory tuned for this engine.

Local-mode defaults for tests/bench; the same builder flags are what a
production spark-submit would set cluster-side. AQE on (runtime
re-plan + skew-join splitting), Arrow on (all Python code in this
engine runs over Arrow batches: every UDF is an ``arrow_udf`` and every
map and group function a ``mapInArrow`` or ``applyInArrow``; the one
exception is streaming's ``applyInPandasWithState``), shuffle
partitions sized to cores locally
(production: ~2-3× total executor cores, or rely on AQE coalescing).

The driver JVM that ``get_spark`` launches maps Spark's classes from a
class-data-sharing archive in ``$XDG_CACHE_HOME/contessa_spark/``
(``class_archive``): the first session on a JDK, Spark jar set and heap
size lists the classes its JVM loads, and its interpreter dumps the
archive from that list when it exits (~16 s more exit, 150-200 MB);
every later one starts in about half the time. It is used only when
Spark's conf dir holds nothing but ``*.template`` files (the launch then
points ``SPARK_CONF_DIR`` at an empty directory, which configures the
same) and the caller sets no ``spark.driver.defaultJavaOptions``;
deleting the directory resets it, and an archive the JVM did not map
(HotSpot's ``UseSharedSpaces`` reads false) is deleted by the session
that passed it. Under ``spark-submit`` the JVM is already running, and
nothing changes.

A local session that ``get_spark`` launches (master ``local`` or
``local[...]``) runs its Python worker daemon as
``contessa_spark.worker_daemon`` (``spark.python.daemon.module``): that
daemon and the workers it forks drop Spark's source-only
``pyspark.zip`` from ``sys.path`` when an installed pyspark has its
version, and import the compiled install: the first Python job of a
session starts ~0.4 s sooner (daemon start to first fork 0.53 → 0.19 s
on a 4-core host, ``scripts/cold_start.py``). The stock
``pyspark.daemon`` stays under ``spark-submit``, with any other master,
when the caller sets ``spark.python.daemon.module``, and when a daemon
started in the working directory would not import this package (its
parent is not that directory, on ``PYTHONPATH`` or in site-packages).

PySpark's per-call call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``): analysis
errors lose the Python call site in their DataFrame context, and every
DataFrame/Column call saves a stack walk and the py4j round trips that
set and clear its origin.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from contessa_spark import class_archive


def get_spark(
    app_name: str = "contessa_spark",
    master: str = None,
    shuffle_partitions: int = None,
    task_cpus: int = 1,
    extra_conf: dict = None,
) -> SparkSession:
    """``task_cpus=2`` is the right setting for Python-UDF-heavy jobs:
    each UDF task keeps BOTH a JVM serde thread and a Python worker
    busy, so scheduling cores/1 tasks runs 2× cores runnable threads —
    a measurable convoy collapse at high core counts (38s vs 2.3s for
    the same stage at local[32] in this sandbox). Modeling the true
    cost with task.cpus=2 restores linear scaling."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    # Shuffle/spill dir: tmpfs when available. A real cluster gives
    # every executor its own local disks for shuffle; this sandbox has
    # ONE shared NVMe (~456 MB/s), which serializes shuffle I/O across
    # all local[N] threads and skews any scaling measurement. tmpfs
    # (half of 125 GiB here, far above the ~2 GiB shuffle footprint of
    # the largest local job) models per-executor disk bandwidth.
    # Override with SPARK_GRAFT_LOCAL_DIR='' to force the default.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"
    options = {
        "spark.master": master,
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Scan-parallelism FLOOR (not a split-size cap): a single
        # ~100 MB parquet file is one 128 MB split by default, so every
        # scan-heavy stage over it serializes onto one core; the floor
        # makes Spark shrink splits just enough to hand each core work
        # when the files' row groups allow. Scale-correct: at
        # production split counts (≫ cores) it is a no-op, unlike
        # lowering maxPartitionBytes, which would fragment large scans.
        "spark.sql.files.minPartitionNum": str(shuffle_partitions),
        "spark.task.cpus": str(task_cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Bound Arrow batches by BYTES, not the 10k-row default: text
        # documents average ~2 KB here, so default batches ran ~12-20 MB
        # per worker with matching transient allocations on both sides
        # of the boundary — measured 11.3 s first-run / 4.0 s steady for
        # the 200k-doc annotate stage at local[32] vs 5.2 s / 2.0 s with
        # 2 MB batches (smaller working set + serde/compute overlap).
        # Bytes-based, so narrow-row UDFs keep their large row counts;
        # at cluster scale the same cap bounds per-worker batch memory
        # (guide: lower maxRecordsPerBatch/maxBytesPerBatch for large
        # binary/text cells).
        "spark.sql.execution.arrow.maxBytesPerBatch": "2097152",
        # No Python call site per DataFrame/Column call: capturing one
        # costs a stack walk and py4j round trips per call
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    if local_dir:
        options["spark.local.dir"] = local_dir
    options.update(extra_conf or {})
    spark = class_archive.get_or_create(options)
    spark.sparkContext.setLogLevel("WARN")
    return spark
