"""The fixed cost a Spark Python task pays before it reads a row.

A Python worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13 that re-reads the central directory of every archive a
``zipimporter`` serves (``pyspark.zip``, the spark-core jar, py4j), unless
``contessa_spark`` is loaded in the worker: its import makes a worker's
zip importers re-read only when their archive changed.

The script runs one ``local[1]`` session, so every job reuses one Python
worker, and prints one JSON object:

* ``worker``: measured inside that worker by an ``arrow_udf`` probe —
  the zipimporters it holds, whether their ``invalidate_caches`` is the
  library's, the time of one ``importlib.invalidate_caches()`` call
  (median of ``--reps``, after one untimed call) and the time to re-read
  every importer's zip directory once (what each call costs unpatched);
* ``job_ms_bare`` / ``job_ms_udf``: wall time of a one-row job without
  and with a no-op ``arrow_udf`` (one sample per rep, each on a fresh
  ``range`` so Spark cannot reuse a result).

``--library 0`` keeps ``contessa_spark`` out of the worker, which shows
the unpatched cost on the same code.

Usage:
    python scripts/worker_task_overhead.py [--reps 7] [--library 1]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import pyarrow as pa
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--library", type=int, choices=(0, 1), default=1, help="import contessa_spark in the worker")
    args = ap.parse_args()
    sys.path.insert(0, HERE)
    os.chdir(HERE)  # a worker's sys.path starts with the driver's working directory
    from contessa_spark.session import get_spark

    library, reps = bool(args.library), args.reps

    def noop(ids: pa.Array) -> pa.Array:
        if library:
            import contessa_spark  # noqa: F401  (what a library UDF's unpickling does)
        return ids

    def probe(ids: pa.Array) -> pa.Array:
        import importlib
        import zipimport

        if library:
            import contessa_spark  # noqa: F401
        zips = [imp for imp in sys.path_importer_cache.values() if isinstance(imp, zipimport.zipimporter)]
        importlib.invalidate_caches()
        calls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            calls.append((time.perf_counter() - t0) * 1e3)
        t0 = time.perf_counter()
        for imp in zips:
            zipimport._read_directory(imp.archive)
        reread_ms = (time.perf_counter() - t0) * 1e3
        out = {
            "python": sys.version.split()[0],
            "pid": os.getpid(),
            "zipimporters": len(zips),
            "archives": sorted({os.path.basename(imp.archive) for imp in zips}),
            "patched": zipimport.zipimporter.invalidate_caches.__module__ != zipimport.__name__,
            "invalidate_caches_ms": round(statistics.median(calls), 3),
            "reread_all_ms": round(reread_ms, 3),
        }
        return pa.array([json.dumps(out)] * len(ids))

    spark = get_spark("worker_task_overhead", master="local[1]", shuffle_partitions=1)
    noop_udf = F.arrow_udf(noop, "bigint")
    probe_udf = F.arrow_udf(probe, "string")
    bare, udf = [], []
    for i in range(reps + 1):
        # one untimed warm-up pair, then alternate the two jobs
        for samples, col in ((bare, F.col("id") + 1), (udf, noop_udf("id"))):
            t0 = time.perf_counter()
            spark.range(2 * i, 2 * i + 1, numPartitions=1).select(col).collect()
            if i:
                samples.append(round((time.perf_counter() - t0) * 1e3, 1))
    worker = json.loads(spark.range(0, 1, numPartitions=1).select(probe_udf("id")).first()[0])
    spark.stop()
    print(json.dumps({
        "library_in_worker": library,
        "worker": worker,
        "job_ms_bare": bare,
        "job_ms_udf": udf,
        "job_ms_bare_p50": statistics.median(bare),
        "job_ms_udf_p50": statistics.median(udf),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
