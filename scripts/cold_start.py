"""What a fresh process pays before steady work, with and without the
driver JVM's class-data-sharing archive (``contessa_spark/class_archive.py``).

Every sample is a new Python process on ``local[4]`` that times:

* ``get_spark_s``: ``session.get_spark`` (JVM start and SparkContext);
* ``first_sql_s``: the first SQL job (a grouped aggregate over ``range``);
* ``first_arrow_udf_s``: the first job through an ``arrow_udf`` (starts
  the Python worker daemon, which forks the workers);
* ``jvm_exit_s``: ``spark.stop()`` until the JVM process has exited.

The ``arrow_udf`` job also splits the worker start into layers, from
``/proc`` start times (clock ticks, 10 ms) and ``CLOCK_BOOTTIME``
readings taken in the driver and in each worker's first batch:

* ``submit_to_daemon_s``: that job's submit until the daemon started
  (the start time of the first worker's parent, which is the daemon);
* ``daemon_to_fork_s``: daemon start until it forked its first worker,
  i.e. the daemon's imports;
* ``daemon_to_first_batch_s``: daemon start until each worker's first
  batch (one value per worker);
* ``worker_pyspark``: where each worker imported pyspark from, ``zip``
  (Spark's ``pyspark.zip``) or ``install``.

``process_wall_s`` is the whole process; on a clean cache it includes
the archive's dump, which runs at interpreter exit after the JVM has
exited.

Sides: ``archive`` is ``get_spark`` as it is; ``plain`` passes
``spark.driver.defaultJavaOptions`` (a caller's value there turns the
archive off), so both sides run the same code. The script owns a new
cache directory (``XDG_CACHE_HOME``): the first sample of each side
runs on it clean, which for ``archive`` is the run that records its
classes and dumps the archive; then ``--reps`` samples per side alternate. Each sample also
counts stdout lines that are not its result (the JVM's; expected 0).

Usage:
    python scripts/cold_start.py [--reps 3] [--out BENCH_cold_start.json]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METRICS = ("get_spark_s", "first_sql_s", "first_arrow_udf_s", "jvm_exit_s", "submit_to_daemon_s",
           "daemon_to_fork_s", "daemon_to_first_batch_s")


def child(side: str) -> None:
    """One sample: prints one JSON line of timings."""
    sys.path.insert(0, HERE)
    os.chdir(HERE)  # a worker's sys.path starts with the driver's working directory
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from contessa_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if side == "plain":
        conf["spark.driver.defaultJavaOptions"] = "-Dcontessa_spark.cold_start=plain"
    t0 = time.perf_counter()
    spark = get_spark("cold_start", master="local[4]", shuffle_partitions=4, extra_conf=conf)
    t1 = time.perf_counter()
    rows = spark.range(200_000).selectExpr("id % 97 AS g", "id").groupBy("g").agg(F.sum("id")).collect()
    t2 = time.perf_counter()
    submitted = _since_boot()
    workers = spark.range(10_000).select(F.arrow_udf(first_batch, "string")("id").alias("w")) \
        .groupBy("w").agg(F.count("*").alias("n")).collect()
    t3 = time.perf_counter()
    assert len(rows) == 97 and sum(r["n"] for r in workers) == 10_000
    workers = [json.loads(r["w"]) for r in workers]
    daemon = workers[0]["daemon_start"]
    assert all(w["daemon_start"] == daemon for w in workers)
    layers = {"submit_to_daemon_s": daemon - submitted,
              "daemon_to_fork_s": min(w["worker_start"] for w in workers) - daemon,
              "daemon_to_first_batch_s": sorted(w["first_batch"] - daemon for w in workers),
              "worker_pyspark": sorted({w["pyspark"] for w in workers})}
    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    rc = proc.wait(timeout=300)
    t4 = time.perf_counter()
    print(json.dumps({"get_spark_s": t1 - t0, "first_sql_s": t2 - t1, "first_arrow_udf_s": t3 - t2,
                      "jvm_exit_s": t4 - t3, "jvm_rc": rc, **layers}))


def _since_boot() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def _started(pid: int) -> float:
    """Seconds since boot at which process ``pid`` started (``/proc``)."""
    with open(f"/proc/{pid}/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return ticks / os.sysconf("SC_CLK_TCK")


def first_batch(ids):
    """The ``arrow_udf`` body: one JSON row per input row with this
    worker's start, its daemon's start, the time of its first batch and
    where it imported pyspark from."""
    import pyarrow as pa
    import pyspark

    if not hasattr(sys, "_cold_start_first_batch"):
        sys._cold_start_first_batch = _since_boot()
    record = json.dumps({"worker_start": _started(os.getpid()), "daemon_start": _started(os.getppid()),
                         "first_batch": sys._cold_start_first_batch,
                         "pyspark": "zip" if ".zip" in pyspark.__file__ else "install"})
    return pa.array([record] * len(ids))


def sample(side: str, cache: str) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=cache)
    t0 = time.perf_counter()
    out = subprocess.run([sys.executable, os.path.abspath(__file__), "--child", side],
                         env=env, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = out.stdout.splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{side} sample failed ({out.returncode}):\n{out.stderr[-2000:]}")
    rec = json.loads(lines[-1])
    rec.update(side=side, process_wall_s=wall, other_stdout_lines=len(lines) - 1)
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out")
    ap.add_argument("--child", choices=("archive", "plain"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        child(args.child)
        return 0

    cache = tempfile.mkdtemp(prefix="cold_start_cache_")
    archive_dir = os.path.join(cache, "contessa_spark")
    runs = []
    try:
        for side in ("archive", "plain"):
            runs.append({**sample(side, cache), "clean_cache": True, "rep": 0})
            print(json.dumps(runs[-1]), file=sys.stderr)
        archives = [f for f in os.listdir(archive_dir) if f.endswith(".jsa")]
        archive_bytes = sum(os.path.getsize(os.path.join(archive_dir, f)) for f in archives)
        for rep in range(1, args.reps + 1):
            for side in (("plain", "archive") if rep % 2 else ("archive", "plain")):
                runs.append({**sample(side, cache), "clean_cache": False, "rep": rep})
                print(json.dumps(runs[-1]), file=sys.stderr)
    finally:
        shutil.rmtree(cache, ignore_errors=True)

    summary = {}
    for side in ("archive", "plain"):
        warm = [r for r in runs if r["side"] == side and not r["clean_cache"]]
        values = {m: [v for r in warm for v in (r[m] if isinstance(r[m], list) else [r[m]])] for m in METRICS}
        summary[side] = {m: {"min": min(v), "median": statistics.median(v), "max": max(v)}
                         for m, v in values.items()}
        summary[side]["worker_pyspark"] = sorted({s for r in warm for s in r["worker_pyspark"]})
    result = {
        "host": {"nproc": os.cpu_count(), "python": platform.python_version()},
        "archive_files": len(archives), "archive_bytes": archive_bytes,
        "runs": runs, "summary": summary,
    }
    text = json.dumps(result, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
