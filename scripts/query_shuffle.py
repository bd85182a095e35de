"""Shuffle bytes, tasks and wall time of one run of declared queries,
read from Spark's event log.

Usage:
    python scripts/query_shuffle.py --query NAME [--query NAME ...]
        [--repo DIR] [--data SF_DIR] [--out result.json]
        (``--data`` defaults to the sf directory ``bench.py`` reads)

Each query is built from ``__spark_entry__.queries()`` of ``--repo``
(default: this checkout) and collected once, in its own job group, in
a fresh ``local[SPARK_GRAFT_CPUS]`` session with the event log on; the
log is summarized with ``perfbench.tracing.summarize_event_log``. Like
``scripts/row_digest.py``, the script changes into ``--repo`` before the
session starts, so the Python workers import that checkout's
``contessa_spark``. Run one process per sample: Spark reuses the
results of an identical plan within a session.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("--repo", default=HERE)
    ap.add_argument("--data", help="one sf directory (default: bench.py's SF_DIR)")
    ap.add_argument("--out")
    args = ap.parse_args()
    sys.path.insert(0, HERE)
    from bench import SF_DIR
    from perfbench.tracing import summarize_event_log

    out_path = os.path.abspath(args.out) if args.out else None
    data, repo = os.path.abspath(args.data or SF_DIR), os.path.abspath(args.repo)

    sys.path.insert(0, repo)
    os.chdir(repo)
    import __spark_entry__ as entry
    from contessa_spark.session import get_spark

    log_dir = tempfile.mkdtemp(prefix="query_shuffle_")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark(
        "query_shuffle",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir, "spark.eventLog.compress": "false"},
    )
    sc, walls = spark.sparkContext, {}
    try:
        for name in args.query:
            sc.setJobGroup(name, name)
            t0 = time.perf_counter()
            n = len(entry.queries()[name](spark, data).collect())
            walls[name] = {"rows": n, "wall_s": round(time.perf_counter() - t0, 3)}
        sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        spark.stop()
    summary = summarize_event_log(log_dir, args.query)
    shutil.rmtree(log_dir, ignore_errors=True)
    result = {name: {**walls[name], **summary[name]} for name in args.query}
    print(json.dumps(result))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
