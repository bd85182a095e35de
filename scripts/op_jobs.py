"""Where one perfbench op's driver time goes: its Spark actions, their
jobs and call sites, and the driver gaps between them, read from
Spark's event log.

Usage:
    python scripts/op_jobs.py --workload dq_nightly [--seed 7] [--ops 8]
        [--repo DIR] [--out result.json]

Runs ``perfbench``'s workload as ``perfbench/run.py`` does (same
``local[4]`` session, same inputs, one job group per op) for the first
op and ``--ops`` steady ops, with the uncompressed event log on, then
prints per op:

* its wall time and the py4j calls the op made, with the Java-object
  releases py4j sent from its own thread meanwhile counted apart;
* one line per action (a SQL execution; a job outside any SQL execution
  counts as an action of its own): how many jobs Spark split it into,
  its call site, its wall time, and the driver gap before it (from the
  op's start or the previous action's end to this action's start);
* the op's totals: actions, jobs, time inside actions and outside them;

and last, the medians of those totals over the steady ops.

``--repo DIR`` runs another checkout's library and perfbench (the
script changes into DIR first, so the Python workers import its
``contessa_spark``). ``--out`` also writes the per-op records as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
STEADY_KEYS = ("wall_ms", "actions", "jobs", "in_actions_ms", "outside_actions_ms",
               "py4j_calls", "py4j_releases")


def _count_py4j_calls(gateway_client) -> list:
    """Wrap the driver's py4j ``send_command``. The returned list holds
    the running counts: [calls from this thread, calls from any other
    thread — py4j's thread that releases the Java objects Python has
    dropped]."""
    count = [0, 0]
    send = gateway_client.send_command
    me = threading.get_ident()

    def counted(*args, **kwargs):
        count[threading.get_ident() != me] += 1
        return send(*args, **kwargs)

    gateway_client.send_command = counted
    return count


def read_actions(event_files, groups) -> dict:
    """Per job group, from the event log's files in write order: its actions in start order. An action is a SQL
    execution (its jobs carry ``spark.sql.execution.id``) or a job run
    outside one; each has its jobs, call site, start and end (epoch ms)."""
    wanted = set(groups)
    sql_times: dict = {}
    jobs: dict = {}
    for path in event_files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == SQL_START:
                    sql_times[ev["executionId"]] = [ev["time"], None]
                elif kind == SQL_END and ev["executionId"] in sql_times:
                    sql_times[ev["executionId"]][1] = ev["time"]
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id") in wanted:
                        jobs[ev["Job ID"]] = {
                            "group": props["spark.jobGroup.id"],
                            "execution": props.get("spark.sql.execution.id"),
                            "call_site": props.get("callSite.short", "?"),
                            "start": ev["Submission Time"], "end": None,
                        }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    actions: dict = defaultdict(dict)
    for jid, job in sorted(jobs.items()):
        key = ("sql", job["execution"]) if job["execution"] is not None else ("job", jid)
        act = actions[job["group"]].get(key)
        if act is None:
            start, end = sql_times.get(int(key[1]), [None, None]) if key[0] == "sql" else (None, None)
            act = actions[job["group"]][key] = {
                "execution": job["execution"], "call_site": job["call_site"], "jobs": 0,
                "start": start or job["start"], "end": end or job["end"],
            }
        act["jobs"] += 1
        if key[0] == "job":
            act["end"] = job["end"]
    return {g: sorted(a.values(), key=lambda a: a["start"]) for g, a in actions.items()}


def summarize_op(op: dict, actions: list, repo: str) -> dict:
    """Gaps and totals of one op from its actions (times in ms)."""
    prev, inside, rows = op["t0_ms"], 0.0, []
    for a in actions:
        site = a["call_site"].replace(repo + os.sep, "")
        end = a["end"] or a["start"]
        rows.append({"call_site": site, "jobs": a["jobs"], "action_ms": end - a["start"],
                     "gap_ms": max(a["start"] - prev, 0)})
        inside += end - a["start"]
        prev = max(prev, end)
    wall_ms = op["t1_ms"] - op["t0_ms"]
    return {"op": op["op"], "wall_ms": round(wall_ms), "py4j_calls": op["py4j_calls"],
            "py4j_releases": op["py4j_releases"],
            "actions": len(rows), "jobs": sum(r["jobs"] for r in rows),
            "in_actions_ms": round(inside), "outside_actions_ms": round(wall_ms - inside),
            "detail": rows}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("crawl_filter", "near_dup", "dq_nightly"))
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--ops", type=int, default=8, help="steady ops after the first op")
    ap.add_argument("--repo", default=HERE)
    ap.add_argument("--out")
    args = ap.parse_args()
    out_path = os.path.abspath(args.out) if args.out else None
    repo = os.path.abspath(args.repo)
    os.chdir(repo)
    sys.path.insert(0, os.path.join(repo, "perfbench"))
    import run as perfbench_run
    from tracing import Tracer, _event_log_files
    from workloads import WORKLOADS

    work = tempfile.mkdtemp(prefix="op_jobs_")
    spark = None
    try:
        perfbench_run._isolate_environment(work)
        from contessa_spark.session import get_spark

        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        spark = get_spark(
            "op_jobs", master=f"local[{perfbench_run.MASTER_CORES}]",
            shuffle_partitions=perfbench_run.MASTER_CORES,
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                        "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                        "spark.eventLog.compress": "false"},
        )
        sc = spark.sparkContext
        wl = WORKLOADS[args.workload](work, args.seed, Tracer(sc))
        wl.prepare()
        wl.bind(spark)
        calls = _count_py4j_calls(sc._gateway._gateway_client)
        ops = []
        for k in range(args.ops + 1):
            sc.setJobGroup(f"op{k}", f"op{k}")
            n0, t0 = list(calls), time.time()
            res = wl.op(k)
            t1, n1 = time.time(), list(calls)
            sc.setLocalProperty("spark.jobGroup.id", None)
            errors = wl.check(k, res)
            wl.cleanup(k, res)
            if errors:
                print(f"op {k}: {errors}", file=sys.stderr)
            ops.append({"op": k, "t0_ms": t0 * 1e3, "t1_ms": t1 * 1e3,
                        "py4j_calls": n1[0] - n0[0], "py4j_releases": n1[1] - n0[1]})
        wl.close()
        spark.stop()
        spark = None
        per_group = read_actions(_event_log_files(log_dir), [f"op{o['op']}" for o in ops])
        records = [summarize_op(o, per_group.get(f"op{o['op']}", []), repo) for o in ops]
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    for r in records:
        print(f"op {r['op']}: {r['wall_ms']} ms, {r['actions']} actions, {r['jobs']} jobs, "
              f"{r['in_actions_ms']} ms in actions, {r['outside_actions_ms']} ms outside, "
              f"{r['py4j_calls']} py4j calls (+{r['py4j_releases']} releases)")
        for a in r["detail"]:
            print(f"    gap {a['gap_ms']:5.0f} ms | {a['jobs']} jobs {a['action_ms']:5.0f} ms | {a['call_site']}")
    steady = {key: statistics.median(r[key] for r in records[1:]) for key in STEADY_KEYS} if args.ops else {}
    print("steady-op medians:", json.dumps(steady))
    if out_path:
        with open(out_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "repo": repo,
                       "steady_median": steady, "ops": records}, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
