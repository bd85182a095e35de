"""contessa_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_filter --seed 1 --seconds 4 --trace 0

Sets up a ``local[4]`` session with ``session.get_spark``, generates the
workload's inputs and oracle from the seed, runs one full-size op in
the fresh session, then runs ops in a closed loop (one caller, next op
after the previous one returns) for ``--seconds``, at least
``MIN_STEADY_OPS``. Every op is checked against the oracle and must
have run Spark tasks.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log, wraps half of the steady ops' library calls in
spans, and reports the per-layer metrics instead. The last stdout line
is the result object; the line before it is the run's raw record
(every sample, host context). See perfbench/README.md.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from multiprocessing import resource_tracker  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
MASTER_CORES = 4
# Steady ops after the first op, at least: the fewest that give a
# median of more than one sample. Set-up and the first op are most of a
# run's wall time, and each steady op adds 3-9 s (see README, "Run time").
MIN_STEADY_OPS = 2
# Reference host speed: the host-speed probe's loop takes this long on
# the 4-core host the bounds were set on (see README, "Host speed").
REF_PROBE_LOOP_S = 150e-6
WORKLOAD_NAMES = ("crawl_filter", "near_dup", "dq_nightly")

END_TO_END = {
    "setup_s": "s",
    "first_op_s": "s",
    "op_s_p50": "s",
    "docs_per_s": "1/s",
    "out_bytes_per_in_byte": "B/B",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "process.peak_rss_mb": "MB",
    "process.jvm_rss_mb": "MB",
    "process.worker_rss_mb": "MB",
    "host.probe_loop_us": "us",
    "host.steal_pct": "%",
    "functions.annotate_rows_us_per_doc": "us",
    "functions.langid_detect_us_per_doc": "us",
    "functions.perplexity_us_per_doc": "us",
    "functions.scrub_text_us_per_doc": "us",
    "functions.symbol_ratio_us_per_doc": "us",
    "pipeline.annotate_stage_s": "s",
    "pipeline.write_lineage_s": "s",
    "pipeline.udf_body_share": "ratio",
    "pipeline.output_bytes": "bytes",
    "pipeline.output_files": "count",
    "pipeline.buckets_done": "count",
    "results.lineage_merge_s": "s",
    "results.medians_30_day_s": "s",
    "results.quality_merge_s": "s",
    "results.history_rows": "count",
    "runner.build_rules_ms": "ms",
    "compiler.run_column_rules_s": "s",
    "compiler.run_custom_sql_rule_s": "s",
    "compiler.scan_jobs_per_run": "count",
    "consistency.run_s": "s",
    "entry.plan_s": "s",
    "dedup.minhash_lsh_s": "s",
    "dedup.ngram_jaccard_s": "s",
    "dedup.minhash_candidates": "count",
    "dedup.minhash_verified": "count",
    "dedup.verify_yield": "ratio",
    "dedup.ngram_pairs": "count",
    "dedup.persisted_rdds_after_op": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.task_skew": "ratio",
    "trace.op_s_p50": "s",
    "trace.overhead_s": "s",
}

# span name -> (per-layer metric, scale from seconds)
SPAN_METRICS = {
    "results.lineage_merge": ("results.lineage_merge_s", 1.0),
    "results.medians_30_day": ("results.medians_30_day_s", 1.0),
    "results.quality_merge": ("results.quality_merge_s", 1.0),
    "runner.build_rules": ("runner.build_rules_ms", 1e3),
    "compiler.run_column_rules": ("compiler.run_column_rules_s", 1.0),
    "compiler.run_custom_sql_rule": ("compiler.run_custom_sql_rule_s", 1.0),
    "consistency.run": ("consistency.run_s", 1.0),
    "entry.plan": ("entry.plan_s", 1.0),
    "dedup.minhash_lsh": ("dedup.minhash_lsh_s", 1.0),
    "dedup.ngram_jaccard": ("dedup.ngram_jaccard_s", 1.0),
}


def _isolate_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    package importable by Spark's Python workers from any cwd: workers
    inherit the JVM's environment, not this process's ``sys.path``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir when it is set
    local_dir = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_GRAFT_LOCAL_DIR"] = local_dir
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in (HERE, REPO):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (its Python workers are stopped with the session)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tasks_run(sc, group: str) -> int:
    st = sc.statusTracker()
    total = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            stage = st.getStageInfo(sid)
            total += stage.numCompletedTasks if stage else 0
    return total


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from tracing import (
        HostSpeedProbe, PeakRss, Tracer, host_sample, median_or_zero, steal_pct,
        summarize_event_log,
    )
    from workloads import WORKLOADS

    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    spark = wl = None
    probe = HostSpeedProbe()
    try:
        probe.start()
        _isolate_environment(work)
        # ---- set-up: library import + session -------------------
        t_import = time.perf_counter()
        from contessa_spark.session import get_spark

        t_session = time.perf_counter()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if trace:
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                         "spark.eventLog.compress": "false"})
        spark = get_spark(
            "perfbench", master=f"local[{MASTER_CORES}]",
            shuffle_partitions=MASTER_CORES, extra_conf=conf,
        )
        t_ready = time.perf_counter()
        sc = spark.sparkContext
        tracer = Tracer(sc)

        # ---- inputs and oracle (untimed, no Spark) ---------------
        wl = WORKLOADS[workload](work, seed, tracer)
        t_prep = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t_prep
        wl.bind(spark)

        ops = []

        def run_op(k: int, traced: bool) -> None:
            tracer.op, tracer.active = k, traced
            sc.setJobGroup(f"op{k}", f"op{k}")
            errors, res = [], None
            patched = tracer.patch(wl.patch_targets()) if traced else contextlib.nullcontext()
            t0 = time.perf_counter()
            try:
                with patched:
                    res = wl.op(k)
            except Exception:
                traceback.print_exc()
                errors.append("op raised")
            dt = time.perf_counter() - t0
            tracer.active = False
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
            tasks = _tasks_run(sc, f"op{k}")
            if tasks == 0:
                errors.append("no Spark tasks ran")
            if res is not None:
                try:
                    errors += wl.check(k, res)
                except Exception:
                    traceback.print_exc()
                    errors.append("check raised")
            wl.cleanup(k, res)
            rec = {"op": k, "s": dt, "t0": t0, "traced": traced, "tasks": tasks,
                   "errors": errors}
            for e in errors:
                print(f"op {k}: {e}", file=sys.stderr)
            ops.append(rec)

        with PeakRss(sc._gateway.proc.pid) as rss:
            run_op(0, False)
            host0, t_window = host_sample(), time.perf_counter()
            # a traced run needs both kinds of op; untraced, traced,
            # traced, untraced, ... balances the JIT warm-up trend
            min_steady = MIN_STEADY_OPS * (2 if trace else 1)
            k = 1
            while k <= min_steady or time.perf_counter() - t_window < seconds:
                run_op(k, trace and k % 4 in (2, 3))
                k += 1
            window_s = time.perf_counter() - t_window
            host1 = host_sample()

        extra, extra_failed = {}, 0
        if trace:
            try:
                extra = wl.trace_extra()
            except Exception:
                traceback.print_exc()
                extra_failed = 1
        _stop_spark(spark)
        spark = None
        probe.stop()

        # host-speed scaling: wall seconds x (reference probe loop time /
        # probe loop time) x (1 - stolen share of CPU time), both measured
        # over the same interval
        def scale(t0: float, t1: float) -> float:
            loop = probe.mean_loop_s(t0, t1)
            speed = REF_PROBE_LOOP_S / loop if loop else 1.0
            return speed * (1.0 - probe.steal_share(t0, t1))

        for o in ops:
            t1 = o["t0"] + o["s"]
            o["loop_us"] = probe.mean_loop_s(o["t0"], t1) * 1e6
            o["steal_share"] = probe.steal_share(o["t0"], t1)
            o["scale"] = scale(o["t0"], t1)
            o["ref_s"] = o["s"] * o["scale"]
        steady = ops[1:]
        run_scale = statistics.median(o["scale"] for o in steady)
        setup_scale = scale(_T_START, t_ready)
        op_p50 = statistics.median(o["ref_s"] for o in steady)
        failed = sum(1 for o in ops if o["errors"]) + extra_failed
        attempted = len(ops) + (1 if trace else 0)

        if not trace:
            metrics = {
                "setup_s": (t_ready - _T_START) * setup_scale,
                "first_op_s": ops[0]["ref_s"],
                "op_s_p50": op_p50,
                "docs_per_s": wl.n_records / op_p50,
                "out_bytes_per_in_byte": wl.first_out_bytes / wl.in_bytes,
            }
        else:
            traced_ops = [o for o in steady if o["traced"]]
            plain_ops = [o for o in steady if not o["traced"]]
            metrics = {name: 0.0 for name in PER_LAYER}
            metrics["session.get_spark_s"] = (t_ready - t_session) * setup_scale
            metrics["process.peak_rss_mb"] = rss.peak / 2**20
            metrics["process.jvm_rss_mb"] = rss.peak_parts.get("jvm", 0) / 2**20
            metrics["process.worker_rss_mb"] = rss.peak_parts.get("workers", 0) / 2**20
            metrics["host.probe_loop_us"] = statistics.median(o["loop_us"] for o in steady)
            metrics["host.steal_pct"] = 100 * statistics.median(o["steal_share"] for o in steady)
            for span, (name, unit_scale) in SPAN_METRICS.items():
                per_op = tracer.per_op_totals(span)
                metrics[name] = unit_scale * median_or_zero(
                    per_op.get(o["op"], 0.0) * o["scale"] for o in traced_ops
                )
            for name, values in wl.layer.items():
                metrics[name] = median_or_zero(values)
            for name, value in extra.items():
                timed = PER_LAYER[name] in ("s", "ms", "us")
                metrics[name] = value * run_scale if timed else value
            ev = summarize_event_log(os.path.join(work, "eventlog"), [f"op{o['op']}" for o in steady])
            for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                        "input_bytes", "task_skew"):
                metrics[f"spark.{key}"] = median_or_zero(s[key] for s in ev.values())
            if workload == "dq_nightly":
                metrics["compiler.scan_jobs_per_run"] = median_or_zero(
                    ev.get(f"op{o['op']}", {}).get("jobs_by_description", {}).get(
                        "compiler.run_column_rules", 0)
                    for o in traced_ops
                )
            traced_p50 = median_or_zero(o["ref_s"] for o in traced_ops)
            plain_p50 = median_or_zero(o["ref_s"] for o in plain_ops)
            metrics["trace.op_s_p50"] = traced_p50
            metrics["trace.overhead_s"] = traced_p50 - plain_p50
            if workload == "crawl_filter":
                metrics["pipeline.write_lineage_s"] = plain_p50 - metrics["pipeline.annotate_stage_s"]

        units = PER_LAYER if trace else END_TO_END
        raw = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "host": {
                "nproc": os.cpu_count(),
                "affinity": len(os.sched_getaffinity(0)),
                "load1_start": host0["load1"], "load1_end": host1["load1"],
                "steal_pct_window": steal_pct(host0, host1),
            },
            "setup": {"setup_s": t_ready - _T_START, "import_s": t_session - t_import,
                      "scale": setup_scale,
                      "get_spark_s": t_ready - t_session, "prepare_s": prepare_s},
            "window_s": window_s, "steady_samples": len(steady),
            "n_records": wl.n_records, "in_bytes": wl.in_bytes,
            "first_out_bytes": wl.first_out_bytes, "peak_rss_bytes": rss.peak,
            "peak_rss_parts": rss.peak_parts,
            "ops": ops, "layer_samples": wl.layer, "trace_extra": extra,
            "spans": tracer.spans if trace else [],
            "failed_frac": failed / attempted,
            "metrics": metrics,
        }
        return {
            "raw": raw,
            "result": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
            },
        }
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            _stop_spark(spark)
        probe.stop()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(REPO, "contessa_spark", "__init__.py")):
        print(f"contessa_spark not found next to {HERE}: run from a full checkout",
              file=sys.stderr)
        return 2
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        # the tracker multiprocessing starts for the spawned helpers would
        # otherwise outlive this process by a moment
        resource_tracker._resource_tracker._stop()
    res, raw = out["result"], out["raw"]
    print(f"{args.workload} seed={args.seed} trace={args.trace} ops={res['attempted']} "
          f"failed={res['failed']} steady_samples={raw['steady_samples']}")
    for name, m in res["metrics"].items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"raw": raw}, default=str))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
