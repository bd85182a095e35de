"""Measurement helpers for the benchmark: spans around library calls,
a Spark event-log summary, a process-tree RSS sampler and host context.

Spans are recorded from the benchmark's own files: ``Tracer.patch``
temporarily replaces a library function with a timing wrapper, so the
library itself carries no tracing code. Each span also becomes the
Spark job description while it is open, which lets the event-log
summary attribute jobs to the layer call that launched them.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from typing import Dict, Iterable, List, Optional


class Tracer:
    """In-memory spans: (op, name, start, end, parent)."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: List[dict] = []
        self._stack: List[str] = []
        self.op: Optional[int] = None
        self.active = False  # spans are recorded only while active

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1] if self._stack else None)
            self.spans.append(
                {"op": self.op, "name": name, "start": t0, "end": t1, "parent": parent}
            )

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patch(self, targets: Iterable[tuple]):
        """``targets``: (owner, attribute, span name). ``owner`` is a
        module or a class; static and class methods keep their kind."""
        saved = []
        try:
            for owner, attr, name in targets:
                raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
                if isinstance(raw, staticmethod):
                    new = staticmethod(self._wrap(raw.__func__, name))
                elif isinstance(raw, classmethod):
                    new = classmethod(self._wrap(raw.__func__, name))
                else:
                    new = self._wrap(raw, name)
                saved.append((owner, attr, raw))
                setattr(owner, attr, new)
            yield
        finally:
            for owner, attr, raw in reversed(saved):
                setattr(owner, attr, raw)

    def per_op_totals(self, name: str) -> Dict[int, float]:
        """Seconds spent in spans called ``name``, summed per op."""
        out: Dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name:
                out[s["op"]] += s["end"] - s["start"]
        return dict(out)


def median_or_zero(values: Iterable[float]) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# ------------------------------------------------------------ event log


def _event_log_files(log_dir: str) -> List[str]:
    """The event files of the (rolling, v2) event log under ``log_dir``,
    in write order: ``eventlog_v2_<app>/events_<n>_<app>``."""
    found = []
    for root, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith("events_"):
                found.append((int(f.split("_")[1]), os.path.join(root, f)))
    return [p for _, p in sorted(found)]


def summarize_event_log(log_dir: str, groups: Iterable[str]) -> Dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor run/CPU/GC seconds,
    shuffle read/write, spill and input bytes, the jobs per description,
    and the max/median task time of the slowest stage (by wall time).
    Reads the uncompressed JSON-lines event log Spark writes with
    ``spark.eventLog.enabled``."""
    wanted = set(groups)
    job_group: Dict[int, str] = {}
    job_desc: Dict[int, Optional[str]] = {}
    stage_group: Dict[int, str] = {}
    tasks: Dict[int, List[dict]] = defaultdict(list)
    for path in _event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group in wanted:
                        jid = ev["Job ID"]
                        job_group[jid] = group
                        job_desc[jid] = props.get("spark.job.description")
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if sid in stage_group:
                        tasks[sid].append(ev)
    out: Dict[str, dict] = {
        g: {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "jvm_gc_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
            "task_skew": 0.0, "jobs_by_description": defaultdict(int),
        }
        for g in wanted
    }
    for jid, g in job_group.items():
        out[g]["jobs"] += 1
        out[g]["jobs_by_description"][job_desc[jid]] += 1
    slowest: Dict[str, tuple] = {}
    for sid, evs in tasks.items():
        g = stage_group[sid]
        o = out[g]
        o["stages"] += 1
        durations = []
        first, last = None, None
        for ev in evs:
            o["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            o["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
            durations.append(max(finish - launch, 0))
            first = launch if first is None else min(first, launch)
            last = finish if last is None else max(last, finish)
        wall = (last or 0) - (first or 0)
        if durations and (g not in slowest or wall > slowest[g][0]):
            med = statistics.median(durations)
            slowest[g] = (wall, max(durations) / med if med > 0 else 1.0)
    for g, (_, skew) in slowest.items():
        out[g]["task_skew"] = skew
    for o in out.values():
        o["jobs_by_description"] = dict(o["jobs_by_description"])
    return out


# --------------------------------------------------- memory and host


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


def _children(pid: int) -> List[int]:
    """Child pids of every thread of ``pid`` (a JVM forks from many)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return out


def tree_rss(root: int) -> Dict[int, int]:
    """Resident bytes of ``root`` and each of its descendants, by pid."""
    seen: Dict[int, int] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen[pid] = _rss_bytes(pid)
            todo.extend(_children(pid))
    return seen


class PeakRss:
    """Background sampler of the resident memory of this process, the
    Spark JVM and the JVM's descendants (its Python workers). Keeps the
    peak total and how it split between driver, JVM and workers."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = 0
        self.peak_parts: Dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        by_pid = tree_rss(self.jvm_pid)
        driver, jvm = _rss_bytes(os.getpid()), by_pid.get(self.jvm_pid, 0)
        total = driver + sum(by_pid.values())
        if total > self.peak:
            self.peak = total
            self.peak_parts = {"driver": driver, "jvm": jvm, "workers": total - driver - jvm}

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def _cpu_jiffies() -> tuple:
    """(busy, steal) jiffies of all CPUs from /proc/stat; busy is user,
    nice, system, irq and softirq time."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def _probe_loop(stop, out, interval: float) -> None:
    """Host-speed probe (runs in its own process): every ``interval``
    seconds, on the next CPU in turn, the best of 3 timings of a fixed
    pure-Python loop, and the busy and steal jiffies so far. Preemption
    only lengthens a timing, so the best of 3 tracks how fast the CPU
    runs code, not how busy it is; steal tracks how much CPU time the
    hypervisor withheld. Exits when its parent dies, so a killed run
    leaves no probe behind."""
    cpus = sorted(os.sched_getaffinity(0))
    parent = os.getppid()
    samples, i = [], 0
    while not stop.is_set():
        if os.getppid() != parent:
            return
        cpu = cpus[i % len(cpus)]
        i += 1
        os.sched_setaffinity(0, {cpu})
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            acc = 0
            for j in range(3000):
                acc += j
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        samples.append((time.perf_counter(), cpu, best) + _cpu_jiffies())
        stop.wait(interval)
    out.put(samples)


class HostSpeedProbe:
    """Samples the host's code speed and steal alongside the run, so
    runs on a host whose speed drifts can be told apart (see README)."""

    def __init__(self, interval: float = 0.02):
        import multiprocessing

        ctx = multiprocessing.get_context("spawn")
        self._stop = ctx.Event()
        self._out = ctx.Queue()
        self._proc = ctx.Process(target=_probe_loop, args=(self._stop, self._out, interval))
        self.samples: List[tuple] = []

    def start(self) -> None:
        self._proc.start()

    def stop(self) -> None:
        """Stop the probe and collect its samples; idempotent."""
        if self._stop.is_set() or self._proc.pid is None:
            return
        self._stop.set()
        self.samples = self._out.get(timeout=60)  # drain before join
        self._proc.join(timeout=60)

    def mean_loop_s(self, t0: float, t1: float) -> float:
        """Mean probe loop time over [t0, t1]; 0.0 without samples."""
        vals = [s[2] for s in self.samples if t0 <= s[0] <= t1]
        return sum(vals) / len(vals) if vals else 0.0

    def steal_share(self, t0: float, t1: float) -> float:
        """Stolen share of the CPU time the guest wanted over [t0, t1]:
        steal / (busy + steal) between the first and last sample in it."""
        inside = [s for s in self.samples if t0 <= s[0] <= t1]
        if len(inside) < 2:
            return 0.0
        busy = inside[-1][3] - inside[0][3]
        steal = inside[-1][4] - inside[0][4]
        return steal / (busy + steal) if busy + steal else 0.0


def host_sample() -> dict:
    """Load average and the /proc/stat total and steal jiffies."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return {"load1": load1, "total": sum(vals), "steal": vals[7] if len(vals) > 7 else 0}


def steal_pct(before: dict, after: dict) -> float:
    return 100.0 * (after["steal"] - before["steal"]) / max(1, after["total"] - before["total"])
