"""Run the benchmark on several seeds and report each end-to-end
metric's median and quartile spread ((Q3 - Q1) / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them), plus the wall time
of every run.

    python3 perfbench/prove.py --workloads crawl_filter,near_dup,dq_nightly \
        --seeds 1-10 [--trace 0] [--out perfbench/results/series.jsonl]

Each run's result line and raw record are appended to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _seeds(spec: str) -> list:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for w in args.workloads.split(","):
        values, walls = {}, []
        for seed in _seeds(args.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=900)
            walls.append(time.perf_counter() - t0)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                return 1
            result = json.loads(lines[-1])
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1],
                                        "result": result,
                                        "raw": json.loads(lines[-2])["raw"]}) + "\n")
            print(f"{w} seed {seed} wall {walls[-1]:.1f}s correct={result['correct']} "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
                  flush=True)
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        rows = {}
        for k, v in values.items():
            rows[k] = {"median": statistics.median(v),
                       "spread": spread(v) if len(v) >= 2 else None,
                       "bound": bounds.get(k)}
        summary[w] = {"metrics": rows, "wall_s_median": statistics.median(walls),
                      "wall_s_max": max(walls)}
        for k, r in rows.items():
            flag = ""
            if r["bound"] is not None and r["spread"] is not None and r["spread"] > r["bound"] / 3:
                flag = "  > bound/3"
            print(f"  {w:13s} {k:24s} median {r['median']:.5g} spread {r['spread']:.4f}"
                  f" bound {r['bound']}{flag}")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
