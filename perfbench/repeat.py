"""Run the benchmark once per seed on each workload and summarize.

    python3 perfbench/repeat.py --seeds 11-20 --out perfbench/record.json
    python3 perfbench/repeat.py --seeds 1-3 --trace 1 --out trace_record.json

Runs are sequential, each a fresh ``perfbench/run.py`` process with the
``run_seconds`` of BENCHMARK.json. For every workload and metric the record
holds each run's value and the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread, the
inter-quartile distance as a share of the median. It also keeps each run's
per-pass wall, JIT-compile and steal curve.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seed_list(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n"
                           f"{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result.update(seed=seed, run_wall_s=time.perf_counter() - t0,
                  passes=[line for line in lines if line.startswith("pass ")])
    return result


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        out[name] = {"unit": runs[0]["metrics"][name]["unit"],
                     "median": stats.median(values), "q1": q1, "q3": q3,
                     "spread": stats.spread(values) if q2 else None,
                     "values": values}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="11-20", help="inclusive range, e.g. 11-20")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    record = {"run_seconds": bench["run_seconds"], "trace": args.trace,
              "cpus": len(os.sched_getaffinity(0)), "workloads": {}}
    for w in workloads:
        runs = []
        for seed in seed_list(args.seeds):
            r = one_run(w, seed, bench["run_seconds"], args.trace)
            runs.append(r)
            print(w, seed, f"{r['run_wall_s']:.1f} s", " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                flush=True)
        record["workloads"][w] = {"summary": summarize(runs), "runs": runs}
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    for w, rec in record["workloads"].items():
        walls = [r["run_wall_s"] for r in rec["runs"]]
        print(f"== {w}: run wall median {stats.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for name, s in rec["summary"].items():
            spread = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
            print(f"  {name:22s} median {s['median']:12.6g} q1 {s['q1']:12.6g} "
                  f"q3 {s['q3']:12.6g} spread {spread} {s['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
