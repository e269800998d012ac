"""Steadiness report: run each workload over several seeds and give every
metric's median, quartiles and spread, with the CPU steal, wall time and
per-op times of each run.

    python3 perfbench/steadiness.py --workloads train_tsv curate --seeds 1-10

The spread is ``(q3 - q1) / median`` with the quartiles of
``statistics.quantiles(values, n=4)``; compare it with the metric's
bound in BENCHMARK.json. Runs go one after another, never in parallel.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import steal_seconds  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    steal0, t0 = steal_seconds(), time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["ops_s"] = [float(t) for t in re.findall(r"^op \d+: ([0-9.]+) s", proc.stderr, re.M)]
    result["wall_s"] = time.time() - t0
    result["steal_s"] = steal_seconds() - steal0
    result["exit"] = proc.returncode
    return result


def summary(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_work", "steadiness.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    report = {}
    for w in args.workloads:
        runs = []
        for s in seeds(args.seeds):
            r = one_run(w, s, spec["run_seconds"], args.trace)
            runs.append(r)
            vals = {k: round(v["value"], 3) for k, v in r["metrics"].items()}
            print(f"{w} seed {s}: wall {r['wall_s']:.1f} s, steal {r['steal_s']:.1f} s, "
                  f"correct {r['correct']} {r['attempted'] - r['failed']}/{r['attempted']}, {vals}, "
                  f"ops {' '.join(f'{t:.2f}' for t in r['ops_s'])}", flush=True)
        names = runs[0]["metrics"]
        report[w] = {
            "runs": runs,
            "metrics": {n: summary([r["metrics"][n]["value"] for r in runs]) for n in names},
            "steal_s": summary([r["steal_s"] for r in runs]),
            "wall_s": summary([r["wall_s"] for r in runs]),
        }
        for n, st in report[w]["metrics"].items():
            print(f"{w} {n}: median {st['median']:.3f} q1 {st['q1']:.3f} q3 {st['q3']:.3f} "
                  f"spread {st['spread']:.3f}", flush=True)
        print(f"{w} wall median {report[w]['wall_s']['median']:.1f} s, "
              f"steal median {report[w]['steal_s']['median']:.1f} s", flush=True)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
