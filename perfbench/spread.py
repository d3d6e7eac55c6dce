"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/spread.py --workload kg_build --workload curate --seeds 1-10

Runs ``run.py`` once per (workload, seed), one after another, and prints
for every metric the median, the quartiles, the spread (interquartile
range / median), the highest percentile with at least ten samples beyond
it, and the sample count. ``--out`` appends every run's result line as
JSON for later comparison, with the run's ``perfbench:`` lines (set-up
parts, per-call walls, output) under ``log``. Without ``--seconds`` each
run measures BENCHMARK.json's ``run_seconds``.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> str:
    n = len(values)
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if n > 1 else (med, med, med)
    spread = (q3 - q1) / med if med else float("nan")
    # the highest percentile that still has ten samples beyond it
    top = f"p{int(100 * (1 - 10 / n))}" if n >= 20 else "max"
    hi = sorted(values)[n - 11] if n >= 20 else max(values)
    return f"median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  spread {spread:.3f}  {top} {hi:.4g}  n {n}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    for wl in args.workload:
        runs, durations, attempted, failed = [], [], 0, 0
        for seed in seeds(args.seeds):
            t = time.perf_counter()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(seed),
                 "--trace", args.trace] + (["--seconds", args.seconds] if args.seconds else []),
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
            durations.append(time.perf_counter() - t)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {p.returncode}", flush=True)
                attempted, failed = attempted + 1, failed + 1
                continue
            res = json.loads(lines[-1])
            attempted, failed = attempted + res["attempted"], failed + res["failed"]
            runs.append(res)
            print(f"{wl} seed {seed}: {durations[-1]:.0f}s " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
            ), flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    log = [x for x in lines[:-1] if x.startswith("perfbench:")]
                    f.write(json.dumps({"workload": wl, "seed": seed, **res, "log": log}) + "\n")
        print(f"== {wl}: {len(runs)} runs, calls attempted {attempted}, failed {failed}, "
              f"run duration median {statistics.median(durations):.0f}s max {max(durations):.0f}s")
        for name in runs[0]["metrics"] if runs else []:
            vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            print(f"  {name:32s} {summarize(vals)} {runs[0]['metrics'][name]['unit']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
