"""Repeat check: how much each end-to-end metric spreads between runs.

    python3 perfbench/steady.py --workloads dp_release tune_ann_store \
        --seeds 1 2 --repeats 3 --seconds 15 --trace-overhead

Run from the repository root. It runs ``run.py`` ``--repeats`` times for
every workload and seed and prints, per metric, the median and the spread:
the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. Spreads
are printed per seed and over all runs of the workload. With
``--trace-overhead`` it also makes one traced run per seed and reports
``1 - traced rows_per_s / untraced median rows_per_s``. Exits non-zero if
any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        check=False)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def report(title: str, runs: list[dict]) -> None:
    print(f"## {title}: {len(runs)} runs")
    for name, m in runs[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in runs]
        print(f"{name:16s} median {statistics.median(vals):12.4f} "
              f"{m['unit']:5s} spread {spread(vals):6.3f}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", nargs="+", type=int, default=[1])
    p.add_argument("--repeats", type=int, default=5)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace-overhead", action="store_true")
    args = p.parse_args()
    for workload in args.workloads:
        every = []
        for seed in args.seeds:
            runs = [run_once(workload, seed, args.seconds, 0)
                    for _ in range(args.repeats)]
            every += runs
            if args.repeats > 1:
                report(f"{workload} seed {seed}", runs)
            if args.trace_overhead:
                traced = run_once(workload, seed, args.seconds, 1)
                base = statistics.median(
                    r["metrics"]["rows_per_s"]["value"] for r in runs)
                t = traced["metrics"]["trace.rows_per_s"]["value"]
                print(f"tracing overhead {1 - t / base:.3f} "
                      f"(traced rows_per_s {t:.1f} vs {base:.1f})")
            sys.stdout.flush()
        if len(every) > 1:
            report(f"{workload}, all seeds", every)
    return 0


if __name__ == "__main__":
    sys.exit(main())
