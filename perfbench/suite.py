"""Repeat helper: runs each workload N times (a fresh process and a new seed
per run) and prints every metric's median and quartiles, plus the spread
(quartile distance / median) that the bounds in BENCHMARK.json are set
against.

    python3 perfbench/suite.py --runs 10 --first-seed 1
    python3 perfbench/suite.py --runs 5 --workload serve

Run from the repository root.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import run_once  # noqa: E402
from workloads import benchmark  # noqa: E402


def summary(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, quartile distance / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main(argv: list[str] | None = None) -> int:
    bench = benchmark()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args(argv)
    if args.runs < 2:
        ap.error("--runs must be at least 2 for quartiles")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in args.workload or [w["name"] for w in bench["workloads"]]:
        values: dict[str, list[float]] = {}
        for i in range(args.runs):
            seed = args.first_seed + i
            res, lines = run_once(w, seed, args.seconds, 0)
            ok &= res["correct"]
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            wall = next((ln.split("] ", 1)[1].split(",")[0] for ln in lines if "] wall " in ln), "")
            print(f"{w} seed={seed} {wall} correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} " + " ".join(
                      f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        print(f"== {w}: {args.runs} runs, seeds {args.first_seed}..{args.first_seed + args.runs - 1}")
        for name, vs in values.items():
            med, q1, q3, spread = summary(vs)
            bound = bounds.get(name)
            flag = ""
            if bound is not None:
                flag = "ok" if spread <= bound / 3 else ("within bound" if spread <= bound else "OVER BOUND")
            print(f"   {name:16s} median {med:.5g}  q1 {q1:.5g}  q3 {q3:.5g}  "
                  f"spread {spread:.3f}" + (f"  bound {bound}  {flag}" if bound is not None else ""))
        sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
