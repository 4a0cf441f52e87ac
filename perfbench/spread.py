"""Run every workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py [--seeds 10] [--first-seed 1] [--trace 0]
                                [--workload NAME ...]

Reads the workloads, run length and bounds from BENCHMARK.json, runs
``perfbench/run.py`` once per (workload, seed), one run at a time, and
prints per metric the median and the inter-quartile range as a share of
the median (``statistics.quantiles(values, n=4)``), next to a third of the
metric's bound. Exits non-zero if a run fails or reports ``correct: false``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main(argv=None) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workload", action="append", help="default: every workload")
    args = ap.parse_args(argv)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    ok = True
    for wl in args.workload or [w["name"] for w in bench["workloads"]]:
        values: dict[str, list[float]] = {}
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
            ]
            p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                ok = False
                continue
            res = json.loads(lines[-1])
            ok &= bool(res["correct"])
            print(f"{wl} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}", flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, xs in values.items():
            line = f"  {wl:14s} {k:38s} median={statistics.median(xs):.5g}"
            if len(xs) >= 2 and statistics.median(xs):
                line += f" spread={spread(xs):.4f}"
            if bounds.get(k) is not None:
                line += f" (bound/3={bounds[k] / 3:.4f})"
            line += " values=" + " ".join(f"{x:.4g}" for x in xs)
            print(line, flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
