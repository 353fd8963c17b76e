#!/usr/bin/env python3
"""Per-layer table with its tracing overhead.

    python3 perfbench/layers.py --seed 1 --pairs 3 [--workloads fanout,read_mix]

For each workload, runs ``--pairs`` interleaved pairs of one untraced
and one traced run, pair k at seed ``--seed + k`` and with the order of
its two runs alternating, so the host's drift falls on both sides
alike.  It then prints:

- per end-to-end metric, the tracing overhead: the traced-minus-
  untraced difference of each pair as a share of the untraced value,
  as the median over pairs and the lowest and highest pair;
- per per-layer metric, the median over the traced runs.

Reads the runs' reports from ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.steady import run_once  # noqa: E402


def run(spec: dict, workload: str, seed: int, trace: int) -> dict:
    """Run once and return the run's full report file."""
    run_once(spec, workload, seed, trace)
    path = os.path.join(ROOT, ".perfbench_out",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    for wl in names:
        pairs = []
        for k in range(args.pairs):
            seed = args.seed + k
            order = (0, 1) if k % 2 == 0 else (1, 0)
            runs = {t: run(spec, wl, seed, t) for t in order}
            pairs.append((runs[0], runs[1]))
        print(f"\n== {wl} (seeds {args.seed}-{args.seed + args.pairs - 1}, "
              f"{args.pairs} pairs)")
        print(f"   {'tracing overhead':34s} {'untraced':>12s} "
              f"{'median':>8s} {'lowest':>8s} {'highest':>8s}")
        for name, (_, unit) in pairs[0][0]["end_to_end"].items():
            base = [p["end_to_end"][name][0] for p, _ in pairs]
            diff = sorted((t["end_to_end"][name][0] - p["end_to_end"][name][0])
                          / p["end_to_end"][name][0] for p, t in pairs)
            print(f"   {name:34s} {statistics.median(base):12.2f} "
                  f"{statistics.median(diff):+8.1%} {diff[0]:+8.1%} "
                  f"{diff[-1]:+8.1%}  ({unit})")
        print(f"   {'per-layer (median of traced runs)':34s} {'value':>12s}")
        for name, (_, unit) in pairs[0][1]["per_layer"].items():
            v = statistics.median(t["per_layer"][name][0] for _, t in pairs)
            print(f"   {name:34s} {v:12.2f} {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
