#!/usr/bin/env python3
"""Steadiness tool: run workloads repeatedly and print, per end-to-end
metric, each set's median, quartiles and spread against the bound in
``BENCHMARK.json``, plus how far each later set's median moved from the
first set's in the metric's worse direction.

    # ten runs at seed 7, then ten at seed 8
    python3 perfbench/steady.py --set 7 --set 8 --runs 10
    # ten seeds, twice: how two sets of runs of one commit compare
    python3 perfbench/steady.py --set 1-10 --set 11-20

A set is a list of seeds (``3``, ``1,4,9`` or ``1-10``), each run
``--runs`` times.  Runs go one at a time; every run's parsed result is
appended to ``.perfbench_out/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(spec: dict, workload: str, seed: int, trace: int = 0) -> dict:
    """One run with the settings in BENCHMARK.json; its parsed result
    line plus ``wall_s``."""
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: "
                         f"exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res.update(workload=workload, seed=seed, wall_s=wall)
    return res


def report(spec: dict, workload: str, sets: list[list[dict]]) -> bool:
    """Print one workload's table; True when every spread is within its
    bound and no later median is worse than the first by more than the
    bound."""
    ok = True
    print(f"\n== {workload}: " + ", ".join(
        f"set {i + 1}: {len(s)} runs, {sum(r['wall_s'] for r in s):.0f} s"
        for i, s in enumerate(sets)))
    bad_runs = [r for s in sets for r in s if not r["correct"]]
    if bad_runs:
        ok = False
        print(f"   {len(bad_runs)} run(s) reported correct=false")
    print(f"   {'metric':16s} {'set':>3s} {'median':>12s} {'q1':>12s} "
          f"{'q3':>12s} {'spread':>7s} {'bound':>6s} {'vs set 1':>9s}")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        first = None
        for i, runs in enumerate(sets):
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            if first is None:
                first, moved = med, 0.0
            else:
                moved = (med - first) / first
                if m["better"] == "higher":
                    moved = -moved
            flag = ""
            if sp > bound:
                flag, ok = " SPREAD>BOUND", False
            elif sp > bound / 3:
                flag = " spread>bound/3"
            if moved > bound:
                flag, ok = flag + " MOVED>BOUND", False
            print(f"   {name:16s} {i + 1:3d} {med:12.4f} {q1:12.4f} "
                  f"{q3:12.4f} {sp:7.3f} {bound:6.2f} {moved:+9.3f}{flag}")
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--set", action="append", required=True,
                    dest="sets", help="seeds of one set, e.g. 1-10")
    ap.add_argument("--runs", type=int, default=1,
                    help="runs per seed within a set")
    ap.add_argument("--workloads", default=None,
                    help="comma list; default every workload in "
                         "BENCHMARK.json")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    ok = True
    for wl in names:
        sets = []
        for text in args.sets:
            runs = []
            for seed in parse_seeds(text):
                for _ in range(args.runs):
                    r = run_once(spec, wl, seed)
                    runs.append(r)
                    with open(os.path.join(out, "steady.jsonl"), "a") as f:
                        f.write(json.dumps(r) + "\n")
                    print(f"   {wl} seed {seed}: {r['wall_s']:.1f} s wall, "
                          f"correct={r['correct']}", file=sys.stderr)
            sets.append(runs)
        ok = report(spec, wl, sets) and ok
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
