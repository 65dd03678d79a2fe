"""Steadiness report: repeat each workload with different seeds and
print every end-to-end metric's median and quartile spread beside the
bound ``BENCHMARK.json`` fixes for it.

    python3 perfbench/steadiness.py --runs 10 --seed-base 100
    python3 perfbench/steadiness.py --runs 5 --workloads corpus_clean

Spread is (Q3 - Q1) / median over the runs, with the quartiles of
``statistics.quantiles(values, n=4)``. A metric is steady when its
spread stays below a third of its bound (``setup_s`` is judged on its
median alone). The report is also written to
``perfbench/_results/steadiness-<time>.json``.
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


def run_once(bench: dict, workload: str, seed: int, trace: int = 0) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=100)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {}
    steady = True
    for w in args.workloads:
        runs = []
        for i in range(args.runs):
            r = run_once(bench, w, args.seed_base + i)
            runs.append(r)
            print(f"{w} seed={args.seed_base + i} wall={r['wall_s']:.1f}s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}", file=sys.stderr, flush=True)
        report[w] = {"runs": runs, "metrics": {}}
        print(f"\n{w}: {args.runs} runs, wall median {statistics.median(r['wall_s'] for r in runs):.1f}s")
        print(f"  {'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}{'bound/3':>9}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            ok = name == "setup_s" or sp < bound / 3
            steady &= ok
            report[w]["metrics"][name] = {"values": vals, "median": med, "q1": q1, "q3": q3, "spread": sp, "bound": bound}
            print(f"  {name:<14}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{sp:>9.3f}{bound:>8.2f}{bound / 3:>9.3f}"
                  f"{'' if ok else '  NOT STEADY'}")
    path = os.path.join(HERE, "_results", f"steadiness-{time.strftime('%Y%m%dT%H%M%S')}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nreport: {os.path.relpath(path, ROOT)}; {'steady' if steady else 'NOT steady'}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
