"""Steadiness check: run workloads repeatedly with different seeds and
print, per end-to-end metric, the median, the quartiles and the spread
(interquartile distance as a share of the median) next to the metric's
bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --out set1.json
    python3 perfbench/steady.py --runs 10 --first-seed 11 --out set2.json
    python3 perfbench/steady.py --compare set1.json set2.json
    python3 perfbench/steady.py --workloads corpus_duckdb --runs 5

Run from the root of a checkout. Runs are sequential (one Spark at a
time) and interleave the workloads — seed 1 of every workload, then
seed 2, … — so that a change in the machine's load over the set hits
every workload alike. ``--out`` keeps every run's result line as JSON.

A spread is flagged ``ok`` below a third of the bound, ``within`` up to
the bound and ``WIDE`` beyond it. ``--compare`` checks that the second
set's median of every metric is not worse than the first's by more than
the bound, in the metric's "worse" direction.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median), quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, ((q3 - q1) / med if med else float("inf"))


def worsening(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of
    ``first`` (negative when it is better)."""
    if not first:
        return 0.0 if second == first else float("inf")
    change = (second - first) / first
    return change if better == "lower" else -change


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}: "
                           f"{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["wall_s"] = time.time() - t0
    return result


def report(all_results: dict, metrics: dict) -> None:
    for w, results in all_results.items():
        print(f"\n{w}: {len(results)} runs, mean wall "
              f"{statistics.mean(r['wall_s'] for r in results):.1f} s")
        print(f"  {'metric':34} {'median':>12} {'q1':>12} {'q3':>12} "
              f"{'spread':>8} {'bound':>6}")
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            bound = metrics.get(name, {}).get("bound")
            flag = ""
            if bound is not None:
                flag = "ok" if sp < bound / 3 else (
                    "within" if sp <= bound else "WIDE")
            print(f"  {name:34} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{sp:8.4f} {bound if bound is not None else '':>6} {flag}")


def compare(first: dict, second: dict, metrics: dict) -> bool:
    """Print, per workload and bounded metric, both medians and how much
    worse the second is; True when every one stays within its bound."""
    ok = True
    for w in first:
        print(f"\n{w}: {len(first[w])} vs {len(second.get(w, []))} runs")
        print(f"  {'metric':34} {'median 1':>12} {'median 2':>12} "
              f"{'worse by':>9} {'bound':>6}")
        for name, m in metrics.items():
            if "bound" not in m:
                continue
            a = statistics.median(r["metrics"][name]["value"]
                                  for r in first[w])
            b = statistics.median(r["metrics"][name]["value"]
                                  for r in second[w])
            d = worsening(a, b, m["better"])
            verdict = "ok" if d <= m["bound"] else "WORSE"
            ok &= d <= m["bound"]
            print(f"  {name:34} {a:12.4f} {b:12.4f} {d:9.4f} "
                  f"{m['bound']:>6} {verdict}")
    return ok


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads", nargs="+",
                   default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="write every result line to this file")
    p.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"),
                   help="compare two --out files instead of running")
    args = p.parse_args(argv)

    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as fh:
                sets.append(json.load(fh))
        return 0 if compare(sets[0], sets[1], metrics) else 1

    all_results: dict[str, list[dict]] = {w: [] for w in args.workloads}
    ok = True
    for k in range(args.runs):
        seed = args.first_seed + k
        for w in args.workloads:
            r = run_once(w, seed, args.seconds, args.trace)
            all_results[w].append(r)
            print(f"{w} seed={seed} correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} "
                  f"wall={r['wall_s']:.1f}s", flush=True)
            ok &= r["correct"]
    report(all_results, metrics)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(all_results, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
