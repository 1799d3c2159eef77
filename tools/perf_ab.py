#!/usr/bin/env python3
"""Interleaved A/B of the end-to-end benchmark (perfbench/run.py) between two
checkouts of the repository.

    python3 tools/perf_ab.py DIR_A DIR_B --workload medallion_batch \
        [--pairs 10] [--seed0 101] [--seconds 25] [--out ab.json]

Pair i runs seed seed0+i once in each checkout, each run a fresh JVM; which
side runs first alternates from pair to pair, so a machine that drifts over
the window cannot favour either side. Each run records the 1-minute load
average before it starts. Give the two checkouts paths of equal length: the
commit log records absolute checkpoint paths, so `lake_mb` depends on them.

Prints, per metric, each side's median and IQR/median and how many pairs B
won, and writes every run to --out when given. Refuses to summarise (exit 1)
if any run is not `correct` or has `failed` > 0.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

METRICS = {"setup_s": "lower", "op_ms_p50": "lower", "rows_per_s": "higher",
           "lake_mb": "lower"}


def run_once(checkout, workload, seed, seconds):
    load = os.getloadavg()[0]
    start = time.time()
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds)],
                       cwd=checkout, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.exit(f"run failed in {checkout} (seed {seed}, exit {r.returncode}):\n"
                 f"{r.stderr[-2000:]}")
    out = json.loads(lines[-1])
    return {"seed": seed, "load_1m": load, "wall_s": round(time.time() - start, 1),
            "correct": out.get("correct"), "failed": out.get("failed"),
            "metrics": {k: v["value"] for k, v in out.get("metrics", {}).items()}}


def quartile_spread(xs):
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def summarise(runs):
    bad = [(side, r["seed"]) for side in "AB" for r in runs[side]
           if r["correct"] is not True or r["failed"] != 0]
    if bad:
        sys.exit(f"not summarised: incorrect or failed runs {bad}")
    rows = []
    for m, better in METRICS.items():
        a = [r["metrics"][m] for r in runs["A"]]
        b = [r["metrics"][m] for r in runs["B"]]
        wins = sum((y < x) if better == "lower" else (y > x) for x, y in zip(a, b))
        ma, mb = statistics.median(a), statistics.median(b)
        rows.append({"metric": m, "median_a": ma, "median_b": mb,
                     "iqr_a": quartile_spread(a), "iqr_b": quartile_spread(b),
                     "b_over_a": mb / ma if ma else float("nan"),
                     "b_wins": wins, "pairs": len(a)})
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--out")
    args = ap.parse_args()
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    runs = {"A": [], "B": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        for side in ("AB" if i % 2 == 0 else "BA"):
            r = run_once(sides[side], args.workload, seed, args.seconds)
            runs[side].append(r)
            print(f"[perf_ab] pair {i} {side} seed {seed} load {r['load_1m']:.2f} "
                  f"correct {r['correct']} failed {r['failed']} "
                  + " ".join(f"{m} {r['metrics'].get(m)}" for m in METRICS),
                  file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "checkouts": sides, "runs": runs},
                      f, indent=1)
    for row in summarise(runs):
        print(f"{row['metric']:<11} A {row['median_a']:.4g} (IQR/med {row['iqr_a']:.3f})  "
              f"B {row['median_b']:.4g} (IQR/med {row['iqr_b']:.3f})  "
              f"B/A {row['b_over_a']:.3f}  B won {row['b_wins']}/{row['pairs']}")


if __name__ == "__main__":
    main()
