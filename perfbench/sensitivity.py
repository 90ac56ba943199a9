#!/usr/bin/env python3
"""Sensitivity proof: a delay injected by the harness must read as a
regression on the workload it is injected into, and nowhere else.

    python3 perfbench/sensitivity.py --pairs 10

For every workload in BENCHMARK.json, runs `--pairs` rounds of three runs on
one seed each: two baselines (A, B) and one delayed run (D), the order rotated
from round to round. The delayed run pauses every timed request for `--share`
(default 10%) of the workload's first baseline `p50_ms`: on the server's
dispatcher thread before the route handler (served workloads), or inside the
op (batch). Runs last BENCHMARK.json's `run_seconds`.

Per workload and end-to-end metric (except `setup_s`, whose set-up is never
delayed) two comparisons are made on the paired per-round changes:
  - delayed:  D against A, which must be flagged on the latency metrics;
  - null:     B against A, which must flag nothing.
A comparison is flagged as a regression when a one-sided Wilcoxon
signed-rank test over the rounds' relative changes gives p < 0.05 / (number
of metrics compared) in the worse direction (Bonferroni, so that the null
comparison of a whole workload errs at most one time in twenty). Each
comparison also reports the stricter gain rule used for claims: worse in at
least nine tenths of the rounds and medians apart by more than the
baseline's quartile distance (`strict`). Since the delay of one workload never reaches another
workload's runs, "flagged nowhere else" is the null comparison of every other
workload. The last line of standard output is the full report as JSON.
"""
import argparse
import itertools
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ALPHA = 0.05


def one(workload: str, seed: int, seconds: float, delay: float) -> dict:
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
                        "--delay-ms", str(delay)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        raise SystemExit(f"{workload} seed {seed}: {out['failed']} failed ops")
    return {k: v["value"] for k, v in out["metrics"].items()}


def wilcoxon_p(changes: list) -> float:
    """Exact one-sided p-value that the changes are not positive (signed-rank
    statistic of the positive side, every sign pattern enumerated)."""
    xs = [c for c in changes if c != 0]
    if not xs:
        return 1.0
    order = sorted(range(len(xs)), key=lambda i: abs(xs[i]))
    ranks = [0.0] * len(xs)
    i = 0
    while i < len(order):  # average ranks over ties
        j = i
        while j + 1 < len(order) and abs(xs[order[j + 1]]) == abs(xs[order[i]]):
            j += 1
        for k in range(i, j + 1):
            ranks[order[k]] = (i + j) / 2 + 1
        i = j + 1
    w = sum(r for r, x in zip(ranks, xs) if x > 0)
    hits = sum(1 for signs in itertools.product((0, 1), repeat=len(xs))
               if sum(r for r, s in zip(ranks, signs) if s) >= w)
    return hits / 2 ** len(xs)


def compare(base: list, other: list, better: dict) -> dict:
    out = {}
    metrics = [m for m in base[0] if m != "setup_s"]
    for m in metrics:
        sign = 1 if better[m] == "lower" else -1
        changes = [sign * (o[m] - b[m]) / b[m] for b, o in zip(base, other)]
        p = wilcoxon_p(changes)
        b, o = [r[m] for r in base], [r[m] for r in other]
        q = statistics.quantiles(b, n=4)
        worse = sum(1 for c in changes if c > 0)
        out[m] = {"base_median": statistics.median(b), "other_median": statistics.median(o),
                  "median_worsening": statistics.median(changes),
                  "worse_rounds": worse, "rounds": len(changes),
                  "p": p, "regression": p < ALPHA / len(metrics),
                  "strict": worse >= 0.9 * len(changes)
                  and sign * (statistics.median(o) - statistics.median(b)) > q[2] - q[0]}
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--share", type=float, default=0.10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--workload", action="append", help="limit to these workloads")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    report = {}
    for w in a.workload or [x["name"] for x in spec["workloads"]]:
        runs = {"A": [], "B": [], "D": []}
        delay = None
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = "ABD"[i % 3:] + "ABD"[:i % 3]
            for side in order:
                if side == "D" and delay is None:
                    # the delay is set by the first baseline, so that runs first
                    if not runs["A"]:
                        runs["A"].append(one(w, seed, seconds, 0.0))
                    delay = a.share * runs["A"][0]["p50_ms"]
                if len(runs[side]) <= i:
                    runs[side].append(one(w, seed, seconds, delay if side == "D" else 0.0))
            print(f"[sensitivity] {w} round {i + 1}/{a.pairs} done", file=sys.stderr, flush=True)
        report[w] = {"delay_ms": delay, "seconds": seconds,
                     "delayed": compare(runs["A"], runs["D"], better),
                     "null": compare(runs["A"], runs["B"], better)}
        for kind in ("delayed", "null"):
            flagged = [m for m, v in report[w][kind].items() if v["regression"]]
            print(f"{w} {kind}: regression flagged on {flagged or 'nothing'}", file=sys.stderr)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
