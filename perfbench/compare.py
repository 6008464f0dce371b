#!/usr/bin/env python3
"""Compare two result sets of the benchmark, metric by metric.

    python3 perfbench/compare.py parent.jsonl change.jsonl

A result set is a JSON-lines file that `run.py --record FILE` appends to, one
line per run: {"workload", "seed", "trace", "result"}. Run the two commits
alternately (parent, change, parent, change, ...) with the same seeds and
run length; the i-th runs of a workload on each side form a pair.

One row per workload and metric: each side's median and quartiles, the share
of pairs the change wins (ties count for neither), and a verdict for the
end-to-end metrics against the bound in BENCHMARK.json:

- unresolved: a side's spread (quartile distance over median) exceeds the
  bound, and not every change run beats every parent run;
- worse: the change's median is worse than the parent's by more than the
  bound;
- better: the change wins at least 9 of 10 pairs and the medians differ by
  more than the parent's quartile distance;
- same: none of the above (within the bound).

Per-layer metrics (runs made with --trace 1) get the same columns and no
verdict; they have no bound. Exit code 1 when any row is worse.
"""

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    """{(workload, trace): [metrics dict per run, in file order]}"""
    out = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                out.setdefault((r["workload"], r["trace"]), []).append(
                    {k: v["value"] for k, v in r["result"]["metrics"].items()})
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def row(name, a, b, better, bound):
    ma, mb = statistics.median(a), statistics.median(b)
    qa, qb = quartiles(a), quartiles(b)
    sign = 1 if better == "higher" else -1
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    win = wins / len(pairs) if pairs else 0.0
    verdict = ""
    if bound is not None:
        spread = max((qa[1] - qa[0]) / abs(ma) if ma else 0.0,
                     (qb[1] - qb[0]) / abs(mb) if mb else 0.0)
        all_better = all(sign * (y - x) > 0 for x in a for y in b)
        worse_by = sign * (ma - mb) / abs(ma) if ma else 0.0
        if spread > bound and not all_better:
            verdict = "unresolved"
        elif worse_by > bound:
            verdict = "worse"
        elif win >= 0.9 and abs(mb - ma) > qa[1] - qa[0]:
            verdict = "better"
        else:
            verdict = "same"
    rel = (mb - ma) / abs(ma) if ma else 0.0
    return (f"{name:34s} {ma:11.4g} [{qa[0]:.4g}, {qa[1]:.4g}]"
            f" {mb:11.4g} [{qb[0]:.4g}, {qb[1]:.4g}] {rel:+7.1%}"
            f" {win:5.0%} ({len(pairs)}) {verdict}"), verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    pa, pb = load(a.parent), load(a.change)
    worse = False
    for key in sorted(set(pa) & set(pb)):
        workload, trace = key
        print(f"== {workload} ({'per-layer' if trace else 'end-to-end'}): "
              f"{len(pa[key])} parent runs, {len(pb[key])} change runs")
        print(f"{'metric':34s} {'parent':>11s} {'[q1, q3]':14s} {'change':>11s}"
              f" {'[q1, q3]':14s} {'delta':>7s} {'wins':>5s}")
        for name in better:
            xs = [r[name] for r in pa[key] if name in r]
            ys = [r[name] for r in pb[key] if name in r]
            if not xs or not ys:
                continue
            bound = bounds[name]["bound"] if name in bounds and not trace else None
            text, verdict = row(name, xs, ys, better[name], bound)
            worse |= verdict == "worse"
            print(text)
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
