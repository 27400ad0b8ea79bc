#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent vs change).

    python3 perfbench/compare.py --parent 'runs/parent/*.out' --change 'runs/change/*.out'

Each file is the standard output of one `perfbench/run.py` run. Untraced
runs give the end-to-end table: per workload and metric, each side's median
and quartiles, the share of pairs the change wins (the i-th run of each
side, in file-name order, form a pair; ties count for neither) and a
verdict:

- improved: the change wins at least 9 in 10 pairs and the medians differ
  by more than the parent's own quartile spread, in the better direction;
- worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
- unresolved: the parent's quartile spread is wider than the bound, unless
  every change run reads better than every parent run;
- within bound: otherwise.

Traced runs (--trace 1) give the per-layer table: each side's median and
the change's relative delta.
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def load(pattern):
    """{workload: {"e2e": [metrics...], "layers": [metrics...]}} in file-name order."""
    out = {}
    for path in sorted(glob.glob(pattern)):
        with open(path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        head = next((ln for ln in lines if ln.startswith("workload=")), None)
        if not head or not lines[-1].startswith("{"):
            print(f"skipping {path}: not a benchmark run output")
            continue
        workload = head.split()[0].split("=", 1)[1]
        res = json.loads(lines[-1])
        metrics = {k: v["value"] for k, v in res["metrics"].items()}
        kind = "layers" if any("." in k for k in metrics) else "e2e"
        out.setdefault(workload, {"e2e": [], "layers": []})[kind].append(metrics)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(parent, change, better, bound):
    sign = 1 if better == "lower" else -1  # sign * (change - parent) < 0 means the change is better
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(change)
    spread = p3 - p1
    if pairs and wins >= 0.9 * len(pairs) and sign * (cm - pm) < 0 and abs(cm - pm) > spread:
        v = "improved"
    elif sign * (cm - pm) > bound * abs(pm):
        v = "worse"
    elif pm and spread / abs(pm) > bound and not all(sign * (c - p) < 0 for c in change for p in parent):
        v = "unresolved"
    else:
        v = "within bound"
    return wins, len(pairs), v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="glob of the parent's run outputs")
    ap.add_argument("--change", required=True, help="glob of the change's run outputs")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parent, change = load(args.parent), load(args.change)
    for w in sorted(set(parent) & set(change)):
        pe, ce = parent[w]["e2e"], change[w]["e2e"]
        if pe and ce:
            print(f"\n{w}: {len(pe)} parent runs, {len(ce)} change runs")
            print(f"  {'metric':30s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} {'wins':>7s}  verdict")
            for m in spec["end_to_end"]:
                k = m["name"]
                p = [r[k] for r in pe if k in r]
                c = [r[k] for r in ce if k in r]
                if not p or not c:
                    continue
                wins, n, v = verdict(p, c, m["better"], m["bound"])
                fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))  # noqa: E731
                print(f"  {k:30s} {fmt(p):>30s} {fmt(c):>30s} {wins:>3d}/{n:<3d}  {v}")
        pl, cl = parent[w]["layers"], change[w]["layers"]
        if pl and cl:
            print(f"\n{w} per layer: {len(pl)} parent traced runs, {len(cl)} change traced runs")
            for m in spec["per_layer"]:
                k = m["name"]
                pm = statistics.median(r[k] for r in pl)
                cm = statistics.median(r[k] for r in cl)
                delta = f"{(cm - pm) / abs(pm) * 100:+.1f}%" if pm else "n/a"
                print(f"  {k:34s} {pm:12.5g} {cm:12.5g} {delta:>9s}  ({m['better']} is better)")


if __name__ == "__main__":
    main()
