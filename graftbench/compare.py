#!/usr/bin/env python3
"""Summarize or compare graftbench result sets.

A result set is a file holding the standard output of any number of
`graftbench/run.py` runs (each run prints one {"graftbench": ...} line).

    python3 graftbench/compare.py parent.log              # spread of one set
    python3 graftbench/compare.py parent.log change.log   # parent vs change

For one set it prints, per workload x metric, the run count, median,
quartiles and spread ((q3 - q1) / median). For two sets it pairs runs by
(workload, seed, trace) and prints both medians and quartiles, the change's
win share over the pairs (ties count for neither side) and a verdict:

  improved    the change wins >= 9/10 of the pairs and the medians differ
              by more than the parent's interquartile range;
  worse       the change's median is worse than the parent's by more than
              the metric's bound (BENCHMARK.json), or, for a metric without
              a bound, the parent wins >= 9/10 of the pairs by more than the
              parent's interquartile range;
  unresolved  either side's spread exceeds the bound and not every run of
              the change reads better than every run of the parent;
  unchanged   otherwise.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path):
    """(workload, seed, trace) -> {metric: value}, plus error rates."""
    runs = {}
    with open(path) as fh:
        for line in fh:
            if not line.startswith('{"graftbench"'):
                continue
            r = json.loads(line)["graftbench"]
            vals = {m: v["value"] for m, v in r["metrics"].items()}
            vals["error_rate"] = r["error_rate"]
            runs[(r["workload"], r["seed"], bool(r["trace"]))] = vals
    return runs


def spec(path):
    """metric -> (better, bound or None) from BENCHMARK.json."""
    out = {"error_rate": ("lower", 0.0)}
    if path and os.path.exists(path):
        with open(path) as fh:
            s = json.load(fh)
        for m in s.get("end_to_end", []):
            out[m["name"]] = (m["better"], m["bound"])
        for m in s.get("per_layer", []):
            out[m["name"]] = (m["better"], None)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(q1, med, q3):
    """(q3 - q1) / median; a metric stuck at 0 (error_rate) has none."""
    if med:
        return (q3 - q1) / abs(med)
    return 0.0 if q3 == q1 else float("inf")


def series(runs, workload, trace, metric):
    return {seed: v[metric] for (w, seed, t), v in runs.items()
            if w == workload and t == trace and metric in v and v[metric] is not None}


def verdict(a, b, better, bound):
    """a, b: seed -> value for parent and change."""
    sign = 1 if better == "higher" else -1
    pairs = [s for s in a if s in b]
    wins = sum(1 for s in pairs if sign * (b[s] - a[s]) > 0)
    losses = sum(1 for s in pairs if sign * (b[s] - a[s]) < 0)
    av, bv = sorted(a.values()), sorted(b.values())
    qa1, ma, qa3 = quartiles(av)
    qb1, mb, qb3 = quartiles(bv)
    iqr_a = qa3 - qa1
    diff = sign * (mb - ma)
    share = wins / len(pairs) if pairs else 0.0
    spread_a = spread(qa1, ma, qa3)
    spread_b = spread(qb1, mb, qb3)
    all_better = all(sign * (x - y) > 0 for x in bv for y in av)
    if pairs and share >= 0.9 and diff > iqr_a:
        v = "improved"
    elif bound is not None and ma and -diff > bound * abs(ma):
        v = "worse"
    elif bound is None and pairs and losses / len(pairs) >= 0.9 and -diff > iqr_a:
        v = "worse"
    elif bound is not None and max(spread_a, spread_b) > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return (ma, qa1, qa3), (mb, qb1, qb3), share, len(pairs), v


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args()
    specs = spec(args.bench)
    a = load(args.parent)
    b = load(args.change) if args.change else None
    keys = sorted({(w, t) for (w, _, t) in a})
    for w, t in keys:
        print(f"== {w} ({'traced' if t else 'untraced'})")
        metrics = sorted({m for (ww, _, tt), v in a.items() if ww == w and tt == t for m in v})
        for m in metrics:
            better, bound = specs.get(m, ("higher", None))
            sa = series(a, w, t, m)
            if not sa:
                continue
            if b is None:
                q1, med, q3 = quartiles(sorted(sa.values()))
                sp = spread(q1, med, q3)
                flag = "  OVER BOUND/3" if bound is not None and sp > bound / 3 else ""
                print(f"  {m:<40} n={len(sa):<3} median={med:<12.6g} q1={q1:<12.6g} q3={q3:<12.6g} "
                      f"spread={sp:.4f}{flag}")
            else:
                sb = series(b, w, t, m)
                if not sb:
                    continue
                (ma, qa1, qa3), (mb, qb1, qb3), share, n, v = verdict(sa, sb, better, bound)
                print(f"  {m:<40} parent {ma:.6g} [{qa1:.6g}, {qa3:.6g}]  change {mb:.6g} "
                      f"[{qb1:.6g}, {qb3:.6g}]  wins {share:.2f} of {n}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
