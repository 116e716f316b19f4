#!/usr/bin/env python3
"""Compare two sets of benchmark runs (a parent and a change).

Usage: python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds the lines `run.py --log FILE` appends, one per run. For
every workload and end-to-end metric it prints each side's median and
quartiles, the fraction of pairs the change won and a verdict against
the bound in BENCHMARK.json:

  improved    the change won at least 9/10 of the pairs and the medians
              differ by more than the parent's own quartile distance;
  worse       the change's median is worse by more than the bound;
  unresolved  the runs spread wider than the bound, so neither holds;
  unchanged   otherwise.

Runs pair by seed where both sides ran it, else in file order; ties count
for neither side. Traced runs (--trace 1) add a per-layer diff of medians
and the tracing overhead: traced minus untraced `pass_s`.
"""
import json
import os
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(q):
    return f"{q[1]:.4g} [{q[0]:.4g},{q[2]:.4g}]"


def values(runs, workload, trace, metric):
    return {r["seed"]: r["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == trace and metric in r["metrics"]}


def pairs(a, b):
    common = sorted(set(a) & set(b))
    if common:
        return [(a[s], b[s]) for s in common]
    return list(zip(a.values(), b.values()))


def verdict(base, change, better, bound):
    """Returns (fraction of pairs won, verdict) by the rule in the doc."""
    bq1, bmed, bq3 = quartiles(list(base.values()))
    cq1, cmed, cq3 = quartiles(list(change.values()))
    sign = 1 if better == "lower" else -1
    ps = pairs(base, change)
    won = sum(1 for b, c in ps if sign * (b - c) > 0)
    frac = won / len(ps) if ps else 0.0
    spread = max((bq3 - bq1) / bmed if bmed else 0.0, (cq3 - cq1) / cmed if cmed else 0.0)
    worse_by = sign * (cmed - bmed) / bmed if bmed else 0.0
    bv, cv = list(base.values()), list(change.values())
    everyone_better = max(cv) < min(bv) if better == "lower" else min(cv) > max(bv)
    if everyone_better or (frac >= 0.9 and sign * (bmed - cmed) > (bq3 - bq1)):
        return frac, "improved"
    if worse_by > bound:
        return frac, "worse" if spread <= bound else "unresolved"
    if spread > bound:
        return frac, "unresolved"
    return frac, "unchanged"


def main(base_path, change_path):
    spec = json.load(open(os.path.join(os.getcwd(), "BENCHMARK.json")))
    base, change = load(base_path), load(change_path)
    workloads = [w["name"] for w in spec["workloads"]]
    print(f"{'workload':16s} {'metric':18s} {'base med [q1,q3]':>30s} "
          f"{'change med [q1,q3]':>30s} {'ratio':>7s} {'won':>5s}  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            a, b = values(base, w, 0, m["name"]), values(change, w, 0, m["name"])
            if not a or not b:
                continue
            aq, bq = quartiles(list(a.values())), quartiles(list(b.values()))
            frac, v = verdict(a, b, m["better"], m["bound"])
            ratio = bq[1] / aq[1] if aq[1] else float("nan")
            print(f"{w:16s} {m['name']:18s} {spread(aq):>30s} {spread(bq):>30s} "
                  f"{ratio:7.3f} {frac:5.2f}  {v}")
        for name, runs in (("base", base), ("change", change)):
            att = sum(r["attempted"] for r in runs if r["workload"] == w)
            bad = sum(r["failed"] for r in runs if r["workload"] == w)
            if att:
                print(f"{w:16s} {'fail_frac':18s} {name}: {bad}/{att} = {bad / att:.4g}")

    traced = [m["name"] for m in spec["per_layer"]]
    if any(r["trace"] == 1 for r in base + change):
        print("\nper-layer medians (traced runs)")
        for w in workloads:
            for m in traced:
                a = list(values(base, w, 1, m).values())
                b = list(values(change, w, 1, m).values())
                if (a or b) and any(x != 0 for x in a + b):
                    am = statistics.median(a) if a else float("nan")
                    bm = statistics.median(b) if b else float("nan")
                    ratio = bm / am if a and b and am else float("nan")
                    print(f"{w:16s} {m:36s} {am:>14.6g} {bm:>14.6g} {ratio:8.3f}")
        for name, runs in (("base", base), ("change", change)):
            for w in workloads:
                t = list(values(runs, w, 1, "trace.pass_s").values())
                u = list(values(runs, w, 0, "pass_s").values())
                if t and u:
                    tm, um = statistics.median(t), statistics.median(u)
                    print(f"tracing overhead {name} {w}: pass_s traced {tm:.4g} s - "
                          f"untraced {um:.4g} s = {tm - um:+.4g} s ({(tm - um) / um:+.1%})")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
