#!/usr/bin/env python3
"""Compare two sets of benchmark result files: a parent commit and a change.

    python3 perfbench/compare.py PARENT_RESULTS_DIR CHANGE_RESULTS_DIR

Each directory holds the result files `run.py --results DIR` wrote, made
with the same --seconds. Untraced runs are paired by seed (in start order
when seeds differ); the pairs should alternate which side ran first, and a
warning says when they did not. One row per (workload, metric):

- medians and quartiles of each side, and how many pairs the change won
  (ties count for neither side);
- "unresolved" when the parent's spread is wider than the metric's bound
  in BENCHMARK.json, unless every change run beat every parent run;
- else "REGRESSION" when the change's median is worse than the parent's
  by more than the bound;
- else "gain" when there are at least 10 pairs, the change won at least
  9/10 of them and the medians differ by more than the parent's
  interquartile spread ("too few pairs" when it would be a gain but there
  are fewer than 10);
- fail_ratio is compared too: any rise in failed operations is a
  regression, and a gain does not count when it rises.

Exits 1 when any row is a regression.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PAIRS = 10


def load(d):
    runs = []
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path) as fh:
            r = json.load(fh)
        if r.get("trace") == 0:
            runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def pairs_of(parent, change):
    by_seed = {r["seed"]: r for r in change}
    if all(r["seed"] in by_seed for r in parent):
        return [(p, by_seed[p["seed"]]) for p in parent]
    return list(zip(sorted(parent, key=lambda r: r["started_at"]),
                    sorted(change, key=lambda r: r["started_at"])))


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = [(m["name"], m["better"], m["bound"]) for m in bench["end_to_end"]]
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    workloads = sorted({r["workload"] for r in parent} & {r["workload"] for r in change})
    regressions = 0
    print(f"{'workload':<14} {'metric':<12} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} "
          f"{'wins':>7}  verdict")
    for w in workloads:
        pairs = pairs_of([r for r in parent if r["workload"] == w], [r for r in change if r["workload"] == w])
        firsts = ["parent" if p["started_at"] < c["started_at"] else "change" for p, c in pairs]
        if any(a == b for a, b in zip(firsts, firsts[1:])):
            print(f"warning: {w}: pairs do not alternate which side ran first ({', '.join(firsts)})")
        p_fail = sum(p["failed"] for p, _ in pairs)
        c_fail = sum(c["failed"] for _, c in pairs)
        p_att = sum(p["attempted"] for p, _ in pairs) or 1
        c_att = sum(c["attempted"] for _, c in pairs) or 1
        fail_up = c_fail / c_att > p_fail / p_att
        print(f"{w:<14} {'fail_ratio':<12} {p_fail / p_att:>28.4f} {c_fail / c_att:>28.4f} {'':>7}  "
              f"{'REGRESSION' if fail_up else 'no regression'}")
        regressions += fail_up
        for name, better, bound in metrics:
            ok = [(p["end_to_end"][name], c["end_to_end"][name]) for p, c in pairs
                  if name in p["end_to_end"] and name in c["end_to_end"]]
            if not ok:
                continue
            pv, cv = [a for a, _ in ok], [b for _, b in ok]
            sign = 1 if better == "higher" else -1
            wins = sum(1 for a, b in ok if sign * (b - a) > 0)
            pq, cq = quartiles(pv), quartiles(cv)
            spread = pq[2] - pq[0]
            worse_by = sign * (pq[1] - cq[1]) / pq[1]
            if spread / pq[1] > bound and not all(sign * (b - a) > 0 for a in pv for b in cv):
                verdict = "unresolved (parent spread wider than bound)"
            elif worse_by > bound:
                verdict = "REGRESSION"
                regressions += 1
            elif wins >= 0.9 * len(ok) and abs(cq[1] - pq[1]) > spread and sign * (cq[1] - pq[1]) > 0 \
                    and not fail_up:
                verdict = "gain" if len(ok) >= MIN_PAIRS else f"too few pairs ({len(ok)} < {MIN_PAIRS})"
            else:
                verdict = "no regression"
            print(f"{w:<14} {name:<12} {pq[0]:>9.4g}/{pq[1]:>8.4g}/{pq[2]:>9.4g} "
                  f"{cq[0]:>9.4g}/{cq[1]:>8.4g}/{cq[2]:>9.4g} {wins:>3}/{len(ok):<3}  {verdict}")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
