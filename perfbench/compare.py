#!/usr/bin/env python3
"""Compare two result sets of the benchmark, metric by metric.

    python3 perfbench/compare.py <parent_results_dir> <change_results_dir>

A result set is a directory of the per-run records perfbench/run.py writes
to .bench_work/results/ (`<workload>-seed<n>-trace0.json`); copy it away
between the two commits. Runs pair up by seed (by order when the seeds
differ). For each workload and end-to-end metric this prints both medians
and quartiles, the share of pairs the change won, and a verdict:

- better: the change won at least 9/10 of the pairs and the medians differ
  by more than the parent's own quartile spread (or every change run beats
  every parent run);
- worse: the change's median is worse than the parent's by more than the
  metric's bound, or the parent won 9/10 of the pairs by more than its
  spread;
- unchanged: neither, and the parent's spread is within the bound;
- unresolved: neither, and the spread is wider than the bound.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d):
    runs = {}
    for p in sorted(Path(d).glob("*-trace0.json")):
        r = json.loads(p.read_text())
        runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a, b):
    by_seed = {r["seed"]: r for r in a}
    if all(r["seed"] in by_seed for r in b):
        return [(by_seed[r["seed"]], r) for r in b]
    return list(zip(sorted(a, key=lambda r: r["seed"]), sorted(b, key=lambda r: r["seed"])))


def verdict(av, bv, better, bound, won, lost):
    sign = 1 if better == "higher" else -1
    q1, med_a, q3 = quartiles(av)
    med_b = statistics.median(bv)
    gain = sign * (med_b - med_a)          # > 0: the change is better
    spread = q3 - q1
    n = min(len(av), len(bv))
    dominates = all(sign * (b - a) > 0 for a in av for b in bv)
    if dominates or (won >= 0.9 * n and gain > spread):
        return "better"
    if -gain > bound * abs(med_a) or (lost >= 0.9 * n and -gain > spread):
        return "worse"
    return "unchanged" if spread <= bound * abs(med_a) else "unresolved"


def main(a_dir, b_dir):
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    a, b = load(a_dir), load(b_dir)
    print(f"{'workload':14} {'metric':18} {'parent median [q1,q3]':>30} "
          f"{'change median [q1,q3]':>30} {'won':>6}  verdict")
    for w in sorted(set(a) & set(b)):
        ps = pairs(a[w], b[w])
        for m in bench["end_to_end"]:
            k = m["name"]
            sign = 1 if m["better"] == "higher" else -1
            av = [x["e2e"][k] for x, _ in ps]
            bv = [y["e2e"][k] for _, y in ps]
            won = sum(1 for x, y in zip(av, bv) if sign * (y - x) > 0)
            lost = sum(1 for x, y in zip(av, bv) if sign * (y - x) < 0)
            qa, qb = quartiles(av), quartiles(bv)
            v = verdict(av, bv, m["better"], m["bound"], won, lost)
            print(f"{w:14} {k:18} {qa[1]:>12.4g} [{qa[0]:.4g},{qa[2]:.4g}]"
                  f"{'':>2} {qb[1]:>12.4g} [{qb[0]:.4g},{qb[2]:.4g}] "
                  f"{won}/{len(ps):<4}  {v}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
