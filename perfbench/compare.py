#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR [--bench BENCHMARK.json]

Each directory holds run detail files as perfbench/run.py writes them
(.bench_build/perfbench/results/<workload>-seed<n>-trace<t>.json; copy
the results directory aside between the two sets). For every workload
and end-to-end metric it prints each side's median and quartiles, the
run-to-run spread (quartile distance over median) and a verdict against
the metric's bound in BENCHMARK.json:

  agree       the medians differ by no more than the bound, and both
              spreads are within it
  worse       the change's median is worse than the base's by more than
              the bound
  better      the change's median is better by more than the bound
  unresolved  a spread is wider than the bound

Runs of the two sets with the same workload and seed form a pair. With
at least 10 pairs the pairing rule for claiming a gain is applied: the
change must win at least 9 in 10 pairs (ties count for neither side)
and the medians must differ by more than the base's own quartile
distance. Run the pairs alternating which side goes first.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace"):
            continue
        runs.setdefault(r["workload"], {})[r["seed"]] = r
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--bench", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.bench) as f:
        metrics = json.load(f)["end_to_end"]
    base, change = load(args.base), load(args.change)
    if not base or not change:
        sys.exit("no untraced run results found in one of the directories")
    for wl in sorted(set(base) & set(change)):
        a, b = base[wl], change[wl]
        seeds = sorted(set(a) & set(b))
        print(f"== {wl}: {len(a)} base runs, {len(b)} change runs, {len(seeds)} pairs")
        print(f"{'metric':18s} {'base median [q1, q3]':>34s} {'change median [q1, q3]':>34s} "
              f"{'spread':>13s} verdict  pairing")
        for m in metrics:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            xa = [r["end_to_end"][name]["value"] for r in a.values()]
            xb = [r["end_to_end"][name]["value"] for r in b.values()]
            qa, qb = quartiles(xa), quartiles(xb)
            sa = (qa[2] - qa[0]) / qa[1] if qa[1] else float("inf")
            sb = (qb[2] - qb[0]) / qb[1] if qb[1] else float("inf")
            rel = (qb[1] - qa[1]) / qa[1] if qa[1] else float("inf")
            worse = rel > bound if lower else rel < -bound
            better = rel < -bound if lower else rel > bound
            if sa > bound or sb > bound:
                verdict = "unresolved"
            elif worse:
                verdict = "worse"
            elif better:
                verdict = "better"
            else:
                verdict = "agree"
            if len(seeds) >= 10:
                wins = losses = 0
                for s in seeds:
                    va = a[s]["end_to_end"][name]["value"]
                    vb = b[s]["end_to_end"][name]["value"]
                    if vb != va:
                        if (vb < va) == lower:
                            wins += 1
                        else:
                            losses += 1
                gain = wins >= 0.9 * len(seeds) and abs(qb[1] - qa[1]) > qa[2] - qa[0]
                pairing = f"{wins}/{len(seeds)} won, {'gain' if gain else 'no gain'}"
            else:
                pairing = f"n/a (<10 pairs)"
            print(f"{name:18s} {qa[1]:12.6g} [{qa[0]:9.6g}, {qa[2]:9.6g}] "
                  f"{qb[1]:12.6g} [{qb[0]:9.6g}, {qb[2]:9.6g}] "
                  f"{sa:6.1%}/{sb:6.1%} {verdict:10s} {pairing}")
        print()


if __name__ == "__main__":
    main()
