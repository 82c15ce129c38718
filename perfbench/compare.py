#!/usr/bin/env python3
"""Compares two commits' benchmark run sets.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl [--bench BENCHMARK.json]

Each file holds the standard output of several run.py invocations (any
number of runs, workloads and seeds, traced or not); only the
{"perfbench": ...} report lines are read. Runs of the two sets are paired by
(workload, seed), which is how alternating parent/change runs line up; a
seed run more than once pairs its k-th base run with its k-th change run.

One row per (end-to-end metric, workload): each side's median and
quartiles over all its runs, the change's win fraction over seed-paired
runs, and a verdict:
  improved    the change wins at least 9 in 10 pairs and the medians differ
              by more than the base's own interquartile distance;
  regressed   the change's median is worse than the base's by more than the
              metric's bound;
  unresolved  either side's spread exceeds the bound (unless every change
              run beats every base run);
  same        otherwise.
Under each workload, the traced per-layer medians of both sides and their
change, largest moves first.
"""

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load(path):
    """{(workload, trace): [report, ...]} in file order."""
    runs = {}
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith('{"perfbench"'):
                continue
            r = json.loads(line)["perfbench"]
            runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def values(runs, metric):
    """[(seed, value)] of `metric` over runs, in file order. Every run
    counts, also when a seed repeats."""
    return [(r["seed"], r["metrics"][metric]["value"]) for r in runs
            if metric in r["metrics"]]


def seed_pairs(base, change):
    """(base value, change value) pairs of runs with one seed, from two
    [(seed, value)] lists: the k-th base run of a seed with its k-th change
    run."""
    def by_seed(xs):
        out = {}
        for s, v in xs:
            out.setdefault(s, []).append(v)
        return out
    cs = by_seed(change)
    return [p for s, vs in by_seed(base).items() for p in zip(vs, cs.get(s, []))]


def verdict(base, change, bound, lower_is_better=True, pairs=()):
    """(verdict, base quartiles, change quartiles, win fraction) from each
    side's values and the (base, change) pairs of runs with one seed."""
    qb, qc = stats.quartiles(base), stats.quartiles(change)
    wins = stats.pair_wins(*zip(*pairs), lower_is_better) if pairs else None
    sign = 1 if lower_is_better else -1
    worse = sign * (qc[1] - qb[1]) / qb[1] if qb[1] else 0.0
    all_better = (max(change) < min(base)) if lower_is_better \
        else (min(change) > max(base))
    if worse > bound:
        v = "regressed"
    elif (stats.spread(base) > bound or stats.spread(change) > bound) \
            and not all_better:
        v = "unresolved"
    elif wins is not None and wins >= 0.9 and abs(qc[1] - qb[1]) > qb[2] - qb[0]:
        v = "improved"
    else:
        v = "same"
    return v, qb, qc, wins


def fmt(x):
    return f"{x:.4g}"


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    a = ap.parse_args(argv)
    with open(a.bench) as fh:
        bench = json.load(fh)
    base, change = load(a.base), load(a.change)
    for wl in [w["name"] for w in bench["workloads"]]:
        b0, c0 = base.get((wl, 0), []), change.get((wl, 0), [])
        print(f"\n## {wl} ({len(b0)} base runs, {len(c0)} change runs)\n")
        print("| metric | unit | base q1/med/q3 | change q1/med/q3 | change | "
              "pair wins | bound | verdict |")
        print("|---|---|---|---|---|---|---|---|")
        for m in bench["end_to_end"]:
            vb, vc = values(b0, m["name"]), values(c0, m["name"])
            if not vb or not vc:
                print(f"| {m['name']} | {m['unit']} | - | - | - | - | "
                      f"{m['bound']} | no runs |")
                continue
            pairs = seed_pairs(vb, vc)
            v, qb, qc, wins = verdict([v for _, v in vb], [v for _, v in vc],
                                      m["bound"], m["better"] == "lower", pairs)
            delta = (qc[1] / qb[1] - 1) if qb[1] else float("nan")
            won = f"{wins:.0%} of {len(pairs)}" if pairs else "no pairs"
            print(f"| {m['name']} | {m['unit']} | {'/'.join(map(fmt, qb))} | "
                  f"{'/'.join(map(fmt, qc))} | {delta:+.1%} | {won} | "
                  f"{m['bound']} | {v} |")
        b1, c1 = base.get((wl, 1), []), change.get((wl, 1), [])
        if not b1 or not c1:
            print("\n(no traced runs on both sides: no per-layer deltas)")
            continue
        rows = []
        for m in bench["per_layer"]:
            xb = [r["metrics"][m["name"]]["value"] for r in b1 if m["name"] in r["metrics"]]
            xc = [r["metrics"][m["name"]]["value"] for r in c1 if m["name"] in r["metrics"]]
            if not xb or not xc:
                continue
            mb, mc = statistics.median(xb), statistics.median(xc)
            delta = (mc / mb - 1) if mb else (0.0 if mc == 0 else float("inf"))
            rows.append((abs(delta), m["name"], m["unit"], mb, mc, delta))
        print(f"\nTraced per-layer medians ({len(b1)} base, {len(c1)} change runs):\n")
        print("| layer metric | unit | base | change | change |")
        print("|---|---|---|---|---|")
        for _, name, unit, mb, mc, delta in sorted(rows, reverse=True):
            print(f"| {name} | {unit} | {fmt(mb)} | {fmt(mc)} | {delta:+.1%} |")


if __name__ == "__main__":
    main()
