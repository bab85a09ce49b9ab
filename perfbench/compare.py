#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR
        One row per workload x end-to-end metric: median and quartiles of
        each set, the relative difference, and a verdict against the
        metric's bound (BENCHMARK.json; 0.25 for metrics it does not list).

    python3 perfbench/compare.py --spread DIR
        Median and spread (interquartile distance over the median) of each
        workload x end-to-end metric over one set, against the bound.

    python3 perfbench/compare.py --layers BASE.json NEW.json
        Per-layer diff of two traced runs. Count metrics (jobs, tasks,
        shuffle, scan and file counts) are flagged when they change: they
        do not move with host noise.

A set is a directory of full results as run.py writes them
(.bench_build/results/<workload>-s<seed>-t0.json); copy that directory
aside between the two sets.
"""
import glob
import json
import os
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_BOUND = 0.25
# Descriptors printed beside tail metrics; they are not compared.
SKIP_SUFFIXES = ("_pct", "_samples_beyond")
COUNT_UNITS = ("count", "B")


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def load_set(d):
    """{workload: {metric: [values]}} over the untraced results in `d`."""
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*-t0.json"))):
        with open(path) as f:
            r = json.load(f)
        w = out.setdefault(r["workload"], {})
        for name, m in r["end_to_end"].items():
            if not name.endswith(SKIP_SUFFIXES):
                w.setdefault(name, []).append(m["value"])
    return out


def verdict(base, new, bound, better):
    """better / worse / unchanged / unresolved, as choosing-metrics 6.5
    reads: a spread wider than the bound leaves the comparison unresolved
    unless every run of one set beats every run of the other."""
    _, mb, _ = stats.quartiles(base)
    _, mn, _ = stats.quartiles(new)
    sign = 1.0 if better == "lower" else -1.0
    if mb == 0:
        change = 0.0 if mn == 0 else sign * float("inf")
    else:
        change = sign * (mn - mb) / abs(mb)   # > 0: worse
    wide = max(spread_of(base), spread_of(new)) > bound

    def beats(a, b):
        return max(a) < min(b) if better == "lower" else min(a) > max(b)
    if wide:
        if beats(new, base):
            return "better", change
        if beats(base, new):
            return "worse", change
        return "unresolved", change
    if change > bound:
        return "worse", change
    if change < -bound:
        return "better", change
    return "unchanged", change


def spread_of(values):
    _, med, _ = stats.quartiles(values)
    if med == 0:
        return 0.0 if max(values) == min(values) == 0 else float("inf")
    return stats.spread(values)


def compare_sets(base_dir, new_dir):
    spec = load_spec()
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    base, new = load_set(base_dir), load_set(new_dir)
    rows = []
    for w in sorted(set(base) & set(new)):
        for name in sorted(set(base[w]) & set(new[w])):
            bound, better = bounds.get(name, (DEFAULT_BOUND, "higher" if name.endswith("_per_s")
                                              else "lower"))
            v, change = verdict(base[w][name], new[w][name], bound, better)
            rows.append((w, name, stats.quartiles(base[w][name]),
                         stats.quartiles(new[w][name]), change, bound, v))
    return rows


def compare_layers(base_path, new_path):
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    with open(base_path) as f:
        a = json.load(f)["per_layer"]
    with open(new_path) as f:
        b = json.load(f)["per_layer"]
    rows = []
    for name in sorted(set(a) | set(b)):
        x, y = a.get(name, 0.0), b.get(name, 0.0)
        rel = (y - x) / abs(x) if x else (0.0 if y == x else float("inf"))
        flag = units.get(name) in COUNT_UNITS and abs(y - x) > 1e-9
        rows.append((name, x, y, rel, flag))
    return rows


def main(argv):
    if len(argv) == 2 and argv[0] == "--spread":
        bounds = {m["name"]: m["bound"] for m in load_spec()["end_to_end"]}
        print(f"{'workload':14} {'metric':22} {'runs':>4} {'median':>12} {'spread':>8} {'bound':>6}")
        for w, metrics in sorted(load_set(argv[1]).items()):
            for name, values in sorted(metrics.items()):
                bound = bounds.get(name, DEFAULT_BOUND)
                print(f"{w:14} {name:22} {len(values):4d} {stats.quartiles(values)[1]:12.5g} "
                      f"{spread_of(values):8.3f} {bound:6.2f}")
        return 0
    if len(argv) == 3 and argv[0] == "--layers":
        print(f"{'metric':52} {'base':>14} {'new':>14} {'change':>9}  flag")
        for name, x, y, rel, flag in compare_layers(argv[1], argv[2]):
            print(f"{name:52} {x:14.6g} {y:14.6g} {rel:+9.1%}  {'COUNT-CHANGED' if flag else ''}")
        return 0
    if len(argv) != 2:
        print(__doc__)
        return 2
    print(f"{'workload':14} {'metric':20} {'base q1/med/q3':>32} {'new q1/med/q3':>32} "
          f"{'change':>8} {'bound':>6}  verdict")
    for w, name, (a1, am, a3), (b1, bm, b3), change, bound, v in compare_sets(*argv):
        print(f"{w:14} {name:20} {a1:10.4g}/{am:10.4g}/{a3:10.4g} {b1:10.4g}/{bm:10.4g}/{b3:10.4g} "
              f"{change:+8.1%} {bound:6.2f}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
