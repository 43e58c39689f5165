#!/usr/bin/env python3
"""Compare two sets of benchmark runs, one row per (workload, metric).

    python3 perfbench/compare.py <parent records> <change records>

Each side is a directory of run records (as written under
.bench_build/perfbench/records) or a list of record files joined by
commas. Only untraced records count. Runs of the two sides with the same
workload and seed form a pair.

For every end-to-end metric in BENCHMARK.json, each side's median and
quartiles are printed with a verdict:

  improved    the change wins at least 9 in 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              own spread between quartiles;
  worse       the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  a side's spread between quartiles is wider than the bound,
              and not every change run beats every parent run;
  no change   otherwise.

Exit code 1 when any row is "worse".
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(side):
    paths = side.split(",") if "," in side or side.endswith(".json") else glob.glob(os.path.join(side, "*.json"))
    runs = {}
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        if r.get("trace") or r.get("smoke"):
            continue
        runs[(r["workload"], r["seed"])] = {k: v["value"] for k, v in r["end_to_end"].items()}
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(metric, a_runs, b_runs, pairs):
    bound, lower = metric["bound"], metric["better"] == "lower"
    sign = 1 if lower else -1  # positive = worse
    a_q1, a_med, a_q3 = quartiles(a_runs)
    b_q1, b_med, b_q3 = quartiles(b_runs)
    a_iqr = a_q3 - a_q1
    wins = sum(1 for a, b in pairs if sign * (b - a) < 0)
    rel = sign * (b_med - a_med) / a_med
    gap = abs(b_med - a_med)
    spread = max(a_iqr / a_med, (b_q3 - b_q1) / b_med)
    all_better = all(sign * (b - a) < 0 for a in a_runs for b in b_runs)
    if pairs and wins >= 0.9 * len(pairs) and gap > a_iqr:
        v = "improved"
    elif rel > bound:
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "no change"
    return (a_q1, a_med, a_q3), (b_q1, b_med, b_q3), rel, wins, len(pairs), v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    workloads = [w["name"] for w in bench["workloads"]]
    print(f"{'workload':<14} {'metric':<12} {'parent q1/med/q3':>32} {'change q1/med/q3':>32} "
          f"{'worse by':>9} {'wins':>6}  verdict")
    worse = False
    for wl in workloads:
        for m in bench["end_to_end"]:
            seeds_a = {s: r[m["name"]] for (w, s), r in a.items() if w == wl and m["name"] in r}
            seeds_b = {s: r[m["name"]] for (w, s), r in b.items() if w == wl and m["name"] in r}
            if not seeds_a or not seeds_b:
                print(f"{wl:<14} {m['name']:<12} {'(no runs on one side)':>32}")
                continue
            pairs = [(seeds_a[s], seeds_b[s]) for s in sorted(seeds_a.keys() & seeds_b.keys())]
            qa, qb, rel, wins, n, v = verdict(m, list(seeds_a.values()), list(seeds_b.values()), pairs)
            worse |= v == "worse"
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{wl:<14} {m['name']:<12} {fa:>32} {fb:>32} {rel:>+9.1%} {wins:>3}/{n:<2}  {v}"
                  f"  (bound {m['bound']:.0%}, n={len(seeds_a)}/{len(seeds_b)})")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
