#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by workload.

  python3 perfbench/compare.py <base> <change>

<base> and <change> are each a directory of run artifacts (as written to
perfbench/.work/artifacts/) or a list of artifact files joined by commas.
Runs are paired by (workload, trace, seed), else by order within a
workload. For every metric it prints each side's median and quartiles, the
share of pairs the change wins, and a verdict, tried in this order:

  better        the change wins at least 9 in 10 pairs, ties counting for
                neither, and the medians differ by more than the base's own
                quartile spread;
  unresolved    the base's quartile spread, as a share of its median, is
                wider than the metric's bound in BENCHMARK.json, and not
                every change run beats every base run;
  within bound  the change's median is no worse than the bound allows;
  worse         the change's median is worse by more than the bound.

A per-layer metric has no bound: it is "worse" when the change loses at
least 9 in 10 pairs by more than the base's spread, else "unresolved".

Each run's host.calib_s (the fixed-work calibration fold) is printed beside
it, so a host that ran slow for a while shows as a shift in calib_s too.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path


def load(spec):
    paths = []
    for part in spec.split(","):
        p = Path(part)
        paths += sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = {}
    for p in paths:
        a = json.loads(p.read_text())
        metrics = a["per_layer"] if a["trace"] else a["end_to_end"]
        runs.setdefault((a["workload"], a["trace"]), []).append(
            {"seed": a["seed"], "calib": a["calib_s"], "metrics": metrics, "file": p.name})
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def pairs(base, change):
    by_seed = {r["seed"]: r for r in base}
    if all(r["seed"] in by_seed for r in change):
        return [(by_seed[r["seed"]], r) for r in change]
    return list(zip(base, change))


def verdict(b, c, wins, losses, n, better, bound):
    sign = 1 if better == "higher" else -1
    (b1, bm, b3), (_, cm, _) = quartiles(b), quartiles(c)
    delta = (cm - bm) * sign
    spread = b3 - b1
    if n and wins >= 0.9 * n and delta > spread:
        return "better"
    if bound is None:
        return "worse" if n and losses >= 0.9 * n and -delta > spread else "unresolved"
    all_better = min(x * sign for x in c) > max(x * sign for x in b)
    if not bm or (spread / abs(bm) > bound and not all_better):
        return "unresolved"
    return "within bound" if -delta / abs(bm) <= bound else "worse"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    a = ap.parse_args()
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, change = load(a.base), load(a.change)

    for key in sorted(set(base) & set(change)):
        workload, trace = key
        bruns, cruns = base[key], change[key]
        print(f"\n== {workload} (trace {trace}): {len(bruns)} base runs, {len(cruns)} change runs")
        if min(len(bruns), len(cruns)) < 10:
            print("   fewer than ten pairs: the verdicts below cannot support a claim")
        for side, runs in (("base", bruns), ("change", cruns)):
            cal = " ".join(f"{r['seed']}:{r['calib']:.3f}" for r in runs)
            print(f"   {side} host.calib_s by seed: {cal}")
        cb, cc = (statistics.median(r["calib"] for r in rs) for rs in (bruns, cruns))
        print(f"   host.calib_s median: base {cb:.3f}, change {cc:.3f} (x{cc / cb:.2f}; "
              "a shift here moves every timing with it)")
        print(f"   {'metric':34} {'base q1/med/q3':>30} {'change q1/med/q3':>30} {'wins':>7}  verdict")
        names = [n for n in meta if all(n in r["metrics"] for r in bruns + cruns)]
        for name in names:
            m = meta[name]
            b = [r["metrics"][name] for r in bruns]
            c = [r["metrics"][name] for r in cruns]
            sign = 1 if m["better"] == "higher" else -1
            ps = pairs(bruns, cruns)
            diffs = [(pc["metrics"][name] - pb["metrics"][name]) * sign for pb, pc in ps]
            wins = sum(d > 0 for d in diffs)
            losses = sum(d < 0 for d in diffs)
            v = verdict(b, c, wins, losses, len(ps), m["better"], m.get("bound"))
            fb = "/".join(f"{x:.4g}" for x in quartiles(b))
            fc = "/".join(f"{x:.4g}" for x in quartiles(c))
            print(f"   {name:34} {fb:>30} {fc:>30} {wins:>3}/{len(ps):<3}  {v}")
    missing = set(base) ^ set(change)
    if missing:
        print(f"\nworkloads run on one side only: {sorted(missing)}", file=sys.stderr)


if __name__ == "__main__":
    main()
