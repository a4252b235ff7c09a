#!/usr/bin/env python3
"""Tables for the perfbench A/B made by ab.sh.

Usage: python3 plans/pr10/summarize.py <out dir of ab.sh>
Prints, per workload, the end-to-end metrics over the untraced pairs, the
per-unit medians, and the traced runs' per-layer metrics side by side.
"""
import glob
import json
import os
import statistics
import sys

base = sys.argv[1]


def quart(xs, f):
    xs = sorted(xs)
    pos = (len(xs) - 1) * f
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def fmt(xs):
    return f"{statistics.median(xs):.3f} [{quart(xs, .25):.3f}, {quart(xs, .75):.3f}]"


for path in sorted(glob.glob(os.path.join(base, "ab_*.jsonl"))):
    rows = [json.loads(l) for l in open(path) if l.strip()]
    w = rows[0]["workload"]
    runs = {(r["side"], r["seed"]): r["result"] for r in rows if r["trace"] == 0 and r["result"]}
    seeds = sorted(s for (side, s) in runs if side == "parent" and ("change", s) in runs)
    if not seeds:
        continue
    print(f"\n## `{w}`: {len(seeds)} pairs, seeds {seeds[0]}-{seeds[-1]}\n")
    print("| metric | parent median [q1, q3] | change median [q1, q3] | change better | change/parent | parent IQR |")
    print("|---|---|---|---|---|---|")
    for m in ("wall_s", "unit_geomean_s", "setup_s", "peak_rss_mb"):
        a = [runs[("parent", s)]["metrics"][m]["value"] for s in seeds]
        b = [runs[("change", s)]["metrics"][m]["value"] for s in seeds]
        better = sum(1 for x, y in zip(a, b) if y < x)
        iqr = quart(a, .75) - quart(a, .25)
        print(f"| `{m}` | {fmt(a)} | {fmt(b)} | {better}/{len(seeds)} | "
              f"{statistics.median(b) / statistics.median(a):.3f} | {iqr:.3f} |")
    for side in ("parent", "change"):
        att = sum(runs[(side, s)]["attempted"] for s in seeds)
        fl = sum(runs[(side, s)]["failed"] for s in seeds)
        ok = all(runs[(side, s)]["correct"] for s in seeds)
        print(f"\n{side}: failures {fl} of {att}; all checks correct: {ok}")

    def units(side):
        out = {}
        for s in seeds:
            f = os.path.join(base, side, f"{w}-seed{s}-trace0.json.summary")
            for u, v in json.load(open(f))["unit_median_s"].items():
                out.setdefault(u, []).append(v)
        return out
    up, uc = units("parent"), units("change")
    print("\n| unit | parent median [q1, q3] | change median [q1, q3] | change better | change/parent |")
    print("|---|---|---|---|---|")
    for u in sorted(up):
        better = sum(1 for x, y in zip(up[u], uc[u]) if y < x)
        print(f"| `{u}` | {fmt(up[u])} | {fmt(uc[u])} | {better}/{len(seeds)} | "
              f"{statistics.median(uc[u]) / statistics.median(up[u]):.3f} |")

    traced = {r["side"]: r for r in rows if r["trace"] == 1 and r["result"]}
    if len(traced) == 2:
        seed = traced["parent"]["seed"]
        print(f"\n### Traced `{w}`, seed {seed} (median per measured pass)\n")
        print("| metric | parent | change |")
        print("|---|---|---|")
        for m in traced["parent"]["result"]["metrics"]:
            a = traced["parent"]["result"]["metrics"][m]["value"]
            b = traced["change"]["result"]["metrics"][m]["value"]
            print(f"| `{m}` | {a:.4g} | {b:.4g} |")
