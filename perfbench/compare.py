#!/usr/bin/env python3
"""Compare perfbench result sets.

    python3 perfbench/compare.py BASE NEW     # per-workload, per-layer diff
    python3 perfbench/compare.py --spread SET # steadiness of one set

A set is a result directory, a result file, or several of them joined
with commas. Each run's result file (written by run.py) holds the
end-to-end and per-layer numbers under their names; a set's value for a
metric is the median over the set's runs of that workload.

The diff prints, per workload and per section (end_to_end, per_layer),
every metric with the base median, the new median and new/base, then the
geometric mean of the ratios over the metrics both sets have with
positive values (the denominator counts exactly those metrics). Metrics
or workloads only one set has are listed, never dropped silently; two
sets that share nothing print that fact and exit 0.

--spread prints, per workload and end-to-end metric, the interquartile
range over the set's runs as a share of their median (the steadiness
measure BENCHMARK.json bounds are checked against).
"""

import argparse
import glob
import json
import math
import os
import statistics
import sys

SECTIONS = ("end_to_end", "per_layer")


def load(spec):
    """{workload: [result dict, ...]} for a comma-joined list of files or
    directories."""
    runs = {}
    for part in spec.split(","):
        files = (sorted(glob.glob(os.path.join(part, "*.json"))) if os.path.isdir(part)
                 else [part])
        for f in files:
            try:
                with open(f) as fh:
                    r = json.load(fh)
            except (OSError, ValueError) as e:
                print(f"skip {f}: {e}", file=sys.stderr)
                continue
            if isinstance(r, dict) and "workload" in r:
                runs.setdefault(r["workload"], []).append(r)
    return runs


def medians(runs, section):
    vals = {}
    for r in runs:
        for k, v in (r.get(section) or {}).items():
            if isinstance(v, (int, float)) and math.isfinite(v):
                vals.setdefault(k, []).append(float(v))
    return {k: statistics.median(v) for k, v in vals.items()}


def fmt(x):
    return f"{x:.4g}" if x is not None else "-"


def diff(base, new):
    common = sorted(set(base) & set(new))
    for w in sorted(set(base) - set(new)):
        print(f"{w}: only in base ({len(base[w])} runs)")
    for w in sorted(set(new) - set(base)):
        print(f"{w}: only in new ({len(new[w])} runs)")
    if not common:
        print("no workload in common: nothing to compare")
        return
    for w in common:
        print(f"\n== {w}  (base {len(base[w])} runs, new {len(new[w])} runs)")
        for section in SECTIONS:
            b, n = medians(base[w], section), medians(new[w], section)
            keys = sorted(set(b) | set(n))
            if not keys:
                continue
            print(f"-- {section}")
            print(f"{'metric':44s} {'base':>12s} {'new':>12s} {'new/base':>9s}")
            logs = []
            for k in keys:
                bv, nv = b.get(k), n.get(k)
                ratio = None
                if bv is not None and nv is not None and bv > 0 and nv > 0:
                    ratio = nv / bv
                    logs.append(math.log(ratio))
                note = "" if bv is not None and nv is not None else (
                    "  (only in base)" if nv is None else "  (only in new)")
                print(f"{k:44s} {fmt(bv):>12s} {fmt(nv):>12s} {fmt(ratio):>9s}{note}")
            if logs:
                print(f"{'geomean over ' + str(len(logs)) + ' shared positive metrics':44s}"
                      f" {'':>12s} {'':>12s} {math.exp(sum(logs) / len(logs)):9.4f}")
            else:
                print("no shared positive metrics in this section")


def spread(runs, bounds):
    for w in sorted(runs):
        print(f"\n== {w}  ({len(runs[w])} runs)")
        vals = {}
        for r in runs[w]:
            for k, v in (r.get("end_to_end") or {}).items():
                vals.setdefault(k, []).append(float(v))
        for k in sorted(vals):
            v = vals[k]
            med = statistics.median(v)
            if len(v) < 2 or med == 0:
                s = None
            else:
                q = statistics.quantiles(v, n=4)
                s = (q[2] - q[0]) / med
            bound = bounds.get(k)
            flag = ""
            if bound is not None and s is not None:
                flag = "  OK" if s < bound / 3 else ("  within bound" if s <= bound else "  OVER BOUND")
            print(f"{k:34s} median {fmt(med):>10s}  spread {fmt(s):>8s}"
                  f"  bound {fmt(bound):>6s}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sets", nargs="+", help="BASE NEW, or one SET with --spread")
    ap.add_argument("--spread", action="store_true")
    ap.add_argument("--benchmark", default="BENCHMARK.json",
                    help="bounds for --spread (default: ./BENCHMARK.json)")
    a = ap.parse_args()
    if a.spread:
        bounds = {}
        if os.path.exists(a.benchmark):
            with open(a.benchmark) as f:
                bounds = {m["name"]: m["bound"] for m in json.load(f).get("end_to_end", [])}
        for s in a.sets:
            spread(load(s), bounds)
        return
    if len(a.sets) != 2:
        ap.error("diff needs exactly two sets: BASE NEW")
    diff(load(a.sets[0]), load(a.sets[1]))


if __name__ == "__main__":
    main()
