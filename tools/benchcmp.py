#!/usr/bin/env python3
"""Compare/merge bench detail JSONs (r21 optimization evidence tooling).

Usage:
  benchcmp.py merge OUT.json RUN1.json RUN2.json [...]
      best-of-N merge: per key, the MINIMUM p50 across runs (the repo's
      established quiet-window protocol: each run's p50 already absorbs
      warmup; min-across-runs drops windows with episodic load).
  benchcmp.py cmp BEFORE.json AFTER.json [threshold]
      per-key ratio table (after/before p50), sorted; prints keys beyond
      the threshold (default 0.10) plus board sums and the geomean.
"""
import json
import math
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return d


def merge(out, paths):
    runs = [load(p) for p in paths]
    keys = set()
    for r in runs:
        keys |= set(r.get("queries_p50", {}))
    merged = dict(runs[0])
    merged["queries_p50"] = {
        k: min(r["queries_p50"][k] for r in runs if k in r.get("queries_p50", {}))
        for k in sorted(keys)
    }
    # the board sums only keys every run timed: a key that failed in one
    # run would otherwise enter the sum from the other runs alone
    board = [k for k in keys if all(k in r.get("queries_p50", {}) for r in runs)]
    merged["total_p50"] = sum(merged["queries_p50"][k] for k in board)
    merged["board_keys"] = len(board)
    merged["merged_from"] = paths
    with open(out, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    print(f"merged {len(paths)} runs, {len(keys)} keys ({len(board)} in every "
          f"run), board p50 sum {merged['total_p50']:.1f}s -> {out}")


def cmp(before, after, thresh=0.10):
    b = load(before)["queries_p50"]
    a = load(after)["queries_p50"]
    common = sorted(set(b) & set(a))
    rows = [(k, b[k], a[k], a[k] / b[k] if b[k] > 0 else float("inf"))
            for k in common]
    worse = [r for r in rows if r[3] > 1 + thresh]
    better = [r for r in rows if r[3] < 1 - thresh]
    print(f"common {len(common)}  before sum {sum(b[k] for k in common):.1f}s"
          f"  after sum {sum(a[k] for k in common):.1f}s")
    if not common:
        print("no common keys: nothing to compare")
        return
    # a zero time on either side has no finite log ratio; leave it out of
    # both the sum and the count
    ratios = [r[3] for r in rows if 0 < r[3] < float("inf")]
    if ratios:
        gm = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
        print(f"geomean after/before: {gm:.3f} (speedup {1/gm:.3f}x)"
              f" over {len(ratios)} keys")
    med = sorted(r[3] for r in rows)[len(rows) // 2]
    print(f"median per-key ratio: {med:.3f} (window-control)")
    for title, rs in (("IMPROVED >", better), ("REGRESSED >", worse)):
        print(f"\n{title}{thresh:.0%}: {len(rs)}")
        for k, bb, aa, r in sorted(rs, key=lambda x: x[3]):
            print(f"  {k:36s} {bb:7.3f} -> {aa:7.3f}  x{r:5.2f}")


if __name__ == "__main__":
    if sys.argv[1] == "merge":
        merge(sys.argv[2], sys.argv[3:])
    elif sys.argv[1] == "cmp":
        t = float(sys.argv[4]) if len(sys.argv) > 4 else 0.10
        cmp(sys.argv[2], sys.argv[3], t)
    else:
        sys.exit(__doc__)
