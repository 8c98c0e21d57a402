#!/usr/bin/env python3
"""Say which metrics moved between two sets of benchmark records.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are record files written by run.py
(.bench_build/records/<workload>-seed<n>-trace<t>.json) or directories of
them. Records of the same workload are pooled (median per metric over
seeds). For each workload the tool prints every metric whose median moved
by more than its threshold, largest move first, as `new / base` with the
base value and unit, so a gain or loss names the layer that moved. An
end-to-end metric's threshold is its bound in BENCHMARK.json; every
per-layer metric has the same one, PER_LAYER_THRESHOLD.
"""
import argparse
import glob
import json
import math
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PER_LAYER_THRESHOLD = 0.10


def thresholds():
    """{end-to-end metric: its bound} from BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    pooled = {}
    for p in files:
        if p.endswith(".spans.json"):
            continue
        with open(p) as f:
            r = json.load(f)
        ms = pooled.setdefault(r["workload"], {})
        for name, m in r["result"]["metrics"].items():
            ms.setdefault(name, (m["unit"], []))[1].append(m["value"])
    return {w: {k: (u, statistics.median(v)) for k, (u, v) in ms.items()}
            for w, ms in pooled.items()}


def moves(base, new, bounds):
    """[(workload, metric, unit, base, new, ratio)] beyond each metric's
    threshold: its entry in `bounds`, else PER_LAYER_THRESHOLD."""
    out = []
    for w in sorted(set(base) & set(new)):
        for k in sorted(set(base[w]) & set(new[w])):
            unit, b = base[w][k]
            n = new[w][k][1]
            if b == n:
                continue
            ratio = n / b if b else math.inf
            if b == 0 or abs(ratio - 1.0) > bounds.get(k, PER_LAYER_THRESHOLD):
                out.append((w, k, unit, b, n, ratio))
    return sorted(out, key=lambda m: (m[0], -abs(math.log(m[5])) if 0 < m[5] < math.inf else -math.inf))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args(argv)
    base, new = load(a.base), load(a.new)
    rows = moves(base, new, thresholds())
    for w in sorted(set(base) | set(new)):
        if w not in base or w not in new:
            print(f"{w}: only in {'new' if w in new else 'base'}")
            continue
        mine = [r for r in rows if r[0] == w]
        print(f"{w}: {len(mine)} metric(s) moved beyond their threshold")
        for _, k, unit, b, n, ratio in mine:
            rtxt = "new (base 0)" if ratio == math.inf else f"x{ratio:.3f}"
            print(f"  {k:32s} {rtxt:>12s} of base {b:.6g} {unit} -> {n:.6g} {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
