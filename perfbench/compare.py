#!/usr/bin/env python3
"""Layer-aware comparison of two benchmark result sets.

    python3 perfbench/compare.py <parent_dir> <change_dir>

Each directory holds result files written by `run.py --save <file>`, ten
or more per workload with `--trace 0` and, for the per-layer view, a few
with `--trace 1`. Runs pair up by seed. For every workload and end-to-end
metric it prints both sides' median and quartiles and the pair verdict:

- gain: the change wins at least 9 of every 10 pairs (ties count for
  neither) and the medians differ by more than the parent's quartile spread;
- REGRESSION: the change's median is worse than the parent's by more than
  the metric's bound in BENCHMARK.json;
- unresolved: neither, while the parent's own spread exceeds the bound;
- same: otherwise.

Then it prints the per-layer medians that moved most, so a regression names
its layer. Exits 1 when any metric regressed.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(a, b, better, bound):
    """Verdict for one metric from paired values a[i] (parent), b[i] (change)."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    losses = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0)
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    worse_by = -sign * (mb - ma) / abs(ma) if ma else 0.0
    if wins >= 0.9 * len(a) and abs(mb - ma) > qa3 - qa1:
        return "gain", wins, losses
    if worse_by > bound:
        return "REGRESSION", wins, losses
    if ma and (qa3 - qa1) / abs(ma) > bound:
        return "unresolved", wins, losses
    return "same", wins, losses


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    regressed = False
    for w in [w["name"] for w in spec["workloads"]]:
        pa, ch = parent.get((w, 0), {}), change.get((w, 0), {})
        seeds = sorted(set(pa) & set(ch))
        print(f"\n== {w}: {len(seeds)} pairs")
        if not seeds:
            continue
        for m in spec["end_to_end"]:
            a = [pa[s]["metrics"][m["name"]]["value"] for s in seeds]
            b = [ch[s]["metrics"][m["name"]]["value"] for s in seeds]
            v, wins, losses = verdict(a, b, m["better"], m["bound"])
            regressed |= v == "REGRESSION"
            qa, qb = quartiles(a), quartiles(b)
            print(f"  {m['name']:16s} parent {qa[1]:.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
                  f"  change {qb[1]:.4f} [{qb[0]:.4f}, {qb[2]:.4f}] {m['unit']}"
                  f"  {100 * (qb[1] - qa[1]) / qa[1]:+.1f}%  wins {wins} losses {losses}  {v}")
        fa = sum(r["failed"] for r in pa.values())
        fb = sum(r["failed"] for r in ch.values())
        print(f"  failed operations: parent {fa}, change {fb}")
        la, lb = parent.get((w, 1), {}), change.get((w, 1), {})
        if la and lb:
            rows = []
            for m in spec["per_layer"]:
                va = [r["metrics"][m["name"]]["value"] for r in la.values()]
                vb = [r["metrics"][m["name"]]["value"] for r in lb.values()]
                ma, mb = statistics.median(va), statistics.median(vb)
                if ma or mb:
                    rel = (mb - ma) / abs(ma) if ma else float("inf")
                    rows.append((abs(rel), m["name"], ma, mb, rel, m["unit"]))
            print("  per-layer medians, largest moves first:")
            for _, name, ma, mb, rel, unit in sorted(rows, reverse=True)[:12]:
                print(f"    {name:32s} {ma:12.4f} -> {mb:12.4f} {unit:6s} {100 * rel:+.1f}%")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
