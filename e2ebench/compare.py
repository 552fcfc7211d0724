#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

    python3 e2ebench/compare.py BASE_DIR NEW_DIR

A result set is a directory of the files run.py saves under
.e2ebench/results/ (copy that directory away between the two sides).
Per workload it prints each end-to-end metric's median and quartiles on
both sides, the change of the medians, and the pairs won (runs of equal
seed, side B better than side A). From the traced runs it lists the
per-layer metrics whose medians moved by more than MOVED.
"""
import argparse
import glob
import json
import os
import statistics

MOVED = 0.10  # a per-layer median that changed by more than this share moved
SPEC_FILE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def load(d):
    """{(workload, trace): {seed: metrics}} from one result directory."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(f))
        out.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r["result"]["metrics"]
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    s = json.load(open(SPEC_FILE))
    spec = {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}
    A, B = load(args.a), load(args.b)
    for wl in sorted({k[0] for k in A} | {k[0] for k in B}):
        print(f"== {wl}")
        a, b = A.get((wl, 0), {}), B.get((wl, 0), {})
        names = sorted({n for r in list(a.values()) + list(b.values()) for n in r})
        print(f"  {'metric':22s} {'A q1/med/q3':>30s} {'B q1/med/q3':>30s} {'change':>8s} {'B won':>7s}")
        for n in names:
            xa = [r[n]["value"] for r in a.values() if n in r]
            xb = [r[n]["value"] for r in b.values() if n in r]
            if not xa or not xb:
                continue
            qa, qb = quartiles(xa), quartiles(xb)
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            seeds = sorted(set(a) & set(b))
            sign = 1 if spec[n]["better"] == "higher" else -1
            won = sum(1 for s in seeds
                      if n in a[s] and n in b[s] and sign * (b[s][n]["value"] - a[s][n]["value"]) > 0)
            fa = "/".join(f"{v:.4g}" for v in qa)
            fb = "/".join(f"{v:.4g}" for v in qb)
            print(f"  {n:22s} {fa:>30s} {fb:>30s} {change:>+8.1%} {won:>3d}/{len(seeds):<3d}")
        ta, tb = A.get((wl, 1), {}), B.get((wl, 1), {})
        if ta and tb:
            moved = []
            for n in sorted({n for r in list(ta.values()) + list(tb.values()) for n in r}):
                ma = statistics.median(r[n]["value"] for r in ta.values() if n in r)
                mb = statistics.median(r[n]["value"] for r in tb.values() if n in r)
                base = max(abs(ma), abs(mb))
                if base > 0 and abs(mb - ma) / base > MOVED:
                    moved.append(f"{n} {ma:.4g} -> {mb:.4g}")
            print("  per-layer moved: " + ("; ".join(moved) if moved else "none"))
        # tracing overhead: each side's traced runs against its untraced runs
        for side, runs in (("A", A), ("B", B)):
            un, tr = runs.get((wl, 0), {}), runs.get((wl, 1), {})
            parts = []
            for n in sorted({n for r in un.values() for n in r}):
                base = [r[n]["value"] for r in un.values() if n in r]
                traced = [r["trace." + n]["value"] for r in tr.values() if "trace." + n in r]
                if base and traced and statistics.median(base):
                    m0, m1 = statistics.median(base), statistics.median(traced)
                    parts.append(f"{n} {m0:.4g} -> {m1:.4g} ({(m1 - m0) / m0:+.1%})")
            if parts:
                print(f"  tracing overhead {side}: " + "; ".join(parts))

if __name__ == "__main__":
    main()
