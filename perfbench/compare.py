#!/usr/bin/env python3
"""Per-layer deltas between two benchmark result summaries.

    python3 perfbench/compare.py A.json B.json

A and B are summaries that run.py keeps in .bench_build/results/ (one per
workload, seed and trace setting). Prints every metric of A and B with the
change in percent, then the self time of each span kind (per traced run),
so a change can be traced to the layer where its time went.
"""
import json
import sys
from collections import defaultdict


def self_by_kind(summary):
    out = defaultdict(float)
    for s in summary["spans"]:
        out[s["kind"]] += s["self_ns"] / 1e9
    return out


def delta(a, b):
    if not a:
        return "" if not b else "new"
    return f"{(b - a) / abs(a) * 100:+.1f}%"


def main(a_path, b_path):
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    if a["workload"] != b["workload"]:
        print(f"note: comparing workload {a['workload']} with {b['workload']}")
    print(f"{'metric':36} {'unit':>6} {'A':>12} {'B':>12} {'change':>8}")
    for name in list(a["metrics"]) + [k for k in b["metrics"] if k not in a["metrics"]]:
        ma, mb = a["metrics"].get(name), b["metrics"].get(name)
        va = ma["value"] if ma else None
        vb = mb["value"] if mb else None
        unit = (ma or mb)["unit"]
        fa = f"{va:.4g}" if va is not None else "-"
        fb = f"{vb:.4g}" if vb is not None else "-"
        print(f"{name:36} {unit:>6} {fa:>12} {fb:>12} {delta(va or 0.0, vb or 0.0) if ma and mb else '':>8}")
    sa, sb = self_by_kind(a), self_by_kind(b)
    if sa or sb:
        print(f"\n{'span self time':36} {'unit':>6} {'A':>12} {'B':>12} {'change':>8}")
        for kind in sorted(set(sa) | set(sb)):
            print(f"{kind:36} {'s':>6} {sa[kind]:>12.4g} {sb[kind]:>12.4g} {delta(sa[kind], sb[kind]):>8}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    main(sys.argv[1], sys.argv[2])
