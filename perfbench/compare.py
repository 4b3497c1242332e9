#!/usr/bin/env python3
"""Compare two sets of benchmark run records, per workload and metric.

    python3 perfbench/compare.py BASE [BASE ...] --vs NEW [NEW ...]

Each argument is a run record written by run.py (a .json file) or a
directory of them. For every workload and end-to-end metric it prints each
side's median, its quartile spread (inter-quartile distance over the median)
and the ratio of the medians. Records taken at different core counts are
refused: the figures are not comparable.
"""

import argparse
import json
import os
import statistics
import sys


def load(paths):
    recs = []
    for p in paths:
        files = [os.path.join(p, f) for f in sorted(os.listdir(p))
                 if f.endswith(".json")] if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                recs.append(json.load(fh))
    return recs


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4); one value is all three."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    return tuple(statistics.quantiles(values, n=4))


def spread(values):
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def require_same_cores(recs):
    cores = {r["stamp"]["nproc"] for r in recs}
    if len(cores) > 1:
        raise SystemExit(f"refusing to compare runs taken at different core "
                         f"counts: {sorted(cores)}")
    return cores.pop() if cores else None


def table(base, new):
    """Rows of (workload, metric, unit, base median, base spread, new
    median, new spread, ratio) over the untraced runs of both sides."""
    rows = []
    def by_workload(recs):
        out = {}
        for r in recs:
            if not r["trace"]:
                out.setdefault(r["workload"], []).append(r)
        return out
    b, n = by_workload(base), by_workload(new)
    for wl in sorted(set(b) & set(n)):
        for metric in sorted(b[wl][0]["end_to_end"]):
            unit = b[wl][0]["end_to_end"][metric]["unit"]
            bv = [r["end_to_end"][metric]["value"] for r in b[wl]]
            nv = [r["end_to_end"][metric]["value"] for r in n[wl]]
            bm, nm = statistics.median(bv), statistics.median(nv)
            rows.append((wl, metric, unit, bm, spread(bv), nm, spread(nv),
                         nm / bm if bm else float("nan")))
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", nargs="+")
    ap.add_argument("--vs", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.vs)
    cores = require_same_cores(base + new)
    print(f"cores={cores} base runs={len(base)} new runs={len(new)}")
    print(f"{'workload':20} {'metric':16} {'base':>12} {'spread':>7} "
          f"{'new':>12} {'spread':>7} {'new/base':>8}")
    for wl, m, unit, bm, bs, nm, ns, ratio in table(base, new):
        print(f"{wl:20} {m:16} {bm:12.5g} {bs:7.3f} {nm:12.5g} {ns:7.3f} "
              f"{ratio:8.3f}  {unit}")


if __name__ == "__main__":
    sys.exit(main())
