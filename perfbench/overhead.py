#!/usr/bin/env python3
"""Tracing overhead per workload: traced minus untraced end-to-end figures.

    python3 perfbench/overhead.py [runs dir]

Reads the raw records the benchmark left (default
$CARGO_TARGET_DIR/perfbench/runs, or .bench_build/perfbench/runs) and, for
each workload, scale and run length with both kinds of run, prints the median of `cycle_s` and
`op_p50_s` untraced and traced, their difference and its share.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    runs = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench", "runs")
    vals = {}
    for path in sorted(glob.glob(os.path.join(runs, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        if not r.get("correct"):
            continue
        for m in ("cycle_s", "op_p50_s"):
            v = (r["layers"].get(f"traced.{m}") if r["trace"] else r["metrics"].get(m))
            if v:
                key = (r["workload"], str(r.get("scale")), r["seconds"], m)
                vals.setdefault(key + (r["trace"],), []).append(v["value"])
    print(f"{'workload':<12} {'scale':>6} {'metric':<9} {'untraced':>9} {'traced':>9} "
          f"{'overhead':>9} {'share':>7}  runs")
    for (w, sf, secs, m, t) in sorted(k for k in vals if not k[4]):
        if (w, sf, secs, m, True) not in vals:
            continue
        a, b = vals[(w, sf, secs, m, False)], vals[(w, sf, secs, m, True)]
        ma, mb = statistics.median(a), statistics.median(b)
        print(f"{w:<12} {sf:>6} {m:<9} {ma:9.3f} {mb:9.3f} {mb - ma:+9.3f} "
              f"{(mb - ma) / ma:+7.1%}  {len(a)}/{len(b)}")


if __name__ == "__main__":
    main()
