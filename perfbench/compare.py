#!/usr/bin/env python3
"""Compare benchmark results of two commits, metric by metric.

Usage: python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json B2.json ...

Each file is a result record that run.py writes under perfbench/.work/results/.
Every record must share one posture (cores, shuffle partitions, AQE, Spark,
JDK and Scala versions, workload, scale factor, op list hash, pass count and
trace mode); only the seed may differ. A mismatch is refused with exit code 2.
"""
import argparse
import json
import statistics
import sys

POSTURE = ("cores", "shuffle_partitions", "aqe", "spark", "jdk", "scala", "workload",
           "sf", "ops_sha", "warm_passes", "trace")


def load(paths):
    return [json.load(open(p)) for p in paths]


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    a = ap.parse_args(argv)
    base, new = load(a.base), load(a.new)
    ref = {k: base[0]["posture"].get(k) for k in POSTURE}
    for path, rec in zip(a.base + a.new, base + new):
        got = {k: rec["posture"].get(k) for k in POSTURE}
        diff = {k: (ref[k], got[k]) for k in POSTURE if ref[k] != got[k]}
        if diff:
            print(f"refused: {path} has another posture: {diff}", file=sys.stderr)
            return 2
    print(f"{ref['workload']}: {len(base)} base runs, {len(new)} new runs")
    print(f"{'metric':28} {'base':>12} {'new':>12} {'change':>8} {'base IQR/med':>13}")
    for name, m in base[0]["metrics"].items():
        b = [r["metrics"][name]["value"] for r in base]
        n = [r["metrics"][name]["value"] for r in new]
        mb, mn = statistics.median(b), statistics.median(n)
        change = f"{100 * (mn / mb - 1):+.1f}%" if mb else "n/a"
        print(f"{name:28} {mb:12.6g} {mn:12.6g} {change:>8} {spread(b):13.3f}  {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
