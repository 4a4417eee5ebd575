#!/usr/bin/env python3
"""Compare benchmark results saved by run.py, refusing mismatched conditions.

    python3 perfbench/compare.py BASE.json [BASE.json ...] -- HEAD.json [HEAD.json ...]

Each file is a record from .bench_build/perfbench/results/. Walls are only
comparable on the same core count and heap, for the same workload and
trace setting, and with or without the class-data archive alike: if any
record differs from the first in one of those conditions, the comparison
is refused (exit 3). Otherwise every metric
prints with each side's median and quartiles and the change of the
medians.
"""
import json
import statistics
import sys

MUST_MATCH = ("cpus", "heap_mb", "workload", "class_archive")


def load(paths):
    return [json.load(open(p)) for p in paths]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    base, head = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not head:
        sys.exit(__doc__)
    ref = base[0]["conditions"]
    traced = "session.build_s" in base[0]["metrics"]
    for r in base + head:
        c = r["conditions"]
        for k in MUST_MATCH:
            if c.get(k) != ref.get(k):
                print(f"refusing to compare: {k} differs ({ref.get(k)} vs {c.get(k)}); "
                      "walls from different core counts, heaps, workloads or class "
                      "loading are not comparable", file=sys.stderr)
                sys.exit(3)
        if ("session.build_s" in r["metrics"]) != traced:
            print("refusing to compare a traced run with an untraced one", file=sys.stderr)
            sys.exit(3)
    print(f"{ref['workload']}: {len(base)} base runs, {len(head)} head runs, "
          f"{ref['cpus']} cpus, {ref['heap_mb']} MB heap")
    for name in sorted(base[0]["metrics"]):
        b = [r["metrics"][name] for r in base if name in r["metrics"]]
        h = [r["metrics"][name] for r in head if name in r["metrics"]]
        if not b or not h:
            continue
        (b1, bm, b3), (h1, hm, h3) = quartiles(b), quartiles(h)
        change = f"{(hm - bm) / bm:+.1%}" if bm else "n/a"
        print(f"{name:32} base {bm:12.4f} [{b1:.4f}, {b3:.4f}]  "
              f"head {hm:12.4f} [{h1:.4f}, {h3:.4f}]  {change}")


if __name__ == "__main__":
    main(sys.argv[1:])
