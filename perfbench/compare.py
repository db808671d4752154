"""Compare two sets of benchmark reports, metric by metric.

    python3 perfbench/compare.py BASE_DIR_OR_FILES... -- NEW_DIR_OR_FILES...

Each side is a list of report files (``.perfbench_out/*.json``) or
directories of them.  Prints, per workload, trace mode and metric, each
side's median, quartiles and run count, and the relative change of the
medians.  Refuses (exit 2) when the sides were measured on different
core counts or with different driver memory: such numbers do not carry
over from one machine shape to another.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

#: stamp fields both sides must share
SAME = ("nproc", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")


def load(paths: list[str]) -> list[dict]:
    files: list[str] = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def shape(reports: list[dict]) -> set[tuple]:
    return {tuple(r["stamp"].get(k) for k in SAME) for r in reports}


def summary(reports: list[dict]) -> dict[tuple, list[float]]:
    vals: dict[tuple, list[float]] = defaultdict(list)
    for r in reports:
        for k, v in r["metrics"].items():
            vals[(r["workload"], r["trace"], k)].append(v)
    return vals


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not new:
        print("compare: a side has no reports", file=sys.stderr)
        return 2
    shapes = shape(base) | shape(new)
    if len(shapes) > 1:
        print(f"compare: refusing, runs differ in {SAME}: {sorted(shapes)}", file=sys.stderr)
        return 2
    b, n = summary(base), summary(new)
    print(f"{'workload':<20} {'t':>1} {'metric':<22} {'base p50 [q1,q3] (n)':>30} "
          f"{'new p50 [q1,q3] (n)':>30} {'change':>8}")
    for key in sorted(b.keys() & n.keys()):
        bq, nq = quartiles(b[key]), quartiles(n[key])
        change = (nq[1] / bq[1] - 1.0) if bq[1] else float("nan")
        print(f"{key[0]:<20} {key[1]:>1} {key[2]:<22} "
              f"{bq[1]:>10.4f} [{bq[0]:.4f},{bq[2]:.4f}] ({len(b[key])}) "
              f"{nq[1]:>10.4f} [{nq[0]:.4f},{nq[2]:.4f}] ({len(n[key])}) {change:>+8.1%}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
