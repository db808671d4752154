"""Self-test of the benchmark at sf0.001: one op per workload, run
untraced and traced.

    python3 perfbench/selftest.py

Run from the repository root (about four minutes on 4 cores).  Checks
that each run is correct, that it reports every metric BENCHMARK.json
names (end-to-end untraced, per-layer traced) with the declared unit,
that the traced run reports every per-layer metric run.py defines, and
that no span's self time is negative.  Exits 1 on the first failure.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: one op per workload, on sf0.001 tables and a small CLI panel
SMALL = {
    "panel_batch": ("monthly_panel",),
    "iterative_operators": ("quantile_summary",),
    "ml_lifecycle": ("cli.predict",),
}


def check(cond: bool, what: str) -> None:
    if not cond:
        print(f"selftest FAILED: {what}")
        raise SystemExit(1)


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    wanted = {0: {m["name"]: m["unit"] for m in declared["end_to_end"]},
              1: {m["name"]: m["unit"] for m in declared["per_layer"]}}
    defined = {0: run.E2E, 1: run.PER_LAYER}
    for name, ops in SMALL.items():
        wl = dataclasses.replace(WORKLOADS[name], ops=ops, table_sf=0.001,
                                 panel_sirens=min(WORKLOADS[name].panel_sirens, 120))
        for trace in (0, 1):
            report = run.execute(wl, seed=7, seconds=0.0, trace=bool(trace),
                                 started=time.perf_counter())
            res = report["result"]
            tag = f"{name} trace={trace}"
            check(res["correct"] and res["failed"] == 0, f"{tag} incorrect: {report['failures']}")
            check(res["attempted"] >= 1, f"{tag} attempted nothing")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == defined[trace], f"{tag} metrics {sorted(got)} != run.py's")
            for k, unit in wanted[trace].items():
                check(got.get(k) == unit, f"{tag} lacks {k} [{unit}]")
                check(isinstance(res["metrics"][k]["value"], (int, float)),
                      f"{tag} {k} is not a number")
            if trace:
                check(bool(report["spans"]), f"{tag} recorded no spans")
                worst = min(s["self"] for s in report["spans"])
                check(worst >= -1e-6, f"{tag} negative span self time {worst}")
            print(f"selftest ok: {tag}")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
