"""The benchmark's workloads: which ops a pass runs, on which inputs,
and how each op's output is checked.

A registry op is a ``__spark_entry__.queries()`` entry timed in three
phases: build (the ``fn(spark, sf_dir)`` call, including any eager jobs
it runs), plan (``executedPlan()``) and exec (a ``noop``-sink write).
A CLI op is one in-process ``sf_datalake_spark.__main__.main`` call,
timed as build only.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
from dataclasses import dataclass

#: registry tables are always generated from this seed, so every run of
#: a workload reads the same tables; the run seed permutes op order (and
#: generates the ml_lifecycle panel)
TABLE_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]  # every pass, in an order the seed permutes
    table_sf: float       # registry-table scale (0.01 ≈ 60k lineitems)
    panel_sirens: int     # 0 = no CLI panel
    pass_s: float         # nominal pass seconds: timed passes = round(--seconds / pass_s)
    setup_ops: tuple[str, ...] = ()  # run once, first, in the checked pass


WORKLOADS = {
    w.name: w
    for w in (
        # exec-bound: short panel/relational ops, per-op fixed costs
        Workload(
            "panel_batch",
            ("monthly_panel", "panel_lag", "target_variable", "asof_backward",
             "pricing_summary"),
            table_sf=0.01, panel_sirens=0, pass_s=3.0,
        ),
        # build-bound: eager loops over pinned intermediates, shuffle-heavy
        # execution; for manual runs, not in BENCHMARK.json
        Workload(
            "iterative_operators",
            ("k_core_parts", "bfs_khop", "ngram_jaccard", "frequent_pairs",
             "quantile_summary"),
            table_sf=0.01, panel_sirens=0, pass_s=9.0,
        ),
        # build-bound and the only writer: set-up trains the model with
        # the CLI; every pass scores the panel with it (predictions and
        # alert JSON) and runs the k-core eager loop over pinned
        # intermediates
        Workload(
            "ml_lifecycle",
            ("cli.predict", "k_core_parts"),
            table_sf=0.001, panel_sirens=300, pass_s=4.0, setup_ops=("cli.train",),
        ),
    )
}

CLI_CONFIG = {
    "model_name": "LogisticRegression",
    "model_params": {"maxIter": 10},
    "features_transformers": {"ca": ["standard_scaler"]},
}
#: floor on the train run's test-split ROC AUC; the panel's failing firms
#: are smaller and decay before judgment, so a working fit clears it easily
AUC_FLOOR = 0.7


class Inputs:
    """Paths of one setup's generated inputs."""

    def __init__(self, work_dir: str):
        self.sf_dir = os.path.join(work_dir, "tables")
        self.panel = os.path.join(work_dir, "panel.parquet")
        self.config = os.path.join(work_dir, "run.json")
        self.train_out = os.path.join(work_dir, "train_out")
        self.predict_out = os.path.join(work_dir, "predict_out")


def generate(work_dir: str, wl: Workload, seed: int) -> Inputs:
    """Write the workload's inputs under ``work_dir``."""
    import datagen

    paths = Inputs(work_dir)
    datagen.write_tables(paths.sf_dir, TABLE_SEED, wl.table_sf)
    if wl.panel_sirens:
        datagen.write_panel(paths.panel, seed, wl.panel_sirens)
        with open(paths.config, "w") as fh:
            json.dump(CLI_CONFIG, fh)
    return paths


def cli_argv(op: str, paths: Inputs) -> list[str]:
    if op == "cli.train":
        return ["train", "--config", paths.config, "--dataset", paths.panel,
                "--output", paths.train_out]
    return ["predict", "--config", paths.config, "--dataset", paths.panel,
            "--output", paths.predict_out, "--model-dir", paths.train_out]


def run_cli(op: str, paths: Inputs) -> dict:
    """Run one CLI subcommand in-process; return its JSON report."""
    from sf_datalake_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(cli_argv(op, paths))
    if rc != 0:
        raise RuntimeError(f"{op} exited with {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def output_files(root: str) -> tuple[int, int]:
    """(data files, bytes) under a CLI output directory, skipping
    ``_SUCCESS`` markers and ``.crc`` checksums."""
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size
