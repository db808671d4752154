"""Output checks, run outside the timed window.

Oracled registry ops are compared with their ``oracle_sql()`` twin on
DuckDB using the order-insensitive value hash of
``tools/check_oracle.py``; every registry op the workloads run has an
oracle, and one without would only be checked for a non-empty result.
CLI ops are checked by their artifacts: files present, prediction rows
equal to the scored split, alert-document columns present, and the
train run's ROC AUC above a floor.  Fit outputs are never hashed: MLlib
results drift in the 7th digit between runs.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq

from workloads import AUC_FLOOR, Inputs

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
TRAIN_ARTIFACTS = ("predictions", "alert_documents", "run_configuration",
                   "model/preprocessing", "model/classifier", "model/thresholds")


class Checker:
    def __init__(self, spark, paths: Inputs):
        import duckdb

        import __spark_entry__ as entry_mod

        self.spark = spark
        self.paths = paths
        self.oracles = entry_mod.oracle_sql()
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(paths.sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def close(self) -> None:
        self.con.close()

    def registry(self, name: str, scols: list[str], rows: list) -> str | None:
        """None if an op's collected output is right, else the reason."""
        from tools.check_oracle import table_digest

        if name not in self.oracles:
            return None if rows else "no rows"
        tbl = self.con.execute(self.oracles[name]).fetch_arrow_table()
        dcols = tbl.column_names
        drows = list(zip(*[c.to_pylist() for c in tbl.columns]))
        if sorted(scols) != sorted(dcols):
            return f"columns {sorted(scols)} != oracle {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"rows {len(rows)} != oracle {len(drows)}"
        if table_digest([list(r) for r in rows], scols) != table_digest(drows, dcols):
            return "value hash differs from oracle"
        return None

    def _scored_rows(self, op: str) -> int:
        """Rows the command scores: the test split for train, every panel
        row for predict."""
        if op == "cli.predict":
            return pq.ParquetFile(self.paths.panel).metadata.num_rows
        from sf_datalake_spark.config import Configuration
        from sf_datalake_spark.operators.split import hash_split
        from sf_datalake_spark.transformers import TargetVariable

        cfg = Configuration(config_file=self.paths.config, cli_args={})
        df = TargetVariable(
            outputCol=cfg.learning.label_column,
            n_months=cfg.learning.target.get("n_months", 18),
            periodCol=cfg.preprocessing.identifiers[1],
        ).transform(self.spark.read.parquet(self.paths.panel))
        _, test = hash_split(df, cfg.preprocessing.identifiers[0], cfg.learning.test_fraction)
        return test.count()

    def cli(self, op: str, report: dict) -> str | None:
        out = self.paths.train_out if op == "cli.train" else self.paths.predict_out
        needed = TRAIN_ARTIFACTS if op == "cli.train" else TRAIN_ARTIFACTS[:2]
        missing = [a for a in needed if not os.path.isdir(os.path.join(out, a))]
        if missing:
            return f"missing artifacts {missing}"
        n = pq.ParquetDataset(os.path.join(out, "predictions")).read(columns=[]).num_rows
        want = self._scored_rows(op)
        if n != want:
            return f"prediction rows {n} != {want}"
        cols: set[str] = set()
        for part in glob.glob(os.path.join(out, "alert_documents", "part-*")):
            with open(part) as fh:
                cols.update(*(json.loads(line) for line in fh))
        need = {"siren", "score", "alert"} | ({"alert_level"} if op == "cli.train" else set())
        if not need <= cols:
            return f"alert documents lack {sorted(need - cols)}"
        if op == "cli.train":
            auc = report["metrics"]["auc_roc"]
            if not auc >= AUC_FLOOR:
                return f"auc_roc {auc} < {AUC_FLOOR}"
        return None
