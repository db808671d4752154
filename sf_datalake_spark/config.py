"""Run configuration: dataclass defaults ← JSON file ← CLI overrides.

Reference behavior replaced: ``ConfigurationHelper`` and its dataclasses
(reference ``src/sf_datalake/configuration/__init__.py:60-340``):

- three-tier precedence (dataclass defaults, then JSON config file, then
  CLI args — last wins), with unknown keys rejected
  (``__init__.py:266-292``);
- auto-expansion of per-feature transformer mappings to their
  time-aggregated variants ``{var}_{op}{n}m`` — including the
  reference's deliberate quirk that ``diff`` features are NOT expanded
  (``__init__.py:295-310``, the TODO'd condition);
- config dump for reproducibility — as a single JSON text file via the
  DataFrame writer, replacing the reference's RDD ``saveAsTextFile``
  (``__init__.py:336-340``; SURVEY.md §1.3 maps RDD usage out).
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession


@dataclass
class LearningConfig:
    model_name: str = "LogisticRegression"
    model_params: dict = field(default_factory=lambda: {"regParam": 0.12, "maxIter": 50})
    target: dict = field(default_factory=lambda: {"n_months": 18})
    features_column: str = "features"
    label_column: str = "failure"
    train_size: float = 0.8
    test_fraction: float = 0.2


@dataclass
class PreprocessingConfig:
    identifiers: list = field(default_factory=lambda: ["siren", "période"])
    features_transformers: dict = field(default_factory=dict)
    ordinal_encoding_bins: dict = field(default_factory=dict)
    time_aggregation: dict = field(default_factory=dict)
    fill_defaults: dict = field(default_factory=dict)
    drop_missing_values: bool = True


@dataclass
class ExplanationConfig:
    n_train_sample: int = 5000
    topic_groups: dict = field(default_factory=dict)


@dataclass
class IOConfig:
    root_directory: str = ""
    dataset_path: str = ""
    output_directory: str = ""
    sample_ratio: float = 1.0
    random_seed: int = 42


_SECTIONS = {
    "learning": LearningConfig,
    "preprocessing": PreprocessingConfig,
    "explanation": ExplanationConfig,
    "io": IOConfig,
}


def _fields(dc) -> set[str]:
    return {f.name for f in dataclasses.fields(dc)}


class Configuration:
    """Merged run configuration.

    ``Configuration(config_file=..., cli_args={...})`` — precedence is
    dataclass defaults < JSON file < CLI, and any key that matches no
    dataclass field raises (reference contract).
    """

    def __init__(
        self,
        config_file: str | None = None,
        cli_args: dict[str, Any] | None = None,
    ):
        overrides: dict[str, Any] = {}
        if config_file:
            with open(config_file, encoding="utf-8") as f:
                overrides.update(json.load(f))
        overrides.update(cli_args or {})

        # Accept both flat field names and section-nested dicts — the
        # latter is what ``dump`` writes, so a dumped run configuration
        # round-trips back in.
        nested: dict[str, dict] = {
            s: overrides.pop(s)
            for s in list(overrides)
            if s in _SECTIONS and isinstance(overrides[s], dict)
        }
        for attr, dc in _SECTIONS.items():
            taken = dict(nested.get(attr, {}))
            taken.update(
                {k: overrides.pop(k) for k in list(overrides) if k in _fields(dc)}
            )
            unknown = set(taken) - _fields(dc)
            if unknown:
                raise ValueError(
                    f"Unknown key(s) in section {attr!r}: {sorted(unknown)}"
                )
            setattr(self, attr, dc(**taken))
        if overrides:
            raise ValueError(
                f"Unknown configuration key(s): {sorted(overrides)}"
            )
        self._expand_time_aggregates()

    def _expand_time_aggregates(self) -> None:
        """Duplicate per-feature config entries for each time-aggregated
        variant ``{var}_{op}{n}m`` produced by the feature stack.

        Matches the reference's behavior including its deliberate
        exclusion of ``diff`` (``configuration/__init__.py:301`` — diff
        features are derived, not re-encoded)."""

        def expand(mapping: dict) -> None:
            for op, variables in self.preprocessing.time_aggregation.items():
                if op == "diff":
                    continue
                for var, horizons in variables.items():
                    if mapping.get(var) is not None:
                        for n in horizons:
                            mapping[f"{var}_{op}{n}m"] = mapping[var]

        expand(self.preprocessing.features_transformers)

    def to_dict(self) -> dict[str, Any]:
        return {
            attr: dataclasses.asdict(getattr(self, attr)) for attr in _SECTIONS
        }

    def dump(self, spark: SparkSession, path: str) -> None:
        """Persist the merged config next to run outputs (one JSON text
        row — DataFrame writer, no RDD API; a literal over
        ``spark.range`` so the write starts no Python worker)."""
        from pyspark.sql import functions as F

        text = json.dumps(self.to_dict(), ensure_ascii=False)
        row = spark.range(1).select(F.lit(text)).coalesce(1)
        row.write.mode("overwrite").text(path)
