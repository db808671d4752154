"""Config-driven synthesis of encoding + scaling pipeline stages.

Reference behavior replaced: ``ConfigurationHelper.encoding_scaling_stages``
and ``prepare_encoding_steps`` (reference
``src/sf_datalake/configuration/__init__.py:342-473``): per-feature
encoder chains with suffix naming (``_bin`` / ``_ix`` / ``_onehot``),
per-scaler assemble→scale groups, then a final assembly into the model
feature vector.

Input is a plain declarative mapping — no Param-object mutation::

    features = {
        "ca":        ["standard_scaler"],
        "effectif":  ["bins", "standard_scaler"],
        "code_naf":  ["string_indexer", "onehot"],
        "ratio_dette": [],                # raw passthrough
    }
    stages = encoding_scaling_stages(
        features,
        bins={"effectif": ["-inf", 10, 50, "inf"]},
        features_col="features",
    )
    Pipeline(stages=stages).fit(df)

Missing values: with ``drop_missing`` (the default) every
VectorAssembler is built with ``handleInvalid="skip"``, which is Spark's
``na.drop(inputCols)`` — the same null/NaN rule the reference's
MissingValuesDropper stage applies, which this replaces; without it
the assemblers keep ``"error"`` and fail on a missing value.  Bins are a
plain Bucketizer.  Every stage is therefore a JVM stage: the fitted
PipelineModel saves and loads through Spark's Java ML writer/reader and
never starts a Python worker.  Model directories saved with the older
Python dropper stage still load (``MissingValuesDropper`` is kept).
"""

from __future__ import annotations

from pyspark.ml import Transformer
from pyspark.ml.feature import (
    Bucketizer,
    MaxAbsScaler,
    MinMaxScaler,
    OneHotEncoder,
    StandardScaler,
    StringIndexer,
    VectorAssembler,
)

from sf_datalake_spark.transformers.encoders import _to_float

ENCODERS = ("bins", "string_indexer", "onehot")
SCALERS = ("standard_scaler", "minmax_scaler", "maxabs_scaler")

_SUFFIX = {"bins": "bin", "string_indexer": "ix", "onehot": "onehot"}


def _make_scaler(name: str, input_col: str, output_col: str):
    if name == "standard_scaler":
        return StandardScaler(
            inputCol=input_col, outputCol=output_col, withMean=True, withStd=True
        )
    if name == "minmax_scaler":
        return MinMaxScaler(inputCol=input_col, outputCol=output_col)
    if name == "maxabs_scaler":
        return MaxAbsScaler(inputCol=input_col, outputCol=output_col)
    raise ValueError(f"Unknown scaler: {name}")


def encoding_scaling_stages(
    features: dict[str, list[str]],
    bins: dict[str, list] | None = None,
    features_col: str = "features",
    drop_missing: bool = True,
) -> list[Transformer]:
    """Build the full encode→scale→assemble stage list for a Pipeline.

    Per feature: encoder chain first (suffix-named outputs), then the
    feature lands either in a scaler group (one VectorAssembler +
    scaler per distinct scaler, like the reference) or directly in the
    final feature list.
    """
    bins = bins or {}
    encoding: list[Transformer] = []
    scaler_inputs: dict[str, list[str]] = {}
    model_features: list[str] = []

    for feature, transforms in features.items():
        col = feature
        for t in transforms:
            if t not in ENCODERS:
                continue
            out = f"{col}_{_SUFFIX[t]}"
            if t == "bins":
                encoding.append(
                    Bucketizer(
                        splits=[_to_float(b) for b in bins[feature]],
                        inputCol=col, outputCol=out, handleInvalid="keep",
                    )
                )
            elif t == "string_indexer":
                encoding.append(
                    StringIndexer(inputCol=col, outputCol=out, handleInvalid="keep")
                )
            elif t == "onehot":
                encoding.append(OneHotEncoder(inputCol=col, outputCol=out))
            col = out
        scalers = [t for t in transforms if t in SCALERS]
        if scalers:
            scaler_inputs.setdefault(scalers[-1], []).append(col)
        else:
            model_features.append(col)

    handle_invalid = "skip" if drop_missing else "error"
    scaling: list[Transformer] = []
    for scaler_name, input_cols in scaler_inputs.items():
        scaling.append(
            VectorAssembler(
                inputCols=input_cols, outputCol=f"{scaler_name}_input",
                handleInvalid=handle_invalid,
            )
        )
        scaling.append(
            _make_scaler(scaler_name, f"{scaler_name}_input", f"{scaler_name}_output")
        )
        model_features.append(f"{scaler_name}_output")

    final = VectorAssembler(
        inputCols=model_features, outputCol=features_col,
        handleInvalid=handle_invalid,
    )
    return encoding + scaling + [final]
