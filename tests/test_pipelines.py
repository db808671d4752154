"""End-to-end dataset-build DAG test: two ExtractJobs from csv fixtures
→ panel join → as-of attach of yearly data → post-join feature stack →
partitioned sink. The miniature twin of the reference's
extract/join/post-join chain (SURVEY.md §3.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sf_datalake_spark.pipelines import (
    ExtractJob,
    attach_asof,
    join_panel,
    post_join_features,
    semi_join_filter,
    upsert_monthly_partitions,
)
from sf_datalake_spark.transformers import (
    IdentifierNormalizer,
    LagTransformer,
    MissingValuesHandler,
    TargetVariable,
)

from tests.conftest import d


@pytest.fixture()
def csv_sources(spark, tmp_path):
    cot = tmp_path / "cotisation.csv"
    cot.write_text(
        "siren,période,cotisation\n"
        "123,2023-01-01,10.5\n"
        "123,2023-01-01,4.5\n"       # duplicate month row → summed
        "123,2023-02-01,20.0\n"
        "456,2023-01-01,7.0\n"
    )
    eff = tmp_path / "effectif.csv"
    eff.write_text(
        "siren,période,effectif\n"
        "123,2023-01-01,12\n"
        "123,2023-02-01,13\n"
        "456,2023-01-01,50\n"
    )
    return str(cot), str(eff)


def test_full_dataset_build_dag(spark, csv_sources, tmp_path):
    cot_path, eff_path = csv_sources
    cot = ExtractJob(
        source_path=cot_path,
        schema="siren:string,cotisation:double",
        stages=[IdentifierNormalizer(inputCol="siren", n_pad=9)],
        group_keys=("siren", "période"),
        agg={"cotisation": "sum"},
    ).build(spark).withColumn("période", F.col("période").cast("date"))

    eff = ExtractJob(
        source_path=eff_path,
        schema="siren:string,effectif:int",
        stages=[IdentifierNormalizer(inputCol="siren", n_pad=9)],
    ).build(spark).withColumn("période", F.col("période").cast("date"))

    panel = join_panel([cot, eff])
    assert panel.count() == 3

    yearly = spark.createDataFrame(
        [("000000123", d("2022-12-31"), 99.0)],
        "siren string, `période` date, ebe double",
    )
    panel = attach_asof(panel, yearly, tolerance_days=365)

    labels = spark.createDataFrame(
        [("000000123", d("2023-06-01"))], "siren string, date_jugement date"
    )
    panel = panel.join(labels, "siren", "left")

    out = post_join_features(
        panel,
        [
            TargetVariable(n_months=18),
            LagTransformer(inputCols=["cotisation"], nMonths=[1]),
            MissingValuesHandler(strategy="value", value={"cotisation_lag1m": 0.0}),
        ],
    )
    rows = {(r["siren"], r["période"]): r for r in out.collect()}
    r = rows[("000000123", d("2023-01-01"))]
    assert r["cotisation"] == 15.0          # duplicate rows summed
    assert r["ebe"] == 99.0                 # asof within tolerance
    assert r["failure"] == 1
    assert r["cotisation_lag1m"] == 0.0     # filled head-of-series lag
    assert rows[("000000123", d("2023-02-01"))]["cotisation_lag1m"] == 15.0
    r456 = rows[("000000456", d("2023-01-01"))]
    assert r456["ebe"] is None              # no yearly data for 456
    assert r456["failure"] == 0

    # perimeter semi-join + partitioned sink round-trip
    perimeter = spark.createDataFrame([("000000123",)], "siren string")
    filtered = semi_join_filter(out, perimeter)
    assert filtered.count() == 2
    sink = str(tmp_path / "panel_out")
    filtered.write.partitionBy("période").parquet(sink)
    back = spark.read.parquet(sink)
    assert back.count() == 2
    # partition pruning works on the sink layout
    from sf_datalake_spark.plans import explain_formatted

    pruned = back.filter(F.col("période") == "2023-01-01")
    assert pruned.count() == 1


def test_upsert_monthly_partitions_is_incremental(spark, tmp_path):
    """Dynamic partition overwrite: re-writing one month leaves the
    others untouched, and the session's overwrite mode is left as it
    was (the mode is a per-write option)."""
    from pyspark.sql import functions as F

    key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(key, None)
    path = str(tmp_path / "panel_parts")
    base = spark.createDataFrame(
        [("1", d("2023-01-01"), 10.0), ("1", d("2023-02-01"), 20.0)],
        "siren string, `période` date, ca double",
    )
    upsert_monthly_partitions(base, path)
    # revise February only
    feb = spark.createDataFrame(
        [("1", d("2023-02-01"), 99.0)], "siren string, `période` date, ca double"
    )
    upsert_monthly_partitions(feb, path)
    back = {r["période"]: r["ca"] for r in spark.read.parquet(path).collect()}
    assert back == {d("2023-01-01"): 10.0, d("2023-02-01"): 99.0}
    assert spark.conf.get(key, None) == conf_before


def test_char_ngrams_and_mode_imputer(spark):
    from sf_datalake_spark.functions.text import char_ngrams
    from sf_datalake_spark.transformers import MissingValuesHandler

    df = spark.createDataFrame([("Ab cd",), ("xy",)], "text string")
    rows = df.select(char_ngrams("text", 4).alias("g")).collect()
    assert rows[0]["g"] == ["ab c", "b cd"]     # normalized (lowercase)
    assert rows[1]["g"] == []                    # shorter than n

    dfn = spark.createDataFrame([(1.0,), (1.0,), (5.0,), (None,)], "x double")
    out = MissingValuesHandler(strategy="mode", inputCols=["x"]).transform(dfn)
    assert sorted(r["x"] for r in out.collect()) == [1.0, 1.0, 1.0, 5.0]
