"""CLI entry point: ``python -m sf_datalake_spark <command>``.

Reference behavior replaced: the reference is orchestrated as CLI
scripts — ``python -m sf_datalake`` for the learning run
(``src/sf_datalake/__main__.py``) plus per-source extract scripts
(SURVEY.md §3.1/§3.2). Here one module exposes the same lifecycle as
subcommands, all driven by a ``Configuration`` (JSON + CLI overrides):

    python -m sf_datalake_spark train --config run.json \
        --dataset /path/panel.parquet --output /path/out [--sample 0.01]
    python -m sf_datalake_spark predict --config run.json ...
    python -m sf_datalake_spark convert --input a.csv --output b.orc

The train pipeline: load → optional sample → date filter → target label
→ encode/scale stages → grouped split → optional resample → fit →
predict → metrics + F-beta thresholds → alert documents + predictions
written; the merged config is dumped next to outputs for
reproducibility (reference dumps run config to HDFS).

Both lifecycle commands overlap the Spark actions that do not depend on
each other (see ``_concurrently``): ``train`` pins the scored test
split once, then computes the AUC metrics and F-beta thresholds while it
writes the predictions, the config dump and both fitted models, and
last writes the alert JSON and the thresholds together; ``predict``
loads the input, the preprocessing pipeline, the classifier and the
thresholds at once, then writes the predictions and the alert JSON
together.  Every command runs in the caller's active session as it is
(no conf or app-name change) and builds one only when none exists.
"""

from __future__ import annotations

import argparse
import json
import sys


def _session(app_name: str):
    """The caller's active session, untouched; a new engine session
    only when none is active."""
    from pyspark.sql import SparkSession

    from sf_datalake_spark.session import get_spark_session

    return SparkSession.getActiveSession() or get_spark_session(app_name)


def _concurrently(spark, *thunks):
    """Run independent Spark actions at once; return their results in
    argument order.

    One thread per thunk.  Each thread starts with the caller's local
    properties (job group, description, scheduler pool), so its jobs are
    traced and cancelled with the caller's.  All thunks finish before
    the first exception, in argument order, is re-raised."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
    return [f.result() for f in futures]


def _train(args: argparse.Namespace) -> int:
    from pyspark.ml import Pipeline
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from sf_datalake_spark.config import Configuration
    from sf_datalake_spark.io import load_data, write_predictions
    from sf_datalake_spark.ml import (
        binary_metrics,
        encoding_scaling_stages,
        make_classifier,
        optimal_fbeta_thresholds,
    )
    from sf_datalake_spark.ml.frontend import build_alert_documents
    from sf_datalake_spark.operators.split import hash_split
    from sf_datalake_spark.pins import pinned
    from sf_datalake_spark.transformers import TargetVariable

    cli: dict = {}
    if args.dataset:
        cli["dataset_path"] = args.dataset
    if args.output:
        cli["output_directory"] = args.output
    if args.sample:
        cli["sample_ratio"] = args.sample
    cfg = Configuration(config_file=args.config, cli_args=cli)

    spark = _session("sf_datalake_spark.train")
    df = load_data(spark, cfg.io.dataset_path, args.format)
    if cfg.io.sample_ratio < 1.0:
        df = df.sample(fraction=cfg.io.sample_ratio, seed=cfg.io.random_seed)

    label = cfg.learning.label_column
    entity = cfg.preprocessing.identifiers[0]
    df = TargetVariable(
        outputCol=label,
        n_months=cfg.learning.target.get("n_months", 18),
        periodCol=cfg.preprocessing.identifiers[1],
    ).transform(df)
    if cfg.preprocessing.fill_defaults:
        df = df.fillna(cfg.preprocessing.fill_defaults)

    prep = Pipeline(
        stages=encoding_scaling_stages(
            cfg.preprocessing.features_transformers,
            bins=cfg.preprocessing.ordinal_encoding_bins,
            features_col=cfg.learning.features_column,
            drop_missing=cfg.preprocessing.drop_missing_values,
        )
    )
    prep_model = prep.fit(df)
    model_input = prep_model.transform(df)
    train, test = hash_split(model_input, entity, cfg.learning.test_fraction)

    clf = make_classifier(
        cfg.learning.model_name,
        features_col=cfg.learning.features_column,
        label_col=label,
        **cfg.learning.model_params,
    )
    model = clf.fit(train)
    out = cfg.io.output_directory.rstrip("/")
    # every action below reads the scored test split: score it once
    with pinned(model.transform(test).withColumn(
        "probability_1", F.element_at(vector_to_array("probability"), 2)
    )) as preds:
        metrics, thresholds, *_ = _concurrently(
            spark,
            lambda: binary_metrics(preds, label_col=label),
            lambda: optimal_fbeta_thresholds(
                preds, score_col="probability_1", label_col=label
            ),
            lambda: write_predictions(
                preds.select(entity, cfg.preprocessing.identifiers[1], "probability"),
                f"{out}/predictions",
            ),
            lambda: cfg.dump(spark, f"{out}/run_configuration"),
            # the fitted artifacts, so `predict` scores with THIS model
            lambda: prep_model.write().overwrite().save(f"{out}/model/preprocessing"),
            lambda: model.write().overwrite().save(f"{out}/model/classifier"),
        )
        by_beta = {str(k): v for k, v in thresholds.items()}
        _concurrently(
            spark,
            lambda: build_alert_documents(
                preds, thresholds, entity_col=entity, score_col="probability_1",
                period_col=cfg.preprocessing.identifiers[1],
            ).write.mode("overwrite").json(f"{out}/alert_documents"),
            lambda: spark.range(1).select(F.lit(json.dumps(by_beta))).coalesce(1)
            .write.mode("overwrite").text(f"{out}/model/thresholds"),
        )
    print(json.dumps({"metrics": metrics, "thresholds": by_beta}))
    return 0


def _predict(args: argparse.Namespace) -> int:
    """Score a dataset with a previously trained run's artifacts
    (``--model-dir`` = the train run's output directory)."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from sf_datalake_spark.config import Configuration
    from sf_datalake_spark.io import load_data, write_predictions
    from sf_datalake_spark.ml.frontend import build_alert_documents
    from sf_datalake_spark.ml.models import load_classifier

    cli: dict = {}
    if args.dataset:
        cli["dataset_path"] = args.dataset
    if args.output:
        cli["output_directory"] = args.output
    cfg = Configuration(config_file=args.config, cli_args=cli)
    model_dir = (args.model_dir or cfg.io.output_directory).rstrip("/")

    spark = _session("sf_datalake_spark.predict")

    def read_thresholds() -> dict:
        text = spark.read.text(f"{model_dir}/model/thresholds").first()["value"]
        return {float(k): v for k, v in json.loads(text).items()}

    df, prep, clf, thresholds = _concurrently(
        spark,
        lambda: load_data(spark, cfg.io.dataset_path, args.format),
        lambda: PipelineModel.load(f"{model_dir}/model/preprocessing"),
        lambda: load_classifier(cfg.learning.model_name, f"{model_dir}/model/classifier"),
        read_thresholds,
    )
    preds = clf.transform(prep.transform(df)).withColumn(
        "probability_1", F.element_at(vector_to_array("probability"), 2)
    )
    entity = cfg.preprocessing.identifiers[0]
    out = cfg.io.output_directory.rstrip("/")
    _concurrently(
        spark,
        lambda: write_predictions(
            preds.select(entity, cfg.preprocessing.identifiers[1], "probability"),
            f"{out}/predictions",
        ),
        lambda: build_alert_documents(
            preds, thresholds, entity_col=entity, score_col="probability_1",
            period_col=cfg.preprocessing.identifiers[1],
        ).write.mode("overwrite").json(f"{out}/alert_documents"),
    )
    print(json.dumps({"thresholds": {str(k): v for k, v in thresholds.items()},
                      "model_dir": model_dir}))
    return 0


def _convert(args: argparse.Namespace) -> int:
    from sf_datalake_spark.io import csv_to_orc

    csv_to_orc(_session("convert"), args.input, args.output, sep=args.sep)
    return 0


def _profile(args: argparse.Namespace) -> int:
    """One-pass data-quality report for any parquet/csv/orc table."""
    from sf_datalake_spark.functions.profile import profile_table
    from sf_datalake_spark.io import load_data

    spark = _session("profile")
    df = load_data(spark, args.input, args.format)
    report = profile_table(df)
    if args.output:
        report.write.mode("overwrite").parquet(args.output)
    else:
        for r in report.collect():
            print(json.dumps(r.asDict(), default=str))
    return 0


def _dedup(args: argparse.Namespace) -> int:
    """Cluster near-duplicate documents (MinHash → LSH bands →
    connected components) and write (id, cluster_id, is_canonical)."""
    from sf_datalake_spark.io import load_data
    from sf_datalake_spark.operators.components import dedup_clusters
    from sf_datalake_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    spark = _session("dedup")
    docs = load_data(spark, args.input, args.format)
    sig = minhash_signature(
        docs, args.id_col, args.text_col,
        num_hashes=args.bands * args.rows_per_band, shingle_n=args.shingle_n,
    )
    pairs = lsh_candidate_pairs(
        sig, args.id_col, bands=args.bands, rows_per_band=args.rows_per_band,
        signature_length=args.bands * args.rows_per_band,
    )
    out = dedup_clusters(docs, pairs, args.id_col)
    out.write.mode("overwrite").parquet(args.output)
    # summarize from the written files — re-counting `out` would re-run
    # the whole MinHash→LSH→components lineage per action
    from pyspark.sql import functions as F

    row = (
        spark.read.parquet(args.output)
        .agg(F.count("*").alias("n"), F.sum("is_canonical").alias("kept"))
        .first()
    )
    n, kept = row["n"], int(row["kept"] or 0)
    print(json.dumps({"rows": n, "canonical": kept,
                      "duplicates_removed": n - kept}))
    return 0


def _curate(args: argparse.Namespace) -> int:
    """End-to-end corpus curation: Gopher quality gate → exact dedup →
    optional MinHash-LSH near-dup dedup → per-source relative pruning →
    write survivors (+ optional training-sequence packing) + a
    stage-by-stage drop report.

    Every stage is a filter/keyed aggregation: one scan, fingerprint
    dedup shuffle, (optional) LSH band shuffle + components, prune
    window, final write — the batch shape that scales to the full
    corpus.  Near-dup is off by default (``--near-dup-bands 0``)
    because banding cost is only worth paying when the corpus actually
    carries near-duplicates; packing (``--pack-budget``) appends a
    ``<output>_packing`` parquet with (id, weight, bin_id, bin_offset)
    per survivor instead of reshaping the survivor table itself.
    """
    from pyspark.sql import functions as F

    from sf_datalake_spark.functions.text import text_fingerprint
    from sf_datalake_spark.io import load_data
    from sf_datalake_spark.operators.corpus import (
        gopher_quality_filter,
        quality_prune,
    )

    spark = _session("curate")
    docs = load_data(spark, args.input, args.format)
    n_in = docs.count()
    gated = gopher_quality_filter(
        docs, args.id_col, args.text_col,
        min_tokens=args.min_tokens, max_tokens=args.max_tokens,
    )
    kept_ids = gated.filter(F.col("keep") == 1).select(args.id_col)
    quality = docs.join(kept_ids, args.id_col, "left_semi")
    # exact dedup: keep the smallest id per normalized-text fingerprint
    from pyspark.sql import Window

    w = Window.partitionBy("__fp").orderBy(args.id_col)
    deduped = (
        quality.withColumn("__fp", text_fingerprint(args.text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )
    report: dict = {"input": n_in}
    near = deduped
    if args.near_dup_bands > 0:
        from sf_datalake_spark.operators.components import dedup_clusters
        from sf_datalake_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signature,
        )

        num_hashes = args.near_dup_bands * args.near_dup_rows
        sig = minhash_signature(
            deduped, args.id_col, args.text_col,
            num_hashes=num_hashes, shingle_n=args.shingle_n,
        )
        pairs = lsh_candidate_pairs(
            sig, args.id_col, bands=args.near_dup_bands,
            rows_per_band=args.near_dup_rows, signature_length=num_hashes,
            max_bucket_size=args.max_bucket_size,
        )
        if args.near_dup_min_agree > 0.0:
            # r07 advice: raw LSH candidates are precision-free (one
            # 2-slot band collision merges two non-duplicates forever
            # in connected components); verify each pair by its
            # signature-agreement fraction — the unbiased MinHash
            # Jaccard estimate — before clustering.
            s1 = sig.select(F.col(args.id_col).alias("id_1"),
                            F.col("signature").alias("__s1"))
            s2 = sig.select(F.col(args.id_col).alias("id_2"),
                            F.col("signature").alias("__s2"))
            agree = F.size(F.filter(
                F.zip_with("__s1", "__s2", lambda x, y: x == y),
                lambda v: v,
            ))
            pairs = (
                pairs.join(s1, "id_1")
                .join(s2, "id_2")
                .filter(agree / F.size("__s1") >= args.near_dup_min_agree)
                .select("id_1", "id_2")
            )
            report["near_dup_min_agree"] = args.near_dup_min_agree
        canon_ids = (
            dedup_clusters(deduped, pairs, args.id_col)
            .filter(F.col("is_canonical") == 1)
            .select(args.id_col)
        )
        near = deduped.join(canon_ids, args.id_col, "left_semi")
    pruned = (
        quality_prune(
            near, args.score_col, args.keep_fraction,
            id_col=args.id_col, by=args.by,
        )
        if args.keep_fraction < 1.0
        else near
    )
    pruned.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    report["after_quality_gate"] = quality.count()
    report["after_exact_dedup"] = deduped.count()
    if args.near_dup_bands > 0:
        report["after_near_dup"] = near.count()
    report["written"] = n_out
    report["dropped"] = n_in - n_out
    if args.pack_budget > 0:
        from sf_datalake_spark.operators.corpus import pack_sequences

        survivors = spark.read.parquet(args.output)
        weighted = survivors.withColumn(
            "__w",
            F.size(F.split(F.trim(F.col(args.text_col)), r"\s+")),
        )
        packed = pack_sequences(
            weighted, "__w", args.pack_budget,
            partition_col=args.by, id_col=args.id_col,
        )
        pack_path = args.output.rstrip("/") + "_packing"
        packed.write.mode("overwrite").parquet(pack_path)
        back = spark.read.parquet(pack_path)
        bins = (
            back.groupBy(*([args.by] if args.by else []), "bin_id")
            .count().count()
        )
        report["pack_budget"] = args.pack_budget
        report["n_sequences"] = bins
        report["packing_path"] = pack_path
    print(json.dumps(report))
    return 0


def _compact(args: argparse.Namespace) -> int:
    from sf_datalake_spark.io import compact_files

    stats = compact_files(
        _session("compact"), args.input,
        target_mb=args.target_mb, file_format=args.format,
    )
    print(json.dumps(stats))
    return 0


def _vacuum(args: argparse.Namespace) -> int:
    from sf_datalake_spark.io import vacuum_staging

    res = vacuum_staging(
        _session("vacuum"), args.root,
        retention_hours=args.retention_hours, dry_run=args.dry_run,
    )
    print(json.dumps(res))
    return 0


def _zorder(args: argparse.Namespace) -> int:
    from sf_datalake_spark.functions.zorder import write_zordered
    from sf_datalake_spark.io import load_data

    spark = _session("zorder")
    cols = args.cols.split(",")
    if len(cols) < 2:
        raise SystemExit("--cols takes two or more comma-separated columns")
    df = load_data(spark, args.input, args.format)
    write_zordered(df, args.output, cols,
                   n_bits=args.n_bits, n_files=args.n_files)
    print(json.dumps({"rows": spark.read.parquet(args.output).count()}))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="sf_datalake_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    for name in ("train", "predict"):
        p = sub.add_parser(name)
        p.add_argument("--config", default=None, help="JSON config file")
        p.add_argument("--dataset", default=None, help="input dataset path")
        p.add_argument("--output", default=None, help="output directory")
        p.add_argument("--format", default="parquet")
        p.add_argument("--sample", type=float, default=None)
        p.add_argument("--model-dir", dest="model_dir", default=None,
                       help="train run output dir holding model/ (predict only)")

    c = sub.add_parser("convert")
    c.add_argument("--input", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--sep", default=",")

    pr = sub.add_parser("profile")
    pr.add_argument("--input", required=True)
    pr.add_argument("--output", default=None,
                    help="write the report as parquet (default: print JSON lines)")
    pr.add_argument("--format", default="parquet")

    dd = sub.add_parser("dedup")
    dd.add_argument("--input", required=True)
    dd.add_argument("--output", required=True)
    dd.add_argument("--format", default="parquet")
    dd.add_argument("--id-col", dest="id_col", default="doc_id")
    dd.add_argument("--text-col", dest="text_col", default="text")
    dd.add_argument("--bands", type=int, default=4)
    dd.add_argument("--rows-per-band", dest="rows_per_band", type=int, default=2)
    dd.add_argument("--shingle-n", dest="shingle_n", type=int, default=3)

    cu = sub.add_parser("curate")
    cu.add_argument("--input", required=True)
    cu.add_argument("--output", required=True)
    cu.add_argument("--format", default="parquet")
    cu.add_argument("--id-col", dest="id_col", default="doc_id")
    cu.add_argument("--text-col", dest="text_col", default="text")
    cu.add_argument("--score-col", dest="score_col", default="n_chars")
    cu.add_argument("--by", default=None)
    cu.add_argument("--min-tokens", dest="min_tokens", type=int, default=10)
    cu.add_argument("--max-tokens", dest="max_tokens", type=int, default=100_000)
    cu.add_argument("--keep-fraction", dest="keep_fraction", type=float,
                    default=1.0)
    cu.add_argument("--near-dup-bands", dest="near_dup_bands", type=int,
                    default=0,
                    help="MinHash-LSH near-dup stage after exact dedup; "
                    "0 (default) disables it.  NOTE: without "
                    "--near-dup-min-agree the LSH pairs are UNVERIFIED "
                    "candidates — precision depends on bands*rows, and a "
                    "single band collision merges two non-duplicates in "
                    "connected components")
    cu.add_argument("--near-dup-rows", dest="near_dup_rows", type=int,
                    default=2, help="rows per LSH band")
    cu.add_argument("--near-dup-min-agree", dest="near_dup_min_agree",
                    type=float, default=0.0,
                    help="verify LSH candidate pairs before clustering: "
                    "keep a pair only if its signature-agreement fraction "
                    "(the MinHash Jaccard estimate) is >= this value; "
                    "0 (default) keeps every candidate (legacy behavior)")
    cu.add_argument("--shingle-n", dest="shingle_n", type=int, default=3)
    cu.add_argument("--max-bucket-size", dest="max_bucket_size", type=int,
                    default=256,
                    help="whale-bucket star-linking guard for the LSH "
                    "self-join (see lsh_candidate_pairs)")
    cu.add_argument("--pack-budget", dest="pack_budget", type=int, default=0,
                    help="training-sequence packing budget in whitespace "
                    "tokens; writes <output>_packing; 0 (default) skips")
    cu.set_defaults(func=_curate)

    cp = sub.add_parser("compact")
    cp.add_argument("--input", required=True)
    cp.add_argument("--target-mb", dest="target_mb", type=int, default=128)
    cp.add_argument("--format", default="parquet")

    zo = sub.add_parser("zorder")
    zo.add_argument("--input", required=True)
    zo.add_argument("--output", required=True)
    zo.add_argument("--cols", required=True,
                    help="two comma-separated numeric columns to interleave")
    zo.add_argument("--n-files", dest="n_files", type=int, default=None)
    zo.add_argument(
        "--n-bits", dest="n_bits", type=int, default=16,
        help="bits kept per column before interleaving; must satisfy "
        "max(col) < 2^n_bits or keys alias (rule of thumb: "
        "ceil(log2(max_id + 1)); the writer probes and errors if too small)",
    )
    zo.add_argument("--format", default="parquet")

    va = sub.add_parser("vacuum")
    va.add_argument("--root", required=True,
                    help="directory whose orphaned *.compacting / "
                    "*.staging-N leftovers should be removed")
    va.add_argument("--retention-hours", dest="retention_hours",
                    type=float, default=24.0)
    va.add_argument("--dry-run", dest="dry_run", action="store_true")

    args = parser.parse_args(argv)
    if args.command == "train":
        return _train(args)
    if args.command == "predict":
        return _predict(args)
    if args.command == "profile":
        return _profile(args)
    if args.command == "dedup":
        return _dedup(args)
    if args.command == "compact":
        return _compact(args)
    if args.command == "zorder":
        return _zorder(args)
    if args.command == "vacuum":
        return _vacuum(args)
    if args.command == "curate":
        return _curate(args)
    return _convert(args)


if __name__ == "__main__":
    sys.exit(main())
