"""Model persistence + hyperparameter/feature-subset tuning (S8, M5).

Reference analogue: the SMAPH training loop serializes fitted models and
their z-score normalizer to files and reloads them at annotation time
(LibSvmEntityFilter.toFile/fromUrl — learn/models/entityfilters/
LibSvmEntityFilter.java:47-77; ZScoreFeatureNormalizer.dump/load —
learn/normalizer/ZScoreFeatureNormalizer.java:94-130), and tunes with a
nested (wPos,wNeg)×(C,γ) grid plus incremental feature-subset ablation
(TuneModelLibSvm.java:83-103,245-340,738-760).

Spark recast: the fitted PipelineModel persists via the native
``model.write().save()`` (parquet + metadata, cluster-readable from any
executor count), the z-score table and accept threshold as a JSON
sidecar — together one self-contained scorer directory, so a restarted
job reloads the trained scorer instead of retraining (north_rule
resumability for the trained variant). Tuning maps the reference's grid
to ``CrossValidator(ParamGridBuilder)`` over GBT depth/iterations and
the feature ablation to an outer loop over feature subsets scored by
cross-validated area-under-PR.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smaph_spark.config import ERConfig
from smaph_spark.operators.pairs import FEATURE_COLS
from smaph_spark.operators.scoring import (
    apply_normalizer, check_model_family, fit_normalizer, gbt_score,
    scorer_stages, sweep_threshold, train_gbt_scorer, train_linear_scorer,
    with_label,
)
from smaph_spark.session import checkpoint


# ---------------------------------------------------------------------------
# persistence (S8)
# ---------------------------------------------------------------------------

def save_scorer(
    model, path: str, threshold: float, zscore_stats: dict | None = None,
    train_cfg: ERConfig | None = None, normalizer_kind: str = "zscore",
) -> None:
    """Persist (model, threshold, normalizer table) as one directory:
    ``<path>/model`` (Spark ML native) + ``<path>/scorer_meta.json``
    (the .zscore-file analogue). ``train_cfg`` records the config the
    training features were generated under — its feature fingerprint
    lets loaders detect train/serve skew (round-2 ADVICE: a scorer fit
    on shingle_k=7 features was silently applied to shingle_k=5
    features). ``normalizer_kind`` records which normalizer family the
    stats table belongs to ('zscore' | 'minmax' — the reference ships
    both ZScoreFeatureNormalizer and ScaleFeatureNormalizer); the
    stats stay under the legacy 'zscore' meta key so existing
    artifacts keep loading."""
    model.write().overwrite().save(os.path.join(path, "model"))
    meta = {
        "threshold": threshold,
        "zscore": {k: list(v) for k, v in (zscore_stats or {}).items()},
        "normalizer_kind": normalizer_kind,
        "feature_cols": _model_feature_cols(model),
    }
    if train_cfg is not None:
        from dataclasses import asdict

        meta["train_feature_fingerprint"] = train_cfg.feature_fingerprint()
        meta["train_cfg"] = asdict(train_cfg)
    with open(os.path.join(path, "scorer_meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)


def load_scorer(path: str):
    """Returns (PipelineModel, threshold, normalizer_stats dict). The
    stats' family is ``load_scorer_meta(path)['normalizer_kind']``
    ('zscore' when absent — pre-round-5 artifacts)."""
    from pyspark.ml import PipelineModel

    model = PipelineModel.load(os.path.join(path, "model"))
    meta = load_scorer_meta(path)
    stats = {k: tuple(v) for k, v in meta.get("zscore", {}).items()}
    return model, float(meta["threshold"]), stats


def load_scorer_meta(path: str) -> dict:
    """The scorer_meta.json sidecar alone (cheap — no model load), for
    train/serve fingerprint verification before committing to a load."""
    with open(os.path.join(path, "scorer_meta.json")) as fh:
        return json.load(fh)


def _model_feature_cols(model) -> list[str]:
    for stage in getattr(model, "stages", []):
        if hasattr(stage, "getInputCols"):
            return list(stage.getInputCols())
    return list(FEATURE_COLS)


# ---------------------------------------------------------------------------
# labeled training features from the synthetic gold corpus
# ---------------------------------------------------------------------------

def labeled_pair_features(
    spark: SparkSession,
    files: DataFrame,
    labeled_ids: DataFrame,
    cfg: ERConfig | None = None,
) -> DataFrame:
    """Run the pipeline's blocking + feature stages (no scoring/CC) and
    attach gold labels: the training set is exactly the feature
    distribution the scorer will see at inference (ExampleGatherer
    analogue — learn/ExampleGatherer.java:60-120)."""
    from smaph_spark.operators.blocking import cap_and_salt_blocks, generate_blocks
    from smaph_spark.operators.normalize import normalize_files
    from smaph_spark.operators.pairs import attach_pair_features, generate_pairs

    cfg = cfg or ERConfig()
    normalized = normalize_files(files, cfg).drop("content")
    salted, _ = cap_and_salt_blocks(generate_blocks(normalized, cfg), cfg)
    feat = attach_pair_features(generate_pairs(salted, cfg), normalized, cfg)
    return with_label(feat.join(labeled_ids, ["left_id", "right_id"]))


# ---------------------------------------------------------------------------
# grid + feature-subset tuning (M5)
# ---------------------------------------------------------------------------

#: reference feature ablation recast: full pack, no-sha (forces the
#: model to learn content similarity), content-only minimal pack
DEFAULT_FEATURE_SUBSETS = [
    list(FEATURE_COLS),
    [c for c in FEATURE_COLS if c != "sha_eq"],
    ["jaccard_est", "name_jw", "same_lang"],
]


def tune_gbt_scorer(
    labeled_feat: DataFrame,
    feature_subsets: list[list[str]] | None = None,
    max_depths: list[int] = (3, 5),
    max_iters: list[int] = (10, 30),
    folds: int = 3,
    parallelism: int = 4,
    model_family: str = "gbt",
    normalizer: str = "zscore",
):
    """CrossValidator grid nested in a feature-subset loop
    (TuneModelLibSvm.java:83-103: grid search; :738-760: feature
    ablation). ``model_family`` selects the estimator — 'gbt'
    (maxDepth × maxIter grid) or 'linear' (the LibLinearModel.java
    baseline: logistic regression behind the ``normalizer`` scaler
    stage, regParam × elasticNetParam grid, mirroring liblinear's C
    sweep at TuneModelLibSvm.java:245-340). Returns (best_model,
    report) where report records per-subset CV metrics — the analogue
    of the reference's printed tune table."""
    from pyspark.ml import Pipeline
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    subsets = feature_subsets or DEFAULT_FEATURE_SUBSETS
    train = with_label(labeled_feat)
    evaluator = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderPR"
    )
    axes = {
        "gbt": {"maxDepth": list(max_depths), "maxIter": list(max_iters)},
        "linear": {"regParam": [0.001, 0.01, 0.1],
                   "elasticNetParam": [0.0, 0.5]},
    }
    best = None
    report = {"subsets": [], "model_family": model_family}
    for cols in subsets:
        stages, est = scorer_stages(model_family, cols, normalizer)
        pgrid = ParamGridBuilder()
        for name, values in axes[model_family].items():
            pgrid.addGrid(est.getParam(name), values)
        grid = pgrid.build()
        cv = CrossValidator(
            estimator=Pipeline(stages=stages),
            estimatorParamMaps=grid,
            evaluator=evaluator,
            numFolds=folds,
            seed=42,
            parallelism=parallelism,
        )
        fitted = cv.fit(train)
        metric = max(fitted.avgMetrics)
        best_idx = fitted.avgMetrics.index(metric)
        params = {
            p.name: v for p, v in grid[best_idx].items()
        }
        report["subsets"].append(
            {"features": list(cols), "cv_aupr": metric, "best_params": params}
        )
        if best is None or metric > best[0]:
            best = (metric, fitted.bestModel, list(cols), params)
    report["best"] = {
        "features": best[2], "cv_aupr": best[0], "params": best[3]
    }
    return best[1], report


def train_default_scorer(spark: SparkSession, cfg: ERConfig | None = None,
                         n_clusters: int = 150, seed: int = 42,
                         tune: bool = False, model_family: str = "gbt",
                         normalizer: str = "zscore"):
    """Train the pairwise scorer on the seeded synthetic gold corpus and
    sweep the accept threshold (ParameterTester.java:202-253 analogue).
    ``model_family``: 'gbt' (default) or 'linear' (LibLinearModel
    baseline); ``normalizer``: 'zscore' or 'minmax' — selects both the
    sidecar stats table and, for the linear family, the in-pipeline
    scaler stage. Returns (model, threshold, normalizer_stats, report)."""
    from smaph_spark.operators.normalize import record_id
    from smaph_spark.sources.synthetic import generate_files_corpus

    check_model_family(model_family)
    cfg = cfg or ERConfig()
    files_pdf, labeled_pdf, _ = generate_files_corpus(
        n_clusters=n_clusters, seed=seed
    )
    files = spark.createDataFrame(files_pdf)
    labeled = spark.createDataFrame(labeled_pdf)
    lid, rid = record_id("l_"), record_id("r_")
    labeled_ids = labeled.select(
        F.least(lid, rid).alias("left_id"),
        F.greatest(lid, rid).alias("right_id"),
        "is_match",
    )
    feat, _ = checkpoint(labeled_pair_features(spark, files, labeled_ids, cfg))
    if tune:
        model, report = tune_gbt_scorer(
            feat, model_family=model_family, normalizer=normalizer
        )
    elif model_family == "linear":
        model, report = (
            train_linear_scorer(feat, normalizer=normalizer),
            {"tuned": False, "model_family": "linear"},
        )
    else:
        model, report = train_gbt_scorer(feat), {"tuned": False}
    scored = gbt_score(model, feat).withColumn(
        "is_match_gold", F.col("is_match")
    )
    threshold, _ = sweep_threshold(scored)
    stats = fit_normalizer(feat, normalizer)
    return model, threshold, stats, report


# ---------------------------------------------------------------------------
# M6 — libsvm-format example dump (ExampleGatherer.dumpExamplesLibSvm)
# ---------------------------------------------------------------------------

def dump_examples_libsvm(
    labeled_feat: DataFrame,
    path: str,
    feature_cols: list[str] | None = None,
    zscore_stats: dict | None = None,
    normalizer_kind: str = "zscore",
) -> None:
    """Write labeled pair features as libsvm text lines —
    ``<gold%.5f> 1:<f1%.9f> 2:<f2> ...  #id=<group>`` — the format of
    ExampleGatherer.dumpExamplesLibSvm/writeLineLibSvm
    (learn/ExampleGatherer.java:276-309), with the reference's
    per-group lexicographic line sort for byte-stable output (its
    comment: "lines are output always in the same order"). Distributed:
    lines are built with JVM expressions and written through the text
    sink; the per-group sort becomes sortWithinPartitions after
    repartitioning by the group key."""
    cols = feature_cols or FEATURE_COLS
    df = labeled_feat
    if zscore_stats:
        df = apply_normalizer(df, normalizer_kind, zscore_stats)
    gold = F.col("label") if "label" in df.columns else F.col(
        "is_match"
    ).cast("double")
    parts = [F.format_string("%.5f ", gold)]
    for i, c in enumerate(cols):
        parts.append(
            F.format_string(f"{i + 1}:%.9f ", F.col(c).cast("double"))
        )
    group = (
        F.col("block_key") if "block_key" in df.columns else F.lit("0")
    )
    parts.append(F.concat(F.lit(" #id="), group.cast("string")))
    line = F.concat(*parts)
    (
        df.select(line.alias("value"), group.alias("_g"))
        .repartition("_g")
        .sortWithinPartitions("_g", "value")
        .select("value")
        .write.mode("overwrite")
        .text(path)
    )
