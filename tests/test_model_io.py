"""Model persistence + tuning (S8/M5): save/load roundtrip reproduces
scores exactly, the CV grid tune returns a usable model + report, and
the committed scorer artifact drives the pipeline to F1 >= 0.99 on the
synthetic gold corpus (north_star: trained scorer replaces the rule)."""

import os

import pytest
from pyspark.sql import functions as F

from smaph_spark.config import ERConfig
from smaph_spark.operators.metrics import pairwise_prf
from smaph_spark.operators.model_io import (
    labeled_pair_features,
    load_scorer,
    save_scorer,
    train_default_scorer,
    tune_gbt_scorer,
)
from smaph_spark.operators.pairs import FEATURE_COLS
from smaph_spark.operators.scoring import gbt_score, train_gbt_scorer
from smaph_spark.pipeline import ERPipeline
from smaph_spark.sources.synthetic import generate_files_corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACT = os.path.join(REPO, "models", "gbt_scorer")


def _labeled_feature_frame(spark, seed=11):
    files_pdf, labeled_pdf, _ = generate_files_corpus(n_clusters=40, seed=seed)
    files = spark.createDataFrame(files_pdf)
    labeled = spark.createDataFrame(labeled_pdf)
    lid = F.xxhash64("l_repo", "l_path", "l_commit")
    rid = F.xxhash64("r_repo", "r_path", "r_commit")
    labeled_ids = labeled.select(
        F.least(lid, rid).alias("left_id"),
        F.greatest(lid, rid).alias("right_id"),
        "is_match",
    )
    return files, labeled_ids, labeled_pair_features(
        spark, files, labeled_ids, ERConfig()
    )


def test_save_load_roundtrip_scores_identical(spark, tmp_path):
    """LibSvmEntityFilter.toFile/fromUrl analogue: a reloaded scorer
    must reproduce the saved scorer's outputs bit-for-bit."""
    _, _, feat = _labeled_feature_frame(spark)
    model = train_gbt_scorer(feat, max_iter=5)
    path = str(tmp_path / "scorer")
    save_scorer(model, path, threshold=0.7, zscore_stats={"name_jw": (0.5, 0.1)})
    model2, thr, stats = load_scorer(path)
    assert thr == 0.7
    assert stats == {"name_jw": (0.5, 0.1)}
    a = {(r["left_id"], r["right_id"]): r["score"]
         for r in gbt_score(model, feat).collect()}
    b = {(r["left_id"], r["right_id"]): r["score"]
         for r in gbt_score(model2, feat).collect()}
    assert a == b


def test_tune_grid_and_feature_subsets(spark):
    """M5 (TuneModelLibSvm grid + ablation): CV over a small grid and
    two feature subsets picks a best combo and reports per-subset
    metrics."""
    _, _, feat = _labeled_feature_frame(spark)
    model, report = tune_gbt_scorer(
        feat,
        feature_subsets=[list(FEATURE_COLS), ["jaccard_est", "same_lang"]],
        max_depths=[2], max_iters=[5], folds=2, parallelism=2,
    )
    assert len(report["subsets"]) == 2
    assert all("cv_aupr" in s and "best_params" in s for s in report["subsets"])
    assert report["best"]["cv_aupr"] >= max(
        s["cv_aupr"] for s in report["subsets"]
    ) - 1e-12
    scored = gbt_score(model, feat)
    assert "score" in scored.columns and scored.count() == feat.count()


@pytest.mark.skipif(not os.path.exists(ARTIFACT), reason="artifact not built")
def test_committed_scorer_preserves_pipeline_f1(spark):
    """The persisted artifact (models/gbt_scorer) plugged into the full
    pipeline keeps pairwise F1 >= 0.99 on a FRESH-seed gold corpus."""
    model, threshold, _ = load_scorer(ARTIFACT)
    files_pdf, labeled_pdf, _ = generate_files_corpus(n_clusters=80, seed=4242)
    files = spark.createDataFrame(files_pdf)
    labeled = spark.createDataFrame(labeled_pdf)
    lid = F.xxhash64("l_repo", "l_path", "l_commit")
    rid = F.xxhash64("r_repo", "r_path", "r_commit")
    labeled_ids = labeled.select(
        F.least(lid, rid).alias("left_id"),
        F.greatest(lid, rid).alias("right_id"),
        "is_match",
    )
    from dataclasses import replace

    cfg = replace(ERConfig(), match_threshold=threshold)
    res = ERPipeline(spark, cfg, scorer_model=model).run(files)
    m = pairwise_prf(res.matches, labeled_ids)
    assert m["f1"] >= 0.99, m


def test_train_default_scorer_untuned(spark):
    model, threshold, stats, report = train_default_scorer(
        spark, n_clusters=30, seed=5
    )
    assert 0.0 < threshold < 1.0
    assert set(stats) == set(FEATURE_COLS)
    assert report == {"tuned": False}


def test_train_default_scorer_rejects_unknown_family(spark, monkeypatch):
    """A misspelt model_family raises before any corpus or feature is
    built, instead of silently training a GBT."""
    from smaph_spark.sources import synthetic

    def never(*a, **k):
        raise AssertionError("no corpus may be generated")

    monkeypatch.setattr(synthetic, "generate_files_corpus", never)
    with pytest.raises(ValueError, match="unknown model_family 'lienar'"):
        train_default_scorer(spark, n_clusters=10, model_family="lienar")


def test_libsvm_dump_format(spark, tmp_path):
    """M6 (ExampleGatherer.dumpExamplesLibSvm:276-309): gold %.5f, then
    1-indexed `i:%.9f` features, ` #id=<group>`, lines sorted within a
    group."""
    import glob

    from smaph_spark.operators.model_io import dump_examples_libsvm

    df = spark.createDataFrame(
        [
            (1, 2, "blk", 0.5, 0.25, True),
            (3, 4, "blk", 0.125, 1.0, False),
        ],
        "left_id long, right_id long, block_key string, "
        "jaccard_est double, name_jw double, is_match boolean",
    )
    out = str(tmp_path / "examples")
    dump_examples_libsvm(df, out, feature_cols=["jaccard_est", "name_jw"])
    lines = []
    for f in glob.glob(f"{out}/part-*"):
        with open(f) as fh:
            lines += [l.rstrip("\n") for l in fh if l.strip()]
    lines.sort()
    assert lines == [
        "0.00000 1:0.125000000 2:1.000000000  #id=blk",
        "1.00000 1:0.500000000 2:0.250000000  #id=blk",
    ]


def test_linear_baseline_scorer_f1(spark):
    """LibLinearModel.java:1-43 analogue: the logistic baseline (behind
    either scaler stage) must also clear F1 >= 0.99 on the synthetic
    corpus — the reference's linear family is the standard ablation
    control against the GBT."""
    from smaph_spark.operators.scoring import (
        sweep_threshold, train_linear_scorer,
    )

    _, labeled_ids, feat = _labeled_feature_frame(spark, seed=21)
    for norm in ("zscore", "minmax"):
        model = train_linear_scorer(feat, normalizer=norm)
        scored = gbt_score(model, feat).withColumn(
            "is_match_gold", F.col("is_match")
        )
        thr, _ = sweep_threshold(scored)
        pred = scored.select(
            "left_id", "right_id", (F.col("score") >= thr).alias("is_match")
        )
        m = pairwise_prf(pred, labeled_ids)
        assert m["f1"] >= 0.99, (norm, m)
        # the scaler stage rides inside the persisted pipeline: no
        # stray feature-vector columns leak into the scored output
        assert "raw_features" not in scored.columns


def test_linear_family_after_observation(spark):
    """Once an Observation has run in the session (the ER pipeline
    observes its counts), an in-session linear fit must still train,
    score and CV-tune: Spark 4.1's LogisticRegression training summary
    holds the session, whose ObservationManager does not serialize, so
    the fits drop the summary."""
    from pyspark.sql import Observation

    from smaph_spark.operators.scoring import train_linear_scorer

    obs = Observation()
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get == {"n": 3}

    _, _, feat = _labeled_feature_frame(spark, seed=13)
    n = feat.count()
    model = train_linear_scorer(feat)
    scores = gbt_score(model, feat).select("score").collect()
    assert len(scores) == n and all(0.0 <= r["score"] <= 1.0 for r in scores)
    tuned, report = tune_gbt_scorer(
        feat, feature_subsets=[["jaccard_est", "name_jw", "same_lang"]],
        folds=2, parallelism=2, model_family="linear",
    )
    assert report["model_family"] == "linear"
    assert len(gbt_score(tuned, feat).select("score").collect()) == n


def test_tune_linear_family_small_grid(spark):
    """M5 with model_family='linear': the CV grid sweeps
    regParam x elasticNetParam (liblinear C-sweep analogue) and the
    report records the family."""
    _, _, feat = _labeled_feature_frame(spark)
    model, report = tune_gbt_scorer(
        feat,
        feature_subsets=[["jaccard_est", "name_jw", "same_lang"]],
        folds=2, parallelism=2, model_family="linear", normalizer="minmax",
    )
    assert report["model_family"] == "linear"
    assert len(report["subsets"]) == 1
    scored = gbt_score(model, feat)
    assert "score" in scored.columns and scored.count() == feat.count()


def test_train_default_scorer_linear_minmax_roundtrip(spark, tmp_path):
    """model_family/normalizer thread through train_default_scorer and
    the sidecar records the normalizer family."""
    model, threshold, stats, report = train_default_scorer(
        spark, n_clusters=30, seed=5, model_family="linear",
        normalizer="minmax",
    )
    assert report["model_family"] == "linear"
    assert 0.0 < threshold < 1.0
    # minmax stats are (lo, hi) pairs over the feature frame
    assert set(stats) == set(FEATURE_COLS)
    assert all(lo <= hi for lo, hi in stats.values())
    path = str(tmp_path / "lin")
    save_scorer(model, path, threshold, stats, normalizer_kind="minmax")
    from smaph_spark.operators.model_io import load_scorer_meta

    assert load_scorer_meta(path)["normalizer_kind"] == "minmax"
    model2, thr2, stats2 = load_scorer(path)
    assert thr2 == threshold and set(stats2) == set(FEATURE_COLS)
