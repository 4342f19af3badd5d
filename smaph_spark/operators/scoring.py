"""Stage 4 — pairwise scoring + match filtering.

Reference analogue: per-candidate feature pack → z-score normalize →
RBF-SVM accept/reject (SmaphAnnotator.java:208-216,
LibSvmEntityFilter.java:64-67). Per the north_star the SVM becomes a
gradient-boosted pairwise scorer (pyspark.ml GBTClassifier — scoring
happens JVM-side in the fitted model's transform, no Python in the hot
path), with a deterministic rule-based scorer as the untrained
fallback. The z-score normalizer keeps the reference's degenerate-σ
rule (σ=0 → x−μ; ZScoreFeatureNormalizer.java:77-92), and the
acceptance threshold is tuned with the reference's plateau-midpoint
sweep (ParameterTester.java:202-253).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smaph_spark.config import ERConfig
from smaph_spark.operators.pairs import FEATURE_COLS

# deterministic fallback weights: content similarity dominates; name and
# path catch renamed near-identical files; sha short-circuits exact dups
_RULE_WEIGHTS = {
    "jaccard_est": 0.62,
    "name_jw": 0.12,
    "size_ratio": 0.08,
    "token_ratio": 0.08,
    "same_lang": 0.10,
}


def rule_score(pairs_feat: DataFrame) -> DataFrame:
    """Deterministic weighted score in [0,1] (+ sha shortcut)."""
    expr = None
    for c, w in _RULE_WEIGHTS.items():
        term = F.col(c) * F.lit(w)
        expr = term if expr is None else expr + term
    score = F.when(F.col("sha_eq") == 1.0, F.lit(1.0)).otherwise(expr)
    return pairs_feat.withColumn("score", score.cast("double"))


def filter_matches(scored: DataFrame, cfg: ERConfig) -> DataFrame:
    return scored.withColumn(
        "is_match", F.col("score") >= F.lit(cfg.match_threshold)
    )


# ---------------------------------------------------------------------------
# z-score normalizer (M1) — kept as an explicit (feature, mean, std) table
# like the reference's .zscore files (ZScoreFeatureNormalizer.dump/load)
# ---------------------------------------------------------------------------


def fit_zscore(pairs_feat: DataFrame, feature_cols: list[str] | None = None) -> dict:
    """Single-pass mean/std per feature (A8)."""
    cols = feature_cols or FEATURE_COLS
    aggs = []
    for c in cols:
        aggs += [F.avg(c).alias(f"{c}__mu"), F.stddev_pop(c).alias(f"{c}__sigma")]
    row = pairs_feat.agg(*aggs).collect()[0].asDict()
    return {
        c: (row[f"{c}__mu"] or 0.0, row[f"{c}__sigma"] or 0.0) for c in cols
    }


def apply_zscore(df: DataFrame, stats: dict) -> DataFrame:
    """(x−μ)/σ with the reference's degenerate rule: σ=0 → x−μ
    (ZScoreFeatureNormalizer.java:77-92); unseen feature → 0.0."""
    for c, (mu, sigma) in stats.items():
        if c not in df.columns:
            df = df.withColumn(c, F.lit(0.0))
            continue
        if sigma == 0.0:
            df = df.withColumn(c, F.col(c) - F.lit(mu))
        else:
            df = df.withColumn(c, (F.col(c) - F.lit(mu)) / F.lit(sigma))
    return df


# ---------------------------------------------------------------------------
# min-max (scale) normalizer — the reference's alternative normalizer
# (ScaleFeatureNormalizer.java:24-67), selectable in model_io training
# ---------------------------------------------------------------------------


def fit_minmax(pairs_feat: DataFrame, feature_cols: list[str] | None = None) -> dict:
    """Single-pass min/max per feature (ScaleFeatureNormalizer.java:
    24-41: running min/max over every set feature). A feature whose
    column is all-NULL fits to (None, None) — treated as 'no range
    recorded', i.e. raw passthrough at apply time, mirroring the
    reference's !max.containsKey(ftrName) branch."""
    cols = feature_cols or FEATURE_COLS
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}__lo"), F.max(c).alias(f"{c}__hi")]
    row = pairs_feat.agg(*aggs).collect()[0].asDict()
    return {c: (row[f"{c}__lo"], row[f"{c}__hi"]) for c in cols}


def apply_minmax(df: DataFrame, stats: dict) -> DataFrame:
    """x → (x−min)/(max−min)·2 − 1 onto [-1, 1], with the reference's
    rules (ScaleFeatureNormalizer.java:56-67): degenerate range
    (max == min) → 0.0; no fitted range → raw value passthrough;
    feature column absent from df → 0.0 (featureIsSet false)."""
    for c, (lo, hi) in stats.items():
        if c not in df.columns:
            df = df.withColumn(c, F.lit(0.0))
            continue
        if lo is None or hi is None:
            continue  # no range recorded -> passthrough
        if lo == hi:
            df = df.withColumn(c, F.lit(0.0))
        else:
            df = df.withColumn(
                c, (F.col(c) - F.lit(lo)) / F.lit(hi - lo) * 2.0 - 1.0
            )
    return df


#: normalizer registry — model_io selects by name and records the
#: choice in the scorer sidecar (reference parity: SmaphBuilder wires
#: either ZScoreFeatureNormalizer or ScaleFeatureNormalizer per model)
NORMALIZERS: dict = {
    "zscore": (fit_zscore, apply_zscore),
    "minmax": (fit_minmax, apply_minmax),
}


def fit_normalizer(pairs_feat: DataFrame, kind: str = "zscore",
                   feature_cols: list[str] | None = None) -> dict:
    return NORMALIZERS[kind][0](pairs_feat, feature_cols)


def apply_normalizer(df: DataFrame, kind: str, stats: dict) -> DataFrame:
    return NORMALIZERS[kind][1](df, stats)


# ---------------------------------------------------------------------------
# GBT scorer (M2) — trained on labeled pairs; transform is JVM-side
# ---------------------------------------------------------------------------


def with_label(labeled_feat: DataFrame) -> DataFrame:
    """``label`` = ``is_match`` as a double: the column every scorer fit
    and the tune's evaluator read."""
    return labeled_feat.withColumn("label", F.col("is_match").cast("double"))


def check_model_family(family: str) -> None:
    """Raise ``ValueError`` unless :func:`scorer_stages` builds
    ``family`` — never a silent default family."""
    if family not in ("gbt", "linear"):
        raise ValueError(f"unknown model_family {family!r}")


def scorer_stages(family: str, cols: list[str], normalizer: str = "zscore"):
    """THE estimator recipe of every scorer fit (the single fits below
    and ``model_io.tune_gbt_scorer``'s grid, the TuneModelLibSvm.java
    model-family switch): returns (stages, estimator). 'gbt' assembles
    ``cols`` into ``features`` for a GBTClassifier (seed 42); 'linear'
    assembles them into ``raw_features``, scales them with the
    ``normalizer`` stage (:func:`make_scaler_stage`) and feeds
    :func:`linear_classifier`. Callers set fixed params on the
    estimator or grid over it."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.feature import VectorAssembler

    check_model_family(family)
    if family == "gbt":
        est = GBTClassifier(labelCol="label", featuresCol="features", seed=42)
        assembler = VectorAssembler(inputCols=list(cols), outputCol="features")
        return [assembler, est], est
    est = linear_classifier(labelCol="label", featuresCol="features")
    assembler = VectorAssembler(inputCols=list(cols), outputCol="raw_features")
    return [assembler, make_scaler_stage(normalizer), est], est


def train_gbt_scorer(labeled_feat: DataFrame, max_iter: int = 30):
    """Fit a GBTClassifier on (features…, is_match). Returns the fitted
    pipeline model; scoring via :func:`gbt_score`."""
    from pyspark.ml import Pipeline

    stages, gbt = scorer_stages("gbt", FEATURE_COLS)
    gbt.setParams(maxIter=max_iter, maxDepth=4)
    return Pipeline(stages=stages).fit(with_label(labeled_feat))


def make_scaler_stage(normalizer: str):
    """The Spark ML scaler stage matching a normalizer family — the
    ONE home for the kind -> stage mapping (round-5 review: the tune
    path had a silently-diverging copy): 'zscore' → StandardScaler
    (withMean), 'minmax' → MinMaxScaler onto [-1, 1] (which maps a
    degenerate constant feature to 0.0 exactly like
    ScaleFeatureNormalizer.java:62-66). Raises on unknown kinds —
    never a silent default."""
    from pyspark.ml.feature import MinMaxScaler, StandardScaler

    if normalizer == "minmax":
        return MinMaxScaler(min=-1.0, max=1.0, inputCol="raw_features",
                            outputCol="features")
    if normalizer == "zscore":
        return StandardScaler(withMean=True, withStd=True,
                              inputCol="raw_features", outputCol="features")
    raise ValueError(f"unknown normalizer {normalizer!r}")


def linear_classifier(**params):
    """``LogisticRegression(**params)`` whose fitted models carry no
    training summary — the one estimator every in-session linear fit
    goes through (built only by :func:`scorer_stages`). Spark 4.1's
    summary holds the SparkSession, whose ``observationManager`` is not
    transient, so once any Observation has run in the session (the ER
    pipeline's counts) transforming with a summary-bearing model fails
    with ``NotSerializableException: ObservationManager``. Nothing here
    reads ``.summary``. Works under ``Pipeline.fit``, ``CrossValidator``
    and save/load."""
    from pyspark.ml.classification import LogisticRegression

    class _SummaryFreeLR(LogisticRegression):
        def _fit(self, dataset):
            model = super()._fit(dataset)
            jvm = dataset.sparkSession.sparkContext._jvm
            model._java_obj.setSummary(jvm.scala.Option.empty())
            return model

    return _SummaryFreeLR(**params)


def train_linear_scorer(labeled_feat: DataFrame, normalizer: str = "zscore"):
    """Linear-model baseline scorer (LibLinearModel.java:1-43 +
    LibLinearBindingRegressor analogue): logistic regression over the
    same pair features — the standard ablation control against the GBT
    family. Linear models need normalized inputs, so the pipeline
    embeds the matching Spark ML scaler stage (persists with the
    model, no external stats sidecar): 'zscore' → StandardScaler
    (withMean), 'minmax' → MinMaxScaler onto [-1, 1], which also maps
    a degenerate constant feature to 0.0 exactly like
    ScaleFeatureNormalizer.java:62-66. Score via :func:`gbt_score`
    (probability column, same contract)."""
    from pyspark.ml import Pipeline

    stages, lr = scorer_stages("linear", FEATURE_COLS, normalizer)
    lr.setParams(regParam=0.01, elasticNetParam=0.0, maxIter=100)
    return Pipeline(stages=stages).fit(with_label(labeled_feat))


def gbt_score(model, pairs_feat: DataFrame) -> DataFrame:
    """Attach P(match) as `score` (second element of the probability
    vector); JVM-side transform, Python never touches rows. Works for
    any fitted probabilistic pipeline (GBT or the linear baseline —
    both emit a probability vector)."""
    from pyspark.ml.functions import vector_to_array

    out = model.transform(pairs_feat)
    return (
        out.withColumn("score", vector_to_array(F.col("probability"))[1])
        .drop("features", "raw_features", "rawPrediction", "probability",
              "prediction")
    )


def sweep_threshold(
    scored_labeled: DataFrame, steps: int = 40
) -> tuple[float, DataFrame]:
    """Reference threshold sweep (W7, ParameterTester.java:202-253):
    scan thresholds between the 5th and 95th percentile of POSITIVE
    scores, compute pairwise F1 at each, return the midpoint of the
    best plateau. One pass: crossJoin with the literal grid + groupBy.

    Two extra candidates join the band grid: the MINIMUM positive
    score and the negative/positive margin midpoint. Without them a
    scorer with perfect but continuous separation (the linear
    baseline: max negative 0.02, min positive 0.998) could never reach
    F1=1 — every band threshold sits above the bottom 5% of positives,
    silently costing ~5% recall (the GBT only escaped because its
    tree scores are discrete, so the 5th-percentile value ties the
    whole bottom tail)."""
    pos = scored_labeled.filter(F.col("is_match_gold"))
    qs = pos.approxQuantile("score", [0.0, 0.05, 0.95], 0.001)
    if len(qs) < 3:
        min_pos, lo, hi = 0.0, 0.0, 1.0
    else:
        min_pos, lo, hi = qs
    if hi <= lo:
        lo, hi = max(0.0, lo - 0.05), min(1.0, lo + 0.05)
    grid = [lo + (hi - lo) * i / (steps - 1) for i in range(steps)]
    extra = [min_pos]
    max_neg_row = (
        scored_labeled.filter(~F.col("is_match_gold"))
        .agg(F.max("score").alias("m")).collect()
    )
    max_neg = max_neg_row[0]["m"] if max_neg_row else None
    if max_neg is not None and max_neg < min_pos:
        extra.append((max_neg + min_pos) / 2.0)
    grid = sorted(set(grid + extra))
    spark = scored_labeled.sparkSession
    grid_df = spark.createDataFrame([(t,) for t in grid], ["thr"])

    stats = (
        scored_labeled.crossJoin(F.broadcast(grid_df))
        .withColumn("pred", F.col("score") >= F.col("thr"))
        .groupBy("thr")
        .agg(
            F.sum((F.col("pred") & F.col("is_match_gold")).cast("long")).alias("tp"),
            F.sum((F.col("pred") & ~F.col("is_match_gold")).cast("long")).alias("fp"),
            F.sum((~F.col("pred") & F.col("is_match_gold")).cast("long")).alias("fn"),
        )
        .withColumn(
            "f1",
            # try_divide: ANSI mode would throw on tp=fp=fn=0 (reachable
            # when the labeled sample has no gold positives)
            F.coalesce(
                F.try_divide(
                    2 * F.col("tp"),
                    (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
                ),
                F.lit(0.0),
            ),
        )
        .orderBy("thr")
    )
    rows = stats.collect()
    if not rows:
        return 0.5, stats
    best_f1 = max(r["f1"] for r in rows)
    # plateau midpoint: middle threshold among those within 1e-9 of best
    plateau = [r["thr"] for r in rows if abs(r["f1"] - best_f1) < 1e-9]
    return plateau[len(plateau) // 2], stats
