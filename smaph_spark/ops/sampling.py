"""Deterministic dataset splitting — train/val/test assignment a
training-data pipeline can reproduce on any engine and any cluster
size.

The split is a pure function of the record id (md5-prefix bucket), not
of `rand()` or partition layout: re-running at 1000x scale, after a
repartition, or in DuckDB yields the SAME assignment (the property
`randomSplit` does NOT have — its sampling depends on partition
layout). One narrow projection, no shuffle, no state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smaph_spark.plans.star_queries import load, register, widen


def md5_prefix_int(col) -> F.Column:
    """First 8 hex chars of md5 of the value's string form, as an
    integer in [0, 2^32) — THE engine-portable uniform-hash primitive
    (one home, round-5 review: hash_bucket, the weighted-sample
    priority, and the SQL twins must all derive from the same recipe).
    md5 (not xxhash64) because every engine computes the identical
    digest; one md5 per row is noise next to any real feature work."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 8), 16, 10
    ).cast("long")


#: :func:`md5_prefix_int` of ``doc_id`` in DuckDB SQL — the one spelling
#: the SQL twins (ds01, ds02, ``DS04_SQL``, dd07) are built from
MD5_PREFIX_INT_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
)


def hash_bucket(col, n_buckets: int = 10):
    """Engine-portable deterministic bucket in [0, n_buckets) — see
    :func:`md5_prefix_int` for the digest recipe and why md5."""
    return md5_prefix_int(col) % n_buckets


def deterministic_split(df: DataFrame, id_col: str) -> DataFrame:
    """Add `bucket` + `split` columns over 10 equal-weight buckets:
    [0, 8) -> 'train', 8 -> 'val', 9 -> 'test'."""
    b = hash_bucket(F.col(id_col), 10)
    return df.withColumn("bucket", b).withColumn(
        "split",
        F.when(F.col("bucket") < 8, F.lit("train"))
        .when(F.col("bucket") < 9, F.lit("val"))
        .otherwise(F.lit("test")),
    )


@register(
    "ds01_train_val_test_split",
    f"""
    SELECT doc_id, b AS bucket,
           CASE WHEN b < 8 THEN 'train'
                WHEN b < 9 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, {MD5_PREFIX_INT_SQL} % 10 AS b
          FROM documents)
    """,
    survey_ref="deterministic hash split (beyond-reference training-data "
               "op; engine-portable md5 buckets, no rand())",
)
def ds_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return deterministic_split(d.select("doc_id"), "doc_id").select(
        "doc_id", "bucket", "split"
    )


def stratified_sample(
    df: DataFrame, id_col: str, strata_col: str, fractions: dict[str, float],
    default: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-mixing operator
    (domain/language reweighting) of a training-data pipeline. Same
    md5-bucket recipe as the split: engine- and layout-independent, so
    the SAME rows are kept at any scale and on any engine (unlike
    DataFrame.sampleBy, whose Bernoulli draw depends on partition
    layout). One narrow projection, no shuffle."""
    frac = F.lit(default)
    for k, v in fractions.items():
        frac = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(frac)
    # round, don't truncate: 0.29 * 100 is 28.999... in binary floating
    # point and a bare cast('long') floors it to 28 (keeping 28% not 29%)
    threshold = F.round(frac * 100).cast("long")
    return df.filter(hash_bucket(F.col(id_col), 100) < threshold)


def temporal_split(
    df: DataFrame, time_col: str, train_quantile: float = 0.8,
    embargo: str = "1 hour",
) -> DataFrame:
    """Leakage-safe temporal split: rows at or before the
    ``train_quantile`` timestamp (percentile_disc — an actual data
    value, engine-portable) are 'train'; rows inside the embargo window
    after the cutoff are labeled 'embargo' (dropped by the trainer) so
    near-boundary leakage
    (features computed over windows that straddle the cutoff) cannot
    contaminate the test side; the rest are 'test'. The cutoff is one
    tiny aggregate broadcast against the scan — no shuffle of the fact
    table, no rand(), reproducible at any scale."""
    # Spark's percentile_disc takes NUMERIC only (DuckDB's quantile_disc
    # accepts timestamps directly): order by unix_micros and convert the
    # picked value back — exact, because percentile_disc returns an
    # actual data value, and the session TZ is pinned UTC so the
    # NTZ<->LTZ casts are wall-clock no-ops
    # (percentile_disc returns DOUBLE; micros ~1.7e15 stay exact well
    # under double's 2^53 integer range, so the bigint cast is lossless)
    cutoff = df.agg(
        F.expr(
            f"cast(timestamp_micros(cast(percentile_disc({train_quantile}) "
            f"WITHIN GROUP (ORDER BY unix_micros(cast({time_col} as "
            f"timestamp))) as bigint)) as timestamp_ntz)"
        ).alias("cutoff")
    )
    emb_end = F.col("cutoff") + F.expr(f"INTERVAL {embargo}")
    return (
        df.crossJoin(F.broadcast(cutoff))
        .withColumn(
            "split",
            # NULL timestamps get their own label: both WHEN comparisons
            # are NULL-false, so an undated row would otherwise fall
            # through into 'test' — a row of unknown (possibly early)
            # time contaminating the eval set (round-4 review)
            F.when(F.col(time_col).isNull(), F.lit("unknown"))
            .when(F.col(time_col) <= F.col("cutoff"), F.lit("train"))
            .when(F.col(time_col) <= emb_end, F.lit("embargo"))
            .otherwise(F.lit("test")),
        )
        .drop("cutoff")
    )


@register(
    "ds03_temporal_split",
    """
    WITH c AS (SELECT quantile_disc(ts, 0.8) AS cutoff FROM events)
    SELECT event_id,
           CASE WHEN ts IS NULL THEN 'unknown'
                WHEN ts <= cutoff THEN 'train'
                WHEN ts <= cutoff + INTERVAL 1 HOUR THEN 'embargo'
                ELSE 'test' END AS split
    FROM events, c
    """,
    survey_ref="leakage-safe temporal train/test split with embargo "
               "(beyond-reference training-data op; percentile_disc "
               "cutoff == DuckDB quantile_disc, engine-portable)",
)
def ds_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen: percentile_disc buffers all values per input partition, and
    # the single-row-group events scan feeds it as ONE task (A/B at
    # sf1.0: 4.1s plain vs 3.3s widened); the key-partitioned shuffle
    # count stays zero (plan test), and on a many-split cluster scan
    # widen is a no-op
    e = widen(load(spark, sf_dir, "events"))
    return temporal_split(e.select("event_id", "ts"), "ts").select(
        "event_id", "split"
    )


@register(
    "ds02_stratified_sample",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang, {MD5_PREFIX_INT_SQL} % 100 AS b,
             CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20 ELSE 10 END
               AS keep_below
      FROM documents)
    WHERE b < keep_below
    """,
    survey_ref="stratified deterministic sampling (beyond-reference "
               "training-data op; domain-mixing weights, no rand())",
)
def ds_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return stratified_sample(
        d.select("doc_id", "lang"), "doc_id", "lang",
        {"en": 0.5, "de": 0.2}, default=0.1,
    )


def weighted_sample_keys(id_col, weight_col):
    """Efraimidis-Spirakis priority key for weighted sampling WITHOUT
    replacement (Efraimidis & Spirakis 2006: draw u~U(0,1] per record,
    rank by u^(1/w) descending; the top-k of that ranking is exactly a
    weight-proportional sample). Deterministic + engine-portable: u
    derives from the same md5-prefix integer as hash_bucket, so the
    SAME records are selected on any engine, any partition layout, any
    cluster size — no rand(). Ranked on ln(u)/w (monotone transform of
    u^(1/w); avoids pow underflow for large weights)."""
    u = (md5_prefix_int(id_col).cast("double") + F.lit(1.0)) / F.lit(
        4294967297.0
    )  # (0, 1]
    return F.log(u) / weight_col.cast("double")


def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int,
    stratum_cols: list[str] | None = None,
) -> DataFrame:
    """Top-k weight-proportional sample per stratum (A-ES scheme): one
    window ranking per stratum, no shuffle beyond the stratum key —
    the curation primitive for quality-weighted training-data
    selection at corpus scale. Non-positive weights are excluded by
    contract (their E-S key is undefined).

    GLOBAL sampling (no strata) does NOT use an unpartitioned window
    (that funnels the whole corpus through one task — round-5 review):
    it takes the distributed sort's top-k via orderBy+limit (Spark
    plans TakeOrderedAndProject: per-partition top-k, then a k-row
    merge on the driver) and ranks only the k survivors."""
    from pyspark.sql import Window as W

    keyed = df.filter(F.col(weight_col) > 0).withColumn(
        "_es_key", weighted_sample_keys(F.col(id_col), F.col(weight_col))
    )
    strata = stratum_cols or []
    if strata:
        w = W.partitionBy(*strata).orderBy(F.desc("_es_key"), F.col(id_col))
        return (
            keyed.withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= k)
            .drop("_es_key")
        )
    top = keyed.orderBy(F.desc("_es_key"), F.col(id_col)).limit(k)
    w = W.orderBy(F.desc("_es_key"), F.col(id_col))  # k rows only
    return (
        top.withColumn("sample_rank", F.row_number().over(w))
        .drop("_es_key")
    )


#: DuckDB twin (pytest-pinned — driver window full; same ln(u)/w key)
DS04_SQL = f"""
    SELECT lang, doc_id, n_chars, sample_rank FROM (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY ln(({MD5_PREFIX_INT_SQL} + 1.0) / 4294967297.0)
                        / CAST(n_chars AS DOUBLE) DESC,
                        doc_id) AS sample_rank
      FROM documents WHERE n_chars > 0)
    WHERE sample_rank <= 5
"""


@register(
    "ds04_weighted_sample",
    None,  # rows-only at the driver (window full); DS04_SQL is
    # pytest-pinned with the driver's own comparison
    survey_ref="weighted priority sampling without replacement "
               "(Efraimidis-Spirakis A-ES; beyond-reference training-"
               "data op — deterministic quality-weighted selection, "
               "top-5 per lang by n_chars weight, no rand())",
)
def ds_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return weighted_sample(
        d.select("lang", "doc_id", "n_chars"),
        "doc_id", "n_chars", 5, ["lang"],
    )
