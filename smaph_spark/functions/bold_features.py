"""Spark-side bold/URL feature operators (X15, X18, M7 batch UDFs).

X15 — per-rank bold statistics (EntityFeaturePack.java:274-291,
consumed as features at :116,:136): min bold edit distance, count of
capitalized bolds, average word count — a straight groupBy aggregation
where only the edit-distance term needs Python (Arrow-batched).

X18 — Wikipedia URL -> title (SmaphAnnotator.decodeWikiUrl, :258-273):
pure JVM expressions (regexp_extract + try_url_decode + prefix
filters), no Python in the plan.

M7 — the remaining scalar kernels (min_edit_dist, fragmentation,
aggregation) exposed as Arrow-batched pandas UDFs over the batch
kernels in functions/kernels.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smaph_spark.functions import kernels as K


@F.pandas_udf(T.DoubleType())
def min_edit_dist_udf(q: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(K.min_edit_dist_batch(q.to_numpy(), b.to_numpy()))


@F.pandas_udf(T.DoubleType())
def fragmentation_udf(bolds_lists: pd.Series, bold: pd.Series) -> pd.Series:
    return pd.Series(
        K.fragmentation_batch(bolds_lists.to_numpy(), bold.to_numpy())
    )


@F.pandas_udf(T.DoubleType())
def aggregation_udf(bolds_lists: pd.Series, bold: pd.Series) -> pd.Series:
    return pd.Series(
        K.aggregation_batch(bolds_lists.to_numpy(), bold.to_numpy())
    )


def bold_stats_per_rank(df: DataFrame) -> DataFrame:
    """df(query, bold, rank) -> per-(query, rank) bold statistics
    (EntityFeaturePack.getBoldsEDCapitalizedWordcount recast as a
    groupBy agg): min_ed starts from 1.0, capitalized counts bolds with
    an uppercase first char, avg_wordcount averages the Java
    ``split("\\W+")`` length (trailing empties dropped, leading kept).
    Only min_ed leaves the JVM (one Arrow UDF before the agg)."""
    first_upper = F.substring(F.col("bold"), 1, 1).rlike(r"^\p{Lu}")
    # Java String.split drops trailing empty strings; Spark's split
    # keeps them — \W+ collapses runs, so at most one trailing empty.
    # All-non-word input is all-empty fields in Java -> 0 words.
    wc = F.when(F.col("bold").rlike(r"^\W+$"), F.lit(0)).otherwise(
        F.size(F.split(F.col("bold"), r"\W+"))
        - F.when(F.col("bold").rlike(r"\W$"), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        df.withColumn("_ed", min_edit_dist_udf(F.col("query"), F.col("bold")))
        .withColumn("_wc", wc)
        .groupBy("query", "rank")
        .agg(
            F.least(F.min("_ed"), F.lit(1.0)).alias("min_ed"),
            F.sum(first_upper.cast("double")).alias("capitalized"),
            F.avg("_wc").alias("avg_wordcount"),
        )
    )


def decode_wiki_url_col(url) -> F.Column:
    """Column expression: Wikipedia URL -> normalized page title, NULL
    when rejected (SmaphAnnotator.decodeWikiUrl:258-273 +
    SmaphUtils.acceptWikipediaTitle:167-177). try_url_decode yields
    NULL on an invalid %-escape, mirroring the reference's caught
    IllegalArgumentException."""
    url = F.col(url) if isinstance(url, str) else url
    raw = F.regexp_extract(url, r"^https?://en\.wikipedia\.org/wiki/(.+)$", 1)
    decoded = F.try_url_decode(raw)
    rejected = F.lit(False)
    for p in K._BAD_TITLE_PREFIXES:
        rejected = rejected | decoded.startswith(p)
    rejected = rejected | decoded.contains("(disambiguation)")
    norm = F.trim(F.regexp_replace(decoded, "_", " "))
    title = F.concat(F.upper(F.substring(norm, 1, 1)), F.substr(norm, F.lit(2)))
    return F.when(
        (raw != F.lit("")) & decoded.isNotNull() & ~rejected & (norm != F.lit("")),
        title,
    )


@F.pandas_udf(T.DoubleType())
def ned_lower_udf(segment: pd.Series, anchor: pd.Series) -> pd.Series:
    """getNormEditDistance(segment.toLowerCase(), anchor) — the X17
    distance term (AnnotationFeaturePack.java:139,150)."""
    segs = [("" if s is None else str(s)).lower() for s in segment]
    return pd.Series(K.norm_edit_distance_batch(segs, anchor.to_numpy()))


def weighted_anchor_ed(df: DataFrame) -> DataFrame:
    """df(segment, anchor, occurrences) -> per-segment X17:
    sqrt(occurrence)-weighted mean anchor edit distance as a
    Spark aggregation over EXPLODED anchors
    (AnnotationFeaturePack.edAnchorsWeightSqrt, :135-144): one Arrow
    UDF for the NED term, then a pure-JVM weighted-mean agg — scales as
    a plain groupBy, no per-group Python."""
    w = F.sqrt(F.col("occurrences").cast("double"))
    return (
        df.withColumn("_ned", ned_lower_udf(F.col("segment"), F.col("anchor")))
        .groupBy("segment")
        .agg(
            F.coalesce(
                F.try_divide(F.sum(w * F.col("_ned")), F.sum(w)), F.lit(1.0)
            ).alias("ed_anchors_weight_sqrt"),
            F.count("*").alias("n_anchors"),
        )
    )
