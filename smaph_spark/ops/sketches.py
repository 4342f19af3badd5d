"""Sketch aggregates — the sublinear-memory path for statistics whose
exact computation stops fitting at 100 TB.

Exact per-group distinct counts and order statistics (q11, q23) need
state proportional to the number of distinct values per group; at
corpus scale the right tool is a mergeable sketch: HyperLogLog++ for
distinct counts (`approx_count_distinct`, fixed ~kilobytes of state
per group at any cardinality) and Spark's quantile summary for
percentiles (`approx_percentile`, KLL/GK-style bounded state). Both
are JVM-side typed aggregates with map-side partial merge — one
shuffle of sketch state, never of raw values.

No DuckDB oracle by design: sketch estimates are engine-specific
(different HLL seeds/registers), so the driver records a rows-only
check; the VALUE guarantees are pytest-asserted against the exact
twins with the estimators' published error bounds
(tests/test_sketches.py). Reference analogue: the frequency/commonness
statistics the reference precomputes exactly at its (small) entity
scale — e.g. EntityToAnchors.createDB aggregation
(src/main/java/it/unipi/di/acube/smaph/entityfilters/ — S6/A3 family)
— which a web-scale corpus must sketch instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smaph_spark.plans.star_queries import load, register


def sketch_event_stats(
    events: DataFrame,
    rsd: float = 0.02,
    percentile_accuracy: int = 10_000,
) -> DataFrame:
    """Per event_type: HLL++ distinct users (relative std dev `rsd`)
    and approx p50/p95 of `value` (rank error <= 1/accuracy), plus the
    exact row count (a plain long agg, always cheap)."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
        F.percentile_approx(
            "value", [0.5, 0.95], percentile_accuracy
        ).alias("value_pcts"),
        F.count("*").alias("n_events"),
    ).select(
        "event_type", "approx_users",
        F.round(F.col("value_pcts")[0], 4).alias("approx_p50"),
        F.round(F.col("value_pcts")[1], 4).alias("approx_p95"),
        "n_events",
    )


def exact_event_stats(events: DataFrame) -> DataFrame:
    """The exact twin sk01 is error-bounded against (tests only — at
    scale this is the plan the sketch replaces)."""
    return events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"
        ).alias("exact_p50"),
        F.expr(
            "percentile_disc(0.95) WITHIN GROUP (ORDER BY value)"
        ).alias("exact_p95"),
    )


@register(
    "sk01_event_sketch_stats",
    None,  # sketch values are engine-specific — rows-only at the
    # driver; error bounds vs the exact twin are pytest-asserted
    survey_ref="HLL++ distinct + quantile-summary percentiles (beyond-"
               "reference training-data op; the sublinear-state path "
               "for q11/q23-class stats at corpus scale)",
)
def sk_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_event_stats(load(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# sk02: heavy hitters via distributed Misra-Gries + exact verification.
# The two-phase pattern a 100 TB frequency query wants: a bounded-state
# per-partition sketch proposes candidates (no full-key shuffle of the
# raw stream), then ONE filtered aggregation computes exact counts for
# just those candidates. The MG guarantee (underestimate <= n_p/(k+1)
# per partition, summed <= n/(k+1) over the union) makes the candidate
# set provably a superset of every item with frequency >= threshold
# when capacity k is sized so n/(k+1) < threshold — so the FINAL output
# (exact counts, exact threshold) is deterministic and oracle-checkable
# even though the sketch itself is partition-order dependent.
# (Misra & Gries 1982; the "frequent" algorithm.)
# ---------------------------------------------------------------------------

#: last-run stats of the sketch phase (no-silent-caps discipline)
SKETCH_METRICS: dict[str, dict] = {}


def _mg_reduce(counters: dict, k: int) -> None:
    """Shrink `counters` to <= k entries by the batched MG step:
    subtract the smallest surplus count from all, drop non-positives.
    Each unit subtracted from a counter corresponds to k+1 distinct
    stream deletions, preserving est(x) >= f(x) - n/(k+1)."""
    if len(counters) <= k:
        return
    counts = sorted(counters.values())
    t = counts[len(counters) - k - 1]  # (len-k)-th smallest
    for key in list(counters):
        c = counters[key] - t
        if c <= 0:
            del counters[key]
        else:
            counters[key] = c


def mg_partition_summaries(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """One Misra-Gries summary per PARTITION (<= k counters each):
    mapInPandas hands the whole partition as a batch iterator, so a
    single dict spans it; per batch the update is a vectorized
    value_counts merge + one reduce, not per-row Python.

    The summary's key column keeps the INPUT column's dataType
    (round-4 ADVICE: a hardcoded string schema broke non-string keys
    at Arrow conversion and made the downstream exact-count isin()
    compare strings against the native column)."""
    import pandas as pd
    from pyspark.sql import types as T

    key_type = df.schema[key_col].dataType
    out_schema = T.StructType([
        T.StructField(key_col, key_type),
        T.StructField("est", T.LongType()),
    ])

    def op(batches):
        counters: dict = {}
        for pdf in batches:
            for key, cnt in pdf[key_col].value_counts().items():
                counters[key] = counters.get(key, 0) + int(cnt)
            _mg_reduce(counters, k)
        if counters:
            yield pd.DataFrame(
                {key_col: list(counters), "est": list(counters.values())}
            )

    return df.select(key_col).mapInPandas(op, schema=out_schema)


def heavy_hitters(
    events: DataFrame, key_col: str = "event_type",
    min_freq_fraction: float = 0.05, metrics_key: str = "sk02_heavy_hitters",
) -> DataFrame:
    """Exact counts of every NON-NULL key with frequency >=
    ceil(fraction * n), computed sketch-first: MG candidates ->
    candidate-filtered exact count. NULL keys are excluded by contract
    on both engines (pandas value_counts drops NaN and an equi-join
    never matches NULL, so including them would silently diverge from
    a SQL GROUP BY's NULL group — round-4 review); n counts non-null
    rows only, matching the oracle's COUNT(key_col).

    Three passes over the data, each narrow: the row count (sets the
    MG capacity), the sketch, and the verification agg on few keys —
    the raw key stream is never shuffled. Candidates are collected
    driver-side (bounded <= capacity x partitions by construction) so
    the sketch lineage runs exactly once."""
    import math
    from fractions import Fraction

    events = events.filter(F.col(key_col).isNotNull())
    n = events.count()
    # EXACT threshold arithmetic: 0.05 * 200 is 10.000000000000002 in
    # IEEE double and ceil would exclude a key sitting exactly on the
    # promised boundary — and the DuckDB oracle parses 0.05 as DECIMAL
    # (exact), so the float path would diverge from it (round-4
    # review). limit_denominator recovers the intended rational from
    # the float argument.
    frac = Fraction(min_freq_fraction).limit_denominator(10**6)
    threshold = max(1, math.ceil(frac * n))
    # size capacity so n/(k+1) < threshold => every true heavy hitter
    # survives the union of partition summaries
    k = max(1, math.ceil(n / threshold)) + 1
    summaries = mg_partition_summaries(events, key_col, k)
    cand_keys = [
        r[key_col]
        for r in summaries.select(key_col).distinct().collect()
    ]
    SKETCH_METRICS[metrics_key] = {
        "rows": n, "threshold": threshold, "mg_capacity": k,
        "candidates": len(cand_keys),
    }
    exact = (
        events.filter(F.col(key_col).isin(cand_keys))
        .groupBy(key_col)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= threshold)
    )
    return exact


@register(
    "sk02_heavy_hitters",
    """
    SELECT event_type, COUNT(*) AS n
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    HAVING COUNT(*) >= ceil(0.05 * (SELECT COUNT(event_type) FROM events))
    """,
    survey_ref="Misra-Gries heavy hitters + exact verification (beyond-"
               "reference training-data op; bounded-state candidate "
               "generation, F3 frequency-filter family at corpus scale)",
)
def sk_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heavy_hitters(load(spark, sf_dir, "events"))
