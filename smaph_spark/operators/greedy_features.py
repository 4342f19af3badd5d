"""Greedy per-step features — candidate-vs-partial-solution feature
pack (M-family), the analogue of the reference's greedy training mode.

Reference: learn/featurePacks/GreedyFeaturePack.java:38-130 — the
features of a candidate annotation RELATIVE to the partial solution
assembled so far: token-coverage increments, and min/max/avg
relatedness of the candidate against the accepted set plus the same
statistics within the accepted set ("before"), with difference
features (new_min - min_before etc.). Empty partial solution (the
first greedy step) collapses every relatedness feature to 0.0
(GreedyFeaturePack.java:117-127: "these features get the same values
and will be discarded"); an empty pair list inside a non-empty
partial yields (0, 0, 0) per SmaphUtils.getMinMaxAvg:635-637.

ER recast: the "query" is an entity group (cluster under assembly),
annotations are member records, relatedness is any symmetric pairwise
similarity (here the score/jaccard of the match-pair table). The
reference computes two relatedness families (jaccard + Milne-Witten);
the recast takes ONE rel column — callers wanting both families call
twice and join. Everything is grouped DataFrame aggregation: the
partial-solution self-join and the candidate×partial join shuffle on
group_id only, so a 10^12-record corpus with bounded group sizes
never materializes a cross product beyond each group's own pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def greedy_step_features(
    cand: DataFrame,
    partial: DataFrame,
    rel: DataFrame,
    group_tokens: DataFrame | None = None,
) -> DataFrame:
    """One feature row per (group_id, cand_id).

    ``cand(group_id, cand_id, cand_tokens)`` — candidates per group;
    ``partial(group_id, member_id, member_tokens)`` — the accepted
    partial solution per group;
    ``rel(a_id, b_id, rel)`` — symmetric relatedness, ONE row per
    unordered pair with a_id < b_id; a missing pair scores 0.0
    (the reference's WATRelatednessComputer default for unrelated
    entities);
    ``group_tokens(group_id, query_tokens)`` — the group's total token
    count (the reference's ``queryTokens``); when omitted, the
    after-coverage stands in as the denominator.

    All relatedness statistics follow getMinMaxAvg's empty rule
    ((0,0,0)) and the first-step collapse (everything 0.0 when the
    partial solution is empty). Difference features use the
    reference's formulas verbatim (GreedyFeaturePack.java:106-113):
    min_diff = min(min_this, min_before) - min_before,
    avg_diff = avg_this - avg_before,
    max_diff = max(max_this, max_before) - max_before.
    """
    # per-group coverage + size of the partial solution
    grp = partial.groupBy("group_id").agg(
        F.count("*").alias("n_members"),
        F.sum("member_tokens").alias("covered_before"),
    )

    # "before" statistics: pairwise relatedness WITHIN the partial
    # solution — self-join per group on member_id ordering, relatedness
    # looked up in the canonical pair table (missing -> 0.0)
    m1 = partial.select("group_id", F.col("member_id").alias("a_id"))
    m2 = partial.select("group_id", F.col("member_id").alias("b_id"))
    before_pairs = (
        m1.join(m2, "group_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .join(rel, ["a_id", "b_id"], "left")
        .withColumn("rel", F.coalesce("rel", F.lit(0.0)))
    )
    before = before_pairs.groupBy("group_id").agg(
        F.min("rel").alias("min_before"),
        F.max("rel").alias("max_before"),
        F.avg("rel").alias("avg_before"),
    )

    # "this" statistics: candidate vs every member of the partial
    cp = (
        cand.select("group_id", "cand_id", "cand_tokens")
        .join(partial.select("group_id", "member_id"), "group_id")
        .withColumn("a_id", F.least("cand_id", "member_id"))
        .withColumn("b_id", F.greatest("cand_id", "member_id"))
        .join(rel, ["a_id", "b_id"], "left")
        .withColumn("rel", F.coalesce("rel", F.lit(0.0)))
    )
    this = cp.groupBy("group_id", "cand_id").agg(
        F.min("rel").alias("min_this"),
        F.max("rel").alias("max_this"),
        F.avg("rel").alias("avg_this"),
    )

    out = (
        cand.join(grp, "group_id", "left")
        .join(before, "group_id", "left")
        .join(this, ["group_id", "cand_id"], "left")
    )
    if group_tokens is not None:
        out = out.join(group_tokens, "group_id", "left")

    n_members = F.coalesce("n_members", F.lit(0))
    covered_before = F.coalesce("covered_before", F.lit(0)).cast("double")
    after = F.col("cand_tokens").cast("double") + covered_before
    denom = (
        F.col("query_tokens").cast("double")
        if group_tokens is not None
        else after
    )
    # getMinMaxAvg empty rule: |partial| == 1 has no before-pairs
    min_b = F.coalesce("min_before", F.lit(0.0))
    max_b = F.coalesce("max_before", F.lit(0.0))
    avg_b = F.coalesce("avg_before", F.lit(0.0))
    min_t = F.coalesce("min_this", F.lit(0.0))
    max_t = F.coalesce("max_this", F.lit(0.0))
    avg_t = F.coalesce("avg_this", F.lit(0.0))

    def step(expr):
        # first-step collapse (empty partial): feature -> 0.0
        return F.when(n_members == 0, F.lit(0.0)).otherwise(expr)

    return out.select(
        "group_id",
        "cand_id",
        F.col("cand_tokens").cast("double").alias("covered_tokens_incr"),
        F.coalesce(
            F.try_divide(F.col("cand_tokens").cast("double"), denom),
            F.lit(0.0),
        ).alias("covered_tokens_incr_ratio"),
        after.alias("covered_tokens_after"),
        step(max_b).alias("max_relatedness_before"),
        step(avg_b).alias("avg_relatedness_before"),
        step(min_t).alias("min_relatedness"),
        step(max_t).alias("max_relatedness"),
        step(avg_t).alias("avg_relatedness"),
        step(F.least(min_t, min_b) - min_b).alias("min_relatedness_diff"),
        step(avg_t - avg_b).alias("avg_relatedness_diff"),
        step(F.greatest(max_t, max_b) - max_b).alias("max_relatedness_diff"),
    )
