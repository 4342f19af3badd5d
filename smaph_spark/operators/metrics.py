"""Evaluation — pairwise and cluster metrics.

Reference analogue: SolutionComputer macro/micro P/R/F1 with TP/FP/FN
(learn/SolutionComputer.java:33-184, printed by
RunBenchmark.printMetricsResultSet:240-247). Here the unit is the
record pair (BASELINE.json: pairwise F1 ≥ 0.99 on labeled same-block
pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smaph_spark.operators.clustering import checkpoint


def pairwise_prf(predicted: DataFrame, gold: DataFrame) -> dict:
    """predicted(left_id, right_id [, is_match]) vs
    gold(left_id, right_id, is_match). Pairs are canonical
    (left_id < right_id). Gold pairs missing from `predicted` count as
    negative predictions (blocking loss shows up as FN, mirroring the
    reference's upper-bound oracles that separate candidate loss from
    scorer loss — SmaphAnnotator.java:820-911)."""
    pred = predicted
    if "is_match" in pred.columns:
        pred = pred.filter(F.col("is_match"))
    pred = pred.select("left_id", "right_id").withColumn("pred", F.lit(True))
    joined = gold.join(pred, ["left_id", "right_id"], "full_outer").select(
        F.coalesce(F.col("is_match"), F.lit(False)).alias("gold"),
        F.coalesce(F.col("pred"), F.lit(False)).alias("pred"),
    )
    row = joined.agg(
        F.sum((F.col("pred") & F.col("gold")).cast("long")).alias("tp"),
        F.sum((F.col("pred") & ~F.col("gold")).cast("long")).alias("fp"),
        F.sum((~F.col("pred") & F.col("gold")).cast("long")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = row["tp"] or 0, row["fp"] or 0, row["fn"] or 0
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": p, "recall": r, "f1": f1}


def clusters_pairwise_prf(clusters: DataFrame, gold_clusters: DataFrame) -> dict:
    """Pairwise P/R/F1 induced by two clusterings over the same records.
    Computed via same-cluster self-join counts (no materialized pair
    explosion for the agreement term: sum of C(n,2) per intersection
    cell — all aggregations)."""
    merged = clusters.alias("p").join(
        gold_clusters.alias("g"), "record_id"
    ).select(
        F.col("p.cluster_id").alias("pc"), F.col("g.cluster_id").alias("gc")
    )

    def pairs_sum(df: DataFrame, cols: list[str]) -> int:
        row = (
            df.groupBy(*cols)
            .agg(F.count("*").alias("n"))
            .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("s"))
            .collect()[0]
        )
        return int(row["s"] or 0)

    tp = pairs_sum(merged, ["pc", "gc"])
    pred_pairs = pairs_sum(merged, ["pc"])
    gold_pairs = pairs_sum(merged, ["gc"])
    p = tp / pred_pairs if pred_pairs else 1.0
    r = tp / gold_pairs if gold_pairs else 1.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {
        "tp_pairs": tp,
        "pred_pairs": pred_pairs,
        "gold_pairs": gold_pairs,
        "precision": p,
        "recall": r,
        "f1": f1,
    }


# ---------------------------------------------------------------------------
# A9 — macro/micro P/R/F1 + bootstrap std (BAT MetricsResultSet parity)
# ---------------------------------------------------------------------------

def _prf_from_counts(tp, fp, fn):
    """BAT-framework conventions (bat-framework Metrics, printed by
    RunBenchmark.printMetricsResultSet:240-247): an empty prediction
    set has precision 1, an empty gold set has recall 1; F1 = 0 when
    P+R = 0."""
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return p, r, f1


def grouped_prf(
    predicted: DataFrame,
    gold: DataFrame,
    group_col: str,
    n_bootstrap: int = 200,
    seed: int = 42,
    max_groups: int = 1_000_000,
) -> dict:
    """Macro/micro pairwise P/R/F1 with bootstrap standard deviations
    (learn/SolutionComputer.java:33-184 + RunBenchmark.java:240-247;
    the reference's "document" grouping becomes ``group_col``).

    predicted(group, left_id, right_id [, is_match]) vs
    gold(group, left_id, right_id, is_match). Macro = mean of per-group
    P/R/F1; micro = global TP/FP/FN. Bootstrap: resample GROUPS with
    replacement (seeded multinomial over the per-group count table,
    numpy-side — the per-group table is one row per group, tiny
    relative to the pair data; the heavy tp/fp/fn aggregation stays
    distributed)."""
    import numpy as np

    pred = predicted
    if "is_match" in pred.columns:
        pred = pred.filter(F.col("is_match"))
    pred = pred.select(group_col, "left_id", "right_id").withColumn(
        "pred", F.lit(True)
    )
    joined = gold.join(pred, [group_col, "left_id", "right_id"], "full_outer")
    per_group = (
        joined.select(
            F.col(group_col).alias("g"),
            F.coalesce(F.col("is_match"), F.lit(False)).alias("gold"),
            F.coalesce(F.col("pred"), F.lit(False)).alias("p"),
        )
        .groupBy("g")
        .agg(
            F.sum((F.col("p") & F.col("gold")).cast("long")).alias("tp"),
            F.sum((F.col("p") & ~F.col("gold")).cast("long")).alias("fp"),
            F.sum((~F.col("p") & F.col("gold")).cast("long")).alias("fn"),
        )
    )
    # the driver collects ONE ROW PER GROUP for the bootstrap — fine for
    # benchmark group counts, unbounded against 10^8 query groups. Guard:
    # above max_groups, keep a deterministic hash-sample of groups (the
    # macro/bootstrap estimates become a group sample; micro counts are
    # still exact over the sampled groups) and say so, never silently.
    # the group count rides the one checkpoint of the heavy full_outer
    # join, which the collect (+ the sampling filter) then reads
    per_group, n_total = checkpoint(per_group, F.count("*"))
    sampled = False
    if n_total > max_groups:
        import warnings

        warnings.warn(
            f"grouped_prf: {n_total} groups exceeds max_groups="
            f"{max_groups}; computing macro/bootstrap metrics on a "
            "deterministic hash-sample of groups",
            RuntimeWarning,
            stacklevel=2,
        )
        per_group = per_group.filter(
            F.pmod(F.xxhash64("g"), F.lit(n_total)) < F.lit(max_groups)
        )
        sampled = True
    rows = per_group.collect()
    tp = np.array([r["tp"] for r in rows], dtype=np.float64)
    fp = np.array([r["fp"] for r in rows], dtype=np.float64)
    fn = np.array([r["fn"] for r in rows], dtype=np.float64)
    n = len(tp)

    def macro_micro(w):
        """w = per-group multiplicities (bootstrap weights)."""
        with np.errstate(divide="ignore", invalid="ignore"):
            gp = np.where(tp + fp > 0, tp / np.maximum(tp + fp, 1), 1.0)
            gr = np.where(tp + fn > 0, tp / np.maximum(tp + fn, 1), 1.0)
            gf = np.where(gp + gr > 0, 2 * gp * gr / np.maximum(gp + gr, 1e-300), 0.0)
        tw = w.sum()
        mac = (
            float((gp * w).sum() / tw), float((gr * w).sum() / tw),
            float((gf * w).sum() / tw),
        ) if tw else (1.0, 1.0, 0.0)
        stp, sfp, sfn = float((tp * w).sum()), float((fp * w).sum()), float((fn * w).sum())
        mic = _prf_from_counts(stp, sfp, sfn)
        return mac, mic

    ones = np.ones(n)
    (mac_p, mac_r, mac_f1), (mic_p, mic_r, mic_f1) = macro_micro(ones)
    out = {
        "n_groups": n,
        "n_groups_total": n_total,
        "groups_sampled": sampled,
        "macro": {"precision": mac_p, "recall": mac_r, "f1": mac_f1},
        "micro": {"precision": mic_p, "recall": mic_r, "f1": mic_f1},
        "tp": int(tp.sum()), "fp": int(fp.sum()), "fn": int(fn.sum()),
    }
    if n and n_bootstrap:
        rng = np.random.default_rng(seed)
        boots_mac = np.empty((n_bootstrap, 3))
        boots_mic = np.empty((n_bootstrap, 3))
        for b in range(n_bootstrap):
            w = rng.multinomial(n, np.full(n, 1.0 / n)).astype(np.float64)
            boots_mac[b], boots_mic[b] = macro_micro(w)
        out["bootstrap_std"] = {
            "macro": dict(zip(("precision", "recall", "f1"),
                              boots_mac.std(axis=0, ddof=0).tolist())),
            "micro": dict(zip(("precision", "recall", "f1"),
                              boots_mic.std(axis=0, ddof=0).tolist())),
        }
    return out


def bcubed_prf(clusters: DataFrame, gold_clusters: DataFrame) -> DataFrame:
    """B-cubed precision/recall/F1 between two clusterings of the same
    records — THE per-record ER evaluation family (Bagga & Baldwin
    1998), complementing the pair-counting view of
    :func:`clusters_pairwise_prf`: B-cubed weights every RECORD
    equally (a giant wrong cluster costs proportionally), where pair
    counting weights every PAIR (quadratically favoring big clusters).

    Both inputs are (record_id, cluster_id). Entirely aggregation-
    shaped — per-record intersection sizes reduce to contingency-cell
    counts, so the whole metric is two groupBys and a join, no pair
    materialization:

      P = (1/N) Σ_cells n_cell² / n_pred_cluster
      R = (1/N) Σ_cells n_cell² / n_gold_cluster

    Returns a ONE-ROW DataFrame (n_records, bcubed_precision,
    bcubed_recall, bcubed_f1) so callers can hash-compare it
    engine-vs-engine (er07)."""
    # CONTRACT: both inputs cover the same records, one row each — the
    # inner join would otherwise silently drop one-sided records and
    # multiply duplicates into every contingency cell. One narrow agg
    # per side; an eval metric can afford the guard (round-5 review).
    def _coverage(df: DataFrame, side: str) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count("record_id").alias("n"),
            F.count_distinct("record_id").alias("d"),
            F.count("cluster_id").alias("c"),
        ).collect()[0]
        if int(row["rows"]) != int(row["n"]):
            # count()/count_distinct skip NULLs, so a NULL id would
            # otherwise slip past the guard and be silently dropped by
            # the join (round-5 review)
            raise ValueError(
                f"bcubed_prf: {side} has "
                f"{int(row['rows']) - int(row['n'])} NULL record_id "
                "row(s); every record must have a non-null id"
            )
        if int(row["rows"]) != int(row["c"]):
            # a NULL cluster_id passes the record_id check but silently
            # drops at the p_sizes/g_sizes equi-joins (NULL never
            # equi-matches), undercounting n_records (round-5 ADVICE)
            raise ValueError(
                f"bcubed_prf: {side} has "
                f"{int(row['rows']) - int(row['c'])} NULL cluster_id "
                "row(s); every record must carry a non-null label"
            )
        return int(row["n"]), int(row["d"])

    n_c, d_c = _coverage(clusters, "clusters")
    n_g, d_g = _coverage(gold_clusters, "gold_clusters")
    merged = clusters.alias("p").join(
        gold_clusters.alias("g"), "record_id"
    ).select(
        F.col("p.cluster_id").alias("pc"), F.col("g.cluster_id").alias("gc")
    )
    # the joined record count rides the checkpoint of the cells, which
    # every later read (both size aggs, the final join) reuses
    cells, n_m = checkpoint(
        merged.groupBy("pc", "gc").agg(F.count("*").alias("n_cell")),
        F.coalesce(F.sum("n_cell"), F.lit(0)),
    )
    if not (n_c == d_c and n_g == d_g and n_c == n_g == n_m):
        raise ValueError(
            "bcubed_prf: clusterings must cover the same records "
            f"exactly once each (pred rows={n_c}/distinct {d_c}, gold "
            f"rows={n_g}/distinct {d_g}, joined={n_m}); records in "
            "only one side or duplicate record_ids would silently "
            "mis-score"
        )
    # cluster sizes derive FROM the cells (cells partition merged),
    # so the clusters×gold join executes once, not three times
    p_sizes = cells.groupBy("pc").agg(F.sum("n_cell").alias("n_p"))
    g_sizes = cells.groupBy("gc").agg(F.sum("n_cell").alias("n_g"))
    per_cell = (
        cells.join(p_sizes, "pc").join(g_sizes, "gc")
        .select(
            "n_cell",
            (F.col("n_cell") * F.col("n_cell") / F.col("n_p")).alias("psum"),
            (F.col("n_cell") * F.col("n_cell") / F.col("n_g")).alias("rsum"),
        )
    )
    agg = per_cell.agg(
        F.sum("n_cell").alias("n_records"),
        F.sum("psum").alias("ps"),
        F.sum("rsum").alias("rs"),
    )
    prec = F.try_divide(F.col("ps"), F.col("n_records"))
    rec = F.try_divide(F.col("rs"), F.col("n_records"))
    # NULL (not 0.0) on empty input in every column, matching the
    # SQL twin's NULL propagation exactly (round-5 review)
    f1 = F.try_divide(F.lit(2) * prec * rec, prec + rec)
    return agg.select(
        "n_records",
        F.round(prec, 6).alias("bcubed_precision"),
        F.round(rec, 6).alias("bcubed_recall"),
        F.round(f1, 6).alias("bcubed_f1"),
    )
