"""Evaluation — pairwise and cluster metrics.

Reference analogue: SolutionComputer macro/micro P/R/F1 with TP/FP/FN
(learn/SolutionComputer.java:33-184, printed by
RunBenchmark.printMetricsResultSet:240-247). Here the unit is the
record pair (BASELINE.json: pairwise F1 ≥ 0.99 on labeled same-block
pairs).

Like the reference's one counting core, each count has one home here:
``_confusion`` is the TP/FP/FN join of the pair metrics
(``pairwise_prf``, ``grouped_prf``) and ``_contingency`` the
clusters × gold cell table of the cluster metrics
(``clusters_pairwise_prf``, ``bcubed_prf``). Each metric keeps its own
empty-set rule: P = R = 0 in ``pairwise_prf``, BAT's 1.0 elsewhere
(``_prf_from_counts``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smaph_spark.session import checkpoint


def _confusion(predicted: DataFrame, gold: DataFrame, by: tuple) -> DataFrame:
    """THE pair confusion count of every pair metric: predicted(*by,
    left_id, right_id [, is_match]) full-outer-joined to gold(*by,
    left_id, right_id, is_match) on all those keys, summed to
    (*by, tp, fp, fn). Gold pairs missing from ``predicted`` count as
    negative predictions (blocking loss shows up as FN, mirroring the
    reference's upper-bound oracles that separate candidate loss from
    scorer loss — SmaphAnnotator.java:820-911). A pair predicted more
    than once counts once, as in the reference's candidate HashSets
    (DefaultBindingGenerator.java:123-127)."""
    keys = [*by, "left_id", "right_id"]
    pred = predicted
    if "is_match" in pred.columns:
        pred = pred.filter(F.col("is_match"))
    pred = pred.select(*keys).distinct().withColumn("pred", F.lit(True))
    g = F.coalesce(F.col("is_match"), F.lit(False))
    p = F.coalesce(F.col("pred"), F.lit(False))
    return gold.join(pred, keys, "full_outer").groupBy(*by).agg(
        F.sum((p & g).cast("long")).alias("tp"),
        F.sum((p & ~g).cast("long")).alias("fp"),
        F.sum((~p & g).cast("long")).alias("fn"),
    )


def pairwise_prf(predicted: DataFrame, gold: DataFrame) -> dict:
    """predicted(left_id, right_id [, is_match]) vs
    gold(left_id, right_id, is_match), canonical pairs
    (left_id < right_id). An empty side scores P = R = 0."""
    row = _confusion(predicted, gold, ()).collect()[0]
    tp, fp, fn = row["tp"] or 0, row["fp"] or 0, row["fn"] or 0
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": p, "recall": r, "f1": f1}


def _contingency(clusters: DataFrame, gold_clusters: DataFrame) -> DataFrame:
    """THE contingency table of two clusterings (record_id, cluster_id):
    one row per (pc, gc) cell with its record count n_cell."""
    return (
        clusters.alias("p").join(gold_clusters.alias("g"), "record_id")
        .groupBy(F.col("p.cluster_id").alias("pc"),
                 F.col("g.cluster_id").alias("gc"))
        .agg(F.count("*").alias("n_cell"))
    )


def clusters_pairwise_prf(clusters: DataFrame, gold_clusters: DataFrame) -> dict:
    """Pairwise P/R/F1 induced by two clusterings over the same records,
    with no pair materialized: the agreeing pairs are the sum of
    C(n, 2) over the contingency cells, the predicted and gold pairs
    the same sum over the cells' row and column totals. One grouping-
    sets aggregation reads all three sums in one collect."""
    totals = (
        _contingency(clusters, gold_clusters)
        .groupingSets([["pc", "gc"], ["pc"], ["gc"]], "pc", "gc")
        .agg(F.grouping_id().alias("gid"), F.sum("n_cell").alias("n"))
        .groupBy("gid")
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("s"))
        .collect()
    )
    # grouping_id: 0 = the (pc, gc) cells, 1 = by pc alone, 2 = by gc alone
    s = {r["gid"]: int(r["s"]) for r in totals}
    tp, pred_pairs, gold_pairs = s.get(0, 0), s.get(1, 0), s.get(2, 0)
    p, r, f1 = _prf_from_counts(tp, pred_pairs - tp, gold_pairs - tp)
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

    per_group = _confusion(predicted, gold, (group_col,)).withColumnRenamed(
        group_col, "g"
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
    # the joined record count rides the checkpoint of the cells, which
    # every later read (both size aggs, the final join) reuses
    cells, n_m = checkpoint(
        _contingency(clusters, gold_clusters),
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
