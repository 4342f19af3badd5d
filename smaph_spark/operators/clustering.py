"""Stage 5 — transitive clustering: connected components.

Reference analogue: the linkback stage assembles a consistent solution
from accepted candidates (GreedyLinkback.java:49-87 iterates argmax +
overlap removal). In the ER recast this is transitive closure of
accepted match pairs. Cluster id = min record_id of the component
(deterministic).

One path: the input edges are materialized once, then contraction
rounds run while more than ``cc_local_threshold`` edges remain, and a
single driver union-find labels whatever is left (the raw input when no
round ran). A round is
  1. hash-min: every node points at min(self, neighbours) — a pointer
     forest whose chains strictly decrease to a root, the tree's min;
  2. pointer jumping to closure (lab <- lab[lab] until nothing moves):
     O(log depth) joins over the one-row-per-node table, so a 300-hop
     chain collapses in one round;
  3. contraction: edges are rewritten onto the new labels with
     self-loops and duplicates dropped, so dense near-cliques collapse
     after one round and every later round runs over a smaller graph
     (measured at the sf1.0 gate corpus in OPTIMIZATION_r06.md).
The per-round relabelings are composed back onto the original nodes,
newest round first, after the finish.

Every count is observed (``pyspark.sql.Observation``) on the eager
``localCheckpoint`` that materializes the counted frame: the input edge
count, each round's contracted edge count and each pointer jump's
``moved`` count (``count_if(lab != _old)``) ride the checkpoint's job
instead of starting one of their own.

Termination needs no iteration cap. Every round strictly lowers the
edge count: in each component the min node m is every neighbour's
hash-min pick, so the edges at m become self-loops. The live supernode
count at least halves every two rounds: a node that has an edge is
either in a hash-min tree of >= 2 nodes (merged) or is an orphan root
whose neighbours all point below it; after contraction all of an
orphan's neighbours are smaller than it, so next round it joins a tree
of >= 2 nodes. Rounds are therefore O(log nodes) (the halving argument
of BTS, ICDE'24, PAPERS.md). AQE handles skewed high-degree nodes; the
blocking cap bounds max degree upstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from smaph_spark.config import ERConfig


def history_pseudo_edges(history_clusters: DataFrame) -> DataFrame:
    """history_clusters(record_id, cluster_id) -> canonicalized
    (left_id, right_id) pseudo-edges that re-encode an already-resolved
    clustering for a later CC run. Each member links to its cluster's
    canonical id, so the transitive closure of the pseudo-edges equals
    the original components — THE incremental fold: union these with
    the delta-touching match edges and re-run CC, and a new record
    bridging two old clusters merges them exactly as a full-batch run
    would. Shared by ERPipeline.run_incremental and the er04 gate query
    (round-4 review: the fold must live once)."""
    return history_clusters.filter(
        F.col("record_id") != F.col("cluster_id")
    ).select(
        F.least("record_id", "cluster_id").alias("left_id"),
        F.greatest("record_id", "cluster_id").alias("right_id"),
    )


def connected_components(
    matches: DataFrame, cfg: ERConfig, all_records: DataFrame | None = None
) -> tuple[DataFrame, list[dict]]:
    """matches(left_id, right_id) -> clusters(record_id, cluster_id).

    If ``all_records`` (DataFrame with record_id) is given, unmatched
    records appear as singleton clusters (cluster_id = record_id).
    Returns (clusters, history): one ``{"iteration",
    "edges_after_contraction"}`` per round, then ``{"iteration",
    "local_finish_edges"}`` if edges remained for the finish — or
    ``{"local_union_find": True, "edges"}`` when no round ran — and a
    last ``{"converged": True}``.
    """
    # ONE materialization of the (often expensive) upstream pair plan:
    # the first round and the finish's collect read this checkpoint
    # instead of re-running the candidate join
    edges, n_edges = checkpoint(matches.select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    ), F.count(F.lit(1)))
    rounds: list[DataFrame] = []
    history: list[dict] = []
    while n_edges > cfg.cc_local_threshold:
        # one round (module docstring): 1. hash-min
        lab = (
            edges.select(F.col("src").alias("node"), F.col("dst").alias("nb"))
            .union(edges.select(F.col("dst").alias("node"), F.col("src").alias("nb")))
            .groupBy("node")
            .agg(F.min("nb").alias("mn"))
            .select("node", F.least("node", "mn").alias("lab"))
            .localCheckpoint(eager=True)
        )
        # 2. pointer-jump to closure
        moved = None
        while moved != 0:
            ptr = lab.select(
                F.col("node").alias("pj_node"), F.col("lab").alias("pj_lab")
            )
            lab, moved = checkpoint(
                lab.join(ptr, lab.lab == ptr.pj_node, "left").select(
                    "node",
                    F.least(
                        F.col("lab"), F.coalesce("pj_lab", F.col("lab"))
                    ).alias("lab"),
                    F.col("lab").alias("_old"),
                ),
                F.count_if(F.col("lab") != F.col("_old")),
            )
            lab = lab.select("node", "lab")
        # 3. contract the edges onto the round's labels
        sl = lab.select(F.col("node").alias("src"), F.col("lab").alias("_sl"))
        dl = lab.select(F.col("node").alias("dst"), F.col("lab").alias("_dl"))
        edges, n_edges = checkpoint(
            edges.join(sl, "src")
            .join(dl, "dst")
            .select(
                F.least("_sl", "_dl").alias("src"),
                F.greatest("_sl", "_dl").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct(),
            F.count(F.lit(1)),
        )
        history.append(
            {"iteration": len(rounds), "edges_after_contraction": n_edges}
        )
        rounds.append(lab)

    labels = _union_find(edges, n_edges)
    if not rounds:
        history.append({"local_union_find": True, "edges": n_edges})
    elif n_edges:
        history.append(
            {"iteration": len(rounds), "local_finish_edges": n_edges}
        )
    history.append({"converged": True})
    # compose node -> round label -> ... -> final label; a round label
    # with no edge left in later rounds keeps itself (left join +
    # coalesce). The first round's table covers every input node.
    for lab in reversed(rounds):
        nxt = labels.select(
            F.col("record_id").alias("_n"), F.col("cluster_id").alias("_c")
        )
        labels = lab.join(nxt, F.col("lab") == F.col("_n"), "left").select(
            F.col("node").alias("record_id"),
            F.coalesce("_c", "lab").alias("cluster_id"),
        )
    if rounds:
        labels = labels.localCheckpoint(eager=True)

    if all_records is not None:
        labels = (
            all_records.select("record_id")
            .join(labels, "record_id", "left")
            .withColumn(
                "cluster_id", F.coalesce(F.col("cluster_id"), F.col("record_id"))
            )
        )
    return labels, history


def checkpoint(df: DataFrame, metric: Column) -> tuple[DataFrame, int]:
    """Eager local checkpoint of ``df`` and the value of the aggregate
    ``metric`` over its rows, observed on the checkpoint's own job: no
    Spark job runs only to count. Also materializes each ER stage run
    without a snapshot (``ERPipeline._load_or_compute``)."""
    obs = Observation()
    df = df.observe(obs, metric.alias("v")).localCheckpoint(eager=True)
    return df, obs.get["v"]


def _union_find(edges: DataFrame, n_edges: int) -> DataFrame:
    """Driver-side union-find over ``edges(src, dst)`` — at most
    ``cc_local_threshold`` rows, a few MB — as a broadcast
    (record_id, cluster_id = min node of its component) table."""
    if not n_edges:
        # the empty edge checkpoint is the empty label table; an empty
        # driver-built DataFrame would be a Python RDD whose every scan
        # starts Python workers
        return F.broadcast(edges.toDF("record_id", "cluster_id"))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges.collect():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        # the smaller root wins, so every root is its component's min
        parent[max(ra, rb)] = min(ra, rb)
    # Arrow upload (one columnar batch) instead of pickling a row list:
    # the label relation is re-serialized to executors on every
    # downstream action, and the row path measured ~1 s per action at
    # 50k labels
    import pandas as pd

    pdf = pd.DataFrame(
        [(node, find(node)) for node in parent],
        columns=["record_id", "cluster_id"],
    )
    return F.broadcast(edges.sparkSession.createDataFrame(
        pdf, "record_id long, cluster_id long"
    ))
