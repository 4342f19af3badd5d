"""End-to-end ER pipeline acceptance tests (FIXTURES.md §2 pipeline
recasts): blocking recall on planted duplicates, pairwise F1 ≥ 0.99 vs
labeled pairs, per-row content_sha invariant, CC vs gold clusters,
resume-from-checkpoint reproducibility."""

import pytest
from pyspark.sql import functions as F

from smaph_spark.config import ERConfig
from smaph_spark.operators.metrics import clusters_pairwise_prf, pairwise_prf
from smaph_spark.pipeline import ERPipeline
from smaph_spark.sources.synthetic import generate_files_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    files_pdf, labeled_pdf, gold_pdf = generate_files_corpus(
        n_clusters=80, seed=42
    )
    files = spark.createDataFrame(files_pdf)
    labeled = spark.createDataFrame(labeled_pdf)
    gold = spark.createDataFrame(gold_pdf)
    # canonical (left_id, right_id) with left < right
    lid = F.xxhash64("l_repo", "l_path", "l_commit")
    rid = F.xxhash64("r_repo", "r_path", "r_commit")
    labeled_ids = labeled.select(
        F.least(lid, rid).alias("left_id"),
        F.greatest(lid, rid).alias("right_id"),
        "is_match",
    )
    gold_ids = gold.select(
        F.xxhash64("repo", "path", "commit").alias("record_id"),
        F.col("cluster_idx").alias("cluster_id"),
    )
    return files, labeled_ids, gold_ids


@pytest.fixture(scope="module")
def result(spark, corpus):
    files, labeled_ids, gold_ids = corpus
    pipe = ERPipeline(spark, ERConfig())
    res = pipe.run(files)
    return pipe, res


def test_content_sha_invariant(corpus, result):
    files, _, _ = corpus
    pipe, res = result
    assert ERPipeline.verify_content_sha(files, res.normalized) == 0


def test_blocking_recall(corpus, result):
    """Every labeled positive pair must share at least one block
    (candidate-generation recall, the analogue of SMAPH's source
    coverage upper bound — SmaphAnnotator.java:820-911)."""
    _, labeled_ids, _ = corpus
    _, res = result
    cand = res.pairs_scored.select("left_id", "right_id").distinct()
    pos = labeled_ids.filter("is_match")
    found = pos.join(cand, ["left_id", "right_id"], "left_semi").count()
    total = pos.count()
    assert total > 50
    assert found / total >= 0.98, f"blocking recall {found}/{total}"


def test_pairwise_f1(corpus, result):
    _, labeled_ids, _ = corpus
    _, res = result
    m = pairwise_prf(res.matches, labeled_ids)
    assert m["f1"] >= 0.99, m


def test_clusters_match_gold(corpus, result):
    _, _, gold_ids = corpus
    _, res = result
    m = clusters_pairwise_prf(res.clusters, gold_ids)
    assert m["f1"] >= 0.99, m


def test_cluster_id_is_min_record_id(result):
    _, res = result
    bad = (
        res.clusters.groupBy("cluster_id")
        .agg(F.min("record_id").alias("mn"))
        .filter(F.col("cluster_id") != F.col("mn"))
        .count()
    )
    assert bad == 0


def test_checkpoint_resume_reproduces(spark, corpus, tmp_path_factory):
    """Resume from stage snapshots reproduces identical cluster output
    (north_rule resumability)."""
    files, _, _ = corpus
    ckpt = str(tmp_path_factory.mktemp("er_ckpt"))
    cfg = ERConfig()
    res1 = ERPipeline(spark, cfg, checkpoint_dir=ckpt).run(files)
    first = sorted(
        (r["record_id"], r["cluster_id"]) for r in res1.clusters.collect()
    )
    pipe2 = ERPipeline(spark, cfg, checkpoint_dir=ckpt)
    res2 = pipe2.run(files)
    assert pipe2.stage_metrics_resumed(), "second run should resume"
    second = sorted(
        (r["record_id"], r["cluster_id"]) for r in res2.clusters.collect()
    )
    assert first == second


def test_checkpoint_not_resumed_for_different_input(spark, corpus, tmp_path_factory):
    """Snapshots are keyed by (config, input): same config + same
    checkpoint_dir but a DIFFERENT input must recompute, not silently
    resume the previous dataset's stages (round-1 ADVICE)."""
    files, _, _ = corpus
    ckpt = str(tmp_path_factory.mktemp("er_ckpt_in"))
    cfg = ERConfig()
    ERPipeline(spark, cfg, checkpoint_dir=ckpt).run(files)
    other_pdf, _, _ = generate_files_corpus(n_clusters=10, seed=999)
    other = spark.createDataFrame(other_pdf)
    pipe2 = ERPipeline(spark, cfg, checkpoint_dir=ckpt)
    res2 = pipe2.run(other)
    assert not pipe2.stage_metrics_resumed(), "different input must not resume"
    # and the output belongs to the new input, not the old one
    assert ERPipeline.verify_content_sha(other, res2.normalized) == 0


def _cap_reference(normalized, cfg):
    """cap_counts over the key table of ``normalized``, as a
    ``s2_block_caps`` dict."""
    from smaph_spark.operators.blocking import (
        cap_and_salt_blocks, cap_counts, generate_blocks,
    )

    _, block_metrics = cap_and_salt_blocks(generate_blocks(normalized, cfg), cfg)
    return dict(zip(
        ("salted_blocks", "dropped_blocks", "records_in_dropped_blocks"),
        cap_counts(block_metrics),
    ))


def test_block_cap_metrics_logged(spark, tmp_path):
    """Oversized blocks are salted/dropped with logged counts, never
    silently (reference logs binding caps,
    DefaultBindingGenerator.java:135-136). The counts observed on the
    key table equal ``cap_counts`` over the same key table, with
    snapshots (observed by the stage-2 write) and without (observed by
    the stage-2 checkpoint)."""
    # 90% of the files share a handful of hot paths: their name keys
    # are dropped, and near-duplicate clusters salt LSH band keys
    files_pdf, _, _ = generate_files_corpus(
        n_clusters=40, hot_path_fraction=0.9, seed=7
    )
    files = spark.createDataFrame(files_pdf)
    cfg = ERConfig(max_block_size=4, block_salt_buckets=2)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history, delta = files.filter(bucket < 4), files.filter(bucket >= 4)
    for ckpt in (None, str(tmp_path)):
        res = ERPipeline(spark, cfg, checkpoint_dir=ckpt).run(files)
        caps = res.stage_metrics["s2_block_caps"]
        assert caps == _cap_reference(res.normalized, cfg), ckpt
        assert caps["salted_blocks"] > 0 and caps["dropped_blocks"] > 0
        assert caps["records_in_dropped_blocks"] > caps["dropped_blocks"]

        # the delta path caps the same union key table, so it logs the
        # same counts as the batch run over history ∪ delta
        hist_res = ERPipeline(spark, cfg, checkpoint_dir=ckpt).run(history)
        inc = ERPipeline(spark, cfg, checkpoint_dir=ckpt).run_incremental(
            history, delta, hist_res.clusters,
            history_normalized=hist_res.normalized,
        )
        assert inc.stage_metrics["s2_block_caps"] == caps, ckpt


def test_snapshot_rows_are_exact(spark, corpus, tmp_path):
    """Each snapshot stage's ``rows`` (observed by its write) equals the
    row count of the parquet it wrote, for ``run`` and
    ``run_incremental``; the delta's observed ``s2_delta_key_rows``
    equals a count of the delta's block keys."""
    from smaph_spark.operators.blocking import generate_blocks

    files, _, _ = corpus
    cfg = ERConfig()
    ckpt = str(tmp_path)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history, delta = files.filter(bucket < 4), files.filter(bucket >= 4)
    hist_res = ERPipeline(spark, cfg, checkpoint_dir=ckpt).run(history)
    inc = ERPipeline(spark, cfg, checkpoint_dir=ckpt).run_incremental(
        history, delta, hist_res.clusters,
        history_normalized=hist_res.normalized,
    )
    for res in (hist_res, inc):
        written = {k: m for k, m in res.stage_metrics.items()
                   if isinstance(m, dict) and "path" in m}
        assert {"s1_normalized", "s2_blocks", "s3_pairs_scored",
                "s4_matches", "s5_clusters"} <= set(written)
        for stage, m in written.items():
            assert m["rows"] == spark.read.parquet(m["path"]).count(), stage
    assert "s2_history_keys" in inc.stage_metrics
    delta_norm = spark.read.parquet(inc.stage_metrics["s1_normalized"]["path"])
    assert inc.stage_metrics["s2_delta_key_rows"] == (
        generate_blocks(delta_norm, cfg).count()
    )


def _solo_files(spark, ids):
    """Files that share no block key with any other file: unique names
    and 100 random words of content each."""
    import random

    rng = random.Random(5)
    words = ["w%05d" % rng.randrange(100_000) for _ in range(100 * max(ids) + 100)]
    return spark.createDataFrame(
        [(f"zz/solo{i}", f"solo_{i}_unique.txt", "c0", "text",
          " ".join(words[i * 100:(i + 1) * 100])) for i in ids],
        "repo string, path string, commit string, lang string, content string",
    )


def test_no_snapshot_runs_without_matches_finish(spark):
    """Without snapshots the stage-2 counts are read right after the
    stage-2 checkpoint, and they stay exact when nothing matches: a
    delta that matches nothing in a real history, an incremental run
    with no candidate pair at all and an empty input. The checkpoint
    runs stage 2 as a plan of its own, so no empty join downstream can
    drop the observed nodes from it."""
    from smaph_spark.operators.blocking import generate_blocks

    cfg = ERConfig()
    files_pdf, _, _ = generate_files_corpus(n_clusters=30, seed=5)
    for history, delta in (
        (spark.createDataFrame(files_pdf), _solo_files(spark, range(4))),
        (_solo_files(spark, range(4)), _solo_files(spark, range(4, 8))),
    ):
        hist_res = ERPipeline(spark, cfg).run(history)
        inc = ERPipeline(spark, cfg).run_incremental(
            history, delta, hist_res.clusters,
            history_normalized=hist_res.normalized,
        )
        assert inc.matches.count() == 0
        new_norm = inc.normalized.join(
            hist_res.normalized, "record_id", "left_anti")
        want = {r["record_id"]: r["cluster_id"]
                for r in hist_res.clusters.collect()}
        want.update({r["record_id"]: r["record_id"]
                     for r in new_norm.collect()})
        assert len(want) == hist_res.normalized.count() + 4
        assert {r["record_id"]: r["cluster_id"]
                for r in inc.clusters.collect()} == want
        sm = inc.stage_metrics
        assert sm["s2_block_caps"] == _cap_reference(inc.normalized, cfg)
        assert sm["s2_delta_key_rows"] == (
            generate_blocks(new_norm, cfg).count()
        )

    res = ERPipeline(spark, cfg).run(spark.createDataFrame([], delta.schema))
    assert res.clusters.count() == 0
    assert res.stage_metrics["s2_block_caps"] == {
        "salted_blocks": 0, "dropped_blocks": 0,
        "records_in_dropped_blocks": 0,
    }


def test_no_snapshot_stage_rows_are_exact(spark, corpus, result, tmp_path):
    """Without snapshots each stage's ``rows`` is observed by its
    checkpoint: it equals the count of the stage's frame and the
    ``rows`` a snapshot run writes for the same stage."""
    files, _, _ = corpus
    _, res = result
    snap = ERPipeline(spark, ERConfig(), checkpoint_dir=str(tmp_path)).run(files)
    frames = {
        "s1_normalized": res.normalized, "s2_blocks": res.blocks,
        "s3_pairs_scored": res.pairs_scored, "s4_matches": res.matches,
        "s5_clusters": res.clusters,
    }
    for stage, df in frames.items():
        rows = res.stage_metrics[stage]["rows"]
        assert rows == df.count() == snap.stage_metrics[stage]["rows"], stage


def test_no_snapshot_run_caches_nothing(spark):
    """A no-snapshot run materializes its stages as local checkpoints:
    it leaves no frame in the session's CacheManager."""
    spark.catalog.clearCache()
    files_pdf, _, _ = generate_files_corpus(n_clusters=30, seed=11)
    ERPipeline(spark, ERConfig()).run(spark.createDataFrame(files_pdf))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _reference_components(edges, records):
    """Plain-Python union-find: {record: min record of its component}."""
    comp = {r: {r} for r in records}
    for a, b in edges:
        if comp[a] is not comp[b]:
            merged = comp[a] | comp[b]
            for r in merged:
                comp[r] = merged
    return {r: min(c) for r, c in comp.items()}


@pytest.mark.parametrize("threshold", [0, 3, 100_000],
                         ids=["rounds", "round_then_finish", "union_find"])
def test_cc_local_and_distributed_paths_agree(spark, threshold):
    """Every cc_local_threshold gives the reference min-id labeling:
    0 runs contraction rounds only, 3 runs one round and then finishes
    with the driver union-find mid-run, 100k runs the union-find over
    the raw input. Duplicate, reversed and self-loop edges and an
    unmatched record must not change the components."""
    from dataclasses import replace

    from smaph_spark.operators.clustering import connected_components

    # 31 and 41 are hash-min roots nothing points at, so their edges
    # survive the first contraction round
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4),
             (5, 6), (6, 7), (7, 8), (8, 9), (30, 32), (32, 31),
             (40, 42), (42, 41), (2, 1), (1, 2), (22, 22)]
    records = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 20, 21, 22,
               30, 31, 32, 40, 41, 42, 99]
    edges = spark.createDataFrame(pairs, "left_id long, right_id long")
    recs = spark.createDataFrame([(i,) for i in records], "record_id long")
    cfg = replace(ERConfig(), cc_local_threshold=threshold)
    labels, hist = connected_components(edges, cfg, all_records=recs)
    got = {r["record_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == _reference_components(pairs, records)

    assert hist[-1] == {"converged": True}
    # the observed counts: the same history as counting each checkpoint
    assert hist == {
        0: [{"iteration": 0, "edges_after_contraction": 2},
            {"iteration": 1, "edges_after_contraction": 0},
            {"converged": True}],
        3: [{"iteration": 0, "edges_after_contraction": 2},
            {"iteration": 1, "local_finish_edges": 2},
            {"converged": True}],
        100_000: [{"local_union_find": True, "edges": len(pairs)},
                  {"converged": True}],
    }[threshold]
    rounds = [h for h in hist[:-1] if "edges_after_contraction" in h]
    assert [h["iteration"] for h in rounds] == list(range(len(rounds)))
    if threshold == 100_000:
        assert hist == [{"local_union_find": True, "edges": len(pairs)},
                        {"converged": True}]
        return
    assert rounds and all(set(h) == {"iteration", "edges_after_contraction"}
                          for h in rounds)
    finish = hist[len(rounds):-1]
    if threshold == 0:
        assert finish == [] and rounds[-1]["edges_after_contraction"] == 0
    else:
        assert rounds[-1]["edges_after_contraction"] <= threshold
        assert finish == [{
            "iteration": len(rounds),
            "local_finish_edges": rounds[-1]["edges_after_contraction"],
        }]
        assert finish[0]["local_finish_edges"] > 0


def test_stage_path_keyed_by_scorer_identity(spark, tmp_path):
    """A retrained scorer with an identical config/threshold must not
    resume pair scores produced by the old model (round-2 ADVICE): the
    snapshot directory is keyed by a scorer fingerprint too."""

    class _Stage:
        def __init__(self, uid):
            self.uid = uid

    class _Model:
        def __init__(self, uid):
            self.stages = [_Stage(uid)]

    cfg = ERConfig()
    ckpt = str(tmp_path)
    p_rule = ERPipeline(spark, cfg, checkpoint_dir=ckpt)
    p_m1 = ERPipeline(spark, cfg, checkpoint_dir=ckpt, scorer_model=_Model("GBT_a"))
    p_m2 = ERPipeline(spark, cfg, checkpoint_dir=ckpt, scorer_model=_Model("GBT_b"))
    for p in (p_rule, p_m1, p_m2):
        p._input_fp = "same"
    paths = {p._stage_path("s3_pairs_scored") for p in (p_rule, p_m1, p_m2)}
    assert len(paths) == 3


def test_input_fingerprint_duplicates_do_not_cancel(spark):
    """bit_xor alone cancels rows occurring an even number of times:
    {x,x,y,y} vs {z,z,y,y} must fingerprint differently (round-2
    ADVICE); the complementary modular sum breaks the tie."""
    a = spark.createDataFrame([("x",), ("x",), ("y",), ("y",)], "v string")
    b = spark.createDataFrame([("z",), ("z",), ("y",), ("y",)], "v string")
    assert ERPipeline._input_fingerprint(a) != ERPipeline._input_fingerprint(b)


@pytest.mark.parametrize("threshold,shuffle_seed", [(0, None), (5, 0)],
                         ids=["ordered", "shuffled_finish"])
def test_cc_long_chain_converges_within_log_iterations(
    spark, threshold, shuffle_seed
):
    """Pointer jumping must label a 300-hop path in O(log d) rounds,
    where plain neighbour propagation would need 300 and a cap on the
    rounds would silently split the component. The ordered path
    0-1-...-300 collapses in one round; with shuffled ids the path
    has many hash-min roots and takes several rounds, and threshold 5
    finishes the contracted path with the driver union-find."""
    import random
    import warnings
    from dataclasses import replace

    from smaph_spark.operators.clustering import connected_components

    n = 301  # single path over ids 0..300
    ids = list(range(n))
    if shuffle_seed is not None:
        random.Random(shuffle_seed).shuffle(ids)
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)],
        "left_id long, right_id long",
    )
    cfg = replace(ERConfig(), cc_local_threshold=threshold)
    with warnings.catch_warnings():
        # no RuntimeWarning of any kind (the blanket filter would also
        # trip py4j's benign socket-GC unraisable)
        warnings.simplefilter("error", RuntimeWarning)
        labels, hist = connected_components(edges, cfg)
    rows = labels.collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {0}
    n_iters = sum(1 for h in hist if "iteration" in h)
    assert n_iters <= 12, hist
    assert any("local_finish_edges" in h for h in hist) == (threshold > 0)
    rounds = [h["edges_after_contraction"] for h in hist
              if "edges_after_contraction" in h]
    assert rounds == ([0] if shuffle_seed is None else [100, 35, 13, 5])


def test_incremental_er_equals_full_batch(spark):
    """run_incremental(history, delta, history_clusters) must produce
    EXACTLY the clusters of run(history ∪ delta), while scoring only
    pairs that touch a delta record."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=60, seed=777)
    files = spark.createDataFrame(files_pdf)
    # deterministic ~80/20 split that cuts through duplicate clusters
    # (so delta records must both join existing clusters and form new
    # ones, and some bridge history clusters)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history = files.filter(bucket < 4)
    delta = files.filter(bucket >= 4)
    assert 0 < delta.count() < files.count()

    full = ERPipeline(spark, ERConfig()).run(files)
    hist_res = ERPipeline(spark, ERConfig()).run(history)
    inc_pipe = ERPipeline(spark, ERConfig())
    inc = inc_pipe.run_incremental(
        history, delta, hist_res.clusters,
        history_normalized=hist_res.normalized,
    )

    full_set = {
        (r["record_id"], r["cluster_id"]) for r in full.clusters.collect()
    }
    inc_set = {
        (r["record_id"], r["cluster_id"]) for r in inc.clusters.collect()
    }
    assert inc_set == full_set

    # the quadratic stage only touched delta pairs
    delta_ids = {
        r["record_id"]
        for r in delta.select(
            F.xxhash64("repo", "path", "commit").alias("record_id")
        ).collect()
    }
    scored = inc.pairs_scored.select("left_id", "right_id").collect()
    assert len(scored) > 0
    assert all(
        r["left_id"] in delta_ids or r["right_id"] in delta_ids for r in scored
    )
    # and it did strictly less scoring work than the full run
    assert len(scored) < full.pairs_scored.count()


def test_incremental_er_with_history_normalized(spark):
    """Reusing the history run's normalized output (delta-only stage 1)
    must still produce the exact full-batch clustering, with every
    record normalized exactly once."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=50, seed=4242)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history, delta = files.filter(bucket < 4), files.filter(bucket >= 4)

    full = ERPipeline(spark, ERConfig()).run(files)
    hist_res = ERPipeline(spark, ERConfig()).run(history)
    inc = ERPipeline(spark, ERConfig()).run_incremental(
        history, delta, hist_res.clusters,
        history_normalized=hist_res.normalized,
    )
    full_set = {(r["record_id"], r["cluster_id"]) for r in full.clusters.collect()}
    inc_set = {(r["record_id"], r["cluster_id"]) for r in inc.clusters.collect()}
    assert inc_set == full_set
    # the normalized union really covers everything exactly once
    assert inc.normalized.count() == files.count()
    assert inc.normalized.select("record_id").distinct().count() == files.count()


def test_incremental_splits_do_not_share_snapshots(spark, tmp_path):
    """Round-3 ADVICE (medium): two incremental runs over the SAME total
    corpus but a DIFFERENT history/delta split cache different
    s3_pairs_scored (delta-touching pairs only) — the split must be part
    of the snapshot key or the second run silently resumes the first's
    pair scores."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=30, seed=31337)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    split_a = (files.filter(bucket < 4), files.filter(bucket >= 4))
    split_b = (files.filter(bucket < 2), files.filter(bucket >= 2))
    ckpt = str(tmp_path)

    results = []
    for history, delta in (split_a, split_b):
        hist_res = ERPipeline(spark, ERConfig()).run(history)
        p = ERPipeline(spark, ERConfig(), checkpoint_dir=ckpt)
        r = p.run_incremental(history, delta, hist_res.clusters,
                              history_normalized=hist_res.normalized)
        # the run must have computed its own pair scores, not resumed
        # the other split's snapshot
        assert not p._metrics["s3_pairs_scored"].get("resumed_from_snapshot")
        results.append(r)

    # both splits converge to the same clustering (the invariant), but
    # their scored-pair sets differ — the thing the key must separate
    pairs_a = {(r["left_id"], r["right_id"]) for r in results[0].pairs_scored.select("left_id", "right_id").collect()}
    pairs_b = {(r["left_id"], r["right_id"]) for r in results[1].pairs_scored.select("left_id", "right_id").collect()}
    assert pairs_a != pairs_b
    c1 = {(r["record_id"], r["cluster_id"]) for r in results[0].clusters.collect()}
    c2 = {(r["record_id"], r["cluster_id"]) for r in results[1].clusters.collect()}
    assert c1 == c2


def test_incremental_blocking_is_delta_sized(spark, tmp_path):
    """Round-3 VERDICT item 7: with history_normalized + checkpointing,
    stage 2 generates keys for the DELTA only; the history block-key
    table is snapshotted under the history fingerprint and reused by
    every later delta batch against the same history."""
    from smaph_spark.operators.blocking import generate_blocks
    from smaph_spark.operators.normalize import normalize_files

    files_pdf, _, _ = generate_files_corpus(n_clusters=40, seed=2718)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10))
    history = files.filter(bucket < 8)
    delta1 = files.filter(bucket == 8)
    delta2 = files.filter(bucket == 9)
    cfg = ERConfig()
    hist_res = ERPipeline(spark, cfg).run(history)
    ckpt = str(tmp_path)

    p1 = ERPipeline(spark, cfg, checkpoint_dir=ckpt)
    p1.run_incremental(history, delta1, hist_res.clusters,
                       history_normalized=hist_res.normalized)
    assert not p1._metrics["s2_history_keys"].get("resumed_from_snapshot")
    # the generated key volume is delta-sized, not union-sized
    d1_keys = generate_blocks(
        normalize_files(delta1, cfg).drop("content"), cfg
    ).count()
    assert p1._metrics["s2_delta_key_rows"] == d1_keys
    assert d1_keys < generate_blocks(hist_res.normalized, cfg).count()

    # a DIFFERENT delta against the SAME history reuses the snapshot
    p2 = ERPipeline(spark, cfg, checkpoint_dir=ckpt)
    r2 = p2.run_incremental(history, delta2, hist_res.clusters,
                            history_normalized=hist_res.normalized)
    assert p2._metrics["s2_history_keys"].get("resumed_from_snapshot")

    # and the result still equals the full-batch run over history+delta2
    full = ERPipeline(spark, cfg).run(history.unionByName(delta2))
    full_set = {(r["record_id"], r["cluster_id"]) for r in full.clusters.collect()}
    inc_set = {(r["record_id"], r["cluster_id"]) for r in r2.clusters.collect()}
    assert inc_set == full_set


def test_file_backed_splits_fingerprint_differently(spark, tmp_path):
    """Round-4 review: inputFiles() ignores filters, so two filtered
    SLICES of the same parquet source must still fingerprint
    differently (the plan string carries the predicate) — otherwise
    run_incremental with parquet-backed splits resumes the wrong
    snapshots."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=10, seed=55)
    src = str(tmp_path / "files")
    spark.createDataFrame(files_pdf).write.parquet(src)
    base = spark.read.parquet(src)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    fp_a = ERPipeline._input_fingerprint(base.filter(bucket < 4))
    fp_b = ERPipeline._input_fingerprint(base.filter(bucket < 2))
    fp_full = ERPipeline._input_fingerprint(base)
    assert len({fp_a, fp_b, fp_full}) == 3
    # and stable for the same slice
    assert fp_a == ERPipeline._input_fingerprint(base.filter(bucket < 4))


def test_incremental_rejects_history_delta_overlap(spark):
    """Round-4 review: the O(delta) blocking path assumes disjoint
    history/delta record ids — an overlapping record must raise, not
    silently duplicate block keys and pairs."""
    import pytest as _pytest

    files_pdf, _, _ = generate_files_corpus(n_clusters=20, seed=606)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history = files.filter(bucket < 4)
    overlapping_delta = files.filter(bucket >= 3)  # bucket 3 in both
    hist_res = ERPipeline(spark, ERConfig()).run(history)
    with _pytest.raises(ValueError, match="BOTH history"):
        ERPipeline(spark, ERConfig()).run_incremental(
            history, overlapping_delta, hist_res.clusters,
            history_normalized=hist_res.normalized,
        )


def test_incremental_overlap_guard_index_and_skip(spark):
    """Round-4 ADVICE: the disjointness guard must not force a full
    history rescan per delta batch — a caller-maintained id index
    (dd07-style) drives the same check, and passes a clean delta."""
    files_pdf, _, _ = generate_files_corpus(n_clusters=15, seed=808)
    files = spark.createDataFrame(files_pdf)
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5))
    history = files.filter(bucket < 4)
    overlapping_delta = files.filter(bucket >= 3)
    clean_delta = files.filter(bucket >= 4)
    hist_res = ERPipeline(spark, ERConfig()).run(history)
    hist_index = history.select(
        F.xxhash64("repo", "path", "commit").alias("record_id")
    )
    # the precomputed index catches the overlap like the full scan did
    with pytest.raises(ValueError, match="BOTH history"):
        ERPipeline(spark, ERConfig()).run_incremental(
            history, overlapping_delta, hist_res.clusters,
            history_normalized=hist_res.normalized,
            history_ids=hist_index,
        )
    res = ERPipeline(spark, ERConfig()).run_incremental(
        history, clean_delta, hist_res.clusters,
        history_normalized=hist_res.normalized,
        history_ids=hist_index,
    )
    assert res.clusters.count() == files.count()


def _jobs_in_group(spark, group, fn):
    """(fn(), number of Spark jobs fn started), counted per job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


#: Spark jobs measured at local[4] (the test session); the asserts allow
#: 2 more for AQE's run-to-run jitter
ER_RUN_JOBS, ER_RUN_NO_SNAPSHOT_JOBS, CC_ROUND_THEN_FINISH_JOBS = 19, 14, 24
#: the dd03/dd09/sim04 queries, built and collected at sf0.001
DD03_JOBS, DD09_JOBS, SIM04_JOBS = 9, 11, 14


def test_spark_job_counts(spark, tmp_path):
    """No Spark job runs only to count: an ERPipeline.run with
    snapshots and one without (stage rows, cap counts) and a CC run
    that contracts once and then finishes on the driver (edge and
    pointer-jump counts) read their counts from Observations on the
    writes and checkpoints; so do the dd03 and dd09 queries (cap
    counts on the capped key table's checkpoint). sim04 loads its
    codebooks and runs no job to probe the data width."""
    from dataclasses import replace

    from smaph_spark.operators.clustering import connected_components

    # a corpus no other test persists, so no stage is served from cache
    files_pdf, _, _ = generate_files_corpus(n_clusters=80, seed=43)
    files = spark.createDataFrame(files_pdf)
    pipe = ERPipeline(spark, ERConfig(), checkpoint_dir=str(tmp_path))
    _, n_run = _jobs_in_group(spark, "er_run", lambda: pipe.run(files))
    assert n_run <= ER_RUN_JOBS + 2
    _, n_plain = _jobs_in_group(
        spark, "er_run_no_snapshot", lambda: ERPipeline(spark, ERConfig()).run(files)
    )
    assert n_plain <= ER_RUN_NO_SNAPSHOT_JOBS + 2

    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4),
             (5, 6), (6, 7), (7, 8), (8, 9), (30, 32), (32, 31),
             (40, 42), (42, 41), (2, 1), (1, 2), (22, 22)]
    edges = spark.createDataFrame(pairs, "left_id long, right_id long")
    recs = spark.createDataFrame([(i,) for i in range(100)], "record_id long")
    cfg = replace(ERConfig(), cc_local_threshold=3)
    (_, hist), n_cc = _jobs_in_group(
        spark, "cc_round_then_finish",
        lambda: connected_components(edges, cfg, all_records=recs),
    )
    assert any("local_finish_edges" in h for h in hist)
    assert n_cc <= CC_ROUND_THEN_FINISH_JOBS + 2

    from smaph_spark.ops.dedup import dd_cdc_containment, dd_minhash_lsh
    from smaph_spark.ops.similarity import sim_pq_topk
    from tests.test_ops import SF  # the sf0.001 tables

    for query, jobs in ((dd_minhash_lsh, DD03_JOBS),
                        (dd_cdc_containment, DD09_JOBS),
                        (sim_pq_topk, SIM04_JOBS)):
        _, n_q = _jobs_in_group(
            spark, query.__name__, lambda: query(spark, SF).collect()
        )
        assert n_q <= jobs + 2, (query.__name__, n_q)
