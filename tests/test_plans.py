"""Plan-shape regression tests: the physical plans that make the
headline queries 100 TB-viable — pruned+pushed scans, broadcast star
joins, map-side partial aggregation. A plan that silently regresses to
a full-width scan or a sort-merge join would still pass value checks;
these tests pin the plan itself (dd02/dd05 have their own plan tests in
test_dedup_scale.py)."""

import __spark_entry__  # noqa: F401 — populate the registry
from smaph_spark.config import ERConfig
from smaph_spark.operators.blocking import cap_and_salt_blocks, generate_blocks
from smaph_spark.operators.normalize import normalize_files
from smaph_spark.operators.pairs import attach_pair_features, generate_pairs
from smaph_spark.plans.star_queries import QUERIES
from smaph_spark.sources.synthetic import generate_files_corpus

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = QUERIES[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_scan_pruned_and_pushed(spark):
    plan = _plan(spark, "q01_pricing_summary")
    scan = [l for l in plan.splitlines() if "FileScan parquet" in l][0]
    # column pruning: exactly the 7 consumed columns reach the scan
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax",
              "l_returnflag", "l_linestatus", "l_shipdate"):
        assert c in scan
    assert "l_orderkey" not in scan and "l_comment" not in scan
    # predicate pushdown: the shipdate filter reaches the reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q02_star_join_broadcasts_all_dims(spark):
    plan = _plan(spark, "q02_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_tx09_partial_aggregation(spark):
    """The token count must combine map-side before the shuffle — at
    100 TB the exploded token stream is the biggest intermediate."""
    plan = _plan(spark, "tx09_top_terms_per_lang")
    assert "partial_count" in plan


def test_q22_asof_no_join_single_exchange(spark):
    plan = _plan(spark, "q22_event_asof_order")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_sk02_candidate_filter_pushed_to_scan(spark):
    """The verification pass must scan only candidate keys: the IN
    filter from the collected sketch candidates reaches the parquet
    reader, and the whole query needs exactly ONE shuffle (the
    verification agg) — the raw key stream is never shuffled."""
    plan = _plan(spark, "sk02_heavy_hitters")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert any("event_type" in s and " IN (" in s for s in scans), scans
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ds03_cutoff_broadcast_no_shuffle(spark):
    """The percentile cutoff joins in as a broadcast of a 1-row
    aggregate; the fact scan itself is never shuffled."""
    plan = _plan(spark, "ds03_temporal_split")
    assert plan.count("BroadcastExchange") == 1
    assert plan.count("Exchange hashpartitioning") == 0


def test_er05_banded_equi_join_only(spark):
    """The candidate-pair count must come from the banded EQUI-join
    (shuffle on the band key), never a per-group cross product, and
    the group-size side rides in as a broadcast."""
    plan = _plan(spark, "er05_blocking_quality")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 1


def test_er_pair_stage_payload_joins_broadcast(spark):
    """Under the default ERConfig both payload joins of the ER pair
    stage are map-side: the broadcast hint on the payload must survive
    attach_sides's per-side projection. Size-based broadcasting is off,
    so only the hint can produce them."""
    cfg = ERConfig()
    files, _, _ = generate_files_corpus(n_clusters=10, seed=3)
    norm = normalize_files(spark.createDataFrame(files), cfg).drop("content")
    salted, _ = cap_and_salt_blocks(generate_blocks(norm, cfg), cfg)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        feat = attach_pair_features(generate_pairs(salted, cfg), norm, cfg)
        plan = feat._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert plan.count("BroadcastHashJoin [left_id#") == 1, plan
    assert plan.count("BroadcastHashJoin [right_id#") == 1, plan


def test_band_dedup_queries_equi_join_only(spark):
    """dd03/dd04/dd06 pair through the banded equi self-join, never a
    cross product."""
    for name in ("dd03_minhash_lsh_pairs", "dd04_simhash_pairs",
                 "dd06_embedding_dup_lsh"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_dd03_dd04_run_no_python_after_signatures(spark):
    """Each signature UDF runs once per document: dd03/dd04 materialize
    their (record_id, signature) frame before the key table and the
    pair payload both read it, and dd03's MinHash agreement rerank is a
    JVM expression, so the collected result's plan evaluates no Python
    (CIDR'22: every Python evaluation pays an Arrow round trip)."""
    for name in ("dd03_minhash_lsh_pairs", "dd04_simhash_pairs"):
        df = QUERIES[name].fn(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan, (name, plan)
