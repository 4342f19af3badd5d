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


def _er_pair_plan(spark):
    """Executed plan of the ER pair stage over a small corpus."""
    cfg = ERConfig()
    files, _, _ = generate_files_corpus(n_clusters=10, seed=3)
    norm = normalize_files(spark.createDataFrame(files), cfg).drop("content")
    salted, _ = cap_and_salt_blocks(generate_blocks(norm, cfg), cfg)
    feat = attach_pair_features(generate_pairs(salted, cfg), norm, cfg)
    return feat._jdf.queryExecution().executedPlan().toString()


def test_er_pair_stage_payload_joins_broadcast(spark):
    """Under the default ERConfig both payload joins of the ER pair
    stage are map-side: the broadcast hint on the payload must survive
    attach_sides's per-side projection. Size-based broadcasting is off,
    so only the hint can produce them."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = _er_pair_plan(spark)
    finally:
        spark.conf.set(key, old)
    assert plan.count("BroadcastHashJoin [left_id#") == 1, plan
    assert plan.count("BroadcastHashJoin [right_id#") == 1, plan


def test_er_pair_stage_ships_no_signatures_to_python(spark):
    """The ER pair stage's one Python UDF evaluation takes the four
    strings of its two string kernels (names, paths); the MinHash
    agreement is a JVM expression, so no signature column crosses
    Arrow (CIDR'22)."""
    import re

    nodes = [l for l in _er_pair_plan(spark).splitlines()
             if "ArrowEvalPython" in l and "_pair_kernel_udf(" in l]
    assert len(nodes) == 1, nodes
    args = re.search(r"_pair_kernel_udf\((.*?)\)#", nodes[0]).group(1)
    names = [re.sub(r"#\d+L?$", "", a.strip()) for a in args.split(",")]
    assert names == ["l_name", "r_name", "l_path", "r_path"], nodes[0]
    assert "minhash" not in nodes[0], nodes[0]


def test_er01_er02_read_no_documents_scan(spark):
    """er01 and er02 map record ids to doc ids through the flagship
    run's own normalize stage, which carries doc_id: once
    run_document_er has run, the frames they return read only its
    materialized stages and never scan documents (or any parquet file)
    again."""
    from smaph_spark.ops.er_docs import run_document_er

    run_document_er(spark, SF)
    for name in ("er01_document_clusters", "er02_document_match_pairs"):
        plan = _plan(spark, name)
        scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
        assert not scans, (name, scans)


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


def _python_udf_evals(spark, fn):
    """Counter of the Python UDF calls (``name#resultId``) in the
    ArrowEvalPython nodes of every SQL execution ``fn()`` starts, read
    from the SQL status store (kept with the UI disabled). Only the
    final plan counts: an adaptive plan's description also prints its
    initial plan, which repeats every node."""
    import collections
    import re

    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        seq = store.executionsList()
        return {seq.apply(i).executionId(): seq.apply(i)
                for i in range(seq.size())}

    bus.waitUntilEmpty()
    before = set(executions())
    fn()
    bus.waitUntilEmpty()
    calls = collections.Counter()
    for eid, ex in executions().items():
        if eid in before:
            continue
        desc = ex.physicalPlanDescription()
        tree = desc.split("== Initial Plan ==")[0].split("\n\n")[0]
        for nid in re.findall(r"ArrowEvalPython \((\d+)\)", tree):
            args = re.search(
                rf"\n\({nid}\) ArrowEvalPython\n.*?\nArguments: \[(.*?)\], \[",
                desc, re.S,
            ).group(1)
            depth, start = 0, 0
            for i, ch in enumerate(args + ","):
                depth += (ch in "([") - (ch in ")]")
                if ch == "," and depth == 0:
                    m = re.match(r"\s*(\w+)\(.*\)(#\d+)", args[start:i], re.S)
                    calls[m.group(1) + m.group(2)] += 1
                    start = i + 1
    return calls


def test_python_udfs_run_once_per_call(spark):
    """Each Python UDF call is evaluated by one ArrowEvalPython node
    over all the jobs one query call runs (CIDR'22: every evaluation
    pays an Arrow round trip): dd03/dd04/sim02 materialize their
    signatures once for both sides of the band join, sim03's cell
    UDFs are nondeterministic, so the cell join's inferred not-null
    filter cannot copy them, and normalize_files names its signature
    UDF once, unpacking the struct in a second select."""
    files, _, _ = generate_files_corpus(n_clusters=10, seed=3)
    norm = normalize_files(spark.createDataFrame(files), ERConfig())
    builds = {name: QUERIES[name].fn for name in (
        "dd03_minhash_lsh_pairs", "dd04_simhash_pairs",
        "sim02_lsh_topk", "sim03_ivf_topk", "sim04_pq_topk")}
    builds["normalize_files"] = lambda spark, sf: norm
    for name, build in builds.items():
        calls = _python_udf_evals(spark, lambda: build(spark, SF).collect())
        assert calls, name
        assert max(calls.values()) == 1, (name, calls)
    assert norm.columns == [
        "repo", "path", "commit", "lang", "content", "record_id",
        "content_sha", "basename", "name", "n_chars", "n_tokens",
        "minhash", "bands",
    ]


def test_one_checkpoint_helper():
    """The materialization policy lives in one place: every eager
    checkpoint in the package goes through session.checkpoint, and the
    ANN queries read their scan counts from jobs that already run."""
    import pathlib

    import smaph_spark

    root = pathlib.Path(smaph_spark.__file__).parent
    sites = {
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "localCheckpoint(" in p.read_text()
    }
    assert sites == {"session.py"}, sites
    assert ".count()" not in (root / "ops" / "similarity.py").read_text()


def _call_sites(*names) -> dict:
    """{name: the functions under smaph_spark/ that call ``name(``},
    each call credited to its innermost enclosing function as
    ``module.function``."""
    import ast
    import pathlib

    import smaph_spark

    root = pathlib.Path(smaph_spark.__file__).parent
    sites = {n: set() for n in names}

    def visit(node, where):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                visit(child, f"{where.split('.')[0]}.{child.name}")
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = getattr(f, "attr", getattr(f, "id", None))
                if name in sites:
                    sites[name].add(where)
            visit(child, where)

    for p in root.rglob("*.py"):
        visit(ast.parse(p.read_text()), p.stem)
    return sites


def test_one_home_per_signature_recipe():
    """Each signature recipe has one definition: only
    normalize.minhash_signature builds the MinHash UDF, and only
    blocking.bit_band_keys cuts a long signature into bit bands."""
    sites = _call_sites("make_minhash_udf", "shiftrightunsigned")
    assert sites == {
        "make_minhash_udf": {"normalize.minhash_signature"},
        "shiftrightunsigned": {"blocking.bit_band_keys"},
    }, sites


def test_one_home_per_estimator_recipe():
    """Every scorer fit (the two single fits and both tune families)
    gets its assembler and estimator from scoring.scorer_stages."""
    sites = _call_sites("VectorAssembler", "GBTClassifier", "linear_classifier")
    assert sites == {
        name: {"scoring.scorer_stages"}
        for name in ("VectorAssembler", "GBTClassifier", "linear_classifier")
    }, sites


def test_one_metrics_sink():
    """Run metrics have one store and one logger: ``logging.getLogger(``
    and module-level metrics dicts appear only in obs.py, and the two
    old names perfbench and bench.py read are that store itself."""
    import ast
    import pathlib

    import smaph_spark
    from smaph_spark import obs
    from smaph_spark.ops import dedup, similarity

    root = pathlib.Path(smaph_spark.__file__).parent
    loggers, stores = set(), set()
    for p in root.rglob("*.py"):
        src, name = p.read_text(), str(p.relative_to(root))
        if "logging.getLogger(" in src:
            loggers.add(name)
        for node in ast.parse(src).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            if isinstance(node.value, ast.Dict) and any(
                "METRICS" in getattr(t, "id", "") for t in targets
            ):
                stores.add(name)
    assert loggers == {"obs.py"}, loggers
    assert stores == {"obs.py"}, stores
    assert dedup.CAP_METRICS is similarity.SCAN_METRICS is obs.METRICS


def test_one_home_per_twin_recipe():
    """The DuckDB token-band graph has one definition: er_docs.py spells
    one recursive CTE and one band predicate, built from _BAND_DELTA,
    which every twin reads; metrics.py has one pair confusion join and
    one clusters x gold join; the md5-prefix integer has one DuckDB
    spelling, beside sampling.md5_prefix_int."""
    import pathlib

    from smaph_spark.operators import metrics
    from smaph_spark.ops import er_docs

    src = pathlib.Path(er_docs.__file__).read_text()
    assert src.count("WITH RECURSIVE") == 1
    assert src.count("abs(a.n_toks - b.n_toks)") == 1
    band = f"abs(a.n_toks - b.n_toks) <= {er_docs._BAND_DELTA}"
    for sql in (er_docs._ER03_SQL, er_docs._ER05_SQL, er_docs.ER07_SQL):
        assert sql.count(band) == 1
    msrc = pathlib.Path(metrics.__file__).read_text()
    assert msrc.count('"full_outer"') == 1
    assert msrc.count('gold_clusters.alias("g")') == 1
    # the md5-prefix integer has one DuckDB spelling, which each of its
    # four SQL twins is built from
    from smaph_spark.ops.sampling import DS04_SQL, MD5_PREFIX_INT_SQL

    root = pathlib.Path(metrics.__file__).parents[1]
    assert sum(
        p.read_text().count("substr(md5(") for p in root.rglob("*.py")
    ) == 1
    for sql in (QUERIES["ds01_train_val_test_split"].sql,
                QUERIES["ds02_stratified_sample"].sql,
                QUERIES["dd07_incremental_new_docs"].sql, DS04_SQL):
        assert sql.count(MD5_PREFIX_INT_SQL) == 1
