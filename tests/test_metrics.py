"""A9 parity: macro vs micro P/R/F1 + bootstrap std on a hand-built
fixture (SolutionComputer.java:33-184, RunBenchmark.java:240-247), the
B-cubed contract, and property tests of the four metrics against the
plain-Python references in tests/helpers.py."""

import pytest
from hypothesis import Phase, given, settings
from hypothesis import strategies as st

from smaph_spark.operators.metrics import (
    bcubed_prf, clusters_pairwise_prf, grouped_prf, pairwise_prf,
)
from tests.helpers import (
    reference_bcubed, reference_clusters_pairwise_prf, reference_components,
    reference_confusion, reference_pairwise_prf,
)


def _fixture(spark):
    # group A: perfect (2 gold pairs, both predicted)
    # group B: half precision (1 gold pair predicted + 1 false positive)
    # group C: zero recall (1 gold pair, nothing predicted)
    gold = spark.createDataFrame(
        [
            ("A", 1, 2, True), ("A", 1, 3, True),
            ("B", 10, 11, True),
            ("C", 20, 21, True),
        ],
        "g string, left_id long, right_id long, is_match boolean",
    )
    pred = spark.createDataFrame(
        [
            ("A", 1, 2), ("A", 1, 3),
            ("B", 10, 11), ("B", 10, 12),
        ],
        "g string, left_id long, right_id long",
    )
    return pred, gold


def test_macro_micro_differ_on_skewed_groups(spark):
    pred, gold = _fixture(spark)
    m = grouped_prf(pred, gold, "g", n_bootstrap=0)
    # micro: tp=3, fp=1, fn=1
    assert m["tp"] == 3 and m["fp"] == 1 and m["fn"] == 1
    assert m["micro"]["precision"] == pytest.approx(3 / 4)
    assert m["micro"]["recall"] == pytest.approx(3 / 4)
    # macro: per-group P = (1, 1/2, 1) -> 5/6; R = (1, 1, 0) -> 2/3
    # (empty prediction set -> P=1, the BAT convention)
    assert m["macro"]["precision"] == pytest.approx(5 / 6)
    assert m["macro"]["recall"] == pytest.approx(2 / 3)
    # per-group F1 = (1, 2/3, 0) -> 5/9
    assert m["macro"]["f1"] == pytest.approx(5 / 9)
    assert m["micro"]["f1"] == pytest.approx(3 / 4)


def test_bootstrap_std_seeded_and_sane(spark):
    pred, gold = _fixture(spark)
    m1 = grouped_prf(pred, gold, "g", n_bootstrap=100, seed=7)
    m2 = grouped_prf(pred, gold, "g", n_bootstrap=100, seed=7)
    assert m1["bootstrap_std"] == m2["bootstrap_std"]  # deterministic
    # skewed per-group metrics -> nonzero spread, bounded by the range
    assert 0.0 < m1["bootstrap_std"]["macro"]["f1"] < 0.5
    assert 0.0 < m1["bootstrap_std"]["micro"]["f1"] < 0.5


def test_perfect_prediction_zero_std(spark):
    gold = spark.createDataFrame(
        [("A", 1, 2, True), ("B", 3, 4, True)],
        "g string, left_id long, right_id long, is_match boolean",
    )
    pred = gold.drop("is_match")
    m = grouped_prf(pred, gold, "g", n_bootstrap=50)
    assert m["macro"]["f1"] == 1.0 and m["micro"]["f1"] == 1.0
    assert m["bootstrap_std"]["macro"]["f1"] == 0.0


def test_pair_predicted_twice_counts_once(spark):
    """A repeated prediction is one prediction: gold {(1,2), (3,4)} with
    (1,2) predicted twice has recall 1/2, not the per-copy 2/3."""
    gold = spark.createDataFrame(
        [("A", 1, 2, True), ("A", 3, 4, True)],
        "g string, left_id long, right_id long, is_match boolean",
    )
    pred = spark.createDataFrame(
        [("A", 1, 2), ("A", 1, 2)], "g string, left_id long, right_id long"
    )
    flat = pairwise_prf(pred.drop("g"), gold.drop("g"))
    assert (flat["tp"], flat["fp"], flat["fn"]) == (1, 0, 1)
    assert flat["recall"] == 0.5 and flat["precision"] == 1.0
    grouped = grouped_prf(pred, gold, "g", n_bootstrap=0)
    assert (grouped["tp"], grouped["fp"], grouped["fn"]) == (1, 0, 1)


def test_grouped_prf_caps_driver_collect(spark):
    """Above max_groups the driver-side bootstrap runs on a
    deterministic hash-sample of groups, with a warning — never an
    unbounded collect (round-2 VERDICT item 9)."""
    from pyspark.sql import functions as F

    gold = (
        spark.range(500)
        .select(
            F.concat(F.lit("g"), F.col("id")).alias("g"),
            F.lit(1).cast("long").alias("left_id"),
            F.lit(2).cast("long").alias("right_id"),
            F.lit(True).alias("is_match"),
        )
    )
    pred = gold.drop("is_match")
    with pytest.warns(RuntimeWarning, match="max_groups"):
        m = grouped_prf(pred, gold, "g", n_bootstrap=10, max_groups=100)
    assert m["groups_sampled"] is True
    assert m["n_groups_total"] == 500
    assert m["n_groups"] < 500  # bounded collect
    assert m["macro"]["f1"] == 1.0  # sample of perfect groups is perfect
    # under the cap: full collect, no sampling
    m2 = grouped_prf(pred, gold, "g", n_bootstrap=10, max_groups=1000)
    assert m2["groups_sampled"] is False and m2["n_groups"] == 500


def test_bcubed_hand_computed(spark):
    """Bagga & Baldwin worked example: pred {a,b},{c} vs gold
    {a},{b,c} -> P = (0.5+0.5+1)/3 = 2/3, R = (1+0.5+0.5)/3 = 2/3."""
    from smaph_spark.operators.metrics import bcubed_prf

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2)], "record_id string, cluster_id long"
    )
    gold = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 20)], "record_id string, cluster_id long"
    )
    row = bcubed_prf(pred, gold).collect()[0]
    assert row["n_records"] == 3
    assert row["bcubed_precision"] == round(2 / 3, 6)
    assert row["bcubed_recall"] == round(2 / 3, 6)
    assert row["bcubed_f1"] == round(2 / 3, 6)

    # identical clusterings score exactly 1.0 everywhere
    perfect = bcubed_prf(pred, pred).collect()[0]
    assert (perfect["bcubed_precision"], perfect["bcubed_recall"],
            perfect["bcubed_f1"]) == (1.0, 1.0, 1.0)


def test_er07_bcubed_duckdb_parity(spark):
    """er07 is rows-only at the driver (window full): its DuckDB twin
    is pinned here with the driver's exact comparison."""
    from smaph_spark.ops.er_docs import ER07_SQL
    from smaph_spark.plans.parity import check_query
    from smaph_spark.plans.star_queries import QUERIES

    spec = QUERIES["er07_bcubed_eval"]
    res = check_query(
        spark, "/root/testdata/sf0.001", "er07_bcubed_eval", spec.fn,
        ER07_SQL,
    )
    assert res["ok"], res


def test_bcubed_coverage_contract_enforced(spark):
    """Round-5 review: mismatched record coverage or duplicate ids
    must raise, not silently mis-score over the joined subset."""
    import pytest as _pytest

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1)], "record_id string, cluster_id long"
    )
    gold3 = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 20)], "record_id string, cluster_id long"
    )
    from smaph_spark.operators.metrics import bcubed_prf

    with _pytest.raises(ValueError, match="same records"):
        bcubed_prf(pred, gold3)
    dup = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1)], "record_id string, cluster_id long"
    )
    with _pytest.raises(ValueError, match="same records"):
        bcubed_prf(dup, gold3)


def test_bcubed_rejects_null_record_ids(spark):
    """Round-5 review: count()/count_distinct skip NULLs, so a NULL id
    needs its own guard — it would otherwise be silently dropped by
    the join while the coverage check passes."""
    import pytest as _pytest

    from smaph_spark.operators.metrics import bcubed_prf

    pred = spark.createDataFrame(
        [(None, 1), ("a", 1)], "record_id string, cluster_id long"
    )
    gold = spark.createDataFrame(
        [("a", 10)], "record_id string, cluster_id long"
    )
    with _pytest.raises(ValueError, match="NULL record_id"):
        bcubed_prf(pred, gold)


# --- property tests: small random clusterings --------------------------------
# Graphs are unions of chains, stars and doubled pairs over a few
# records (BTS, ICDE'24: chains and stars are CC's hard inputs); a
# clustering is the graph's components, so singletons arise too.

_N_RECORDS = 9
#: no shrinking: each shrink step reruns Spark jobs, so a failure would
#: take minutes to shrink; the drawn inputs are small enough to read
_PHASES = (Phase.explicit, Phase.reuse, Phase.generate)


@st.composite
def _edges(draw):
    edges = []
    for _ in range(draw(st.integers(0, 3))):
        kind = draw(st.sampled_from(["chain", "star", "pair"]))
        ids = draw(st.lists(st.integers(0, _N_RECORDS - 1), min_size=2,
                            max_size=_N_RECORDS, unique=True))
        if kind == "chain":
            edges += zip(ids, ids[1:])
        elif kind == "star":
            edges += [(ids[0], i) for i in ids[1:]]
        else:
            edges += [(ids[0], ids[1])] * 2  # the same pair twice
    return edges


@st.composite
def _pair_rows(draw, labels):
    """(group, left_id, right_id, is_match) rows, one per edge
    (duplicates kept), canonical left_id < right_id."""
    return [
        (draw(st.integers(0, 2)), min(a, b), max(a, b), draw(labels))
        for a, b in draw(_edges())
    ]


def _pairs_df(spark, rows):
    return spark.createDataFrame(
        rows, "grp long, left_id long, right_id long, is_match boolean"
    )


@settings(max_examples=6, deadline=None, phases=_PHASES)
@given(_pair_rows(st.booleans()), _pair_rows(st.sampled_from([True, False, None])))
def test_pair_metrics_match_python_reference(spark, pred_rows, gold_rows):
    """pairwise_prf and grouped_prf's micro counts equal the
    full-outer-join count in plain Python, duplicate pairs and NULL
    gold labels included."""
    pred, gold = _pairs_df(spark, pred_rows), _pairs_df(spark, gold_rows)
    flat = pairwise_prf(pred.drop("grp"), gold.drop("grp"))
    assert flat == reference_pairwise_prf(
        [((l, r), m) for _, l, r, m in pred_rows],
        [((l, r), m) for _, l, r, m in gold_rows],
    )
    grouped = grouped_prf(pred, gold, "grp", n_bootstrap=0)
    keyed = ([((g, l, r), m) for g, l, r, m in pred_rows],
             [((g, l, r), m) for g, l, r, m in gold_rows])
    assert (grouped["tp"], grouped["fp"], grouped["fn"]) == \
        reference_confusion(*keyed)
    groups = {g for g, *_, m in pred_rows if m} | {g for g, *_ in gold_rows}
    assert grouped["n_groups"] == len(groups)


@settings(max_examples=4, deadline=None, phases=_PHASES)
@given(_edges(), _edges(), st.integers(0, _N_RECORDS))
def test_cluster_metrics_match_python_reference(spark, pred_edges,
                                                gold_edges, n):
    """clusters_pairwise_prf and bcubed_prf over the components of two
    random graphs on the first ``n`` records equal their record-by-
    record references."""
    recs = range(n)
    pred = reference_components([e for e in pred_edges if max(e) < n], recs)
    gold = reference_components([e for e in gold_edges if max(e) < n], recs)
    schema = "record_id long, cluster_id long"
    pred_df = spark.createDataFrame(sorted(pred.items()), schema)
    gold_df = spark.createDataFrame(sorted(gold.items()), schema)
    assert clusters_pairwise_prf(pred_df, gold_df) == \
        reference_clusters_pairwise_prf(pred, gold)
    row = bcubed_prf(pred_df, gold_df).collect()[0]
    want = reference_bcubed(pred, gold)
    assert row["n_records"] == want[0]
    for got, ref in zip(row[1:], want[1:]):
        assert got == (None if ref is None else pytest.approx(ref, abs=2e-6))
