"""Sketch error bounds, incremental dedup semantics, stratified-sample
determinism, and the partitioned sink's file-layout contract."""

import glob
import math
import os

import pytest
from pyspark.sql import functions as F

from smaph_spark.ops.dedup import incremental_new_texts
from smaph_spark.ops.sampling import stratified_sample
from smaph_spark.ops.sketches import sketch_event_stats
from smaph_spark.sources.sinks import write_partitioned_parquet
from tests.helpers import exact_event_stats

SF_DIR = os.environ.get("SMAPH_TEST_SF_DIR", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# sk01: the sketch values are rows-only at the driver gate; here they
# are bound against the exact twins with the estimators' guarantees.
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def event_stats(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    approx = {r["event_type"]: r for r in sketch_event_stats(events).collect()}
    exact = {r["event_type"]: r for r in exact_event_stats(events).collect()}
    assert set(approx) == set(exact) and approx
    return events, approx, exact


def test_hll_distinct_within_bound(event_stats):
    # HLL++ rsd=0.02: allow 5 sigma plus integer slack for tiny counts
    _, approx, exact = event_stats
    for et, a in approx.items():
        ex = exact[et]["exact_users"]
        tol = max(5, 5 * 0.02 * ex)
        assert abs(a["approx_users"] - ex) <= tol, (et, a, ex)


def test_percentile_sketch_rank_error(event_stats):
    """approx_percentile(accuracy=1e4) guarantees rank error <= n/1e4;
    assert the returned value's true rank is within that of the target
    rank (value-space bounds would be distribution-dependent)."""
    events, approx, exact = event_stats
    counts = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for q, col in [(0.5, "approx_p50"), (0.95, "approx_p95")]:
        for et, a in approx.items():
            n = counts[et]
            rank_of = events.filter(
                (F.col("event_type") == et) & (F.col("value") <= a[col])
            ).count()
            max_err = math.ceil(n / 10_000) + 1
            assert abs(rank_of - q * n) <= max_err + 1, (et, q, rank_of, n)


# ---------------------------------------------------------------------------
# dd07 semantics
# ---------------------------------------------------------------------------

def test_incremental_edge_cases(spark):
    history = spark.createDataFrame(
        [(1, "seen"), (2, "also seen")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "seen"), (11, "fresh"), (12, "fresh"), (13, "newer")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text_md5"]
        for r in incremental_new_texts(history, batch).collect()
    }
    # "seen" suppressed by history; "fresh" deduped within batch to min id
    assert sorted(out) == [11, 13]

    empty = batch.limit(0)
    assert incremental_new_texts(history, empty).count() == 0
    # empty history: batch dedups against itself only
    assert incremental_new_texts(empty, batch).count() == 3


def test_incremental_is_disjoint_from_history(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hist, batch = d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1")
    new = incremental_new_texts(hist, batch)
    overlap = new.join(
        hist.select(F.md5("text").alias("text_md5")).distinct(), "text_md5"
    ).count()
    assert overlap == 0


# ---------------------------------------------------------------------------
# ds02: the sample must be a pure function of ids — invariant under
# repartitioning (the property rand()/sampleBy does NOT have).
# ---------------------------------------------------------------------------

def test_stratified_sample_layout_independent(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "lang")
    fr = {"en": 0.5, "de": 0.2}
    a = stratified_sample(d, "doc_id", "lang", fr, default=0.1)
    b = stratified_sample(d.repartition(13, "lang"), "doc_id", "lang", fr, default=0.1)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # per-stratum rates roughly honor the requested fractions
    n_en = d.filter("lang = 'en'").count()
    k_en = a.filter("lang = 'en'").count()
    if n_en >= 100:
        assert abs(k_en / n_en - 0.5) < 0.15


# ---------------------------------------------------------------------------
# Partitioned sink layout contract
# ---------------------------------------------------------------------------

def test_write_partitioned_parquet_layout(spark, tmp_path):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned_parquet(
        d, out, ["lang"], max_records_per_file=50, sort_cols=["doc_id"]
    )
    langs = {r["lang"] for r in d.select("lang").distinct().collect()}
    dirs = {
        os.path.basename(p).split("=", 1)[1]
        for p in glob.glob(f"{out}/lang=*")
    }
    assert dirs == langs
    # every file respects the record cap
    for f in glob.glob(f"{out}/lang=*/*.parquet"):
        import pyarrow.parquet as pq

        assert pq.ParquetFile(f).metadata.num_rows <= 50, f
    # roundtrip: partition column restored, content identical
    back = spark.read.parquet(out)
    assert back.count() == d.count()
    assert (
        back.select(*d.columns).exceptAll(d).count() == 0
        and d.exceptAll(back.select(*d.columns)).count() == 0
    )


# ---------------------------------------------------------------------------
# sk02: Misra-Gries heavy hitters — candidate superset guarantee +
# exact-verified output (oracle-paired at the gate; adversarial skew here)
# ---------------------------------------------------------------------------

def test_mg_reduce_bound():
    """The batched MG step keeps <= k counters and the per-key
    underestimate never exceeds (stream length)/(k+1)."""
    from collections import Counter

    from smaph_spark.ops.sketches import _mg_reduce

    import random

    rng = random.Random(13)
    stream = [f"k{int(rng.random() ** 3 * 50)}" for _ in range(5000)]
    k = 10
    counters: dict = {}
    exact = Counter(stream)
    # batched ingestion like the partition op
    for i in range(0, len(stream), 500):
        for key, cnt in Counter(stream[i : i + 500]).items():
            counters[key] = counters.get(key, 0) + cnt
        _mg_reduce(counters, k)
        assert len(counters) <= k
    bound = len(stream) / (k + 1)
    for key, est in counters.items():
        assert est <= exact[key]
        assert exact[key] - est <= bound
    # every key with true frequency > n/(k+1) survived
    for key, f in exact.items():
        if f > bound:
            assert key in counters, (key, f, bound)


def test_heavy_hitters_exact_on_skewed_corpus(spark):
    """Sketch-first heavy hitters == plain exact GROUP BY/HAVING on a
    skewed corpus, across partition layouts (the sketch is partition-
    order dependent; the verified OUTPUT must not be)."""
    import math

    from smaph_spark.obs import METRICS
    from smaph_spark.ops.sketches import heavy_hitters

    rows = (
        [("hot",)] * 3000 + [("warm",)] * 800
        + [(f"cold{i % 97}",) for i in range(1200)]
    )
    df = spark.createDataFrame(rows, "event_type string")
    n = len(rows)
    thr = math.ceil(0.05 * n)
    expect = {("hot", 3000), ("warm", 800)}
    for parts in (1, 7, 32):
        got = {
            (r["event_type"], r["n"])
            for r in heavy_hitters(
                df.repartition(parts), metrics_key="sk02test"
            ).collect()
        }
        assert got == expect, (parts, got)
        m = METRICS["sk02test"]
        assert m["threshold"] == thr and m["candidates"] >= len(expect)
        # bounded state: candidate set is sketch-sized, not key-space-sized
        assert m["candidates"] <= m["mg_capacity"] * parts


def test_heavy_hitters_exact_boundary_threshold(spark):
    """A key sitting EXACTLY on the frequency boundary must be kept:
    0.05 * 200 floats to 10.000000000000002 and a naive ceil drops the
    10-count key (round-4 review); the DuckDB oracle's DECIMAL
    arithmetic is exact, so the Spark side must be too."""
    from smaph_spark.obs import METRICS
    from smaph_spark.ops.sketches import heavy_hitters

    rows = [("edge",)] * 10 + [(f"k{i}",) for i in range(190)]
    df = spark.createDataFrame(rows, "event_type string")
    got = {
        (r["event_type"], r["n"])
        for r in heavy_hitters(df, metrics_key="sk02edge").collect()
    }
    assert METRICS["sk02edge"]["threshold"] == 10
    assert ("edge", 10) in got


def test_heavy_hitters_ignores_null_keys(spark):
    """NULL keys are excluded by contract on both engines (round-4
    review): a NULL-heavy corpus must not emit a NULL row, and the
    threshold is computed over non-null rows only."""
    from smaph_spark.obs import METRICS
    from smaph_spark.ops.sketches import heavy_hitters

    rows = [(None,)] * 50 + [("hot",)] * 30 + [(f"k{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "event_type string")
    got = heavy_hitters(df, min_freq_fraction=0.5, metrics_key="sk02null").collect()
    assert METRICS["sk02null"]["rows"] == 50  # non-null only
    assert [(r["event_type"], r["n"]) for r in got] == [("hot", 30)]


def test_heavy_hitters_non_string_key(spark):
    """Round-4 ADVICE: the MG summary schema must follow the key
    column's dataType — a bigint key column must survive the sketch
    pass and the exact-count isin() without stringification."""
    from smaph_spark.ops.sketches import heavy_hitters

    rows = [(7,)] * 40 + [(int(i),) for i in range(60)]
    df = spark.createDataFrame(rows, "user_id bigint")
    got = heavy_hitters(df, key_col="user_id", min_freq_fraction=0.3,
                        metrics_key="sk02long").collect()
    assert [(r["user_id"], r["n"]) for r in got] == [(7, 41)]
    assert got[0].asDict()["user_id"] == 7 and isinstance(got[0]["user_id"], int)
