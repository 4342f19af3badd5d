"""Driver-contract parity: every oracle-paired query must match DuckDB
exactly (row count + schema + order-insensitive values) at sf0.001 —
the same comparison the driver runs at sf0.01."""

import hashlib
import os

import pytest

import __spark_entry__ as entry_mod
from smaph_spark.plans.parity import _canon, check_query
from smaph_spark.plans.star_queries import QUERIES

SF_DIR = os.environ.get("SMAPH_TEST_SF_DIR", "/root/testdata/sf0.001")

ORACLE_QUERIES = sorted(n for n, s in QUERIES.items() if s.sql is not None)
ROWS_ONLY = sorted(n for n, s in QUERIES.items() if s.sql is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    spec = QUERIES[name]
    res = check_query(spark, SF_DIR, name, spec.fn, spec.sql)
    assert res["ok"], res


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    df = QUERIES[name].fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


#: {scale: {query: (rows, sorted-row sha256)}} for the rows-only
#: queries built on the shared candidate stage (operators/pairs.py
#: block_pairs / attach_sides); computed before that stage was shared
ROW_PINS = {
    "sf0.001": {
        "dd03_minhash_lsh_pairs": (28, "ca6c63095bd0d7f5075d35b09b50269b537bfff1b7f4680dfe6df40e024d2ace"),
        "dd04_simhash_pairs": (67, "9f47921bb79f65a013a3b0d827b5b06e3fd3de86f6820d824e0393849f90b255"),
        "dd06_embedding_dup_lsh": (51, "a071b1a3dd659fb96268eb22e576ec2d4da421faa81971487dbe409f2820cc76"),
        "dd09_cdc_containment_pairs": (24, "89f7a48f6d19d6bcbdc9fa1f8020d0c0427adc2a5bc312ae3c86fc763760456f"),
        "er01_document_clusters": (476, "5fd29e4c83ebafc065061189d458009f55e6a871beafcf47619959eb81c13b4c"),
        "er02_document_match_pairs": (28, "f9aa2d184577f349518df6cdfca81f02d5d1b8fe5bae55fe3d976f90458c31bb"),
    },
    "sf0.01": {
        "dd03_minhash_lsh_pairs": (25, "6ed27a7170c7be2ea07a4520524d37338b353ce467eeadaa7d5b37652fe870de"),
        "dd04_simhash_pairs": (53, "302e7e992b50ed73ea7f4a7f950e5d66c33902750f01f8f65f0f9735c7086770"),
        "dd06_embedding_dup_lsh": (44, "2163d787e9e838461ec555e8220676f4b8fa7e93bdec98d4621f9180f82f7519"),
        "dd09_cdc_containment_pairs": (25, "1bd81d83d6b8e467e88e5afdad8896f20c47687497044971c28a5da1f9c25b1a"),
        "er01_document_clusters": (476, "17bc8e6bc448ad104f4ccdbe6753233512d717aff3283438f2f06cfd5474a334"),
        "er02_document_match_pairs": (25, "30977222668a23f01fa0d5c118ca996dfdeda258078e97b59561dd91c17a938f"),
    },
}
PINNED = ROW_PINS.get(os.path.basename(os.path.normpath(SF_DIR)), {})


def _rows_sha256(pdf) -> str:
    """Order-insensitive digest: floats to 9 significant digits,
    columns by name, rows sorted by every value."""
    pdf = pdf.copy()
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = [float(f"{v:.9g}") for v in pdf[c]]
    return hashlib.sha256(_canon(pdf).to_csv(index=False).encode()).hexdigest()


@pytest.mark.skipif(not PINNED, reason="no row pins for this scale")
@pytest.mark.parametrize("name", sorted(PINNED))
def test_rows_only_pinned(spark, name):
    pdf = QUERIES[name].fn(spark, SF_DIR).toPandas()
    assert (len(pdf), _rows_sha256(pdf)) == PINNED[name]


def test_contract_shape():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 30
    assert all(callable(f) for f in q.values())


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_oracle_paired_queries_inside_driver_window():
    """Round-3 VERDICT item 1/9: the driver's correctness harness only
    records the first 50 queries in queries() order — every
    oracle-paired query must sit inside that window (rows-only queries,
    pytest-pinned, absorb the cutoff)."""
    q_names = list(entry_mod.queries())
    oracle = set(entry_mod.oracle_sql())
    window = entry_mod._DRIVER_WINDOW
    outside = [n for n in q_names[window:] if n in oracle]
    assert outside == [], (
        f"oracle-paired queries past the driver's {window}-row window: "
        f"{outside}"
    )
    # the window itself must not silently shrink below the paired count
    assert len(oracle) <= window
    # and queries()/oracle_sql() agree on the pairing
    assert oracle == {n for n, s in QUERIES.items() if s.sql is not None}
