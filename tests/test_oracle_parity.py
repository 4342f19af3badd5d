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
    spark.catalog.clearCache()
    spec = QUERIES[name]
    res = check_query(spark, SF_DIR, name, spec.fn, spec.sql)
    assert res["ok"], res
    # nothing the query materialized is left cached in the session
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    spark.catalog.clearCache()
    df = QUERIES[name].fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


#: {scale: {query: (rows, sorted-row sha256)}} for rows-only queries:
#: dd03/dd04/dd06/dd09/er01/er02 (the shared candidate stage,
#: operators/pairs.py block_pairs / attach_sides) were computed before
#: that stage was shared; er06 (CC labels) and sim02/sim03/sim04 (the
#: shared top-k rerank) before connected_components was reduced to one
#: path. sim03's KMeans is partition-sensitive; its pins hold at both
#: local[2] and local[4]. ab01/dd08/ds04/mm02/mm03/sk01/tx04/tx08 were
#: computed before the ER path's counts moved onto Observations, and
#: each holds at both local[2] and local[4].
ROW_PINS = {
    "sf0.001": {
        "ab01_abbrev_expansion": (200, "c13e974e02f9515965c4e13257c2c1756a9a05bbddb99c6f323b686d2eeb80ef"),
        "dd03_minhash_lsh_pairs": (28, "ca6c63095bd0d7f5075d35b09b50269b537bfff1b7f4680dfe6df40e024d2ace"),
        "dd04_simhash_pairs": (67, "9f47921bb79f65a013a3b0d827b5b06e3fd3de86f6820d824e0393849f90b255"),
        "dd06_embedding_dup_lsh": (51, "a071b1a3dd659fb96268eb22e576ec2d4da421faa81971487dbe409f2820cc76"),
        "dd08_cdc_chunk_stats": (500, "3b01af12f92f595a4276afa6c362141f5adf496162c659cc4bc5b787109cb52d"),
        "dd09_cdc_containment_pairs": (24, "89f7a48f6d19d6bcbdc9fa1f8020d0c0427adc2a5bc312ae3c86fc763760456f"),
        "ds04_weighted_sample": (25, "76b3933fbf833bfd4408d57f18bc3b4410ea12f94417739f6bba7d276d28d729"),
        "er01_document_clusters": (476, "5fd29e4c83ebafc065061189d458009f55e6a871beafcf47619959eb81c13b4c"),
        "er02_document_match_pairs": (28, "f9aa2d184577f349518df6cdfca81f02d5d1b8fe5bae55fe3d976f90458c31bb"),
        "er06_greedy_step_features": (53, "a62e3188f5af9ff087b67991dbb7bc528172abbdd5000922c67f2280e2b55130"),
        "mm02_feature_extract": (500, "c70adb90b7642300079b139063ca28804afbc9c93b3961a25e4693a883505201"),
        "mm03_frame_samples": (539, "21030d254919f4b26cdfdc8608bcd6fcdb67b45aa8f9d8115c1ef0b914961da5"),
        "sim02_lsh_topk": (50, "5c9e98126dd5a5a6bbba8eabaadfc64cc7e4bb3f75089b29aa5a4ecdbbafcfdf"),
        "sim03_ivf_topk": (50, "8cc10621ab76a26c9ee97583e62486604965235467ae13ed025c3a886efb0c64"),
        "sim04_pq_topk": (50, "663152960bbda8aa6cbb833ebaf2f7f41c36b125f62a1a63fec4b80c88174f3e"),
        "sk01_event_sketch_stats": (5, "a9b9072bb081beeca81e4e0c968cf453374ced7f7220d2cb4f917da266c642bd"),
        "tx04_fingerprints": (500, "e362aea45d6ce0fb6a095e2263cc72b0c0211a5d5ec74c4b8dc34d54f12641bd"),
        "tx08_bold_fragmentation": (500, "665d5f6547c4ed5b1cee5dc0fafc3969a5dc5de5403e800387e5a46678465e88"),
    },
    "sf0.01": {
        "ab01_abbrev_expansion": (2000, "3613754297ff1c70c47cf5b49c2f49726a88232281dc49e7f122d3f8d44ce174"),
        "dd03_minhash_lsh_pairs": (25, "6ed27a7170c7be2ea07a4520524d37338b353ce467eeadaa7d5b37652fe870de"),
        "dd04_simhash_pairs": (53, "302e7e992b50ed73ea7f4a7f950e5d66c33902750f01f8f65f0f9735c7086770"),
        "dd06_embedding_dup_lsh": (44, "2163d787e9e838461ec555e8220676f4b8fa7e93bdec98d4621f9180f82f7519"),
        "dd08_cdc_chunk_stats": (500, "e81890284806d6812076dfe9dd314aafa96ca9e1a3488ea2a7174dde4b46bc3a"),
        "dd09_cdc_containment_pairs": (25, "1bd81d83d6b8e467e88e5afdad8896f20c47687497044971c28a5da1f9c25b1a"),
        "ds04_weighted_sample": (25, "7967939fdfd87993680d23369a379b957bc10b4d92195b726eecc42664967912"),
        "er01_document_clusters": (476, "17bc8e6bc448ad104f4ccdbe6753233512d717aff3283438f2f06cfd5474a334"),
        "er02_document_match_pairs": (25, "30977222668a23f01fa0d5c118ca996dfdeda258078e97b59561dd91c17a938f"),
        "er06_greedy_step_features": (71, "1717af07109d718c0290c0e138162b4ce85c412316e96f98b6f4ad89041471c4"),
        "mm02_feature_extract": (500, "7f289b9ccc390436ddde1872bce90f2e843d3f301b50c9572754dc7037b75ba8"),
        "mm03_frame_samples": (529, "d4435d468f902b10a848cbee2379784f10dd3b167048bdcfc332bb7d1a4698b6"),
        "sim02_lsh_topk": (50, "f9010e50977dd7cb578ebd091c914477a61c262b8bcf3d575247919d8950a9bc"),
        "sim03_ivf_topk": (50, "fc47c01396309f698a618ea2d2b05848619b6d98f67f0712fc88f7cfd5f4f23e"),
        "sim04_pq_topk": (50, "e00a90336cf3f7715cad8c9195f7e3358d18e5dd9dfaf38e1002ae6cce1b3267"),
        "sk01_event_sketch_stats": (5, "d30d46c77d0bd77da79ae7ac28b25d0b8c52312eea521baa390f7dd09e071544"),
        "tx04_fingerprints": (500, "717a039cfc1c9930e75c61a4af23bba6cd89411ea65945fc2c7ccd09fe2517d3"),
        "tx08_bold_fragmentation": (500, "665d5f6547c4ed5b1cee5dc0fafc3969a5dc5de5403e800387e5a46678465e88"),
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
