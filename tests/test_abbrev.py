"""Abbreviation expansion (S9 offline recast): clean goldens vs the
reference's \\W+lowercase rule, expand/isAbbreviationOf contract, and
the ab01 DuckDB twin via the driver's own comparison."""

import pytest
from pyspark.sql import functions as F

from smaph_spark.functions.abbreviations import (
    build_acronym_dictionary,
    clean_abbrev,
    expand_abbreviations,
    is_abbreviation_of,
)
from tests.helpers import clean_abbrev_py

SF = "/root/testdata/sf0.001"


def test_clean_goldens(spark):
    """Stands4AbbreviationExpansion.clean:157-159 — strip \\W (Java
    default: [^0-9A-Za-z_]), lowercase. Batch == scalar twin."""
    cases = {
        "U.S.A.": "usa",
        "N A S A": "nasa",
        "Ph.D!": "phd",
        "a_b-c": "a_bc",   # underscore IS a word char in \w
        "...": "",
    }
    for raw, want in cases.items():
        assert clean_abbrev_py(raw) == want, raw
    df = spark.createDataFrame([(r,) for r in cases], ["s"])
    got = {r["s"]: r["c"] for r in
           df.withColumn("c", clean_abbrev("s")).collect()}
    assert got == cases


def test_expand_and_membership_contract(spark):
    """expand: missing term -> NULL array (the interface's 'cannot be
    expanded'); isAbbreviationOf compares the RAW expansion string
    against the CLEANED abbreviation's entry (reference :161-164)."""
    phrases = spark.createDataFrame(
        [("National Aeronautics Space Administration",),
         ("North American Saxophone Alliance",),
         ("Alpha Beta",)], ["p"],
    )
    d = build_acronym_dictionary(phrases, "p")
    rows = {r["abbrev"]: r["expansions"] for r in d.collect()}
    assert sorted(rows) == ["ab", "nasa"]
    assert rows["nasa"] == sorted(
        ["National Aeronautics Space Administration",
         "North American Saxophone Alliance"])

    q = spark.createDataFrame(
        [("N.A.S.A.", "North American Saxophone Alliance"),
         ("nasa", "not an expansion"),
         ("zzz", "Alpha Beta")],
        ["abbrev", "exp"],
    )
    exp = {r["abbrev"]: r["expansions"]
           for r in expand_abbreviations(q, "abbrev", d).collect()}
    assert exp["N.A.S.A."] is not None and len(exp["N.A.S.A."]) == 2
    assert exp["zzz"] is None  # cannot be expanded
    memb = {(r["abbrev"], r["exp"]): r["is_abbreviation"]
            for r in is_abbreviation_of(q, "abbrev", "exp", d).collect()}
    assert memb[("N.A.S.A.", "North American Saxophone Alliance")] is True
    assert memb[("nasa", "not an expansion")] is False
    assert memb[("zzz", "Alpha Beta")] is False  # no entry -> False


def test_ab01_duckdb_parity(spark):
    """ab01 is registered rows-only (the 50-slot driver window is
    full), so its DuckDB twin is pinned HERE with the driver's exact
    comparison (rows + schema + order-insensitive value hash)."""
    from smaph_spark.ops.abbrev import AB01_SQL
    from smaph_spark.plans.parity import check_query
    from smaph_spark.plans.star_queries import QUERIES

    spec = QUERIES["ab01_abbrev_expansion"]
    res = check_query(spark, SF, "ab01_abbrev_expansion", spec.fn, AB01_SQL)
    assert res["ok"], res


def test_expand_rejects_reserved_columns(spark):
    """Round-5 review: an input already carrying `expansions` would
    make the join output ambiguous — guarded, not silent."""
    d = build_acronym_dictionary(
        spark.createDataFrame([("Alpha Beta",)], ["p"]), "p"
    )
    bad = spark.createDataFrame([("ab", ["x"])], "abbrev string, expansions array<string>")
    with pytest.raises(ValueError, match="expansions"):
        expand_abbreviations(bad, "abbrev", d)
