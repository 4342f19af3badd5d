"""Abbreviation expansion — the OFFLINE (dictionary-cache) recast of
the reference's abbreviation service.

Reference: abbreviations/AbbreviationExpansion.java:1-20 (interface:
``expand(str) -> list | null`` and ``isAbbreviationOf(abbrev, exp)``)
and Stands4AbbreviationExpansion.java:33-171 (implementation: an HTTP
API behind a serialized local cache; ``clean`` strips ``\\W`` and
lowercases at :157-159, expansions are deduped order-preserving at
:104-110, a term with no entry expands to null/empty). The HTTP
service is out of scope in this environment (SURVEY §2.1 S9) — but
the reference itself runs OFFLINE once its cache file is warm
(setCache:119-143), and that mode is exactly a dictionary lookup.

Spark recast: the dictionary is a small DataFrame broadcast to every
executor; ``expand`` is a broadcast left join (missing -> NULL array,
the interface's "cannot be expanded"), ``isAbbreviationOf`` is the
same join + ``array_contains`` (the reference compares the RAW
expansion string, only the abbreviation side is cleaned —
Stands4AbbreviationExpansion.java:161-164). ``clean`` uses an
explicit ``[^0-9A-Za-z_]`` class: Java's default ``\\W``, Spark's
(Java regex) and DuckDB's (RE2) all agree on it, so the operator is
engine-portable; Python's ``re`` would NOT (unicode word chars).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Java-default \W — shared by the Spark exprs, the tests' Python twin
#: and the DuckDB oracle (see module docstring)
NON_WORD_RE = "[^0-9A-Za-z_]"


def clean_abbrev(col) -> F.Column:
    """Stands4AbbreviationExpansion.clean:157-159: strip non-word
    chars, lowercase."""
    return F.lower(F.regexp_replace(col, NON_WORD_RE, ""))


def acronym_of(phrase_col) -> F.Column:
    """First-letter acronym of a whitespace-tokenized phrase, cleaned
    — the ONE home of the derivation (round-5 review: the ab01 query
    had re-inlined it, letting dictionary keys and lookup keys
    drift)."""
    toks = F.split(F.trim(phrase_col), r"\s+")
    return clean_abbrev(
        F.array_join(F.transform(toks, lambda t: F.substring(t, 1, 1)), "")
    )


def build_acronym_dictionary(df: DataFrame, phrase_col: str) -> DataFrame:
    """Derive an acronym dictionary FROM a phrase column: for every
    whitespace-tokenized phrase, abbrev = cleaned first letters of its
    tokens; expansions = the DISTINCT raw phrases sharing that abbrev,
    sorted (the reference's cache maps abbrev -> deduped expansion
    list; its order is API-response order, which has no analogue, so
    the recast pins lexicographic order for determinism). One narrow
    shuffle on the abbrev key; output is dictionary-sized (small)."""
    return (
        df.filter(F.length(F.trim(F.col(phrase_col))) > 0)
        .select(
            acronym_of(F.col(phrase_col)).alias("abbrev"),
            F.col(phrase_col).alias("expansion"),
        )
        .filter(F.length("abbrev") > 0)
        .distinct()
        .groupBy("abbrev")
        .agg(F.sort_array(F.collect_list("expansion")).alias("expansions"))
    )


def expand_abbreviations(
    df: DataFrame, abbrev_col: str, dictionary: DataFrame
) -> DataFrame:
    """AbbreviationExpansion.expand over a column: broadcast-join the
    dictionary on the CLEANED abbreviation; a missing term yields a
    NULL expansions array (the interface's "cannot be expanded").
    The output adds an ``expansions`` column, so the input must not
    already carry one (chain a second expansion by renaming the first
    result out of the way) — guarded, not silent (round-5 review)."""
    for reserved in ("expansions", "_clean_abbrev"):
        if reserved in df.columns:
            raise ValueError(
                f"expand_abbreviations: input already has a "
                f"{reserved!r} column; rename it before expanding "
                "(the join output would be ambiguous)"
            )
    return df.withColumn("_clean_abbrev", clean_abbrev(F.col(abbrev_col))).join(
        F.broadcast(
            dictionary.select(
                F.col("abbrev").alias("_clean_abbrev"), "expansions"
            )
        ),
        "_clean_abbrev",
        "left",
    ).drop("_clean_abbrev")


def is_abbreviation_of(
    df: DataFrame, abbrev_col: str, exp_col: str, dictionary: DataFrame
) -> DataFrame:
    """Row-wise isAbbreviationOf(abbrev, exp): true iff the RAW exp
    string appears in the cleaned abbrev's expansion list; false when
    the abbrev has no entry (contains on NULL -> false, matching the
    reference where queryApi returns an empty array)."""
    out = expand_abbreviations(df, abbrev_col, dictionary)
    return out.withColumn(
        "is_abbreviation",
        F.coalesce(
            F.array_contains("expansions", F.col(exp_col)), F.lit(False)
        ),
    ).drop("expansions")
