"""Text-analysis operators over the `documents` table.

Language-ID (stopword-overlap heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), and a winnowing rolling-hash
document fingerprint. All hot paths JVM-side; only the fingerprint
needs an Arrow UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smaph_spark.operators.normalize import _shingle_hashes
from smaph_spark.plans.star_queries import WS_CHARS, WS_RE, load, register
# (widen() deliberately NOT used here: the tx queries' split+partial-agg
# stages are cheap enough that the widening shuffle of the text column
# costs more than it buys — A/B'd at sf1.0 in round 6: tx01 2.3s plain
# vs 4.1s widened, tx09 1.1 vs 1.4)

# BPE-ish pre-tokenizer: word pieces OR single non-space symbols
# (explicit whitespace class — same Java-vs-RE2 \s dialect dodge)
_BPE_RE = rf"[A-Za-z0-9]+|[^A-Za-z0-9{WS_CHARS}]"


@register(
    "tx01_token_stats",
    rf"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '{WS_RE}')) END AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
           length(text) AS n_chars_actual,
           length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
             AS n_non_alnum
    FROM documents
    """,
    survey_ref="X4 tokenize (SmaphUtils.java:369-385) + X12 non-alnum count (:510-516)",
)
def tx_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ws_tokens = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), WS_RE))
    )
    return d.select(
        "doc_id",
        ws_tokens.alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
        ).alias("n_non_alnum"),
    )


@register(
    "tx02_quality_scores",
    rf"""
    WITH t AS (
      SELECT doc_id, text, length(text) AS n,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '{WS_RE}')) END AS n_tok
      FROM documents)
    SELECT doc_id,
           ROUND(CASE WHEN n = 0 THEN 0.0
                 ELSE (length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / n)
                 END, 4) AS punct_ratio,
           ROUND(CASE WHEN n_tok = 0 THEN 0.0
                 ELSE length(text)::DOUBLE / n_tok END, 4) AS avg_token_len,
           CASE WHEN n_tok BETWEEN 10 AND 100000 AND n >= 50 THEN TRUE
                ELSE FALSE END AS keep
    FROM t
    """,
    survey_ref="quality scoring (length/punct ratios); F4 accept/reject shape",
)
def tx_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n = F.length("text")
    n_tok = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), WS_RE))
    )
    punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    return d.select(
        "doc_id",
        F.round(
            F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n), 4
        ).alias("punct_ratio"),
        F.round(
            F.when(n_tok == 0, F.lit(0.0)).otherwise(n.cast("double") / n_tok), 4
        ).alias("avg_token_len"),
        (n_tok.between(10, 100000) & (n >= 50)).alias("keep"),
    )


# stopword profiles for the n-gram/stopword language heuristic
_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "und", "das", "ein", "zu", "ist"],
    "es": ["el", "la", "los", "y", "de", "que", "es"],
    "fr": ["le", "la", "et", "les", "des", "un", "est"],
    "zh": ["de", "shi", "le", "zai", "he", "you", "wo"],
}


def _langid_sql() -> str:
    selects = []
    for lang, words in sorted(_STOPWORDS.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        selects.append(
            f"SELECT doc_id, '{lang}' AS cand_lang, "
            f"len(list_filter(toks, x -> list_contains([{lst}], x))) AS hits "
            f"FROM t"
        )
    union = " UNION ALL ".join(selects)
    return rf"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE string_split_regex(lower(trim(text)), '{WS_RE}') END AS toks
      FROM documents),
    scores AS ({union})
    SELECT doc_id, cand_lang AS predicted_lang, hits FROM (
      SELECT doc_id, cand_lang, hits,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, cand_lang) AS rn
      FROM scores) WHERE rn = 1
    """


@register(
    "tx03_langid",
    _langid_sql(),
    survey_ref="language-ID heuristic (stopword overlap, argmax per doc — W4 shape)",
)
def tx_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    toks = F.when(
        F.length(F.trim("text")) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.lower(F.trim("text")), WS_RE))
    t = d.select("doc_id", toks.alias("toks"))
    parts = []
    for lang, words in sorted(_STOPWORDS.items()):
        wordlist = F.array(*[F.lit(w) for w in words])
        hits = F.size(
            F.filter("toks", lambda x: F.array_contains(wordlist, x))
        )
        parts.append(
            t.select(
                "doc_id", F.lit(lang).alias("cand_lang"), hits.alias("hits")
            )
        )
    scores = parts[0]
    for p in parts[1:]:
        scores = scores.unionByName(p)
    w = W.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand_lang"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", F.col("cand_lang").alias("predicted_lang"), "hits")
    )


# ---------------------------------------------------------------------------
# winnowing fingerprint (rolling hash + local-min selection) — Arrow UDF
# ---------------------------------------------------------------------------

def make_fingerprint_udf():
    """Winnowing (Schleimer et al., SIGMOD'03 public algorithm):
    8-gram rolling hashes, minimum selection per window of 4; returns
    the sorted distinct selected hashes as the document fingerprint."""
    k, window = 8, 4

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def fingerprint(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            t = (t or "").lower()
            # texts shorter than one shingle have no fingerprint
            if len(t.encode("utf-8")) < k:
                out.append([])
                continue
            h = _shingle_hashes(t, k)
            if h.shape[0] <= window:
                sel = np.array([h.min()], dtype=np.uint64)
            else:
                from numpy.lib.stride_tricks import sliding_window_view

                sel = sliding_window_view(h, window).min(axis=1)
            out.append(sorted(set(int(x) for x in sel.view(np.int64))))
        return pd.Series(out)

    return fingerprint


@register(
    "tx04_fingerprints",
    None,  # rolling-hash winnowing — rows-only check
    survey_ref="document fingerprinting (winnowing; S9 cache-key analogue)",
)
def tx_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fp = make_fingerprint_udf()
    return d.select(
        "doc_id",
        F.size(fp("text")).alias("n_fingerprints"),
    )


# ---------------------------------------------------------------------------
# X15 bold statistics + X18 wiki-URL decode as driver queries
# ---------------------------------------------------------------------------

_TX05_SQL = rf"""
    WITH b AS (
      SELECT source AS query, doc_id % 3 AS rank,
             array_to_string(string_split_regex(trim(text), '{WS_RE}')[1:4], ' ')
               AS bold
      FROM documents WHERE length(trim(text)) > 0),
    ed AS (
      SELECT query, rank, bold,
             [t FOR t IN string_split_regex(lower(query), '{WS_RE}') IF t != '']
               AS qt,
             [t FOR t IN string_split_regex(lower(bold), '{WS_RE}') IF t != '']
               AS bt
      FROM b),
    med AS (
      SELECT query, rank, bold,
             CASE WHEN len(bt) = 0 OR len(qt) = 0 THEN 1.0
                  ELSE list_avg([list_min([
                        CASE WHEN len(x) = 0 OR len(y) = 0 THEN 1.0
                             ELSE levenshtein(x, y)::DOUBLE
                                  / greatest(len(x), len(y)) END
                        FOR y IN qt]) FOR x IN bt])
             END AS ed,
             CASE WHEN substr(bold, 1, 1) BETWEEN 'A' AND 'Z'
                  THEN 1.0 ELSE 0.0 END AS cap,
             CASE WHEN regexp_matches(bold, '^\W+$') THEN 0
                  ELSE len(string_split_regex(bold, '\W+'))
                       - CASE WHEN regexp_matches(bold, '\W$') THEN 1 ELSE 0 END
             END AS wc
      FROM ed)
    SELECT query, rank,
           ROUND(least(MIN(ed), 1.0), 4) AS min_ed,
           SUM(cap) AS capitalized,
           ROUND(AVG(wc), 4) AS avg_wordcount
    FROM med GROUP BY query, rank
"""


@register(
    "tx05_bold_stats_per_rank",
    _TX05_SQL,
    survey_ref="X15 bolds ED/capitalized/wordcount per rank "
               "(EntityFeaturePack.getBoldsEDCapitalizedWordcount:274-291)",
)
def tx_bold_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents recast as (query=source, bold=first 4 tokens,
    rank=doc_id%3) search results; groupBy-agg bold statistics."""
    from smaph_spark.functions.bold_features import bold_stats_per_rank

    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    rows = d.select(
        F.col("source").alias("query"),
        (F.col("doc_id") % 3).alias("rank"),
        F.array_join(
            F.slice(F.split(F.trim("text"), WS_RE), 1, 4), " "
        ).alias("bold"),
    )
    out = bold_stats_per_rank(rows)
    return out.select(
        "query", "rank",
        F.round("min_ed", 4).alias("min_ed"),
        "capitalized",
        F.round("avg_wordcount", 4).alias("avg_wordcount"),
    )


_TX06_SQL = r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 'Talk:' ELSE '' END
               || source || '_' || lang || '_' || doc_id AS raw_title
      FROM documents),
    n AS (
      SELECT doc_id, raw_title,
             trim(replace(raw_title, '_', ' ')) AS norm
      FROM t)
    SELECT doc_id,
           CASE WHEN raw_title LIKE 'Talk:%' OR raw_title LIKE 'Special:%'
                  OR raw_title LIKE 'Portal:%' OR raw_title LIKE 'Wikipedia:%'
                  OR raw_title LIKE 'Template:%'
                  OR raw_title LIKE 'Wikipedia\_talk:%' ESCAPE '\'
                  OR raw_title LIKE 'File:%' OR raw_title LIKE 'User:%'
                  OR raw_title LIKE 'Category:%' OR raw_title LIKE 'List%'
                  OR raw_title LIKE '%(disambiguation)%' OR norm = ''
                THEN NULL
                ELSE upper(substr(norm, 1, 1)) || substr(norm, 2) END
             AS wiki_title
    FROM n
"""


@register(
    "tx06_wiki_url_decode",
    _TX06_SQL,
    survey_ref="X18 URL decode / title normalize "
               "(SmaphAnnotator.decodeWikiUrl:258-273, "
               "SmaphUtils.acceptWikipediaTitle:167-177)",
)
def tx_wiki_url_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize wiki URLs from documents (1 in 7 gets a rejected
    Talk: prefix) and decode them with the pure-JVM X18 expression."""
    from smaph_spark.functions.bold_features import decode_wiki_url_col

    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://en.wikipedia.org/wiki/"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("Talk:")).otherwise(F.lit("")),
        F.col("source"), F.lit("_"), F.col("lang"), F.lit("_"),
        F.col("doc_id").cast("string"),
    )
    return d.select(
        "doc_id", decode_wiki_url_col(url).alias("wiki_title")
    )


_TX07_SQL = rf"""
    WITH a AS (
      SELECT source AS segment,
             string_split_regex(trim(text), '{WS_RE}')[1] AS anchor,
             (doc_id % 5) + 1 AS occurrences
      FROM documents WHERE length(trim(text)) > 0),
    d AS (
      SELECT segment, anchor, occurrences,
             CASE WHEN length(lower(segment)) = 0 OR length(anchor) = 0
                  THEN 1.0
                  ELSE levenshtein(lower(segment), anchor)::DOUBLE
                       / greatest(length(lower(segment)), length(anchor))
             END AS ned
      FROM a)
    SELECT segment,
           ROUND(SUM(sqrt(occurrences::DOUBLE) * ned)
                 / SUM(sqrt(occurrences::DOUBLE)), 4)
             AS ed_anchors_weight_sqrt,
           COUNT(*) AS n_anchors
    FROM d GROUP BY segment
"""


@register(
    "tx07_weighted_anchor_ed",
    _TX07_SQL,
    survey_ref="X17 sqrt(freq)-weighted anchor ED aggregate "
               "(AnnotationFeaturePack.edAnchorsWeightSqrt:135-144)",
)
def tx_weighted_anchor_ed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents recast as exploded (segment=source, anchor=first
    token, occurrences=doc_id%5+1) anchor rows; X17 weighted-ED agg."""
    from smaph_spark.functions.bold_features import weighted_anchor_ed

    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    rows = d.select(
        F.col("source").alias("segment"),
        F.element_at(F.split(F.trim("text"), WS_RE), 1).alias("anchor"),
        ((F.col("doc_id") % 5) + 1).alias("occurrences"),
    )
    out = weighted_anchor_ed(rows)
    return out.select(
        "segment",
        F.round("ed_anchors_weight_sqrt", 4).alias("ed_anchors_weight_sqrt"),
        "n_anchors",
    )


@register(
    "tx08_bold_fragmentation",
    None,  # Snowball-ish stemming inside — not SQL-expressible, rows-only
    survey_ref="A7 fragmentation/aggregation as groupBy + Arrow UDF "
               "(SmaphUtils.getFragmentation:556-584, getAggregation:595-622)",
)
def tx_bold_fragmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bold lists (collect_list) -> fragmentation/aggregation
    score of each bold against its group (groupBy + UDF per SURVEY A7)."""
    from smaph_spark.functions.bold_features import (
        aggregation_udf, fragmentation_udf,
    )

    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    bolds = d.select(
        "doc_id", "source",
        F.array_join(F.slice(F.split(F.trim("text"), WS_RE), 1, 3), " ")
        .alias("bold"),
    )
    groups = bolds.groupBy("source").agg(
        F.collect_list("bold").alias("bolds")
    )
    return (
        bolds.join(groups, "source")
        .select(
            "doc_id", "source",
            F.round(fragmentation_udf("bolds", "bold"), 4).alias("fragmentation"),
            F.round(aggregation_udf("bolds", "bold"), 4).alias("aggregation"),
        )
    )


@register(
    "tx09_top_terms_per_lang",
    rf"""
    WITH toks AS (
      SELECT lang,
             unnest(string_split_regex(lower(trim(text)), '{WS_RE}')) AS tok
      FROM documents WHERE length(trim(text)) > 0),
    counts AS (
      SELECT lang, tok, COUNT(*) AS n
      FROM toks WHERE length(tok) > 0 GROUP BY lang, tok)
    SELECT lang, tok, n, rnk FROM (
      SELECT lang, tok, n,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n DESC, tok) AS rnk
      FROM counts)
    WHERE rnk <= 10
    """,
    survey_ref="token histogram top-k (beyond-reference training-data op; "
               "explode -> partial-agg count -> per-group top-k window)",
)
def tx_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary skim: top-10 tokens per language. The plan a
    100 TB wordcount wants: explode stays narrow, the count groupBy
    does map-side partial aggregation (hash agg on (lang, tok)), and
    the top-k is one window over the already-tiny count table — never
    a global sort of the token stream."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = d.select(
        "lang",
        F.explode(F.split(F.lower(F.trim("text")), WS_RE)).alias("tok"),
    ).filter(F.length("tok") > 0)
    counts = toks.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("lang", "tok", "n", "rnk")
    )


@register(
    "tx10_doc_freq_idf",
    rf"""
    WITH doc_toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(lower(trim(text)), '{WS_RE}')) AS tok
      FROM documents WHERE length(trim(text)) > 0),
    df AS (
      SELECT tok, COUNT(*) AS doc_freq
      FROM doc_toks WHERE length(tok) > 0 GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents
          WHERE length(trim(text)) > 0)
    SELECT tok, doc_freq,
           ROUND(ln((n_docs + 1.0) / (doc_freq + 1.0)) + 1.0, 6) AS idf
    FROM df, n WHERE doc_freq >= 5
    """,
    survey_ref="document frequency / IDF (beyond-reference training-data "
               "op; the TF-IDF vocabulary-build pass)",
)
def tx_doc_freq_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF vocabulary build: distinct (doc, token) -> doc_freq ->
    smoothed idf. The 100 TB plan: the distinct and the count are ONE
    hash-agg pipeline on (doc_id, tok) then (tok) — both map-side
    partial-aggregated, never a token-stream sort; the corpus size N
    joins in as a broadcast of a 1-row aggregate, not a driver
    constant. Low-df tail (< 5 docs) is dropped AFTER the count — the
    standard min_df vocabulary cut, which also bounds the result."""
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    doc_toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), WS_RE)).alias("tok"),
    ).filter(F.length("tok") > 0).distinct()
    df_counts = doc_toks.groupBy("tok").agg(F.count("*").alias("doc_freq"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    return (
        df_counts.filter(F.col("doc_freq") >= 5)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok", "doc_freq",
            F.round(
                F.log((F.col("n_docs") + 1.0) / (F.col("doc_freq") + 1.0))
                + 1.0, 6
            ).alias("idf"),
        )
    )


#: GPT-2-style pre-tokenizer, ASCII-simplified so the Java (Spark) and
#: RE2 (DuckDB) dialects agree exactly: contraction suffixes, space-
#: prefixed letter runs, digit runs, punctuation runs, whitespace runs.
#: (The production BPE pattern adds unicode classes; stray apostrophes
#: are dropped by design here.)
#: whitespace as an EXPLICIT class, not \s: Java's \s includes \x0b,
#: RE2's does not — shared with every tokenizing query via
#: star_queries.WS_CHARS/WS_RE
_WS = WS_CHARS
BPE_PRETOKEN_RE = (
    r"'(?:s|t|d|m|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+"
    rf"| ?[^A-Za-z0-9{_WS}']+|[{_WS}]+"
)


_BPE_SQL = BPE_PRETOKEN_RE.replace("'", "''")  # SQL string-literal escape


@register(
    "tx11_bpe_token_stats",
    rf"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_SQL}'))
             AS n_tokens,
           len(regexp_extract_all(text, ' ?[A-Za-z]+')) AS n_word_tokens,
           len(regexp_extract_all(text, ' ?[0-9]+')) AS n_number_tokens
    FROM documents
    """,
    survey_ref="BPE-ish regex token counting (beyond-reference "
               "training-data op; the pre-tokenization pass of a BPE "
               "tokenizer, X4-family)",
)
def tx_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting the way an LLM data pipeline counts —
    BPE PRE-tokens (contractions / word / number / punct / space runs),
    not whitespace splits (tx01). Pure JVM regex projection: no
    shuffle, no UDF, scales as a narrow map over the corpus."""
    d = load(spark, sf_dir, "documents")
    toks = lambda pat: F.size(  # noqa: E731
        F.regexp_extract_all("text", F.lit(pat), 0)
    ).cast("long")
    return d.select(
        "doc_id",
        toks(BPE_PRETOKEN_RE).alias("n_tokens"),
        toks(r" ?[A-Za-z]+").alias("n_word_tokens"),
        toks(r" ?[0-9]+").alias("n_number_tokens"),
    )
