"""Deduplication operators over the `documents` table.

Large-scale training-data-pipeline ops, each exposed as a driver query
(__spark_entry__.py). Exact and n-gram/embedding variants carry DuckDB
oracles; MinHash/SimHash variants are deterministic but not
SQL-expressible (rows-only checks).

The MinHash path reuses the ER pipeline's seeded fingerprinting
(operators/normalize.py), i.e. the documents near-dup query IS the
SMAPH-graft blocking stage applied to a second corpus.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smaph_spark.config import ERConfig
from smaph_spark.operators.blocking import cap_and_salt_blocks
from smaph_spark.operators.normalize import make_minhash_udf
from smaph_spark.operators.pairs import attach_sides, block_pairs
from smaph_spark.plans.star_queries import WS_RE, load, register, widen


_LOG = logging.getLogger("smaph_spark.dedup")

#: per-query cap metrics of the LAST run of each standalone dedup query
#: (no-silent-caps rule): {query: {salted_band_keys, dropped_band_keys,
#: records_in_dropped_bands}} — the standalone analogue of the
#: pipeline's s2_block_caps stage metric (pipeline.py).
CAP_METRICS: dict[str, dict] = {}


def capped_blocks(query: str, keys: DataFrame, cfg: ERConfig) -> DataFrame:
    """Cap and salt ``keys(block_key, record_id)`` (cap_and_salt_blocks)
    and materialize the salted key table with one eager local
    checkpoint. Its cap counts are observed on that checkpoint's job
    (no job runs only to count them) and are recorded in
    CAP_METRICS[query] and LOGGED (round-2 VERDICT: dd03/dd04/dd06
    computed these counts and discarded them — a silent cap)."""
    obs = Observation()
    salted, _ = cap_and_salt_blocks(keys, cfg, observation=obs)
    salted = salted.localCheckpoint(eager=True)
    counts = obs.get
    out = {
        "salted_band_keys": counts["salted_blocks"],
        "dropped_band_keys": counts["dropped_blocks"],
        "records_in_dropped_bands": counts["records_in_dropped_blocks"],
    }
    CAP_METRICS[query] = out
    level = logging.WARNING if out["dropped_band_keys"] else logging.INFO
    _LOG.log(level, "%s band-cap metrics: %s", query, out)
    return salted


def bit_band_blocks(
    sigs: DataFrame, sig: str, n_bands: int, bits: int
) -> DataFrame:
    """sigs(record_id, <sig> long) -> blocks(record_id, block_key), one
    row per band: ``"<i>:" + ((sig >>> bits*i) & mask)`` for i <
    n_bands — dd04's 4×16-bit SimHash chunks and dd06's hyperplane
    bands."""
    mask = (1 << bits) - 1
    keys = F.array(
        *[
            F.concat(
                F.lit(f"{i}:"),
                F.shiftrightunsigned(sig, bits * i)
                .bitwiseAND(F.lit(mask))
                .cast("string"),
            )
            for i in range(n_bands)
        ]
    )
    return sigs.select("record_id", F.explode(keys).alias("block_key"))


# ---------------------------------------------------------------------------
# exact dedup — hash groupBy
# ---------------------------------------------------------------------------

@register(
    "dd01_exact_duplicates",
    """
    SELECT md5(text) AS text_md5, COUNT(*) AS n_dups,
           MIN(doc_id) AS canonical_doc
    FROM documents
    GROUP BY md5(text) HAVING COUNT(*) > 1
    """,
    survey_ref="exact dedup (hash agg; S6 shape EntityToAnchors.createDB:78-158)",
)
def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_md5"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("canonical_doc"))
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# token n-gram Jaccard near-dup — block-local self-join, JVM set ops
# ---------------------------------------------------------------------------

@register(
    "dd02_ngram_jaccard_pairs",
    rf"""
    WITH t AS (
      SELECT doc_id, lang, source,
             list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            FOR i IN generate_series(1, greatest(len(toks)-2, 0))]) AS ngrams
      FROM (SELECT doc_id, lang, source,
                   string_split_regex(trim(text), '{WS_RE}') AS toks
            FROM documents WHERE length(trim(text)) > 0)
      WHERE len(toks) >= 3)
    SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
           ROUND(len(list_intersect(a.ngrams, b.ngrams))::DOUBLE /
                 (len(a.ngrams) + len(b.ngrams)
                  - len(list_intersect(a.ngrams, b.ngrams))), 4) AS jac
    FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
                     AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ngrams, b.ngrams))::DOUBLE /
          (len(a.ngrams) + len(b.ngrams)
           - len(list_intersect(a.ngrams, b.ngrams))) >= 0.2
    """,
    survey_ref="X6 n-gram segments (SmaphUtils.findSegments:426-433) as pair feature",
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokens as a MATERIALIZED column, and the short-doc filter on
    # size(toks) BEFORE the n-gram projection: a filter referencing the
    # n-gram column gets pushed below the project with the whole
    # higher-order expression inlined into the condition — measured 15x
    # slower (the split re-ran per element_at inside the lambda)
    # widen BEFORE the split/hash projection: the single-row-group scan
    # would otherwise run the whole n-gram hashing on 1-2 tasks
    d = widen(
        load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    )
    t1 = d.select(
        "doc_id", "lang", "source", F.split(F.trim("text"), WS_RE).alias("toks")
    ).filter(F.size("toks") >= 3)
    tc = F.col("toks")
    # hash n-grams to int64 in one pass: array_intersect on longs is
    # ~10x cheaper than on strings; set cardinalities (and hence
    # Jaccard) are preserved w.h.p. (64-bit)
    hashed = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(tc) - 3),
            lambda i: F.xxhash64(
                F.concat_ws(
                    " ",
                    F.element_at(tc, i + 1),
                    F.element_at(tc, i + 2),
                    F.element_at(tc, i + 3),
                )
            ),
        )
    )
    # repartition: the exchange materializes the n-gram arrays ONCE and
    # the prefix + both rerank consumers read the same shuffle output
    t = (
        t1.select("doc_id", "lang", "source", hashed.alias("ngrams"))
        .repartition("doc_id")
    )
    # --- PPJoin-style prefix filter (EXACT; Xiao et al., WWW'08) -----------
    # Round 1 self-joined on (lang, source) alone — ~dozens of key
    # values, so the join was all-pairs-per-block and quadratic at
    # 100x. Candidates instead come from a shared PREFIX n-gram: sort
    # each doc's hashed n-grams and keep the first |x|-ceil(t|x|)+1;
    # any pair with Jaccard >= t provably shares a prefix token under a
    # consistent global order (here: hash order, computed array-side
    # with zero extra shuffles). At extreme skew, ordering by global
    # doc-frequency instead (one extra agg+join) keeps hot n-grams out
    # of prefixes (AllPairs/PPJoin); AQE skew-join covers the moderate
    # case. Full-set Jaccard stays as the exact rerank.
    thr = 0.2
    plen = F.size("ngrams") - F.ceil(F.lit(thr) * F.size("ngrams")) + 1
    prefix = t.select(
        "doc_id", "lang", "source",
        F.explode(F.slice(F.array_sort("ngrams"), F.lit(1), plen)).alias("g"),
    )
    cand = (
        prefix.select(F.col("doc_id").alias("a_doc"), "lang", "source", "g")
        .join(
            prefix.select(F.col("doc_id").alias("b_doc"), "lang", "source", "g"),
            ["lang", "source", "g"],
        )
        .filter(F.col("a_doc") < F.col("b_doc"))
        .select("a_doc", "b_doc")
        .distinct()
    )
    # exact rerank over the full n-gram sets
    inter = F.size(F.array_intersect("a_ngrams", "b_ngrams"))
    union = F.size("a_ngrams") + F.size("b_ngrams") - inter
    jac = F.try_divide(inter.cast("double"), union.cast("double"))
    return (
        cand.join(
            t.select(F.col("doc_id").alias("a_doc"), F.col("ngrams").alias("a_ngrams")),
            "a_doc",
        )
        .join(
            t.select(F.col("doc_id").alias("b_doc"), F.col("ngrams").alias("b_ngrams")),
            "b_doc",
        )
        .withColumn("jac_raw", jac)
        .filter(F.col("jac_raw") >= thr)
        .select("a_doc", "b_doc", F.round("jac_raw", 4).alias("jac"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (rows-only oracle) — reuses the ER fingerprinter
# ---------------------------------------------------------------------------

def _doc_minhash(spark: SparkSession, sf_dir: str, cfg: ERConfig) -> DataFrame:
    d = widen(load(spark, sf_dir, "documents"))
    mh = make_minhash_udf(cfg)
    norm = F.lower(F.regexp_replace(F.col("text"), WS_RE, " "))
    return (
        d.filter(F.length(F.trim("text")) > 0)
        .withColumn("_fp", mh(norm))
        .select(
            "doc_id",
            F.col("_fp.minhash").alias("minhash"),
            F.col("_fp.bands").alias("bands"),
        )
    )


def minhash_lsh_pairs(fp: DataFrame, cfg: ERConfig) -> DataFrame:
    """fp(doc_id, minhash, bands) -> pairs(a_doc, b_doc, jaccard_est).

    Band self-join guarded by the hot-key cap (capped_blocks, counts in
    CAP_METRICS["dd03_minhash_lsh_pairs"]) so a degenerate band key
    stays bounded; estimated Jaccard from the full signatures is the
    rerank. The signatures are materialized once, so the key table and
    the pair payload both read them without re-running the UDF."""
    fp = fp.select(
        F.col("doc_id").alias("record_id"), "minhash", "bands"
    ).localCheckpoint(eager=True)
    keys = fp.select(
        "record_id",
        F.explode(
            F.zip_with(
                "bands",
                F.array([F.lit(i) for i in range(cfg.lsh_bands)]),
                lambda h, i: F.concat(i.cast("string"), F.lit(":"), h.cast("string")),
            )
        ).alias("block_key"),
    )
    salted = capped_blocks("dd03_minhash_lsh_pairs", keys, cfg)
    # positional agreement rate (the unbiased MinHash Jaccard estimate)
    # as a JVM expression: no Arrow round trip per candidate pair
    agree = F.aggregate(
        F.zip_with("l_minhash", "r_minhash", lambda a, b: (a == b).cast("int")),
        F.lit(0), lambda acc, x: acc + x,
    )
    return (
        attach_sides(block_pairs(salted), fp.select("record_id", "minhash"))
        .withColumn("jaccard_est", F.try_divide(
            agree.cast("double"), F.size("l_minhash").cast("double")))
        .filter(F.col("jaccard_est") >= 0.5)
        .select(
            F.col("left_id").alias("a_doc"),
            F.col("right_id").alias("b_doc"),
            F.round("jaccard_est", 4).alias("jaccard_est"),
        )
    )


@register(
    "dd03_minhash_lsh_pairs",
    None,  # MinHash is not SQL-expressible — rows-only check
    survey_ref="S4/J4 MinHash-LSH blocking (north_star); deterministic seeds",
)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = ERConfig(shingle_k=5, num_minhash=64, lsh_bands=16,
                   max_block_size=500, block_salt_buckets=8)
    return minhash_lsh_pairs(_doc_minhash(spark, sf_dir, cfg), cfg)


# ---------------------------------------------------------------------------
# SimHash near-dup (rows-only oracle)
# ---------------------------------------------------------------------------

def _make_simhash_udf():
    """64-bit SimHash over whitespace tokens: sign-sum of token hashes,
    batch-vectorized numpy."""
    rng = np.random.default_rng(0x51A0)
    mult = np.uint64(int(rng.integers(1, 1 << 62)) | 1)

    @F.pandas_udf(T.LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.uint64)
        for i, t in enumerate(texts):
            toks = (t or "").lower().split()
            if not toks:
                continue
            # deterministic token hash: FNV-1a, vectorized per batch row
            hs = np.fromiter(
                (_fnv1a(tok) for tok in toks), dtype=np.uint64, count=len(toks)
            ) * mult
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.int64)
            sums = (2 * bits - 1).sum(axis=0)
            out[i] = np.packbits(
                (sums > 0).astype(np.uint8), bitorder="little"
            ).view(np.uint64)[0]
        return pd.Series(out.view(np.int64))

    # see make_cdc_chunk_udf: stops explode-filter pushdown from
    # duplicating the Python evaluation (guide §4.4)
    return simhash_udf.asNondeterministic()


def _fnv1a(s: str) -> int:
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_pairs(
    sig: DataFrame, cfg: ERConfig, max_hamming: int = 6
) -> DataFrame:
    """sig(doc_id, sim) -> pairs(a_doc, b_doc, hamming). Banded hamming
    join on 4×16-bit chunks, hot-chunk keys capped/salted like dd03
    (counts in CAP_METRICS["dd04_simhash_pairs"]). The signatures are
    materialized once for the key table and the pair payload."""
    sig = sig.select(
        F.col("doc_id").alias("record_id"), "sim"
    ).localCheckpoint(eager=True)
    salted = capped_blocks(
        "dd04_simhash_pairs", bit_band_blocks(sig, "sim", 4, 16), cfg
    )
    ham = F.bit_count(F.col("l_sim").bitwiseXOR(F.col("r_sim")))
    return (
        attach_sides(block_pairs(salted), sig)
        .select(
            F.col("left_id").alias("a_doc"),
            F.col("right_id").alias("b_doc"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


@register(
    "dd04_simhash_pairs",
    None,  # rows-only
    survey_ref="SimHash near-dup; banded hamming join (scale path: 4x16-bit chunks)",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = widen(
        load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    )
    sh = _make_simhash_udf()
    sig = d.select("doc_id", sh("text").alias("sim"))
    return simhash_pairs(sig, ERConfig(max_block_size=500, block_salt_buckets=8))


# ---------------------------------------------------------------------------
# embedding cosine near-dup — broadcast-tile GEMM, exact SQL oracle
# ---------------------------------------------------------------------------

_COS_SQL_EXPR = """
  list_dot_product(a.emb, b.emb) /
  (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))
"""

_DD05_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT a.vec_id AS a_vec, b.vec_id AS b_vec,
           ROUND({_COS_SQL_EXPR}, 4) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_COS_SQL_EXPR} >= 0.4
"""


def cosine_self_join(
    e: DataFrame, threshold: float, n_buckets: int = 8
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold via distributed block-matrix
    GEMM over ``e(vec_id, emb)``.

    Vectors are hashed into ``n_buckets`` buckets; each of the
    B·(B+1)/2 bucket PAIRS becomes one cogrouped task that runs a
    single numpy/BLAS matrix multiply over the two bucket slabs and
    emits only the above-threshold entries. Nothing is ever collected
    to the driver (the round-1 version broadcast the whole table from
    a driver-side ``collect()`` — an O(N) driver-memory scale-killer).

    Scale contract: exact all-pairs is inherently O(N²) FLOPs; this
    distributes them evenly. Per-task memory = two slabs of ~N/B
    vectors — at 100 TB pick B so a slab (~N·d·8/B bytes) fits an
    executor core's memory; shuffle volume = (B+1)× the table (each
    row lands in B+1 bucket pairs). Task count B(B+1)/2 should be ≥
    cluster cores. For candidate-pruned (non-exact-threshold) dedup,
    prefer LSH-band prefiltering (ops/similarity.py) + this as the
    rerank within buckets.
    """
    pair_rows = [
        (bi * n_buckets + bj, bi, bj)
        for bi in range(n_buckets)
        for bj in range(bi, n_buckets)
    ]
    spark = e.sparkSession

    def side(prefix: str, bucket_field: str) -> DataFrame:
        # distinct column names per side keep the self-join lineage
        # unambiguous for the cogroup analyzer
        pairs = spark.createDataFrame(pair_rows, ["pid", "bi", "bj"])
        src = e.select(
            F.col("vec_id").alias(f"{prefix}_id"),
            F.col("emb").alias(f"{prefix}_emb"),
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_buckets)).alias(
                f"{prefix}_bkt"
            ),
        )
        return src.join(
            F.broadcast(
                pairs.select("pid", F.col(bucket_field).alias(f"{prefix}_bkt"))
            ),
            f"{prefix}_bkt",
        )

    left = side("l", "bi")
    right = side("r", "bj")

    def gemm(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_vec": pd.Series(dtype="int64"),
                              "b_vec": pd.Series(dtype="int64"),
                              "cos_raw": pd.Series(dtype="float64")})
        if len(l) == 0 or len(r) == 0:
            return empty

        def unit(pdf, emb_field):
            m = np.stack(pdf[emb_field].to_numpy()).astype(np.float64)
            nrm = np.sqrt((m * m).sum(axis=1))
            nrm[nrm == 0] = 1.0
            return m / nrm[:, None]

        l_ids = l["l_id"].to_numpy().astype(np.int64)
        r_ids = r["r_id"].to_numpy().astype(np.int64)
        lm = unit(l, "l_emb")
        # ascontiguousarray: this box's OpenBLAS takes a 10-30x slower
        # kernel for a strided (transposed-view) RHS — the 1.3 MB copy
        # buys a ~50ms GEMM instead of ~8s per bucket-pair task
        # (round-6 measurement inside the cogroup workers)
        rmt = np.ascontiguousarray(unit(r, "r_emb").T)
        same_bucket = int(l["l_bkt"].iloc[0]) == int(r["r_bkt"].iloc[0])
        # TILED multiply: one full slab-x-slab sims matrix is ~50 MB
        # that every (fresh, single-use) python worker page-faults in
        # on its first call — with N workers starting together that
        # first-call cost measured seconds per task. Row tiles keep the
        # working set a few MB, reused from the allocator across tiles,
        # and bound task memory at any slab size (the 100 TB contract:
        # memory per task stays O(tile * |slab|), not O(|slab|^2)).
        # tile <= 256 ALSO keeps OpenBLAS off its large-GEMM path,
        # whose first-call per-process buffer setup measured ~5 s
        # under 32-way concurrency (pool A/B: full-slab multiply 5.0 s
        # first call vs 0.09 s for the same work in <=256-row tiles).
        tile = 256
        parts_a, parts_b, parts_c = [], [], []
        for s0 in range(0, lm.shape[0], tile):
            sims = lm[s0:s0 + tile] @ rmt
            keep = sims >= threshold
            if same_bucket:
                # diagonal block: each unordered pair appears twice —
                # keep the canonical orientation (drops self-pairs too)
                keep &= l_ids[s0:s0 + tile, None] < r_ids[None, :]
            li, ri = np.nonzero(keep)
            if len(li):
                la = l_ids[s0 + li]
                parts_a.append(np.minimum(la, r_ids[ri]))
                parts_b.append(np.maximum(la, r_ids[ri]))
                parts_c.append(sims[li, ri])
        if not parts_a:
            return empty
        return pd.DataFrame(
            {
                "a_vec": np.concatenate(parts_a),
                "b_vec": np.concatenate(parts_b),
                "cos_raw": np.concatenate(parts_c),
            }
        )

    return (
        left.groupby("pid")
        .cogroup(right.groupby("pid"))
        .applyInPandas(gemm, schema="a_vec long, b_vec long, cos_raw double")
    )


@register(
    "dd05_embedding_dup_pairs",
    _DD05_SQL,
    survey_ref="embedding cosine near-dup (J5 relatedness-pair analogue)",
)
def dd_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT widened: the heavy GEMM runs in the cogroup stage, already
    # parallel via the pid shuffle; widening the 2-task scan measured
    # 2.4s -> 4.5s (A/B, round 6) from the extra exchange
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
    )
    return cosine_self_join(e, threshold=0.4).select(
        "a_vec", "b_vec", F.round("cos_raw", 4).alias("cos")
    )


# ---------------------------------------------------------------------------
# embedding near-dup, LSH-prefiltered (scale alternative to dd05)
# ---------------------------------------------------------------------------

def cosine_near_dup_lsh(e: DataFrame, threshold: float) -> DataFrame:
    """Approximate cosine near-dup over ``e(vec_id, emb)`` with 64-wide
    embeddings (the testdata contract, TESTDATA.md): 32-plane
    hyperplane-LSH signatures in 8 bands of 4 bits (hot bands
    capped/salted like dd03, counts in
    CAP_METRICS["dd06_embedding_dup_lsh"]) + exact cosine rerank at
    ``threshold``. Returns pairs(a_vec, b_vec, cos).

    The scale alternative to the exact block-matrix ``cosine_self_join``
    (O(N²) FLOPs): candidate volume ~ sum of band-bucket C(n,2), linear
    in N for hash-balanced buckets; recall follows the LSH s-curve
    (1-(1-p^r)^b with p = 1 - θ/π) — asserted vs the exact operator in
    tests, never silently assumed."""
    from smaph_spark.ops.similarity import _cosine, make_hyperplane_udf

    sig = e.select(
        F.col("vec_id").alias("record_id"), "emb",
        make_hyperplane_udf()("emb").alias("sig"),
    )
    salted = capped_blocks(
        "dd06_embedding_dup_lsh", bit_band_blocks(sig, "sig", 8, 4),
        ERConfig(max_block_size=500, block_salt_buckets=8),
    )
    return (
        attach_sides(block_pairs(salted), sig.select("record_id", "emb"))
        .withColumn("cos_raw", _cosine("l_emb", "r_emb"))
        .filter(F.col("cos_raw") >= threshold)
        .select(
            F.col("left_id").alias("a_vec"),
            F.col("right_id").alias("b_vec"),
            F.round("cos_raw", 4).alias("cos"),
        )
    )


@register(
    "dd06_embedding_dup_lsh",
    None,  # approximate — recall vs the exact dd05 asserted in tests
    survey_ref="embedding near-dup scale path: hyperplane-LSH band "
               "candidates (capped) + exact cosine rerank",
)
def dd_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT widened: the heavy GEMM runs in the cogroup stage, already
    # parallel via the pid shuffle; widening the 2-task scan measured
    # 2.4s -> 4.5s (A/B, round 6) from the extra exchange
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
    )
    return cosine_near_dup_lsh(e, threshold=0.4)


# ---------------------------------------------------------------------------
# dd07: incremental ingest dedup — the "what's NEW in this batch"
# operator every continuously-ingesting 100 TB corpus needs. History is
# a content-hash index (at scale: a bucketed table partitioned by hash
# prefix, so the anti-join is co-located and touches only the digest
# column, never historical text); the batch side dedups within itself
# (min-id per digest) and anti-joins the index. Both shuffles key on
# the uniformly-distributed digest — skew-free by construction.
# Reference analogue: the candidate-cache freshness check in
# WATRelatednessComputer (src/main/java/it/unipi/di/acube/smaph/
# wikiapi/WATRelatednessComputer.java:62-101) recast set-at-a-time.
# ---------------------------------------------------------------------------

def incremental_new_texts(history: DataFrame, batch: DataFrame) -> DataFrame:
    """Rows of `batch(doc_id, text)` whose content digest is absent from
    `history(text)`, deduped within the batch (keep the min id per
    digest). Returns (doc_id, text_md5)."""
    h = history.select(F.md5("text").alias("text_md5")).distinct()
    b = batch.select("doc_id", F.md5("text").alias("text_md5"))
    return (
        b.join(h, "text_md5", "left_anti")
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text_md5")
    )


@register(
    "dd07_incremental_new_docs",
    """
    WITH bucketed AS (
      SELECT doc_id, text,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10 AS b
      FROM documents),
    h AS (SELECT DISTINCT md5(text) AS m FROM bucketed WHERE b < 8),
    batch AS (SELECT doc_id, md5(text) AS text_md5
              FROM bucketed WHERE b >= 8)
    SELECT MIN(doc_id) AS doc_id, text_md5
    FROM batch WHERE NOT EXISTS (SELECT 1 FROM h WHERE h.m = batch.text_md5)
    GROUP BY text_md5
    """,
    survey_ref="incremental ingest dedup (beyond-reference training-data "
               "op; digest anti-join against a content-hash index)",
)
def dd_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver recast: the ds01 hash split plays history (80%) vs
    incoming batch (20%) over the same documents table."""
    from smaph_spark.ops.sampling import hash_bucket

    d = load(spark, sf_dir, "documents").withColumn(
        "b", hash_bucket(F.col("doc_id"), 10)
    )
    return incremental_new_texts(
        d.filter(F.col("b") < 8), d.filter(F.col("b") >= 8)
    )


# ---------------------------------------------------------------------------
# dd08: content-defined chunking (CDC) dedup — the storage-dedup /
# rsync family: chunk boundaries are a function of CONTENT (gear
# rolling hash), so an insertion shifts only the chunks around the
# edit and every other chunk hash is preserved — chunk-level sharing
# catches PARTIAL-file duplication (vendored files with local patches,
# license headers, copied functions) that whole-file hashing (dd01)
# misses entirely. Exactly the primitive a 10^12-file CODE corpus
# needs. Public algorithm: gear-hash CDC (Xia et al., FAST'16 "FastCDC"
# lineage); no reference-code reuse — the reference has no chunking.
# ---------------------------------------------------------------------------

def make_cdc_chunk_udf():
    """Arrow UDF: text -> array<long> of content-defined chunk hashes.

    The gear rolling hash h_i = sum_{k<window} G[b_{i-k}] << k (mod
    2^64) is a pure function of the last `window` = 64 bytes, so it is
    computed VECTORIZED: map bytes through the seeded gear table and
    reduce with per-position shifts — no per-byte Python loop. A
    position is a cut candidate when the low 7 bits are zero (expected
    chunk ~128 bytes); the 32-byte min and 1024-byte max chunk sizes
    are enforced in a sparse loop over candidates only. Chunk ids are
    8-byte blake2b of the chunk bytes (content-addressed, engine/layout
    independent)."""
    import hashlib as _hl

    window, min_size, max_size = 64, 32, 1024
    rng = np.random.default_rng(0xCDC)
    gear = rng.integers(0, 2**63, size=256, dtype=np.uint64)
    mask = np.uint64((1 << 7) - 1)

    def _chunk_hashes(raw: bytes) -> list[int]:
        n = len(raw)
        if n == 0:
            return []
        data = np.frombuffer(raw, dtype=np.uint8)
        g = gear[data]
        if n >= window:
            # h[j] = sum_k g[j+k] << (window-1-k): 64 shifted adds keep
            # memory O(n) — a sliding_window_view materializes an
            # (n, 64) uint64 temp, 512 B per input byte, which OOMs the
            # python worker on multi-MB files (round-4 review)
            m = n - window + 1
            h = np.zeros(m, dtype=np.uint64)
            for k in range(window):
                h += g[k : m + k] << np.uint64(window - 1 - k)
            # h[j] covers bytes j..j+window-1; cut AFTER byte i means
            # candidate index i = j + window - 1
            cand = np.nonzero((h & mask) == 0)[0] + (window - 1)
        else:
            cand = np.array([], dtype=np.int64)
        cuts = []
        prev = 0
        ci = 0
        while prev < n:
            # next candidate at least min_size past prev, else max_size
            while ci < len(cand) and cand[ci] + 1 < prev + min_size:
                ci += 1
            if ci < len(cand) and cand[ci] + 1 <= prev + max_size:
                cut = int(cand[ci]) + 1
                ci += 1
            else:
                cut = min(prev + max_size, n)
            cuts.append(cut)
            prev = cut
        out = []
        prev = 0
        for cut in cuts:
            digest = _hl.blake2b(raw[prev:cut], digest_size=8).digest()
            out.append(int.from_bytes(digest, "big", signed=True))
            prev = cut
        return out

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def cdc_chunks(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [_chunk_hashes((t or "").encode("utf-8")) for t in texts]
        )

    # asNondeterministic: the downstream explode's implicit filter
    # (size(chunks) > 0) is otherwise pushed below the widening
    # exchange WITH THE UDF INLINED A SECOND TIME — two ArrowEvalPython
    # nodes, the pushed copy running serially on the 1-2-task scan
    # (measured 1.2s -> 9.0s at sf1.0; guide §4.4). The chunker is
    # semantically deterministic; the flag only stops the optimizer
    # from duplicating/reordering it.
    return cdc_chunks.asNondeterministic()


def cdc_chunk_stats(docs: DataFrame) -> DataFrame:
    """Per-doc chunk-sharing stats of ``docs(doc_id, text)``: (doc_id,
    n_chunks, n_shared_chunks, shared_frac). A chunk is 'shared' when
    its content hash appears in more than one document — the fraction
    is the partial-duplication signal chunk-level dedup acts on. Plan:
    one narrow UDF projection, explode, one hash-agg on chunk_hash
    (map-side combined), one equi-join back on chunk_hash. No driver
    data."""
    chunker = make_cdc_chunk_udf()
    chunks = (
        docs.select("doc_id", chunker(F.col("text")).alias("chunks"))
        .select("doc_id", F.explode("chunks").alias("chunk_hash"))
    )
    # distinct docs per chunk (a doc repeating its own chunk is not
    # cross-doc sharing). CHECKPOINTED before fanning out to the freq
    # agg and the join side: without it every branch re-runs the
    # chunker UDF over the full corpus (round-4 review: 4
    # ArrowEvalPython nodes in the plan, exchange reuse did not kick in
    # under AQE). The (long, long) table is tiny next to the text it
    # derives from, and nothing is left to release.
    doc_chunks = chunks.distinct().localCheckpoint(eager=True)
    freq = doc_chunks.groupBy("chunk_hash").agg(
        F.count("*").alias("n_docs_with_chunk")
    )
    return (
        doc_chunks.join(freq, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                F.when(F.col("n_docs_with_chunk") > 1, 1).otherwise(0)
            ).alias("n_shared_chunks"),
        )
        .withColumn(
            "shared_frac",
            F.round(
                F.try_divide(
                    F.col("n_shared_chunks").cast("double"),
                    F.col("n_chunks").cast("double"),
                ),
                4,
            ),
        )
    )


@register(
    "dd08_cdc_chunk_stats",
    None,  # gear-hash chunking UDF — not SQL-expressible; rows-only at
    # the driver, edit-locality/determinism pytest-pinned
    survey_ref="content-defined chunking dedup (gear-hash CDC, "
               "FastCDC-lineage; beyond-reference training-data op — "
               "partial-file duplication the whole-file hash family "
               "cannot see)",
)
def dd_cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen: the gear-hash chunker is the whole per-row cost and the
    # scan is a single row group (11.6 task-sec over 2 tasks at sf1.0)
    d = widen(
        load(spark, sf_dir, "documents")
        .filter(F.length(F.coalesce("text", F.lit(""))) > 0)
    )
    return cdc_chunk_stats(d)


def cdc_containment_pairs(
    docs: DataFrame,
    min_containment: float = 0.3,
    cfg: ERConfig | None = None,
    metrics_query: str = "dd09_cdc_containment_pairs",
) -> DataFrame:
    """Candidate duplicate PAIRS from shared CDC chunks of
    ``docs(doc_id, text)``: (a_doc, b_doc, n_shared_chunks, containment)
    where containment = shared / min(|a|, |b|) — the asymmetric-size
    measure partial-file duplication needs (a file embedded inside a bigger one scores ~1.0
    where Jaccard dilutes it). The chunk-hash self-join is guarded by
    the SAME hot-key cap as the LSH band joins (cap_and_salt_blocks): a
    chunk shared by thousands of docs (a common license header) is
    salted or dropped with counts in CAP_METRICS[metrics_query] instead
    of going quadratic — bounded recall, never silent."""
    doc_chunks = (
        docs.select(
            F.col("doc_id").alias("record_id"),
            F.explode(make_cdc_chunk_udf()("text")).alias("block_key"),
        )
        .distinct()
        # checkpointed: the sizes agg and the capped key table would
        # otherwise each re-run the chunker UDF over the full corpus
        # (round-4 review)
        .localCheckpoint(eager=True)
    )
    sizes = doc_chunks.groupBy("record_id").agg(F.count("*").alias("n"))
    salted = capped_blocks(metrics_query, doc_chunks, cfg or ERConfig())
    pairs = block_pairs(salted, F.count("*").alias("n_shared_chunks"))
    return (
        attach_sides(pairs, sizes)
        .withColumn(
            "containment",
            F.round(
                F.try_divide(
                    F.col("n_shared_chunks").cast("double"),
                    F.least("l_n", "r_n").cast("double"),
                ),
                4,
            ),
        )
        .filter(F.col("containment") >= min_containment)
        .select(
            F.col("left_id").alias("a_doc"),
            F.col("right_id").alias("b_doc"),
            "n_shared_chunks",
            "containment",
        )
    )


@register(
    "dd09_cdc_containment_pairs",
    None,  # CDC chunking UDF inside — rows-only; containment values
    # pinned vs a brute-force python oracle in tests
    survey_ref="CDC chunk-sharing containment pairs (beyond-reference "
               "training-data op; partial-file duplicate candidates "
               "with hot-chunk capping, dd03-family contract)",
)
def dd_cdc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen: same single-row-group chunker serialization as dd08
    d = widen(
        load(spark, sf_dir, "documents").filter(
            F.length(F.coalesce("text", F.lit(""))) > 0
        )
    )
    return cdc_containment_pairs(d)
