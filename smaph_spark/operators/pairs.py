"""Stage 3 — block-local pair generation + pair feature extraction.

THE pair-generation join of the ER pipeline (SURVEY §2.3 J4): the
analogue of the reference's segment × entity cross join
(IndividualLinkback.getAnnotations, linkback/IndividualLinkback.java:
43-67) — equi-join on the blocking key, theta (<) on record ids to
canonicalize/dedup, then the feature pack.

Feature pack mirrors the reference's fixed-schema discipline
(EntityFeaturePack.java:33-74 — static feature-name array, checked):
FEATURE_COLS is the single source of truth for the scorer schema.

JVM-vs-Python split: the minhash Jaccard estimate, size ratios, lang
and sha equality are pure `pyspark.sql.functions` (whole-stage
codegen); only the two string-edit kernels (Jaro-Winkler on names,
normalized Levenshtein on paths) cross into Arrow-batched numpy
(functions/kernels.py, batch-vectorized DP).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smaph_spark.config import ERConfig
from smaph_spark.functions import kernels as K

#: fixed feature schema (name discipline per EntityFeaturePack.java:251-272)
FEATURE_COLS = [
    "jaccard_est",   # minhash agreement rate ≈ content shingle Jaccard
    "name_jw",       # Jaro-Winkler similarity of basename stems
    "path_ned",      # normalized Levenshtein distance of full paths
    "size_ratio",    # min(n_chars)/max(n_chars)
    "token_ratio",   # min(n_tokens)/max(n_tokens)
    "same_lang",     # 1.0 iff same language
    "sha_eq",        # 1.0 iff identical content sha256 (exact dup)
]


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("jaccard_est", T.DoubleType()),
            T.StructField("name_jw", T.DoubleType()),
            T.StructField("path_ned", T.DoubleType()),
        ]
    )
)
def _pair_kernel_udf(
    l_mh: pd.Series, r_mh: pd.Series,
    l_name: pd.Series, r_name: pd.Series,
    l_path: pd.Series, r_path: pd.Series,
) -> pd.DataFrame:
    """ALL Python-side pair features in ONE Arrow exchange: positional
    minhash agreement (the unbiased MinHash estimator — one vectorized
    numpy compare, vs ~50µs/pair of interpreted JVM array_intersect
    hash-set builds measured as the pair stage's CPU hog), batched
    Jaro-Winkler, batched normalized edit distance. One UDF = one
    serialization round-trip instead of three plan nodes."""
    A = np.stack(l_mh.to_numpy())
    B = np.stack(r_mh.to_numpy())
    return pd.DataFrame(
        {
            "jaccard_est": (A == B).mean(axis=1) if A.size else
            np.zeros(len(l_mh)),
            "name_jw": K.jaro_winkler_batch(l_name.to_numpy(), r_name.to_numpy()),
            "path_ned": K.norm_edit_distance_batch(
                l_path.to_numpy(), r_path.to_numpy()
            ),
        }
    )


def block_pairs(salted: DataFrame, *aggs: Column) -> DataFrame:
    """salted(join_key, block_key, record_id) -> one row per pair
    (left_id, right_id[, *aggs]) — THE key self-join of the ER pipeline
    and of the standalone band/chunk joins (dedup dd03/dd04/dd06/dd09).

    Self-equi-join on the (salted) key; `<` dedups the unordered pair
    inside a key; pairs met under several keys collapse to one row:
    ``distinct`` without aggregates, else grouped by the pair with the
    caller's aggregates over the matching keys (ER keeps
    ``min(block_key)``, dd09 counts shared chunks).
    """
    left = salted.select(
        "join_key", "block_key", F.col("record_id").alias("left_id")
    )
    right = salted.select("join_key", F.col("record_id").alias("right_id"))
    joined = left.join(right, "join_key").filter(
        F.col("left_id") < F.col("right_id")
    )
    if not aggs:
        return joined.select("left_id", "right_id").distinct()
    return joined.groupBy("left_id", "right_id").agg(*aggs)


def attach_sides(pairs: DataFrame, payload: DataFrame) -> DataFrame:
    """pairs(left_id, right_id, ...) + payload(record_id, c, ...) ->
    pairs + ``l_<c>`` and ``r_<c>`` for every payload column c, by two
    inner joins keyed on left_id and right_id (a broadcast hint on
    ``payload`` carries through to both)."""
    cols = [c for c in payload.columns if c != "record_id"]
    for side, key in (("l", "left_id"), ("r", "right_id")):
        pairs = pairs.join(
            payload.select(
                F.col("record_id").alias(key),
                *[F.col(c).alias(f"{side}_{c}") for c in cols],
            ),
            key,
        )
    return pairs


def generate_pairs(salted_blocks: DataFrame, cfg: ERConfig) -> DataFrame:
    """salted_blocks(join_key, block_key, record_id) ->
    pairs(left_id, right_id, block_key).

    block_key kept = the first key (min) that produced the pair, for
    the same-block pairwise-F1 contract; the per-pair groupBy also
    dedups across key families (J1).
    """
    return block_pairs(salted_blocks, F.min("block_key").alias("block_key"))


def attach_pair_features(
    pairs: DataFrame, normalized: DataFrame, cfg: ERConfig
) -> DataFrame:
    """pairs + the per-record payload -> scored-ready feature pack."""
    # slim signature for the pair join: first `pair_minhash_width`
    # slots truncated to int32 (equality-only use; 2^-32 collision
    # odds). 64x4B = 256B/side vs the full 1KB signature — the payload
    # bytes ARE the pair-stage shuffle volume at scale.
    width = min(cfg.pair_minhash_width, cfg.num_minhash)
    # mask to 31 bits BEFORE the int cast: ANSI mode turns a narrowing
    # cast into CAST_OVERFLOW, not a truncation
    sig = F.transform(
        F.slice("minhash", 1, width),
        lambda x: x.bitwiseAND(F.lit(0x7FFFFFFF)).cast("int"),
    ).alias("minhash")
    # sha_eq only needs EQUALITY, not the digest: carry an int64 hash of
    # the sha instead of the 64-char string (2^-64 collision odds per
    # pair) — 8 bytes/side instead of ~72, and payload bytes/pair ARE
    # the pair-stage shuffle + Arrow traffic that caps multi-core
    # scaling (BENCH.md: per-task CPU inflates 2-3x at 16 threads on a
    # shared DRAM bus). The full content_sha stays on `normalized` for
    # the per-row invariant check.
    payload = normalized.select(
        "record_id", "path", "name", "lang",
        F.xxhash64("content_sha").alias("sha_pfx"),
        "n_chars", "n_tokens", sig,
    )
    if cfg.broadcast_payload:
        # map-side joins: the pairs table never shuffles its ~KB
        # minhash payload through a sort-merge join. Right for payloads
        # up to ~1 GB; at 10^12 rows set broadcast_payload=False and
        # pre-bucket `normalized` on record_id instead.
        payload = F.broadcast(payload)
    df = attach_sides(pairs, payload)
    # try_divide: empty/null content makes the denominators 0 — ANSI mode
    # (Spark 4 default) would throw DIVIDE_BY_ZERO on plain `/`
    df = (
        df.withColumn(
            "_pf",
            _pair_kernel_udf(
                "l_minhash", "r_minhash", "l_name", "r_name",
                "l_path", "r_path",
            ),
        )
        .withColumn("jaccard_est", F.col("_pf.jaccard_est"))
        .withColumn("name_jw", F.col("_pf.name_jw"))
        .withColumn("path_ned", F.col("_pf.path_ned"))
        .withColumn(
            "size_ratio",
            F.coalesce(
                F.try_divide(
                    F.least("l_n_chars", "r_n_chars").cast("double"),
                    F.greatest("l_n_chars", "r_n_chars").cast("double"),
                ),
                F.lit(0.0),
            ),
        )
        .withColumn(
            "token_ratio",
            F.coalesce(
                F.try_divide(
                    F.least("l_n_tokens", "r_n_tokens").cast("double"),
                    F.greatest("l_n_tokens", "r_n_tokens").cast("double"),
                ),
                F.lit(0.0),
            ),
        )
        .withColumn(
            "same_lang", (F.col("l_lang") == F.col("r_lang")).cast("double")
        )
        .withColumn(
            "sha_eq", (F.col("l_sha_pfx") == F.col("r_sha_pfx")).cast("double")
        )
    )
    return df.select("left_id", "right_id", "block_key", *FEATURE_COLS)
