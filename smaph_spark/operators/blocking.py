"""Stage 2 — blocking-key generation with hot-key capping + salting.

The reference harvests entity candidates from three search sources
(SmaphAnnotator.java:415-525) and unions them (QueryInformation.java:
33-44). Here the candidate sources become deterministic blocking-key
families over the normalized `files` rows:

* ``N:`` name family — (lang, basename-stem) equality, the analogue of
  SMAPH's S1/S2 "same surface form" sources;
* ``L:<band>`` LSH family — MinHash band keys over content shingles,
  the analogue of S3 (content-based snippets source).

Skew control (north_rule, and SURVEY §4 item 1): a popular path
("README.md") yields a quadratic block. Blocks larger than
``max_block_size`` are salted into ``block_salt_buckets`` sub-blocks
(bounded recall loss, counted and logged like the reference logs its
binding caps — DefaultBindingGenerator.java:135-136); blocks larger
than ``max_block_size * block_salt_buckets`` are dropped entirely.

The cap is shared: the standalone band self-joins (dedup dd03
``minhash_lsh_pairs``, dd04 ``simhash_pairs``, dd06
``cosine_near_dup_lsh``, dd09 ``cdc_containment_pairs``) cap their
``(block_key, record_id)`` frames through ``cap_and_salt_blocks`` (via
``dedup.capped_blocks``), then pair through ``pairs.block_pairs`` and
``pairs.attach_sides`` like the ER pipeline.

Every package caller observes its counts: it passes an ``Observation``
to ``cap_and_salt_blocks``, which attaches the three counts to the
sized key table, so they are collected by the action that materializes
the salted frame (the stage-2 snapshot write or checkpoint, or the dd
queries' eager checkpoint) with no job of its own. ``cap_counts``
computes the same triple from the metrics frame in a collect of its
own; it is the reference the tests compare the Observation against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from smaph_spark.config import ERConfig


def generate_blocks(normalized: DataFrame, cfg: ERConfig) -> DataFrame:
    """normalized -> blocks(block_key string, record_id long).

    One row per (record, key). Both key families unioned
    (ref: candidate-set union J1, QueryInformation.allCandidates).
    """
    name_key = F.array(
        F.concat(F.lit("N:"), F.col("lang"), F.lit(":"), F.col("name"))
    )
    # tag each band key with its band index so bands don't collide;
    # empty/null content gets NO LSH keys (all empty files would
    # otherwise share one sentinel minhash and form a single quadratic
    # block — exact dups are still caught by the name family + sha
    # shortcut)
    band_keys = F.zip_with(
        F.col("bands"),
        F.array([F.lit(i) for i in range(cfg.lsh_bands)]),
        lambda h, i: F.concat(
            F.lit("L:"), i.cast("string"), F.lit(":"), h.cast("string")
        ),
    )
    all_keys = F.concat(
        name_key,
        F.when(F.coalesce(F.col("n_chars"), F.lit(0)) > 0, band_keys).otherwise(
            F.array().cast("array<string>")
        ),
    )
    # No dropDuplicates (round-6): the key families are disjoint by
    # construction — the name key is "N:"-prefixed and unique per
    # record, each LSH band key carries its band index ("L:<i>:") so
    # bands cannot collide — and pair generation dedups on
    # (left_id, right_id) downstream anyway (generate_pairs groupBy),
    # so the full shuffle of the exploded key table bought nothing
    # (~850k rows at the sf1.0 gate, one of stage 2's two exchanges).
    return normalized.select(
        F.col("record_id"), F.explode(all_keys).alias("block_key")
    )


def cap_and_salt_blocks(
    blocks: DataFrame, cfg: ERConfig, *, observation: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """blocks(block_key, record_id) -> (salted(join_key, block_key,
    record_id), block_metrics): the frequency cap (F3 analogue) and
    salting.

    block_metrics has one row per affected block: (block_key, n_records,
    action ∈ {salted, dropped}) — "no silent caps".

    The key is cast to STRING up front: the salted key is built as
    `key#bucket`, and with a non-string key (dd09's long chunk hashes)
    ANSI type coercion would resolve the when/otherwise to the key's
    type and throw CAST_INVALID_INPUT the moment any key actually lands
    in the salted band (round-4 review — reproduced).

    Given ``observation``, the ``cap_counts`` triple is observed on the
    sized key table as ``salted_blocks``, ``dropped_blocks`` and
    ``records_in_dropped_blocks``; read it only after an action has
    executed ``salted``. Observed metrics reject DISTINCT, so a key is
    counted as the sum of ``1 / n_records`` over its ``n_records`` rows,
    rounded — exact, since each key's rows sum to 1.
    """
    # ONE shuffle (round-6): the per-key count rides a window over the
    # key partitioning instead of a separate groupBy + self-join (two
    # key-table passes through the exchange). NULL keys are filtered
    # up front to preserve the old equi-join semantics exactly (a NULL
    # block key never matched the counts join, so its rows were
    # dropped; the window would have kept them as one NULL block).
    from pyspark.sql import Window as W

    blocks = blocks.withColumn(
        "block_key", F.col("block_key").cast("string")
    ).filter(F.col("block_key").isNotNull())
    enriched = blocks.withColumn(
        "n_records", F.count("*").over(W.partitionBy("block_key"))
    )

    drop_limit = cfg.max_block_size * cfg.block_salt_buckets
    if observation is not None:
        n = F.col("n_records")

        def keys(cond):
            return F.round(F.coalesce(
                F.sum(F.when(cond, 1.0 / n)), F.lit(0.0)
            )).cast("long")

        enriched = enriched.observe(
            observation,
            keys((n > cfg.max_block_size) & (n <= drop_limit))
            .alias("salted_blocks"),
            keys(n > drop_limit).alias("dropped_blocks"),
            F.count_if(n > drop_limit).alias("records_in_dropped_blocks"),
        )
    metrics = (
        enriched.filter(F.col("n_records") > cfg.max_block_size)
        .groupBy("block_key")
        .agg(F.max("n_records").alias("n_records"))
        .withColumn(
            "action",
            F.when(F.col("n_records") > drop_limit, F.lit("dropped")).otherwise(
                F.lit("salted")
            ),
        )
    )

    kept = enriched.filter(
        (F.col("n_records") > 1) & (F.col("n_records") <= drop_limit)
    )
    salted = kept.withColumn(
        "join_key",
        F.when(
            F.col("n_records") <= cfg.max_block_size, F.col("block_key")
        ).otherwise(
            F.concat(
                F.col("block_key"),
                F.lit("#"),
                F.pmod(F.xxhash64("record_id"), F.lit(cfg.block_salt_buckets)).cast(
                    "string"
                ),
            )
        ),
    ).select("join_key", "block_key", "record_id")
    return salted, metrics


def cap_counts(block_metrics: DataFrame) -> tuple[int, int, int]:
    """(salted keys, dropped keys, records in dropped keys) of a
    ``cap_and_salt_blocks`` metrics frame, in one collect."""
    action = F.col("action")
    row = block_metrics.agg(
        F.count_if(action == "salted"),
        F.count_if(action == "dropped"),
        F.sum(F.when(action == "dropped", F.col("n_records"))),
    ).first()
    return int(row[0]), int(row[1]), int(row[2] or 0)
