"""The shared candidate stage of ER and the standalone band joins:
hot-key cap (blocking.cap_and_salt_blocks, counted by helpers.cap_counts),
key self-join (pairs.block_pairs) and two-sided payload attach
(pairs.attach_sides), on empty input, NULL keys, planted hot keys and
multi-key pairs."""

from pyspark.sql import functions as F

from smaph_spark.config import ERConfig
from smaph_spark.operators.blocking import cap_and_salt_blocks
from smaph_spark.operators.pairs import attach_sides, block_pairs, generate_pairs
from tests.helpers import cap_counts


def _blocks(spark, rows, key_type="string"):
    return spark.createDataFrame(rows, f"block_key {key_type}, record_id long")


def test_cap_empty_input(spark):
    salted, metrics = cap_and_salt_blocks(_blocks(spark, []), ERConfig())
    assert salted.count() == 0
    assert metrics.count() == 0
    assert cap_counts(metrics) == (0, 0, 0)
    assert block_pairs(salted).count() == 0


def test_cap_null_key_never_forms_a_block(spark):
    rows = [(None, 1), (None, 2), (None, 3), ("k", 3), ("k", 4)]
    salted, _ = cap_and_salt_blocks(_blocks(spark, rows), ERConfig())
    assert sorted(r["record_id"] for r in salted.collect()) == [3, 4]
    assert [tuple(r) for r in block_pairs(salted).collect()] == [(3, 4)]


def test_cap_salts_and_drops_long_hot_keys(spark):
    """A hot key typed as long lands in the salted branch, whose
    `key#bucket` string must not be coerced back to long (ANSI
    CAST_INVALID_INPUT); a hotter one is dropped, and both are counted."""
    cfg = ERConfig(max_block_size=3, block_salt_buckets=4)
    rows = ([(7, i) for i in range(8)]            # 3 < 8 <= 12: salted
            + [(8, 100 + i) for i in range(13)]  # 13 > 12: dropped
            + [(9, 200), (9, 201)])              # small: kept as is
    salted, metrics = cap_and_salt_blocks(_blocks(spark, rows, "long"), cfg)
    got = salted.collect()
    assert {r["join_key"].split("#")[0] for r in got if r["block_key"] == "7"} == {"7"}
    assert all("#" in r["join_key"] for r in got if r["block_key"] == "7")
    assert {r["join_key"] for r in got if r["block_key"] == "9"} == {"9"}
    assert not any(r["block_key"] == "8" for r in got)
    assert cap_counts(metrics) == (1, 1, 13)


def test_block_pairs_one_row_per_pair(spark):
    """Records 1 and 2 share three keys: one pair row without
    aggregates; with them, count = 3 and the smallest key as min."""
    rows = [("b", 1), ("b", 2), ("a", 1), ("a", 2), ("c", 1), ("c", 2), ("c", 3)]
    salted, _ = cap_and_salt_blocks(_blocks(spark, rows), ERConfig())
    assert sorted(tuple(r) for r in block_pairs(salted).collect()) == [
        (1, 2), (1, 3), (2, 3)
    ]
    agg = {
        (r["left_id"], r["right_id"]): (r["n"], r["k"])
        for r in block_pairs(
            salted, F.count("*").alias("n"), F.min("block_key").alias("k")
        ).collect()
    }
    assert agg == {(1, 2): (3, "a"), (1, 3): (1, "c"), (2, 3): (1, "c")}
    er = {(r["left_id"], r["right_id"]): r["block_key"]
          for r in generate_pairs(salted, ERConfig()).collect()}
    assert er == {(1, 2): "a", (1, 3): "c", (2, 3): "c"}


def test_attach_sides_adds_each_payload_column_twice(spark):
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "left_id long, right_id long")
    payload = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20)], "record_id long, s string, n int"
    )
    out = attach_sides(pairs, payload)
    assert sorted(out.columns) == ["l_n", "l_s", "left_id", "r_n", "r_s", "right_id"]
    # inner joins: the pair whose right side has no payload is gone
    assert [(r["left_id"], r["right_id"], r["l_s"], r["r_n"])
            for r in out.collect()] == [(1, 2, "x", 20)]
