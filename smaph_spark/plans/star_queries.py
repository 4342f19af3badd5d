"""Named relational queries over the driver star schema + DuckDB oracles.

Every operator class of SURVEY.md §2 is exposed as a named query over
the driver's tables (/root/testdata/sf*/), each paired with an ANSI-SQL
twin that DuckDB runs on the same parquet for the correctness gate
(driver contract in __spark_entry__.py). Column names/aliases match on
both sides; doubles are rounded identically; timestamps stay
TIMESTAMP_NTZ (wall clock — TZ-independent on both engines).

Registry shape: name -> QuerySpec(fn(spark, sf_dir) -> DataFrame,
sql: str | None, survey_ref: str).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None
    survey_ref: str = ""


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def widen(df: DataFrame) -> DataFrame:
    """Adaptively spread a narrowly-partitioned scan across the
    session's parallelism BEFORE per-row-heavy work (Arrow UDFs, regex
    tokenization, higher-order array transforms). The driver tables are
    single-row-group parquet files, so they scan as 1-2 tasks no matter
    the split config — the guide's "input skew: one huge unsplittable
    file ... repartition immediately after the read" case; a CDC
    chunker or minhash pass then runs serially on a 32-core host
    (measured: dd08's chunker 11.6 task-sec over 2 tasks at sf1.0).
    No-op when the input already has >= defaultParallelism partitions
    (a real cluster's many-split scan), so the width tracks the
    session, never a local constant."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


#: Whitespace for token-split regexes as an EXPLICIT class, never \s:
#: Java's \s (Spark) includes \x0b, RE2's (DuckDB) does not — a document
#: containing a vertical tab would silently break oracle parity. Shared
#: by every tokenizing query in BOTH dialects (round-3 ADVICE).
WS_CHARS = r"\t\n\x0b\f\r "
WS_RE = rf"[{WS_CHARS}]+"

QUERIES: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, survey_ref: str = ""):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn=fn, sql=sql, survey_ref=survey_ref)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Wide grouped aggregation (SURVEY A1/A2/A3) — TPC-H Q1 shape
# ---------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ref="A1/A2 (BindingFeaturePack.collapseFeatures:91-139)",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-way broadcast join + agg (J2/J3)
# ---------------------------------------------------------------------------

@register(
    "q02_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    survey_ref="J2/J3 (SmaphAnnotator.java:439-482; AnnotationFeaturePack.java:60-64)",
)
def q02(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (F2; greedy-step anti-join analogue)
# ---------------------------------------------------------------------------

@register(
    "q03_custs_with_big_orders",
    """
    SELECT c.c_mktsegment AS mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 40000)
    GROUP BY c.c_mktsegment
    """,
    survey_ref="F2 semi-join (ERDDatasetFilter.entityIsNE:48-55)",
)
def q03(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 40000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "q04_custs_without_orders",
    """
    SELECT c.c_mktsegment AS mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    survey_ref="anti-join (GreedyLinkback.java:63-64 overlap removal)",
)
def q04(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Selective scan + single agg (predicate pushdown showcase)
# ---------------------------------------------------------------------------

@register(
    "q05_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    survey_ref="F1-style predicate stack; Catalyst pushdown (SURVEY §4)",
)
def q05(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01 00:00:00")
            & (F.col("l_shipdate") < "1995-01-01 00:00:00")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Window top-k per group (W1) + argmax (W4)
# ---------------------------------------------------------------------------

@register(
    "q06_top3_orders_per_cust",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
    survey_ref="W1 top-k (SmaphBuilder.java:58-60)",
)
def q06(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "q07_best_order_per_cust",
    """
    SELECT o_custkey, o_orderkey AS best_orderkey, o_totalprice AS best_price
    FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey DESC) = 1
    """,
    survey_ref="W4 best-binding argmax (CollectiveLinkBack.linkBack:90-120)",
)
def q07(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("best_orderkey"),
            F.col("o_totalprice").alias("best_price"),
        )
    )


# ---------------------------------------------------------------------------
# Cumulative-mass window (W6/F7 anchor truncation)
# ---------------------------------------------------------------------------

@register(
    "q08_cumulative_order_share",
    """
    WITH t AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
             SUM(o_totalprice) OVER (PARTITION BY o_custkey) AS total
      FROM orders)
    SELECT o_custkey, o_orderkey,
           ROUND(running / total, 4) AS cum_share
    FROM t WHERE running <= 0.5 * total
    """,
    survey_ref="W6/F7 cumulative mass (EntityToAnchors.getAnchors:171-199)",
)
def q08(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    running = F.sum("o_totalprice").over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    total = F.sum("o_totalprice").over(W.partitionBy("o_custkey"))
    return (
        o.withColumn("running", running)
        .withColumn("total", total)
        .filter(F.col("running") <= 0.5 * F.col("total"))
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("running") / F.col("total"), 4).alias("cum_share"),
        )
    )


# ---------------------------------------------------------------------------
# Key-frequency predicate (F3 — the hot-key cap kernel)
# ---------------------------------------------------------------------------

@register(
    "q09_frequent_event_types",
    """
    WITH tot AS (SELECT COUNT(*) AS total FROM events)
    SELECT e.event_type, COUNT(*) AS n,
           ROUND(COUNT(*) / ANY_VALUE(t.total), 4) AS freq
    FROM events e CROSS JOIN tot t
    GROUP BY e.event_type
    HAVING COUNT(*) / ANY_VALUE(t.total) >= 0.03
    """,
    survey_ref="F3 frequency filter (FrequencyAnnotationFilter.java:17-24; ratio 0.03 SmaphBuilder.java:61)",
)
def q09(spark, sf_dir):
    # single scan: total via a window over the per-type agg (a handful
    # of rows), not a separate e.count() driver action (round-1 VERDICT)
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count("*").alias("n"))
    total = F.sum("n").over(W.partitionBy())
    return (
        counts.withColumn("_total", total)
        .withColumn("freq", F.round(F.col("n") / F.col("_total"), 4))
        .filter(F.col("n") / F.col("_total") >= 0.03)
        .drop("_total")
    )


# ---------------------------------------------------------------------------
# Set ops (J1/O3 candidate union + dedup)
# ---------------------------------------------------------------------------

@register(
    "q10_union_nations",
    """
    SELECT n_name AS name FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION
    SELECT n_name AS name FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
    survey_ref="J1/O3 union+dedup (QueryInformation.allCandidates:33-44)",
)
def q10(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    a = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("name")
    )
    b = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("name")
    )
    return a.unionByName(b).distinct()


# ---------------------------------------------------------------------------
# min/max/avg collapse (A1) + distinct counts (A11)
# ---------------------------------------------------------------------------

@register(
    "q11_part_stats",
    """
    SELECT p_brand AS brand,
           ROUND(MIN(p_retailprice), 2) AS min_price,
           ROUND(MAX(p_retailprice), 2) AS max_price,
           ROUND(SUM(p_retailprice::DECIMAL(18,2)) / COUNT(*), 4) AS avg_price,
           COUNT(*) AS n_parts,
           COUNT(DISTINCT p_type) AS n_types
    FROM part GROUP BY p_brand
    """,
    survey_ref="A1 (SmaphUtils.getMinMaxAvg:635-650) + A11 distinct counts",
)
def q11(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.groupBy(F.col("p_brand").alias("brand")).agg(
        F.round(F.min("p_retailprice"), 2).alias("min_price"),
        F.round(F.max("p_retailprice"), 2).alias("max_price"),
        # exact decimal sum, not double avg: a knife-edge mean (x.xx375)
        # rounded differently under the engines' float summation orders
        F.round(
            F.sum(F.col("p_retailprice").cast("decimal(18,2)")) / F.count("*"), 4
        ).cast("double").alias("avg_price"),
        F.count("*").alias("n_parts"),
        F.countDistinct("p_type").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# Weighted geometric mean (A6)
# ---------------------------------------------------------------------------

@register(
    "q12_geomean_price",
    """
    SELECT l_returnflag,
           ROUND(EXP(SUM(LN(l_extendedprice) * SQRT(l_quantity))
                 / SUM(SQRT(l_quantity))), 4) AS geo_price
    FROM lineitem WHERE l_extendedprice > 0
    GROUP BY l_returnflag
    """,
    survey_ref="A6 weighted geometric mean (SmaphUtils.weightedGeometricAverage:147-160)",
)
def q12(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    wgt = F.sqrt(F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.exp(F.sum(F.log(F.col("l_extendedprice")) * wgt) / F.sum(wgt)), 4
        ).alias("geo_price")
    )


# ---------------------------------------------------------------------------
# Sessionization (X14 collapse/sessionize) — lag + cumsum gap sessions
# ---------------------------------------------------------------------------

@register(
    "q13_sessionize_events",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('microsecond',
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps)
    SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id
    """,
    survey_ref="X14 sessionize (SmaphUtils.collapseBinding:652-682)",
)
def q13(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microsecond gap on both engines: DuckDB date_diff('second')
    # counts boundary crossings while Spark timestampdiff(SECOND) floors
    # the elapsed time — microseconds are exact integers on both
    gap_us = F.expr("timestampdiff(MICROSECOND, lag_ts, ts)")
    new_session = F.when(
        F.col("lag_ts").isNull() | (gap_us > 1_800_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = (
        e.withColumn("lag_ts", F.lag("ts").over(w))
        .withColumn("new_session", new_session)
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                W.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
    )
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Run-collapse (X14 exact shape: merge consecutive same-key runs)
# ---------------------------------------------------------------------------

@register(
    "q14_collapse_event_runs",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type IS DISTINCT FROM
                  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS boundary
      FROM events),
    runs AS (
      SELECT user_id, event_type, value,
             SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      FROM marked)
    SELECT user_id, COUNT(DISTINCT run_id) AS n_runs
    FROM runs GROUP BY user_id
    """,
    survey_ref="X14 collapseBinding run-merge (SmaphUtils.java:652-682)",
)
def q14(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    boundary = F.when(
        ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w)), 1
    ).otherwise(0)
    runs = e.withColumn("boundary", boundary).withColumn(
        "run_id",
        F.sum("boundary").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return runs.groupBy("user_id").agg(
        F.countDistinct("run_id").alias("n_runs")
    )


# ---------------------------------------------------------------------------
# Rollup (grouping sets) + pivot-style conditional agg
# ---------------------------------------------------------------------------

@register(
    "q15_rollup_quantity",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    survey_ref="grouped agg generalization of A2",
)
def q15(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
        )
    )


@register(
    "q16_pivot_status",
    """
    SELECT l_returnflag AS returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_open,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
    survey_ref="pivot via conditional agg",
)
def q16(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0)), 2
        ).alias("qty_open"),
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0)), 2
        ).alias("qty_filled"),
    )


# ---------------------------------------------------------------------------
# z-score normalization (M1, σ=0 degenerate rule)
# ---------------------------------------------------------------------------

@register(
    "q17_zscore_acctbal",
    """
    WITH stats AS (
      SELECT c_mktsegment,
             AVG(c_acctbal) AS mu,
             STDDEV_POP(c_acctbal) AS sigma
      FROM customer GROUP BY c_mktsegment)
    SELECT c.c_custkey,
           ROUND(CASE WHEN s.sigma = 0 THEN c.c_acctbal - s.mu
                      ELSE (c.c_acctbal - s.mu) / s.sigma END, 4) AS z
    FROM customer c JOIN stats s ON c.c_mktsegment = s.c_mktsegment
    """,
    survey_ref="M1 z-score w/ degenerate σ (ZScoreFeatureNormalizer.java:77-92)",
)
def q17(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    stats = c.groupBy("c_mktsegment").agg(
        F.avg("c_acctbal").alias("mu"),
        F.stddev_pop("c_acctbal").alias("sigma"),
    )
    joined = c.join(F.broadcast(stats), "c_mktsegment")
    z = F.when(F.col("sigma") == 0, F.col("c_acctbal") - F.col("mu")).otherwise(
        (F.col("c_acctbal") - F.col("mu")) / F.col("sigma")
    )
    return joined.select("c_custkey", F.round(z, 4).alias("z"))


# ---------------------------------------------------------------------------
# Threshold sweep over a literal grid (W7)
# ---------------------------------------------------------------------------

@register(
    "q18_threshold_sweep",
    """
    SELECT t.thr, COUNT(*) FILTER (WHERE o.o_totalprice >= t.thr) AS n_above
    FROM orders o
    CROSS JOIN (SELECT UNNEST([10000.0, 25000.0, 50000.0, 100000.0, 200000.0]) AS thr) t
    GROUP BY t.thr
    """,
    survey_ref="W7 threshold sweep (ParameterTester.java:202-253)",
)
def q18(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    grid = spark.createDataFrame(
        [(t,) for t in [10000.0, 25000.0, 50000.0, 100000.0, 200000.0]], ["thr"]
    )
    return (
        o.crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum((F.col("o_totalprice") >= F.col("thr")).cast("long")).alias(
                "n_above"
            )
        )
    )


# ---------------------------------------------------------------------------
# Tumbling window over event time (streaming-shape batch query)
# ---------------------------------------------------------------------------

@register(
    "q19_hourly_event_counts",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    survey_ref="§2.9 streaming recast: tumbling window agg",
)
def q19(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Block-style self-join with theta dedup (J4 shape on documents)
# ---------------------------------------------------------------------------

@register(
    "q21_order_key_lists",
    """
    SELECT o_custkey,
           array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS order_keys,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
    survey_ref="S6 grouped-array ETL (EntityToAnchors.createDB:78-158 collect_list)",
)
def q21(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.sort_array(F.collect_list("o_orderkey")), ","
        ).alias("order_keys"),
        F.count("*").alias("n_orders"),
    )


@register(
    "q20_doc_block_pairs",
    """
    WITH d AS (SELECT doc_id, lang, CAST(FLOOR(n_chars / 100) AS BIGINT) AS bucket
               FROM documents)
    SELECT a.lang, a.bucket, COUNT(*) AS n_pairs
    FROM d a JOIN d b ON a.lang = b.lang AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id
    GROUP BY a.lang, a.bucket
    """,
    survey_ref="J4 block-local self-join (IndividualLinkback.getAnnotations:43-67)",
)
def q20(spark, sf_dir):
    # Round-6: the per-group pair count is computed ARITHMETICALLY from
    # group sizes instead of materializing the block self-join —
    # doc_id is the table key (distinct), so the number of (a, b) rows
    # with a.doc_id < b.doc_id inside one (lang, bucket) block is
    # exactly n·(n-1)/2 (guide §1.2: don't compute things you throw
    # away; same recast er05 uses for its all-pairs baseline). NULL
    # lang/bucket groups are dropped to match the oracle's equi-join
    # NULL semantics, and n >= 2 matches the join emitting no row for
    # singleton blocks. The J4 self-join shape itself stays exercised
    # by the ER pipeline's generate_pairs (er01/er02) and er05's banded
    # join. Before: one 2-task stage, 9.6 task-sec at sf1.0 (the
    # single-row-group scan kept the exploding join on 2 cores).
    d = (
        load(spark, sf_dir, "documents")
        .select(
            "lang",
            F.floor(F.col("n_chars") / 100).cast("long").alias("bucket"),
        )
        .filter(F.col("lang").isNotNull() & F.col("bucket").isNotNull())
    )
    n = F.col("n")
    return (
        d.groupBy("lang", "bucket")
        .agg(F.count("*").alias("n"))
        .filter(n >= 2)
        .select(
            "lang", "bucket",
            # integer DIV (n·(n-1) is even — exact), same idiom as er05
            F.expr("n * (n - 1) DIV 2").alias("n_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join (q22): most recent order at-or-before each event, per user
# — the temporal feature-backfill operator (operators/asof.py); oracle
# uses DuckDB's native ASOF JOIN. Output projects the as-of TIME (always
# deterministic) rather than a tied order row's payload.
# ---------------------------------------------------------------------------

@register(
    "q22_event_asof_order",
    """
    SELECT e.event_id, e.user_id,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS asof_orderdate
    FROM events e ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    survey_ref="as-of join (beyond-reference temporal op; union+window "
               "single-shuffle recast, operators/asof.py)",
)
def q22(spark, sf_dir):
    from smaph_spark.operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    joined = asof_join(
        e.select("event_id", "user_id", "ts"),
        o.withColumnRenamed("o_custkey", "user_id").select(
            "user_id", "o_orderdate"
        ),
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
    )
    return joined.select(
        "event_id", "user_id",
        F.date_format("asof_time", "yyyy-MM-dd HH:mm:ss").alias(
            "asof_orderdate"
        ),
    )


# ---------------------------------------------------------------------------
# Discrete quantiles (q23): per-group exact order statistics. At 100 TB
# the exact path is ONE hash-agg shuffle on the group key (Spark's
# percentile_disc is a single-pass typed aggregate, no global sort);
# the sketch path for group counts too large for exact is sk01
# (approx_percentile / KLL-style). percentile_disc (not the
# interpolating percentile) so both engines return actual data values —
# no float-interpolation knife edges in the value hash.
# ---------------------------------------------------------------------------

@register(
    "q23_price_quantiles",
    """
    SELECT p_brand,
           quantile_disc(p_retailprice, 0.25) AS p25,
           quantile_disc(p_retailprice, 0.50) AS p50,
           quantile_disc(p_retailprice, 0.90) AS p90,
           COUNT(*) AS n_parts
    FROM part GROUP BY p_brand
    """,
    survey_ref="A1-family order statistics (beyond-reference: exact "
               "per-group quantiles as one hash-agg, sketch twin in sk01)",
)
def q23(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.expr(
            "percentile_disc(0.25) WITHIN GROUP (ORDER BY p_retailprice)"
        ).alias("p25"),
        F.expr(
            "percentile_disc(0.50) WITHIN GROUP (ORDER BY p_retailprice)"
        ).alias("p50"),
        F.expr(
            "percentile_disc(0.90) WITHIN GROUP (ORDER BY p_retailprice)"
        ).alias("p90"),
        F.count("*").alias("n_parts"),
    )


# ---------------------------------------------------------------------------
# Range (interval) join (q24): events correlated to same-user events in
# the trailing hour — the temporal-context / burst-detection operator.
# Naive Spark: the pure range predicate degenerates to
# BroadcastNestedLoopJoin (O(L x R)); operators/rangejoin.py recasts it
# as a bucketed equi-join (probe side explodes to the 2 overlapped
# hour-buckets) + exact window filter. Oracle: DuckDB's native
# inequality join.
# ---------------------------------------------------------------------------

@register(
    "q24_error_context_events",
    """
    SELECT e.event_id, COUNT(c.event_id) AS n_ctx
    FROM events e
    LEFT JOIN events c
      ON c.user_id = e.user_id
     AND c.event_id <> e.event_id
     AND c.ts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
    survey_ref="range join (beyond-reference temporal op; bucketed "
               "equi-join recast, operators/rangejoin.py)",
)
def q24(spark, sf_dir):
    from smaph_spark.operators.rangejoin import interval_join

    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    ctx = ev.select(
        "user_id",
        F.col("event_id").alias("c_event_id"),
        F.col("ts").alias("c_ts"),
    )
    hits = interval_join(
        errors, ctx, "ts", "c_ts", -3600, 0, extra_on=["user_id"]
    ).filter(F.col("c_event_id") != F.col("event_id"))
    counts = hits.groupBy("event_id").agg(F.count("*").alias("n_ctx"))
    # LEFT-join semantics: errors with an empty window keep n_ctx = 0
    return (
        errors.select("event_id")
        .join(counts, "event_id", "left")
        .select("event_id", F.coalesce("n_ctx", F.lit(0)).alias("n_ctx"))
    )


# ---------------------------------------------------------------------------
# CUBE lattice (q25): all 2^k grouping combinations in ONE pass —
# completes the grouping-sets family (q15 ROLLUP, q16 pivot). Spark
# expands the lattice map-side and aggregates once (a single shuffle,
# not 4 scans); GROUPING() markers disambiguate subtotal NULLs from
# data NULLs, which also makes the cross-engine hash well-defined.
# ---------------------------------------------------------------------------

@register(
    "q25_event_type_hour_cube",
    """
    SELECT event_type,
           EXTRACT(hour FROM ts)::BIGINT AS h,
           GROUPING(event_type)::BIGINT AS g_type,
           GROUPING(EXTRACT(hour FROM ts))::BIGINT AS g_hour,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_cents
    FROM events
    GROUP BY CUBE(event_type, EXTRACT(hour FROM ts))
    """,
    survey_ref="grouping-sets lattice (beyond-reference: single-pass "
               "multi-granularity aggregate; q15/q16 siblings)",
)
def q25(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("h"),
        # exact integer cents: double SUM order differs across engines,
        # floor-to-int does not
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return ev.cube("event_type", "h").agg(
        F.grouping("event_type").cast("long").alias("g_type"),
        F.grouping("h").cast("long").alias("g_hour"),
        F.count("*").alias("n"),
        F.sum("cents").alias("sum_value_cents"),
    ).select(
        "event_type", "h", "g_type", "g_hour", "n", "sum_value_cents"
    )


# ---------------------------------------------------------------------------
# Cascaded time rollup (q26): the hypertable / continuous-aggregate
# pattern — DAILY aggregates computed FROM the hourly partials, not
# from raw. At 100 TB the hourly materialization is the only scan of
# the event stream; every coarser granularity re-aggregates the
# (tiny) finer one. Correct because count/sum are mergeable; the
# oracle computes daily straight from raw, proving partial
# re-aggregation loses nothing.
# ---------------------------------------------------------------------------

@register(
    "q26_daily_from_hourly",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_cents
    FROM events GROUP BY 1, 2
    """,
    survey_ref="hypertable rollup (beyond-reference: cascaded "
               "multi-granularity aggregation from mergeable partials)",
)
def q26(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    hourly = ev.groupBy("hour", "event_type").agg(
        F.count("*").alias("n"), F.sum("cents").alias("sum_cents")
    )
    # daily = merge of hourly partials (never re-reads raw events)
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_cents").alias("sum_value_cents"),
        )
    )
