"""Relational operator surface (SURVEY.md §2.3): the queries the
reference delegates to Catalyst — scan, projection, the full filter
zoo (§2.2), equi/semi/anti joins, aggregation, distinct, sort, limit,
SQL-over-temp-view, windows, set ops, rollup/cube, pivot.

Each query is declarative DataFrame/SQL: Catalyst pushes filters and
prunes columns into the parquet scan, AQE picks join strategies at
runtime. Small dimension tables (region/nation/supplier/part/customer)
are explicitly broadcast where the join is guaranteed small-vs-large —
at 100 TB the lineitem side never shuffles for those joins.

Reference evidence for the surface: DefaultSourceSuite.scala:206-324
(filter zoo, counts), :248-262 (SQL agg), JoinTablesFrom2Clusters.scala:133
(join), :135 (sort), DefaultSourceSuite.scala:388 (distinct).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from shc_spark.io import read_parquet

QUERIES: dict = {}
ORACLE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # schema-memoized read (shc_spark/io.py): no per-call inference job
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped ts as either TIMESTAMP(NANOS) (older
    testdata generations — Spark's vectorized reader rejects it, so read
    nanos as long and truncate to micros, matching DuckDB's nanos->micros
    truncation) or TIMESTAMP(MICROS) (current testdata — read natively).
    Adapt to whatever the file declares so both Spark and the DuckDB
    oracle see identical values."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # memo-safe: session.load_tables also reads events.parquet through
    # the memo without setting nanosAsLong. Its schema still cannot go
    # stale: the conf stays set once this helper ran, and before that a
    # NANOS file fails inference (nothing memoized) while a MICROS file
    # infers the same schema under either setting
    df = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # normalize NTZ -> TIMESTAMP (value-preserving: session tz is UTC) so the
    # result schema is identical across testdata generations
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# --------------------------------------------------------------------------
# q01: TPC-H Q1 pricing summary — groupBy + 8 aggregates over lineitem.
# Map-side partial aggregation (Spark HashAggregate) means the shuffle
# carries ≤ |groups| rows per task regardless of scale.
@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# q02: projection + filter pushdown — raw row passthrough, no arithmetic,
# so values match the oracle bit-for-bit. Catalyst pushes both predicates
# into the parquet scan (PushedFilters) and prunes to 4 columns (ReadSchema).
@register(
    "q02_filter_scan",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity >= 47 AND l_discount > 0.08
    """,
)
def q02_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") >= 47) & (F.col("l_discount") > 0.08)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# q03: shipping-priority style 3-way join + top-k. Broadcast the filtered
# customer dim; order by (rounded revenue, key) so the LIMIT is deterministic.
@register(
    "q03_top_revenue_orders",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("orderdate"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# q04: EXISTS → left-semi join (no row duplication, no fan-out shuffle).
@register(
    "q04_priority_semi_join",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 48)
    GROUP BY o_orderpriority
    """,
)
def q04_priority_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 48)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# q05: 6-table star join (region→nation→{customer,supplier}→orders→lineitem).
# All dims broadcast; only orders⋈lineitem is a real shuffle at scale.
@register(
    "q05_local_supplier_volume",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp.select("s_suppkey", "s_nationkey"),
            (li.l_suppkey == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# q06: scalar filter-aggregate (TPC-H Q6 shape) — fully pushed-down scan.
@register(
    "q06_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


# q10: returned-items report — join + group + top-k per revenue.
@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           c_acctbal
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_name", "c_acctbal"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# anti join: NOT EXISTS — customers with no orders.
@register(
    "q_anti_join_customers",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# left outer join with null-producing side + conditional aggregation.
@register(
    "q_left_join_order_counts",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q_left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


# The reference's filter zoo (§2.2): IN / NOT-IN set-difference semantics
# (HBaseFilter.scala:252-266), string startsWith/endsWith/contains
# (HBaseFilter.scala:320-368), compound AND/OR (DefaultSourceSuite.scala:236-246).
@register(
    "q_filter_in_notin",
    """
    SELECT l_linenumber, count(*) AS n
    FROM lineitem
    WHERE l_linenumber IN (1, 3, 5, 7) AND l_linenumber NOT IN (3, 7)
    GROUP BY l_linenumber
    """,
)
def q_filter_in_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_linenumber").isin(1, 3, 5, 7) & ~F.col("l_linenumber").isin(3, 7))
        .groupBy("l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_filter_string_zoo",
    """
    SELECT
      count(*) FILTER (WHERE p_name LIKE 'bl%')       AS n_prefix,
      count(*) FILTER (WHERE p_name LIKE '%d')        AS n_suffix,
      count(*) FILTER (WHERE p_type LIKE '%BRASS%')   AS n_contains,
      count(*) FILTER (WHERE p_type NOT LIKE '%BRASS%') AS n_not_contains,
      count(*) FILTER (WHERE p_brand = 'Brand#23' OR (p_size >= 10 AND p_size < 20)) AS n_compound
    FROM part
    """,
)
def q_filter_string_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.agg(
        F.count(F.when(F.col("p_name").startswith("bl"), 1)).alias("n_prefix"),
        F.count(F.when(F.col("p_name").endswith("d"), 1)).alias("n_suffix"),
        F.count(F.when(F.col("p_type").contains("BRASS"), 1)).alias("n_contains"),
        F.count(F.when(~F.col("p_type").contains("BRASS"), 1)).alias("n_not_contains"),
        F.count(
            F.when(
                (F.col("p_brand") == "Brand#23")
                | ((F.col("p_size") >= 10) & (F.col("p_size") < 20)),
                1,
            )
        ).alias("n_compound"),
    )


# distinct (DefaultSourceSuite.scala:388).
@register(
    "q_distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# SQL over temp view (README.md:114-120, DefaultSourceSuite.scala:248-262).
@register(
    "q_sql_tempview_agg",
    """
    SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
    FROM orders WHERE o_custkey < 500 GROUP BY o_orderstatus
    """,
)
def q_sql_tempview_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
        FROM orders WHERE o_custkey < 500 GROUP BY o_orderstatus
        """
    )


# set operations: UNION / INTERSECT / EXCEPT (distinct semantics both engines).
@register(
    "q_set_ops",
    """
    WITH big_spenders AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000),
         urgent       AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'union' AS op, count(*) AS n FROM (SELECT custkey FROM big_spenders UNION SELECT custkey FROM urgent)
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n FROM (SELECT custkey FROM big_spenders INTERSECT SELECT custkey FROM urgent)
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM (SELECT custkey FROM big_spenders EXCEPT SELECT custkey FROM urgent)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("custkey")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    rows = [
        big.union(urgent).distinct().agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("union").alias("op"), "n"
        ),
        big.intersect(urgent).agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("intersect").alias("op"), "n"
        ),
        big.subtract(urgent).agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("except").alias("op"), "n"
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# rollup: hierarchical totals with NULL group markers (same in DuckDB).
@register(
    "q_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


# cube over two dims.
@register(
    "q_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# pivot → conditional aggregation (FILTER clauses in the oracle).
@register(
    "q_pivot_linestatus",
    """
    SELECT l_returnflag,
           round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 0), 2) AS qty_O,
           round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 0), 2) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
    )
    return piv.select(
        "l_returnflag",
        F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("qty_O"),
        F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("qty_F"),
    )


# window: top-3 orders per customer segment by price (rank) — deterministic
# tie-break on orderkey.
@register(
    "q_window_topk_per_segment",
    """
    SELECT * FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3
    """,
)
def q_window_topk_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


# window: running (cumulative) aggregate per key ordered by event time.
@register(
    "q_window_running_sum",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value,
           lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event
    FROM events WHERE user_id < 10
    """,
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 10)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2).alias(
            "running_value"
        ),
        F.lag("event_id").over(w).alias("prev_event"),
    )


# r13: deterministic-sampling quantile sketch — the quantile member of
# the mergeable-sketch family (KMV distincts, Misra-Gries heavy
# hitters). The sample is a pure md5-band FILTER (map-only, pushes
# into the scan; the sample of a union == union of same-rate samples,
# so persisted per-shard sketches merge exactly), and the estimates
# are linear-interpolated percentiles over the sample — Spark
# percentile == DuckDB quantile_cont (the r-7 definition), so the
# whole sketch is value-exact, like kmv_sketch's md5 design.
@register(
    "q_quantile_sketch",
    """
    WITH s AS (
      SELECT l_returnflag AS grp, l_extendedprice AS val
      FROM lineitem
      WHERE substr(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 2) < '20'
    ), q AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS sample_n,
             quantile_cont(val, 0.5)  AS q50,
             quantile_cont(val, 0.9)  AS q90,
             quantile_cont(val, 0.99) AS q99
      FROM s GROUP BY grp
    )
    SELECT grp, CAST(0.5 AS DOUBLE) AS q, round(q50, 4) AS value_est, sample_n FROM q
    UNION ALL
    SELECT grp, CAST(0.9 AS DOUBLE), round(q90, 4), sample_n FROM q
    UNION ALL
    SELECT grp, CAST(0.99 AS DOUBLE), round(q99, 4), sample_n FROM q
    """,
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import sketch

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "rid", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    sk = sketch.quantile_sketch(li, "l_returnflag", "l_extendedprice", "rid")
    return sketch.quantile_sketch_query(sk, qs=(0.5, 0.9, 0.99))


# r14 (VERDICT r13 #5): the sketch's MERGE identity pinned end-to-end
# as a driver-checked gate — the Spark side builds TWO per-shard
# sketches (orderkey parity), merges them with unionByName (the
# documented merge operation), and queries the MERGED sketch; the
# oracle replays the WHOLE-CORPUS sketch. The hash can only match if
# union-of-samples == sample-of-union holds through to the quantile
# values — the claim in quantile_sketch's docstring, now driver-gated
# rather than asserted.
@register("q_quantile_sketch_merged", None)  # oracle attached below
def q_quantile_sketch_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import sketch

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "rid", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    shard_a = li.filter(F.col("l_orderkey") % 2 == 0)
    shard_b = li.filter(F.col("l_orderkey") % 2 == 1)
    merged = sketch.quantile_sketch(
        shard_a, "l_returnflag", "l_extendedprice", "rid"
    ).unionByName(
        sketch.quantile_sketch(shard_b, "l_returnflag", "l_extendedprice", "rid")
    )
    return sketch.quantile_sketch_query(merged, qs=(0.5, 0.9, 0.99))


# the merged-sketch gate's oracle IS the whole-corpus sketch replay:
# identical SQL to q_quantile_sketch, so a hash match proves the merge
# identity through to the quantile values.
ORACLE["q_quantile_sketch_merged"] = ORACLE["q_quantile_sketch"]


# statistics aggregates: min/max/stddev/variance/median-free percentile-free
# (approx versions are rows-only checked elsewhere).
@register(
    "q_agg_stats",
    """
    SELECT o_orderstatus,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           round(stddev_samp(o_totalprice), 2) AS sd_price,
           round(sum(o_totalprice), 2) AS sum_price,
           count(DISTINCT o_custkey) AS n_custs
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.stddev_samp("o_totalprice"), 2).alias("sd_price"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
    )


# correlated scalar subquery → join against a grouped aggregate.
@register(
    "q_above_avg_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders i
                              WHERE i.o_custkey = o.o_custkey)
    """,
)
def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    avgs = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.avg("o_totalprice").alias("avg_price")
    )
    return (
        orders.join(avgs, orders.o_custkey == avgs.ck)
        .filter(F.col("o_totalprice") > 2 * F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# grouped having + join reordering fodder: brand stats over joined part/lineitem.
@register(
    "q_part_brand_volume",
    """
    SELECT p_brand, round(sum(l_quantity), 2) AS total_qty, count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size >= 30
    GROUP BY p_brand
    HAVING count(*) > 50
    """,
)
def q_part_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 30)
    return (
        li.join(part.select("p_partkey", "p_brand"), li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .filter(F.col("n_lines") > 50)
    )


# approximate aggregates — the sketches are algorithm-specific, but
# their ERROR CONTRACTS are checkable (VERDICT r6 #2): per group the
# gate computes the exact values in the same Spark job and asserts
# HLL++ relative error within 3x its 5% default rsd and the approx
# median inside the exact p35-p65 band. At 100 TB these replace exact
# countDistinct: fixed-size sketch per group vs unbounded hash set.
@register(
    "q_approx_distinct",
    """
    SELECT DISTINCT l_returnflag, TRUE AS distinct_err_ok, TRUE AS median_ok
    FROM lineitem
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("median_price"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.expr("percentile(l_extendedprice, 0.35)").alias("p35"),
        F.expr("percentile(l_extendedprice, 0.65)").alias("p65"),
    )
    rel_err = F.abs(F.col("approx_orders") - F.col("exact_orders")) / F.col("exact_orders")
    return g.select(
        "l_returnflag",
        (rel_err <= 0.15).alias("distinct_err_ok"),
        ((F.col("median_price") >= F.col("p35")) & (F.col("median_price") <= F.col("p65"))).alias("median_ok"),
    )


# as-of join — an operator Spark lacks natively (guide: "As-of / range
# join"): for each purchase event, the most recent click at-or-before
# it by the same user. Implemented shuffle-once: union both streams,
# one window pass with last(ignorenulls) — no per-group pandas, no
# range-explode. The oracle is DuckDB's native ASOF JOIN.
@register(
    "q_asof_join",
    """
    WITH purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         clicks    AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS prev_click_ts
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("tag")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("tag"),
    )
    un = purchases.unionByName(clicks).withColumn(
        "click_ts", F.when(F.col("tag") == 0, F.col("ts"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag")  # click sorts before purchase at equal ts => >= semantics
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        un.withColumn("prev_click", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format("prev_click", "yyyy-MM-dd HH:mm:ss").alias("prev_click_ts"),
        )
    )


# semi-structured JSON column: extract + aggregate (props is a JSON string).
@register(
    "q_json_props",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.count(F.lit(1)).alias("n"),
    )


# grouping sets (explicit, beyond rollup/cube).
@register(
    "q_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


# unpivot / stack: wide -> long.
@register(
    "q_unpivot",
    """
    SELECT o_orderkey, metric, val FROM (
      SELECT o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS totalprice,
             CAST(o_custkey AS DOUBLE) AS custkey
      FROM orders WHERE o_orderkey < 100
    ) UNPIVOT (val FOR metric IN (totalprice, custkey))
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    return orders.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'totalprice', CAST(o_totalprice AS DOUBLE), "
            "'custkey', CAST(o_custkey AS DOUBLE)) AS (metric, val)"
        ),
    )


# q07-style: bi-directional nation-pair trade volume (self-join on the
# nation dim twice, yearly buckets).
@register(
    "q07_nation_trade",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    """,
)
def q07_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


# q09-style: profit by nation and year over part/supplier/lineitem/orders.
@register(
    "q09_product_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS amount
    FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red")).select("p_partkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("amount"))
    )


# q12-style: priority mix per year (CASE aggregation over a date bucket).
@register(
    "q12_priority_mix",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_count,
           count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_count
    FROM orders GROUP BY 1
    """,
)
def q12_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return orders.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.count(F.when(hi, 1)).alias("high_count"),
        F.count(F.when(~hi, 1)).alias("low_count"),
    )


# q14-style: promo revenue share (conditional / total aggregate ratio).
@register(
    "q14_promo_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share")
        )
    )


# q18-style: large-volume customers (HAVING over a join aggregate).
@register(
    "q18_large_orders",
    """
    SELECT c_custkey, o_orderkey, round(sum(l_quantity), 2) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey
    HAVING sum(l_quantity) > 250
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "o_orderkey")
        .agg(F.sum("l_quantity").alias("__raw_qty"))
        .filter(F.col("__raw_qty") > 250)  # HAVING on the UNROUNDED sum, like the oracle
        .select("c_custkey", "o_orderkey", F.round(F.col("__raw_qty"), 2).alias("total_qty"))
    )


# q19-style: complex multi-branch disjunctive predicate across a join.
@register(
    "q19_disjunctive_filter",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(part, li.l_partkey == part.p_partkey)

    def branch(brand, smax, qlo, qhi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, smax)
            & F.col("l_quantity").between(qlo, qhi)
        )

    return j.filter(
        branch("Brand#12", 15, 1, 21) | branch("Brand#23", 25, 10, 30) | branch("Brand#3", 35, 20, 40)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


# q22-style: customers with above-average balance and no orders
# (scalar subquery + anti join).
@register(
    "q22_idle_rich_customers",
    """
    SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_totalprice > 300000)
    GROUP BY c_nationkey
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    # scalar subquery as a broadcast single-row join: the whole plan
    # stays lazy and the scalar never round-trips through the driver
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("__avg_bal"))
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
    )


# salted join (skew mitigation): the explicit (key, salt) spread must
# be RESULT-identical to the plain join — the oracle is the unsalted
# SQL join, so multiplicity preservation is value-checked by the
# driver, not just pytest.
@register(
    "q_salted_join",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 250000
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    joined = salted_join(orders, cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
    return joined.select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


# range join — bucketize + equi-join on (bucket, bucket±1) + exact
# re-filter: the scalable pattern for interval joins (a naive theta
# join is quadratic). Pairs of events by the same user within 5
# minutes of each other. Oracle: DuckDB's native inequality join.
@register(
    "q_range_join",
    """
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts", F.unix_micros("ts").alias("us")
    )
    bucket_us = 5 * 60 * 1_000_000
    a = ev.select(
        F.col("event_id").alias("id_a"),
        F.col("user_id"),
        F.col("us").alias("us_a"),
        F.floor(F.col("us") / bucket_us).alias("bkt"),
    )
    # each left row probes its own bucket and the next (a 5-min window
    # spans at most 2 buckets)
    a = a.withColumn("probe", F.explode(F.array(F.col("bkt"), F.col("bkt") + 1))).drop("bkt")
    b = ev.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id"),
        F.col("us").alias("us_b"),
        F.floor(F.col("us") / bucket_us).alias("probe"),
    )
    return (
        a.join(b, ["user_id", "probe"])
        .filter((F.col("us_b") > F.col("us_a")) & (F.col("us_b") <= F.col("us_a") + bucket_us))
        .select("id_a", "id_b", (F.col("us_b") - F.col("us_a")).alias("gap_us"))
    )


# exact percentiles (interpolated) + datetime function battery.
@register(
    "q_percentiles_datetime",
    """
    WITH g AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(month(o_orderdate) AS INT) AS o_month,
             list_sort(list(o_totalprice)) AS vals
      FROM orders WHERE dayofweek(o_orderdate) NOT IN (0, 6)
      GROUP BY 1, 2)
    SELECT o_year, o_month,
           vals[CAST(floor((len(vals) - 1) * 0.5) AS INT) + 1] AS p50,
           vals[CAST(floor((len(vals) - 1) * 0.9) AS INT) + 1] AS p90,
           CAST(len(vals) AS BIGINT) AS n
    FROM g
    """,
)
def q_percentiles_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    # discrete percentile (element at floor((n-1)*p)) — identical
    # element selection on both engines, no interpolation ulps;
    # DuckDB dayofweek: 0=Sunday..6=Saturday; Spark dayofweek: 1=Sunday..7.
    # Selection happens via a sort-based WINDOW (row_number against the
    # per-group count), not collect_list: window sorts spill to disk,
    # so a hot (year, month) group can't blow executor memory at 100x
    # (round-1 VERDICT flagged the collect_list variant as the one
    # unbounded-state aggregation left in the repo).
    from pyspark.sql import Window as W

    wd = orders.filter(~(F.dayofweek("o_orderdate") - 1).isin(0, 6)).select(
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        "o_totalprice",
    )
    w = W.partitionBy("o_year", "o_month").orderBy("o_totalprice")
    ranked = wd.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy("o_year", "o_month"))
    )

    def pick(p):
        idx = F.floor((F.col("n") - 1) * F.lit(p)).cast("int") + 1
        return F.max(F.when(F.col("rn") == idx, F.col("o_totalprice")))

    return ranked.groupBy("o_year", "o_month").agg(
        pick(0.5).alias("p50"),
        pick(0.9).alias("p90"),
        F.max("n").alias("n"),
    )


# string function battery incl. levenshtein (both engines implement it).
@register(
    "q_string_functions",
    """
    SELECT p_partkey,
           upper(p_name) AS uname,
           substr(p_name, 1, 5) AS prefix5,
           length(p_name) AS name_len,
           levenshtein(p_brand, 'Brand#1') AS brand_dist,
           concat(p_brand, '/', p_type) AS brand_type,
           replace(p_name, ' ', '_') AS snake
    FROM part WHERE p_partkey <= 200
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.length("p_name").cast("long").alias("name_len"),
        F.levenshtein("p_brand", F.lit("Brand#1")).cast("long").alias("brand_dist"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
    )


# array function battery over the embeddings vectors.
@register(
    "q_array_functions",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS vec_sum,
           round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS vec_max,
           round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 4) AS head_sum,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive
    FROM embeddings WHERE vec_id < 100
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 4).alias("vec_sum"),
        F.round(F.array_max(dbl), 4).alias("vec_max"),
        F.round(
            F.aggregate(F.slice(dbl, 1, 8), F.lit(0.0), lambda a, x: a + x), 4
        ).alias("head_sum"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
    )


# the sampled row SET is engine-specific (Spark's XORShiftRandom),
# but the sampling CONTRACT is checkable (VERDICT r6 #2): the sample
# size must sit inside a 5-sigma binomial band around fraction*N,
# and every sampled row must exist in the source (semi-join back).
@register(
    "q_sample",
    """
    SELECT TRUE AS size_ok, TRUE AS subset_ok,
           CAST(floor(count(*) * 0.01 / 50 + 0.5) * 50 AS BIGINT) AS expected_bucket
    FROM lineitem
    """,
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = li.sample(fraction=0.01, seed=42).select("l_orderkey", "l_linenumber")
    n_src = li.count()
    expect = 0.01 * n_src
    lo, hi = expect - 5 * (expect * 0.99) ** 0.5, expect + 5 * (expect * 0.99) ** 0.5
    n = s.count()
    n_in_src = s.join(
        li.select("l_orderkey", "l_linenumber").distinct(),
        ["l_orderkey", "l_linenumber"],
        "left_semi",
    ).count()
    return li.sparkSession.createDataFrame(
        # floor(x+0.5) on BOTH sides: Python round() is half-to-even,
        # DuckDB round() half-away — a .5 boundary would disagree.
        [(bool(lo <= n <= hi), bool(n_in_src == n and n > 0),
          int(math.floor(expect / 50 + 0.5) * 50))],
        "size_ok boolean, subset_ok boolean, expected_bucket long",
    )


# window rank battery: dense_rank / ntile / percent_rank / cume_dist.
@register(
    "q_window_ranks",
    """
    SELECT o_orderkey, o_orderstatus,
           dense_rank()   OVER w AS drank,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           round(percent_rank() OVER w, 6) AS prank,
           round(cume_dist() OVER w, 6) AS cdist
    FROM orders
    WHERE o_orderkey <= 500
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.dense_rank().over(w).alias("drank"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


# window first/last with explicit frames.
@register(
    "q_window_first_last",
    """
    SELECT user_id, event_id,
           first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_event,
           last_value(event_id)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event
    FROM events WHERE user_id < 20
    """,
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id").over(wfull).alias("last_event"),
        F.lead("event_id").over(w).alias("next_event"),
    )


# NOT IN with a nullable subquery — three-valued logic corner: any NULL
# in the NOT IN list makes every row non-matching. Both engines must
# agree; the list here is made nullable via a CASE.
@register(
    "q_conditional_null_semantics",
    """
    SELECT c_mktsegment,
           count(*) AS n,
           count(nullif(c_nationkey, 0)) AS n_nonzero_nation,
           CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_bal,
           round(coalesce(avg(CASE WHEN c_acctbal > 0 THEN c_acctbal END), -1), 4) AS avg_pos_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_conditional_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.nullif(F.col("c_nationkey"), F.lit(0))).alias("n_nonzero_nation"),
        F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0)).alias("n_null_bal"),
        F.round(
            F.coalesce(F.avg(F.when(F.col("c_acctbal") > 0, F.col("c_acctbal"))), F.lit(-1.0)),
            4,
        ).alias("avg_pos_bal"),
    )


# custom grouped operator via applyInPandas: per-user OLS trend of
# event values over time. The numpy math inside the Arrow batch is the
# "custom operator" slot (guide: grouped-map); the oracle is DuckDB's
# built-in regr_slope/regr_intercept.
@register(
    "q_grouped_regression",
    """
    SELECT user_id,
           round(regr_slope(value, epoch_us(ts) / 3600000000.0), 6) AS slope_per_hour,
           round(regr_intercept(value, epoch_us(ts) / 3600000000.0), 2) AS intercept,
           count(*) AS n
    FROM events GROUP BY user_id HAVING count(*) >= 2
    """,
)
def q_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    ev = _events(spark, sf_dir).select(
        "user_id", (F.unix_micros("ts") / F.lit(3600000000.0)).alias("x"), F.col("value").alias("y")
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                columns=["user_id", "slope_per_hour", "intercept", "n"]
            ).astype({"user_id": "int64", "slope_per_hour": "float64", "intercept": "float64", "n": "int64"})
        x = pdf["x"].to_numpy(dtype=np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        xm, ym = x.mean(), y.mean()
        dx = x - xm
        sxx = float((dx * dx).sum())
        if sxx == 0.0:
            # zero variance in x: regr_slope returns NULL
            slope = intercept = None
        else:
            raw_slope = float((dx * (y - ym)).sum() / sxx)
            slope = round(raw_slope, 6)
            intercept = round(ym - raw_slope * xm, 2)
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "slope_per_hour": [slope],
                "intercept": [intercept],
                "n": [len(pdf)],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        fit, schema="user_id long, slope_per_hour double, intercept double, n long"
    )


# as-of join, cogroup variant: applyInPandas over cogrouped purchases/
# clicks with pandas merge_asof per user — the per-group imperative
# implementation of the same operator as q_asof_join (same oracle).
@register(
    "q_asof_join_cogroup",
    """
    WITH purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         clicks    AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS prev_click_ts
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_asof_join_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")

    def merge(p: pd.DataFrame, c: pd.DataFrame) -> pd.DataFrame:
        if p.empty:
            return pd.DataFrame(columns=["event_id", "user_id", "purchase_ts", "prev_click_ts"])
        p = p.sort_values("ts")
        c = c.sort_values("ts")
        if c.empty:
            out = p.assign(click_ts=pd.NaT)
        else:
            clicks_only = c[["ts"]].rename(columns={"ts": "click_ts"})
            out = pd.merge_asof(
                p, clicks_only, left_on="ts",
                right_on="click_ts", direction="backward",
            )
        return pd.DataFrame(
            {
                "event_id": out["event_id"],
                "user_id": out["user_id"],
                "purchase_ts": out["ts"].dt.strftime("%Y-%m-%d %H:%M:%S"),
                "prev_click_ts": out["click_ts"].dt.strftime("%Y-%m-%d %H:%M:%S"),
            }
        )

    return purchases.groupBy("user_id").cogroup(clicks.groupBy("user_id")).applyInPandas(
        merge, schema="event_id long, user_id long, purchase_ts string, prev_click_ts string"
    )


# global top-k: ORDER BY + LIMIT compiles to TakeOrderedAndProject —
# each partition keeps only k rows, the driver merges k*partitions
# (no global sort at any scale).
@register(
    "q_global_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def q_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


# q08-style national market share: NATION_5 suppliers' revenue share of
# PROMO-part sales to ASIA customers, per order year. Two nation
# aliases (supplier's and customer's) + region, all broadcast.
@register(
    "q08_market_share",
    """
    SELECT year(o_orderdate) AS o_year,
           round(sum(CASE WHEN sn.n_name = 'NATION_5'
                          THEN l_extendedprice * (1 - l_discount) END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
    FROM lineitem
    JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN region ON r_regionkey = cn.n_regionkey AND r_name = 'ASIA'
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sn = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("s_nation"))
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_reg")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_reg") == region.r_regionkey)
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("s_nation") == "NATION_5", rev)) / F.sum(rev), 4
            ).alias("mkt_share")
        )
    )


# q13-style customer order-count distribution (left join keeps
# zero-order customers; priority filter lives in the JOIN condition).
@register(
    "q13_order_distribution",
    """
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# q15-style top supplier: max 1996 revenue via a broadcast scalar join
# (the plan stays fully lazy — no driver collect).
@register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1)
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


# q16-style parts/supplier relationship (adapted: the synthetic schema
# has no partsupp table, so distinct suppliers come from lineitem).
@register(
    "q16_parts_suppliers",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_size IN (1, 2, 3, 4, 5, 6, 7, 8)
    GROUP BY 1, 2, 3
    """,
)
def q16_parts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & F.col("p_size").isin(list(range(1, 9)))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# q17-style small-quantity revenue: lineitems below 20% of their
# part's average quantity (per-part threshold via a repeated-agg join;
# integer-valued quantities keep the threshold bit-identical across
# engines since the sums are exact in double).
@register(
    "q17_small_quantity",
    """
    WITH pa AS (
      SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS lim
      FROM lineitem GROUP BY 1)
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    JOIN pa ON pk = l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < lim
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("lim")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pa, li.l_partkey == pa.pk)
        .filter(F.col("l_quantity") < F.col("lim"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# q11 analog ("important stock"): per-part inventory value restricted
# to two nations' suppliers, kept where the part's value exceeds a
# fraction of the total. No partsupp table in the synthetic schema, so
# value = sum(extendedprice * quantity) from lineitem. The global
# threshold is a broadcast scalar join (q15/q22 pattern — plan stays
# lazy, no driver collect).
@register(
    "q11_important_stock",
    """
    WITH val AS (
      SELECT l_partkey AS partkey, round(sum(l_extendedprice * l_quantity), 2) AS value
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7') GROUP BY 1),
    tot AS (SELECT sum(value) AS t FROM val)
    SELECT partkey, value FROM val, tot WHERE value > 0.002 * t
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin("NATION_3", "NATION_7"))
    sn = supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey).select("s_suppkey")
    val = (
        li.join(F.broadcast(sn), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2).alias("value"))
    )
    tot = val.agg(F.sum("value").alias("__t"))
    return (
        val.join(F.broadcast(tot))
        .filter(F.col("value") > 0.002 * F.col("__t"))
        .select("partkey", "value")
    )


# q20 analog ("potential part promotion"): suppliers who shipped > 50
# units of PROMO-type parts in 1996. Parts broadcast; one lineitem
# aggregation; supplier dim broadcast back.
@register(
    "q20_promo_suppliers",
    """
    WITH agg AS (
      SELECT l_suppkey AS suppkey, round(sum(l_quantity), 2) AS promo_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1)
    SELECT s_name, s_acctbal, promo_qty FROM supplier JOIN agg ON s_suppkey = suppkey
    WHERE promo_qty > 50
    """,
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    promo = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    supp = _t(spark, sf_dir, "supplier")
    agg = (
        li.join(F.broadcast(promo), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.round(F.sum("l_quantity"), 2).alias("promo_qty"))
        .filter(F.col("promo_qty") > 50)
    )
    return agg.join(F.broadcast(supp), F.col("suppkey") == supp.s_suppkey).select(
        "s_name", "s_acctbal", "promo_qty"
    )


# q21 analog ("suppliers who kept orders waiting"): finalized orders
# with >= 2 suppliers where EXACTLY ONE supplier shipped on the
# order's last ship date, > 60 days after the order date — that
# supplier made the order wait (the reference benchmark's
# exists/not-exists pair, expressed as aggregates). The synthetic
# schema has no commit/receipt dates, so lateness is shipdate vs
# orderdate. The per-order stats (last ship date, supplier count)
# come from WINDOW functions over the same l_orderkey partitioning —
# lineitem shuffles ONCE, where the aggregate-then-self-join shape
# would exchange it twice; orders joins on its primary key; supplier
# broadcasts.
@register(
    "q21_waiting_orders",
    """
    WITH last AS (
      SELECT l_orderkey AS ok, max(l_shipdate) AS last_ship, count(DISTINCT l_suppkey) AS nsupp
      FROM lineitem GROUP BY 1),
    late AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN last t ON l.l_orderkey = t.ok
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE t.nsupp >= 2 AND l.l_shipdate = t.last_ship
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        AND o.o_orderstatus = 'F'),
    solo AS (SELECT l_orderkey FROM late GROUP BY 1 HAVING count(*) = 1)
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late JOIN solo USING (l_orderkey) JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY 1
    """,
)
def q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    w = W.partitionBy("l_orderkey")
    stats = li.select(
        "l_orderkey",
        "l_suppkey",
        "l_shipdate",
        F.max("l_shipdate").over(w).alias("last_ship"),
        F.size(F.collect_set("l_suppkey").over(w)).alias("nsupp"),
    )
    late = (
        stats.join(orders, stats.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("nsupp") >= 2)
            & (F.col("l_shipdate") == F.col("last_ship"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    # "exactly one late supplier" via a second window over the tiny
    # late set — a groupBy+self-join here would recompute the whole
    # lineitem window subplan on both sides
    solo = late.withColumn(
        "__n", F.count(F.lit(1)).over(W.partitionBy("l_orderkey"))
    ).filter(F.col("__n") == 1)
    return (
        solo.join(F.broadcast(supp), solo.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# LATERAL correlated subquery (Spark 4 SQL surface): per-customer
# top-3 orders by price via a lateral derived table — the SQL-level
# dual of the window top-k; both engines run the identical statement.
_LATERAL_SQL = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, round(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey AND o_orderstatus = 'F'
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 3
) o
WHERE c.c_acctbal > 9000
"""


@register("q_lateral_topk", _LATERAL_SQL)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_SQL)


# batch sessionization: gap-based sessions replayed over the full
# history — identical lag/flag/cumsum chain on both engines, ties
# broken by event_id so the ordering is total.
@register(
    "q_sessionize_batch",
    """
    WITH m AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
    SELECT user_id, CAST(sid AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS dur_us
    FROM s GROUP BY 1, 2
    """,
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import sessions

    ev = _events(spark, sf_dir)
    return sessions.session_stats(ev, "user_id", "ts", 1800, tiebreak_col="event_id")


# group-wise winsorization: clip to per-group discrete [p05, p95]
# (element-at selection, no interpolation ulps); bounds broadcast back.
@register(
    "q_winsorize_prices",
    """
    WITH s AS (
      SELECT l_returnflag, list_sort(list(l_extendedprice)) AS vals
      FROM lineitem GROUP BY 1),
    b AS (
      SELECT l_returnflag,
             vals[CAST(floor((len(vals) - 1) * 0.05) AS INT) + 1] AS lo,
             vals[CAST(floor((len(vals) - 1) * 0.95) AS INT) + 1] AS hi
      FROM s)
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           round(least(greatest(l.l_extendedprice, b.lo), b.hi), 2) AS price_w
    FROM lineitem l JOIN b USING (l_returnflag)
    """,
)
def q_winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import stats

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    out = stats.winsorize(li, "l_extendedprice", ["l_returnflag"], 0.05, 0.95)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("l_extendedprice_w", 2).alias("price_w"),
    )


# numeric profiling: one aggregate scan, long-format report.
@register(
    "dq_profile_lineitem",
    """
    WITH m AS (
      SELECT
        CAST(count(l_quantity) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
        CAST(count(DISTINCT CAST(l_quantity AS DOUBLE)) AS BIGINT) AS nd1,
        CAST(min(l_quantity) AS DOUBLE) AS mn1, CAST(max(l_quantity) AS DOUBLE) AS mx1,
        round(avg(CAST(l_quantity AS DOUBLE)), 4) AS av1,
        round(stddev_samp(CAST(l_quantity AS DOUBLE)), 4) AS sd1,
        CAST(count(l_discount) AS BIGINT) AS n2,
        CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
        CAST(count(DISTINCT CAST(l_discount AS DOUBLE)) AS BIGINT) AS nd2,
        CAST(min(l_discount) AS DOUBLE) AS mn2, CAST(max(l_discount) AS DOUBLE) AS mx2,
        round(avg(CAST(l_discount AS DOUBLE)), 4) AS av2,
        round(stddev_samp(CAST(l_discount AS DOUBLE)), 4) AS sd2
      FROM lineitem)
    SELECT 'l_quantity' AS col_name, n1 AS n, nn1 AS n_null, nd1 AS n_distinct,
           mn1 AS min, mx1 AS max, av1 AS mean, sd1 AS stddev FROM m
    UNION ALL
    SELECT 'l_discount', n2, nn2, nd2, mn2, mx2, av2, sd2 FROM m
    """,
)
def dq_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import stats

    li = _t(spark, sf_dir, "lineitem")
    return stats.profile(li, ["l_quantity", "l_discount"])


# equi-width histogram with identical double arithmetic both sides
# (width = (max-min)/bins, bucket = least(floor((v-min)/width), bins-1)).
@register(
    "dq_histogram_prices",
    """
    WITH s AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
               WHERE o_totalprice IS NOT NULL),
    b AS (SELECT min(v) AS lo0, max(v) AS hi0 FROM s),
    x AS (SELECT least(floor((v - lo0) / ((hi0 - lo0) / 8)), 7) AS bin, lo0, hi0
          FROM s, b WHERE v >= lo0 AND v <= hi0)
    SELECT CAST(bin AS BIGINT) AS bin,
           round(lo0 + ((hi0 - lo0) / 8) * bin, 6) AS lo,
           round(lo0 + ((hi0 - lo0) / 8) * (bin + 1), 6) AS hi,
           CAST(count(*) AS BIGINT) AS cnt
    FROM x GROUP BY bin, lo0, hi0
    """,
)
def dq_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import stats

    orders = _t(spark, sf_dir, "orders")
    return stats.histogram(orders, "o_totalprice", bins=8)


# fixed-iteration PageRank over the customer-supplier interaction
# graph: the Spark loop and the DuckDB chained-CTE oracle are emitted
# from the same formulation (operators/graph.py), per-step 10dp
# rounding keeps the FP trajectory engine-neutral.
def _pagerank_oracle() -> str:
    from shc_spark.operators import graph

    return (
        """
    WITH e AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR),
                      'c' || CAST(o_custkey AS VARCHAR)
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    """
        + graph.pagerank_sql("", iterations=3, damping=0.85)
    )


@register("q_pagerank", None)  # SQL attached below (generator-built)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import graph

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return graph.pagerank(edges, iterations=3, damping=0.85)


ORACLE["q_pagerank"] = _pagerank_oracle()


# robust anomaly detection: per-type median/MAD (discrete selection)
# with identical arithmetic on both engines; output = flagged events.
@register(
    "q_anomaly_events",
    """
    WITH s AS (SELECT event_type, list_sort(list(value)) AS vals FROM events GROUP BY 1),
    med AS (SELECT event_type,
                   vals[CAST(floor((len(vals) - 1) * 0.5) AS INT) + 1] AS med
            FROM s),
    dev AS (SELECT e.event_id, e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS adev
            FROM events e JOIN med m USING (event_type)),
    s2 AS (SELECT event_type, list_sort(list(adev)) AS vals FROM dev GROUP BY 1),
    mad AS (SELECT event_type,
                   vals[CAST(floor((len(vals) - 1) * 0.5) AS INT) + 1] AS mad
            FROM s2)
    SELECT d.event_id, d.event_type,
           round(d.value, 4) AS value,
           round(d.med, 4) AS med, round(m.mad, 4) AS mad
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND d.adev > 3.0 * m.mad
    """,
)
def q_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import stats

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = stats.anomaly_robust_z(ev, "value", ["event_type"], k=3.0)
    return out.filter("is_anomaly").select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
    )


# bloom-prefiltered semi-join: output must be IDENTICAL to the plain
# semi-join (false positives die in the exact verification), so the
# oracle is the straightforward IN formulation.
@register(
    "q_bloom_semi_join",
    """
    SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 45)
    """,
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import bloom

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    recalled = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 45).select("p_partkey")
    return bloom.bloom_semi_join(li, recalled, "l_partkey", "p_partkey")


# ordered funnel: step i requires an event strictly after step i-1's
# first time — chained min-aggregates, identical CTEs on both sides.
@register(
    "q_event_funnel",
    """
    WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY 1),
    s1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN s0 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY 1),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1)
    SELECT CAST(0 AS BIGINT) AS step, 'view' AS step_name, CAST((SELECT count(*) FROM s0) AS BIGINT) AS n_users
    UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
    UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import behavior

    ev = _events(spark, sf_dir)
    return behavior.funnel(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"])


# weekly cohort retention matrix (cohort = Monday of first-event week).
@register(
    "q_cohort_retention",
    """
    WITH first AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY 1),
    active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events)
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
           CAST(date_diff('day', f.cohort, a.week) / 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import behavior

    ev = _events(spark, sf_dir)
    return behavior.cohort_retention(ev, "user_id", "ts")


# rolling 7-day active users: the explode-onto-window formulation vs
# the oracle's direct range join — identical results, bounded fan-out.
@register(
    "q_rolling_wau",
    """
    WITH per_day AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT u) AS BIGINT) AS n_active
    FROM days JOIN per_day ON d BETWEEN day - 6 AND day
    GROUP BY 1
    """,
)
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators import behavior

    ev = _events(spark, sf_dir)
    return behavior.rolling_active_users(ev, "user_id", "ts", window_days=7)


# RANGE window frame (value-based, not row-count-based): 30-day
# trailing revenue per customer — rows with equal orderdates share the
# frame, which ROWS frames get wrong.
@register(
    "q_window_range_frame",
    """
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 2)
             AS rev_30d
    FROM orders WHERE o_custkey <= 200
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    # value-based frame on day number: RANGE over a cast-to-days long
    # (Spark RANGE frames need a numeric ORDER BY expression)
    days = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
    w = (
        W.partitionBy("o_custkey")
        .orderBy(days.cast("long"))
        .rangeBetween(-30, 0)
    )
    return orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("rev_30d"),
    )


# null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
# match each other — the semantics a plain equi-join silently drops.
@register(
    "q_null_safe_join",
    """
    WITH a AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 10 = 0 THEN NULL
                           ELSE o_orderpriority END AS pk,
                      o_totalprice
               FROM orders WHERE o_orderkey <= 2000),
    b AS (SELECT DISTINCT CASE WHEN o_orderkey % 10 = 0 THEN NULL
                               ELSE o_orderpriority END AS pk,
                 o_orderstatus
          FROM orders WHERE o_orderkey <= 2000)
    SELECT a.o_orderkey, coalesce(a.pk, '<null>') AS pk, b.o_orderstatus,
           round(a.o_totalprice, 2) AS price
    FROM a JOIN b ON a.pk IS NOT DISTINCT FROM b.pk
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    pk = F.when(F.col("o_orderkey") % 10 == 0, F.lit(None)).otherwise(
        F.col("o_orderpriority")
    )
    a = orders.select("o_orderkey", pk.alias("pk"), "o_totalprice")
    b = orders.select(pk.alias("pk2"), "o_orderstatus").distinct()
    return (
        a.join(b, a.pk.eqNullSafe(b.pk2))
        .select(
            "o_orderkey",
            F.coalesce("pk", F.lit("<null>")).alias("pk"),
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("price"),
        )
    )


# binned range join (operators/ranges.py): clicks counted into 2-hour
# interval windows opened by a deterministic subset of purchases — a
# NON-equi join with no equi key at all, the case Spark would plan as
# BroadcastNestedLoopJoin; the operator rewrites it as a bin equi-join
# + exact re-filter. The oracle is DuckDB's plain non-equi join.
@register(
    "q_range_join_binned",
    """
    WITH iv AS (SELECT event_id AS interval_id, ts AS s,
                       ts + INTERVAL 2 HOUR AS e
                FROM events
                WHERE event_type = 'purchase' AND event_id % 13 = 0),
         c AS (SELECT ts FROM events WHERE event_type = 'click')
    SELECT iv.interval_id, count(*) AS n_clicks
    FROM iv JOIN c ON c.ts >= iv.s AND c.ts <= iv.e
    GROUP BY iv.interval_id
    """,
)
def q_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators.ranges import range_join

    ev = _events(spark, sf_dir)
    iv = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 13 == 0)
    ).select(
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("e"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select("ts")
    pairs = range_join(clicks, iv, "ts", "s", "e")
    return pairs.groupBy("interval_id").agg(F.count(F.lit(1)).alias("n_clicks"))


# time-series gap filling (the hypertable time_bucket_gapfill analog,
# operators/timeseries.py): per-user hourly buckets densified over
# each user's own [min, max] span, holes filled by LOCF. The spine is
# a per-key sequence explode (bounded by the key's span), the fill a
# per-key window — no global window, no driver loop.
@register(
    "q_gapfill_locf",
    """
    WITH a AS (
      SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS b,
             avg(value) AS v
      FROM events GROUP BY 1, 2),
    sp AS (
      SELECT user_id, unnest(range(min(b), max(b) + 1, 3600)) AS b
      FROM a GROUP BY user_id),
    d AS (
      SELECT sp.user_id, sp.b, a.v, a.v IS NOT NULL AS observed
      FROM sp LEFT JOIN a ON sp.user_id = a.user_id AND sp.b = a.b),
    f AS (
      SELECT user_id, b, observed,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
               ROWS UNBOUNDED PRECEDING) AS v
      FROM d)
    SELECT user_id,
           strftime(to_timestamp(b), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           round(v, 4) AS value, observed
    FROM f
    """,
)
def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators.timeseries import gapfill

    ev = _events(spark, sf_dir)
    out = gapfill(ev, "user_id", "ts", "value", 3600, how="locf")
    return out.select(
        "user_id",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        F.round("value", 4).alias("value"),
        "observed",
    )


# linear-interpolation variant: holes between two observed buckets
# take the proportional value; leading/trailing holes stay null.
@register(
    "q_gapfill_linear",
    """
    WITH a AS (
      SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS b,
             round(avg(value), 4) AS v
      FROM events GROUP BY 1, 2),
    sp AS (
      SELECT user_id, unnest(range(min(b), max(b) + 1, 3600)) AS b
      FROM a GROUP BY user_id),
    d AS (
      SELECT sp.user_id, sp.b, a.v, a.v IS NOT NULL AS observed
      FROM sp LEFT JOIN a ON sp.user_id = a.user_id AND sp.b = a.b),
    f AS (
      SELECT user_id, b, v, observed,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
               ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY b
                     ROWS UNBOUNDED PRECEDING) AS pb,
             first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY b
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM d)
    SELECT user_id,
           strftime(to_timestamp(b), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           floor((CASE WHEN v IS NOT NULL THEN v
                       WHEN pv IS NOT NULL AND nv IS NOT NULL
                       THEN pv + (nv - pv) * ((b - pb) / (nb - pb)) END)
                 * 1000 + 0.5) / 1000 AS value,
           observed
    FROM f
    """,
)
def q_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators.timeseries import gapfill

    ev = _events(spark, sf_dir)
    out = gapfill(ev, "user_id", "ts", "value", 3600, how="linear", round_dp=4)
    # Interpolated values land EXACTLY on decimal rounding boundaries
    # by construction (hour-fraction weights like 0.65 of 2-4dp-pinned
    # inputs => products ending in ...5), where Spark's decimal-string
    # HALF_UP and DuckDB's binary round() systematically disagree. No
    # precision choice escapes that, so BOTH sides round with the
    # identical double computation floor(x*1000 + 0.5)/1000 — same
    # input doubles, same ops, bit-identical output.
    return out.select(
        "user_id",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        (F.floor(F.col("value") * 1000 + 0.5) / 1000).alias("value"),
        "observed",
    )


# counter increase with reset handling (PromQL increase()/rate()
# building block, operators/timeseries.py): a negative delta means
# the counter restarted, so the new reading is the whole increase.
@register(
    "q_counter_increase",
    """
    WITH w AS (
      SELECT user_id, event_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
      FROM events)
    SELECT user_id,
           round(CAST(sum(CASE WHEN pv IS NULL THEN NULL
                         WHEN value - pv >= 0 THEN value - pv
                         ELSE value END) AS DOUBLE), 2) AS total_increase,
           count(pv) AS n_samples
    FROM w GROUP BY user_id
    """,
)
def q_counter_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shc_spark.operators.timeseries import counter_increase

    ev = _events(spark, sf_dir)
    inc = counter_increase(ev, "user_id", "ts", "value", tiebreak_col="event_id")
    return inc.groupBy("user_id").agg(
        F.round(F.sum("increase"), 2).alias("total_increase"),
        F.count(F.when(F.col("increase").isNotNull(), 1)).alias("n_samples"),
    )
