"""Relational query surface (SURVEY.md §7 phase 3).

The reference has no SQL layer (SURVEY.md §2.3) — its only operators are
map/reduceByKey/count/distinct. Per the north star, the new engine
exposes the full relational surface as declarative DataFrame plans so
Catalyst does pushdown / pruning / join selection / AQE for free.

Scale notes (100 TB posture) are on each query: which joins broadcast,
where the shuffles are, why the plan survives 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.functions import (
    MONEY,
    SQL_CHARGE,
    SQL_DEC_AVG,
    SQL_DEC_SUM,
    SQL_DISC_PRICE,
    charge,
    dec_avg,
    dec_sum,
    disc_price,
)
from kafka_spark_streaming_spark.operators.registry import register
from kafka_spark_streaming_spark.tables import table


# --- q1: pricing summary (TPC-H Q1 shape) --------------------------------
# Scan-heavy single-pass aggregation: parquet scan with the shipdate
# filter pushed down, partial hash-agg map-side (6 groups → tiny
# shuffle), final agg. At 100 TB this is bandwidth-bound on the scan —
# the ideal shape. No join, no skew exposure.
@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_DEC_SUM.format(col='l_quantity')} AS sum_qty,
           {SQL_DEC_SUM.format(col='l_extendedprice')} AS sum_base_price,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({SQL_CHARGE}) AS DOUBLE) AS sum_charge,
           {SQL_DEC_AVG.format(col='l_quantity')} AS avg_qty,
           {SQL_DEC_AVG.format(col='l_extendedprice')} AS avg_price,
           {SQL_DEC_AVG.format(col='l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(charge()).cast("double").alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_extendedprice").alias("avg_price"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- q3: shipping priority (TPC-H Q3 shape) ------------------------------
# customer (filtered) ⋈ orders ⋈ lineitem. customer-side is small after
# the segment filter, so the planner broadcasts it (one shuffle fewer); the
# orders⋈lineitem join shuffles on orderkey (the natural co-location key
# — at scale both sides would be bucketed by orderkey to kill this
# shuffle too). Top-10 is a TakeOrderedAndProject — no global sort.
@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST((1.0 - l_discount) AS DECIMAL(8,4))) AS DOUBLE)
               AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate,
           o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


# --- q5: local supplier volume (TPC-H Q5 shape) --------------------------
# Star join: region/nation are tiny → broadcast all the way down; the
# only real shuffles are lineitem⋈orders (orderkey) and the
# customer/supplier nation-match. Catalyst + AQE pick broadcast-hash
# for every dimension automatically given the size stats.
@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST((1.0 - l_discount) AS DECIMAL(8,4))) AS DOUBLE)
               AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )


# --- q6: forecast revenue change (TPC-H Q6 shape) ------------------------
# Pure scan + filter + single global agg: every predicate is pushed to
# the parquet reader (verify via PushedFilters in .explain). One row out.
@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(MONEY)
                * F.col("l_discount").cast("decimal(8,4)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
