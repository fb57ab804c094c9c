"""TPC-H gap queries (q2/q8/q9/q11/q12/q20/q21 shapes), adapted.

The fixture schema has no partsupp table and no
commitdate/receiptdate/shipmode columns, so the canonical forms of
these queries are re-expressed over the columns that exist while
keeping the *query shape* that matters (the join topology, the
correlation pattern, the aggregate structure).  The reference
(lucasbak/kafka-spark-streaming) has no relational surface at all
(SURVEY.md §2.3); these queries are part of the north-star extension.

Scale notes per query: where the shuffles are, which side broadcasts,
and why the same plan holds on a 1000-executor / 100 TB run.

Determinism policy: see kafka_spark_streaming_spark/functions — money
sums are exact DECIMAL folded to DOUBLE, ratios are single IEEE
divisions of exact values, so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.functions import (
    SQL_DEC_SUM,
    dec_sum,
    disc_price,
)
from kafka_spark_streaming_spark.operators.registry import register
from kafka_spark_streaming_spark.tables import table

# disc_price cast to a fixed decimal type so CASE/when branches unify to
# the same exact type in both engines.
_DP_DEC = "decimal(24,6)"
_SQL_DP = (
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * CAST((1.0 - l_discount) AS DECIMAL(8,4)) AS DECIMAL(24,6))"
)


def _dp() -> F.Column:
    return disc_price().cast(_DP_DEC)


# --- q8: market share of one nation inside a region ----------------------
# Fact side: lineitem ⋈ orders on orderkey (the one big shuffle; at
# 100 TB both sides are date/partkey-prunable and AQE picks SMJ).
# Every other join is a dimension broadcast: part (filtered), supplier,
# customer, nation×2, region. The CASE-numerator / total-denominator
# ratio is computed from two exact decimal sums in one pass — no second
# scan, no self-join.
@register(
    "q8_market_share",
    f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(SUM(CASE WHEN n2.n_name = 'NATION_7' THEN {_SQL_DP}
                         ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)
             / CAST(SUM({_SQL_DP}) AS DOUBLE) AS mkt_share
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND p_type = 'PROMO'
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").alias("n1")
    n2 = table(spark, sf_dir, "nation").alias("n2")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")

    zero = F.lit(0).cast(_DP_DEC)
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2.n_nationkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(region, F.col("n1.n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.when(F.col("n2.n_name") == "NATION_7", _dp())
            .otherwise(zero)
            .alias("nat_vol"),
            _dp().alias("vol"),
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum("nat_vol").cast("double")
                / F.sum("vol").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --- q9: profit by supplier nation × order year --------------------------
# Canonical q9 minus ps_supplycost (no partsupp fixture): profit =
# discounted revenue of 'widget' parts.  lineitem ⋈ orders is the only
# fact-fact shuffle; part filter broadcasts and prunes the fact scan via
# AQE/DPP at scale; supplier→nation broadcasts.
@register(
    "q9_profit_by_nation_year",
    f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           {SQL_DEC_SUM.format(col='l_extendedprice')} AS gross,
           CAST(SUM({_SQL_DP}) AS DOUBLE) AS profit
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY n_name, o_year DESC
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            dec_sum("l_extendedprice").alias("gross"),
            F.sum(_dp()).cast("double").alias("profit"),
        )
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


# --- q2: min-cost supplier per part (window instead of correlated sub) ---
# Canonical q2's correlated MIN subquery over partsupp, re-expressed
# over lineitem unit prices.  Spark-first: one shuffle on p_partkey for
# the window MIN — instead of the naive agg + re-join, which would
# shuffle the same data twice.  unit_price is a single IEEE division →
# identical in both engines, so the equality filter is exact.
@register(
    "q2_min_cost_supplier",
    """
    WITH priced AS (
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
             l_extendedprice / l_quantity AS unit_price,
             MIN(l_extendedprice / l_quantity) OVER (PARTITION BY p_partkey)
               AS min_price
      FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND p_size <= 5
    )
    SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name,
                    min_price AS unit_price
    FROM priced WHERE unit_price = min_price
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    priced = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .withColumn("unit_price", F.col("l_extendedprice") / F.col("l_quantity"))
        .withColumn(
            "min_price", F.min("unit_price").over(W.partitionBy("p_partkey"))
        )
    )
    return (
        priced.filter(F.col("unit_price") == F.col("min_price"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("min_price").alias("unit_price"),
        )
        .distinct()
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


# --- q11: supplier revenue concentration (HAVING vs group total) ---------
# Canonical q11's "value > fraction of national total" correlated
# HAVING.  Spark-first: per-(nation, supplier) exact-decimal agg, then a
# *broadcast* join against the 25-row nation-total agg — the naive
# window-over-nation would re-shuffle the supplier aggregate; the
# re-agg of an already-reduced frame is near-free.  Share threshold is
# relative, so the query is sf-invariant.
@register(
    "q11_supplier_concentration",
    f"""
    WITH srev AS (
      SELECT n_name, s_name,
             {SQL_DEC_SUM.format(col='l_extendedprice')} AS revenue
      FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY n_name, s_name
    ),
    ntot AS (
      SELECT n_name, CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE)
               AS nation_total
      FROM srev GROUP BY n_name
    )
    SELECT srev.n_name AS n_name, s_name, revenue,
           revenue / nation_total AS share
    FROM srev JOIN ntot ON srev.n_name = ntot.n_name
    WHERE revenue * 3 > nation_total
    ORDER BY n_name, share DESC, s_name
    """,
)
def q11_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    srev = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_name")
        .agg(dec_sum("l_extendedprice").alias("revenue"))
    )
    ntot = srev.groupBy("n_name").agg(
        F.sum(F.col("revenue").cast("decimal(18,2)"))
        .cast("double")
        .alias("nation_total")
    )
    return (
        srev.join(F.broadcast(ntot), "n_name")
        .filter(F.col("revenue") * 3 > F.col("nation_total"))
        .select(
            "n_name",
            "s_name",
            "revenue",
            (F.col("revenue") / F.col("nation_total")).alias("share"),
        )
        .orderBy("n_name", F.col("share").desc(), "s_name")
    )


# --- q12: priority mix per line status (conditional counts) --------------
# Canonical q12's shipmode × priority CASE-counting, on the columns that
# exist.  One fact-fact join on orderkey, counts are exact ints.  At
# scale the date filter prunes the lineitem scan before the shuffle.
@register(
    "q12_priority_mix",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --- q20: suppliers moving outsized volume of a part family --------------
# Canonical q20's nested semi-join chain (parts LIKE → availability
# threshold → suppliers), re-expressed: suppliers whose shipped volume
# of 'red%' parts exceeds the average supplier's volume.  The
# threshold compares each group to a 1-row global agg — broadcast, not
# a window over everything.
@register(
    "q20_red_part_suppliers",
    f"""
    WITH sq AS (
      SELECT l_suppkey, {SQL_DEC_SUM.format(col='l_quantity')} AS red_qty
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      GROUP BY l_suppkey
    ),
    tot AS (
      SELECT CAST(SUM(CAST(red_qty AS DECIMAL(18,2))) AS DOUBLE) AS total,
             COUNT(*) AS n FROM sq
    )
    SELECT s_suppkey, s_name, red_qty
    FROM sq JOIN supplier ON sq.l_suppkey = s_suppkey CROSS JOIN tot
    WHERE red_qty * n > total
    ORDER BY s_suppkey
    """,
)
def q20_red_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    red = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    supp = table(spark, sf_dir, "supplier")
    sq = (
        li.join(red, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(dec_sum("l_quantity").alias("red_qty"))
    )
    tot = sq.agg(
        F.sum(F.col("red_qty").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        sq.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(tot)
        .filter(F.col("red_qty") * F.col("n") > F.col("total"))
        .select("s_suppkey", "s_name", "red_qty")
        .orderBy("s_suppkey")
    )


# --- q21: sole returning supplier on multi-supplier orders ---------------
# Canonical q21 is EXISTS(other supplier) AND NOT EXISTS(other late
# supplier) — two correlated self-joins on the fact table.  Spark-first
# rewrite: ONE groupBy(orderkey) computing both distinct-supplier
# counts, then a semi-join back.  That's one shuffle of the fact
# instead of three; at 100 TB the difference is the whole job.
@register(
    "q21_sole_return_supplier",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
               AS n_ret_supp
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey
    ),
    culprit AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l
        JOIN per_order p ON l.l_orderkey = p.l_orderkey
      WHERE l.l_returnflag = 'R' AND p.n_supp > 1 AND p.n_ret_supp = 1
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM culprit JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = table(spark, sf_dir, "supplier")
    fact = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_order = fact.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_ret_supp"),
    )
    bad_orders = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1)
    ).select("l_orderkey")
    culprit = (
        fact.filter(F.col("l_returnflag") == "R")
        .join(bad_orders, "l_orderkey", "left_semi")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        culprit.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )
