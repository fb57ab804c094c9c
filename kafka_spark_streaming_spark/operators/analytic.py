"""Analytic surface: window functions, grouping sets/rollup/cube, set
operations, pivot, scalar string/date/JSON functions, sessionization
(SURVEY.md §2.3 gap table — operators the reference lacks, all Catalyst
built-ins per the north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.functions import MONEY, dec_sum
from kafka_spark_streaming_spark.operators.registry import register
from kafka_spark_streaming_spark.tables import table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --- window: top-k per group (row_number) --------------------------------
# The canonical "no global sort" top-k: one shuffle on the partition
# key, per-partition heap — survives any scale-up.
@register(
    "w_top3_parts_per_brand",
    """
    SELECT p_brand, p_partkey, revenue, rn FROM (
      SELECT p_brand, p_partkey, revenue,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY revenue DESC, p_partkey ASC) AS rn
      FROM (
        SELECT p_brand, p_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST((1.0 - l_discount) AS DECIMAL(8,4)))
                    AS DOUBLE) AS revenue
        FROM lineitem, part WHERE l_partkey = p_partkey
        GROUP BY p_brand, p_partkey
      )
    ) WHERE rn <= 3
    """,
)
def w_top3_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_spark_streaming_spark.functions import disc_price

    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )
    w = W.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        rev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    )


# --- window: running total (frame) ---------------------------------------
@register(
    "w_running_customer_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total
    FROM orders
    """,
)
def w_running_customer_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(MONEY)).over(w).cast("double")
        .alias("running_total"),
    )


# --- window: lag / inter-event gaps --------------------------------------
@register(
    "w_user_event_gaps",
    """
    SELECT user_id, COUNT(*) AS n_gaps,
           CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS avg_gap_us
    FROM (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_us
      FROM events
    ) WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
)
def w_user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros("ts")
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        (F.sum("gap_us").cast("double") / F.count(F.lit(1))).alias("avg_gap_us"),
    )


# --- rollup --------------------------------------------------------------
@register(
    "g_rollup_order_status",
    """
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def g_rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("o_totalprice").alias("total"),
        )
    )


# --- cube ----------------------------------------------------------------
@register(
    "g_cube_returnflag_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def g_cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("l_quantity").alias("qty"),
        )
    )


# --- grouping sets (SQL form) --------------------------------------------
@register(
    "g_grouping_sets_events",
    """
    SELECT event_type, CAST(user_id % 10 AS BIGINT) AS cohort, COUNT(*) AS n
    FROM events
    GROUP BY GROUPING SETS ((event_type), (event_type, user_id % 10), ())
    """,
)
def g_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "events").createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type, CAST(user_id % 10 AS BIGINT) AS cohort,
               COUNT(*) AS n
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (event_type, user_id % 10), ())
        """
    )


# --- set operations ------------------------------------------------------
@register(
    "set_ops_segments",
    """
    SELECT 'union' AS op, seg FROM (
      SELECT c_mktsegment AS seg FROM customer WHERE c_nationkey = 1
      UNION SELECT c_mktsegment FROM customer WHERE c_nationkey = 2)
    UNION ALL
    SELECT 'intersect', seg FROM (
      SELECT c_mktsegment AS seg FROM customer WHERE c_nationkey = 1
      INTERSECT SELECT c_mktsegment FROM customer WHERE c_nationkey = 2)
    UNION ALL
    SELECT 'except', seg FROM (
      SELECT c_mktsegment AS seg FROM customer WHERE c_nationkey = 1
      EXCEPT SELECT c_mktsegment FROM customer WHERE c_acctbal < 0.0)
    """,
)
def set_ops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    n1 = cust.filter(F.col("c_nationkey") == 1).select(
        F.col("c_mktsegment").alias("seg")
    )
    n2 = cust.filter(F.col("c_nationkey") == 2).select(
        F.col("c_mktsegment").alias("seg")
    )
    neg = cust.filter(F.col("c_acctbal") < 0.0).select(
        F.col("c_mktsegment").alias("seg")
    )
    return (
        n1.union(n2).distinct().select(F.lit("union").alias("op"), "seg")
        .unionAll(n1.intersect(n2).select(F.lit("intersect").alias("op"), "seg"))
        .unionAll(n1.exceptAll(neg).distinct()
                  .select(F.lit("except").alias("op"), "seg"))
    )


# --- semi/anti join counts in one pass -----------------------------------
@register(
    "j_semi_anti_customer_counts",
    """
    SELECT COUNT(CASE WHEN has_order THEN 1 END) AS n_with_orders,
           COUNT(CASE WHEN NOT has_order THEN 1 END) AS n_without_orders
    FROM (
      SELECT c_custkey,
             EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
                 AS has_order
      FROM customer
    )
    """,
)
def j_semi_anti_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    buyers = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("bk")
    ).distinct()
    flagged = cust.join(
        buyers, cust.c_custkey == F.col("bk"), "left_outer"
    ).select(F.col("bk").isNotNull().alias("has_order"))
    return flagged.agg(
        F.count(F.when(F.col("has_order"), 1)).alias("n_with_orders"),
        F.count(F.when(~F.col("has_order"), 1)).alias("n_without_orders"),
    )


# --- scalar string functions ---------------------------------------------
@register(
    "scalar_string_funcs",
    """
    SELECT p_partkey,
           UPPER(p_name) AS uname,
           LOWER(p_brand) AS lbrand,
           LENGTH(p_name) AS name_len,
           SUBSTR(p_name, 1, 6) AS name_pfx,
           REPLACE(p_type, 'E', '3') AS leet_type,
           REVERSE(p_brand) AS rbrand,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           p_name || '/' || p_brand AS name_brand,
           CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END AS has_a,
           POSITION('and' IN p_name) AS and_pos
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.lower("p_brand").alias("lbrand"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 6).alias("name_pfx"),
        F.replace(F.col("p_type"), F.lit("E"), F.lit("3")).alias("leet_type"),
        F.reverse("p_brand").alias("rbrand"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.concat_ws("/", "p_name", "p_brand").alias("name_brand"),
        F.when(F.col("p_name").like("%a%"), 1).otherwise(0).alias("has_a"),
        F.instr("p_name", "and").cast("bigint").alias("and_pos"),
    )


# --- scalar date functions -----------------------------------------------
@register(
    "scalar_date_funcs",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           day(o_orderdate) AS d,
           dayname(o_orderdate) AS dname,
           strftime(o_orderdate, '%Y-%m') AS ym,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS VARCHAR)
               AS plus30,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS days_since_95
    FROM orders
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_format("o_orderdate", "EEEE").alias("dname"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.last_day("o_orderdate").cast("string").alias("month_end"),
        F.date_add(F.to_date("o_orderdate"), 30).cast("string").alias("plus30"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_95"),
    )


# --- JSON extraction -----------------------------------------------------
@register(
    "json_props_stats",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS DOUBLE) / COUNT(*) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        (F.sum(k).cast("double") / F.count(F.lit(1))).alias("avg_k"),
    )


# --- pivot ---------------------------------------------------------------
@register(
    "pivot_event_value_by_cohort",
    f"""
    SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
           {', '.join(
             "CAST(SUM(CASE WHEN event_type = '" + t + "' "
             "THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS " + t
             for t in EVENT_TYPES)}
    FROM events GROUP BY 1
    """,
)
def pivot_event_value_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.withColumn("cohort", (F.col("user_id") % 10).cast("bigint"))
        .groupBy("cohort")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.sum(F.col("value").cast(MONEY)).cast("double"))
    )


# --- time-bucketed aggregation -------------------------------------------
@register(
    "time_bucket_daily_events",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def time_bucket_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("value").alias("total_value"),
        )
    )


# --- batch sessionization (gap > 30 min ⇒ new session) -------------------
# lag → gap flag → cumulative sum = session id: two window passes over
# the same (user_id, ts) partitioning — one shuffle total.
@register(
    "sessionize_events",
    """
    SELECT user_id, COUNT(DISTINCT sess_id) AS n_sessions,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                      PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                    > 1800000000 OR lag(ts) OVER (
                      PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                      IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
      )
    ) GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id").agg(
        F.countDistinct("sess_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- scalar math functions -----------------------------------------------
@register(
    "scalar_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS abs_d,
           round(ceil(l_quantity / 7.0), 6) AS ceil_q,
           round(floor(l_extendedprice / 1000.0), 6) AS floor_p,
           round(sqrt(l_quantity), 6) AS sqrt_q,
           round(ln(l_extendedprice), 6) AS ln_p,
           round(exp(l_discount), 6) AS exp_d,
           round(pow(l_quantity, 2), 6) AS q_sq,
           CAST(l_orderkey % 7 AS BIGINT) AS mod7,
           CAST(sign(l_discount - 0.05) AS BIGINT) AS sgn,
           round(sin(l_tax), 6) AS sin_t,
           greatest(l_quantity, 10.0) AS gq,
           least(l_quantity, 10.0) AS lq
    FROM lineitem WHERE l_orderkey < 100
    ORDER BY l_orderkey, l_linenumber
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_d"),
        F.round(F.ceil(F.col("l_quantity") / 7.0).cast("double"), 6).alias("ceil_q"),
        F.round(F.floor(F.col("l_extendedprice") / 1000.0).cast("double"), 6).alias("floor_p"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_q"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_p"),
        F.round(F.exp("l_discount"), 6).alias("exp_d"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("q_sq"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("mod7"),
        # DuckDB sign() is TINYINT, Spark signum() is DOUBLE — a float-vs-int
        # kind mismatch the driver's dtype-sensitive hash rejects; pin BIGINT.
        F.signum(F.col("l_discount") - 0.05).cast("bigint").alias("sgn"),
        F.round(F.sin("l_tax"), 6).alias("sin_t"),
        F.greatest(F.col("l_quantity"), F.lit(10.0)).alias("gq"),
        F.least(F.col("l_quantity"), F.lit(10.0)).alias("lq"),
    ).orderBy("l_orderkey", "l_linenumber")


# --- array / higher-order functions --------------------------------------
@register(
    "scalar_array_funcs",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents)
    SELECT doc_id,
           len(toks) AS n,
           toks[1] AS first_tok,
           toks[len(toks)] AS last_tok,
           array_to_string(list_slice(toks, 1, 3), '-') AS first3,
           len(list_distinct(toks)) AS n_uniq,
           list_contains(toks, 'the') AS has_the,
           len(list_filter(toks, t -> len(t) > 4)) AS n_long,
           CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT)
               AS sum_len,
           array_to_string(list_sort(list_distinct(
               list_slice(toks, 1, 5))), ',') AS sorted5
    FROM t ORDER BY doc_id
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        # DuckDB len() is BIGINT and list_sum() is HUGEINT (→ float64 in
        # pandas) — cast both engines to BIGINT so dtypes agree end-to-end.
        F.size(toks).cast("bigint").alias("n"),
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(toks, -1).alias("last_tok"),
        F.array_join(F.slice(toks, 1, 3), "-").alias("first3"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
        F.array_contains(toks, "the").alias("has_the"),
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).cast("bigint").alias("n_long"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        F.array_join(
            F.array_sort(F.array_distinct(F.slice(toks, 1, 5))), ","
        ).alias("sorted5"),
    ).orderBy("doc_id")


# --- window: NTILE deciles over customer revenue -------------------------
# A naive global NTILE needs a total order — on a cluster that is a
# single-partition window, the one window shape that does NOT scale.
# Because the ordering (revenue DESC, custkey ASC) is UNIQUE per row,
# NTILE(k) is a pure function of (global rank, total count), and global
# rank distributes: range-repartition on the sort key, per-partition
# row_number (window partitioned by partition id — never global), then
# add per-partition offsets (a ~#partitions-row aggregate, broadcast
# back). Exact NTILE semantics, no single-partition window over the
# data; the oracle keeps the literal NTILE formulation as cross-check.
@register(
    "w_revenue_deciles",
    """
    SELECT c_custkey, revenue,
           NTILE(10) OVER (ORDER BY revenue DESC, c_custkey ASC) AS decile
    FROM (
      SELECT o_custkey AS c_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY o_custkey)
    """,
)
def w_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    rev = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.col("o_totalprice").cast(MONEY)).cast("double").alias("revenue")
    )
    ranked = rev.repartitionByRange(
        32, F.desc("revenue"), F.asc("c_custkey")
    ).withColumn("pid", F.spark_partition_id())
    wloc = W.partitionBy("pid").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    local = ranked.withColumn("rn", F.row_number().over(wloc))
    counts = local.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    # offsets/total: ~32 rows — the only unpartitioned window runs on
    # this bounded per-partition-count table, never on the data.
    wcum = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(wcum), F.lit(0)).alias("off")
    )
    total = counts.agg(F.sum("cnt").alias("n_total"))
    r = F.col("off") + F.col("rn")  # exact global rank, 1-based
    n, k = F.col("n_total"), F.lit(10)
    q, rem = (n / k).cast("bigint"), n % k
    big_span = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
    decile = (
        F.when(r <= big_span, ((r + q) / (q + 1)).cast("bigint"))
        .otherwise(rem + ((r - big_span + q - 1) / q).cast("bigint"))
        .cast("int")
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .crossJoin(total)
        .select("c_custkey", "revenue", decile.alias("decile"))
    )


# --- daily funnel: new vs returning users, cumulative reach --------------
# First-seen date per user (one groupBy) left-joined onto daily active
# counts; cumulative reach is a running sum over days. The running sum
# is a single-partition window, but its input is ONE ROW PER DAY —
# constant-sized regardless of corpus scale, so the global window is
# safe here (unlike a per-row global rank).
@register(
    "time_new_vs_returning_users",
    """
    WITH firstseen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day
      FROM events GROUP BY user_id),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS active_users
      FROM events GROUP BY 1),
    news AS (SELECT day, COUNT(*) AS new_users FROM firstseen GROUP BY day)
    SELECT d.day, d.active_users,
           COALESCE(n.new_users, 0) AS new_users,
           d.active_users - COALESCE(n.new_users, 0) AS returning_users,
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (
             ORDER BY d.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily d LEFT JOIN news n USING (day)
    """,
)
def time_new_vs_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    firstseen = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    daily = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("active_users")
    )
    news = firstseen.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        daily.join(news, ["day"], "left")
        .select(
            "day",
            "active_users",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
            (F.col("active_users") - F.coalesce("new_users", F.lit(0))).alias(
                "returning_users"
            ),
        )
        .withColumn("cum_users", F.sum("new_users").over(w))
    )


# --- time series: gap-fill / resample to a dense daily grid --------------
# The densification every time-series consumer needs before rolling
# math: a date spine (min..max day × event_type) left-joined onto the
# sparse daily aggregate; missing days count 0 and carry the last
# active day forward (last_value IGNORE NULLS). Scale: the spine comes
# from ONE broadcast row of bounds exploded to days (constant-sized),
# the join key is (event_type, day) — and both windows partition by
# event_type, so nothing is a single-partition window over data rows;
# per-type row counts are bounded by the calendar, not the corpus.
@register(
    "time_gapfill_daily",
    """
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
      FROM events),
    spine AS (
      SELECT t.event_type, CAST(g.day AS DATE) AS day
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
            FROM bounds) g),
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
             SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2)
    SELECT s.event_type, s.day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(d.v, 0) AS BIGINT) AS sum_value_4dec,
           LAST_VALUE(d.day IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_active_day
    FROM spine s LEFT JOIN daily d USING (event_type, day)
    """,
)
def time_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(days)
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("v"),
        )
        # non-null only on days with data — the forward-fill source
        .withColumn("active_day", F.col("day"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return spine.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce("v", F.lit(0)).cast("bigint").alias("sum_value_4dec"),
        F.last(F.col("active_day"), ignorenulls=True)
        .over(w)
        .alias("last_active_day"),
    )


# --- window: the full ranking-function family ----------------------------
# rank / dense_rank / percent_rank / cume_dist in one pass — one
# shuffle on the partition key, one sort, four outputs; the ordering
# carries a unique tiebreak (custkey) so both engines rank
# identically.
@register(
    "w_rank_functions",
    """
    SELECT c_nationkey, c_custkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           floor(PERCENT_RANK() OVER w * 1e6 + 0.5) / 1e6 AS prank,
           floor(CUME_DIST() OVER w * 1e6 + 0.5) / 1e6 AS cdist
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
)
def w_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        # floor(x*1e6+0.5)/1e6, not round(): identical in both engines
        # at the .5 boundaries percent_rank hits (caught at sf0.1)
        (F.floor(F.percent_rank().over(w) * 1e6 + F.lit(0.5)) / 1e6).alias(
            "prank"
        ),
        (F.floor(F.cume_dist().over(w) * 1e6 + F.lit(0.5)) / 1e6).alias(
            "cdist"
        ),
    )


# --- scalar conditional / null-handling functions ------------------------
# CASE, NULLIF, GREATEST/LEAST, COALESCE — the branch-free conditional
# surface; all constant-folding-friendly Catalyst expressions inside
# one codegen stage, no shuffle.
@register(
    "scalar_cond_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity > 25 THEN 'bulk'
                WHEN l_quantity > 10 THEN 'mid'
                ELSE 'small' END AS qty_class,
           NULLIF(l_linestatus, 'O') AS closed_status,
           GREATEST(l_quantity, CAST(l_discount * 100 AS DOUBLE))
             AS greatest_v,
           LEAST(l_tax, l_discount) AS least_rate,
           COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS return_or_none
    FROM lineitem
    """,
)
def scalar_cond_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") > 25, "bulk")
        .when(F.col("l_quantity") > 10, "mid")
        .otherwise("small")
        .alias("qty_class"),
        F.nullif(F.col("l_linestatus"), F.lit("O")).alias("closed_status"),
        F.greatest(
            F.col("l_quantity"), (F.col("l_discount") * 100).cast("double")
        ).alias("greatest_v"),
        F.least("l_tax", "l_discount").alias("least_rate"),
        F.coalesce(
            F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("none")
        ).alias("return_or_none"),
    )


# --- anomaly detection: per-series z-score -------------------------------
# The monitoring query a pipeline runs over its own daily volumes:
# aggregate events to (event_type, day) totals, then score each day
# against its series' mean/stddev and flag |z| ≥ 1.5. Two narrow
# shuffles — one keyed agg, one small broadcast join of per-type
# moments (cardinality = #event types) back onto the daily frame; at
# 100 TB the daily frame is already tiny relative to the raw events, so
# everything after the first agg is effectively free. Doubles are
# rounded at the comparison boundary so both engines flag the same
# days.
@register(
    "time_zscore_anomalies",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(SUM(value), 6) AS total
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    moments AS (
      SELECT event_type, avg(total) AS mu, stddev_samp(total) AS sd
      FROM daily GROUP BY event_type)
    SELECT d.event_type, d.day, d.total,
           round((d.total - m.mu) / m.sd, 6) AS zscore
    FROM daily d JOIN moments m USING (event_type)
    WHERE abs(round((d.total - m.mu) / m.sd, 6)) >= 1.5
    """,
)
def time_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("total"))
    moments = daily.groupBy("event_type").agg(
        F.avg("total").alias("mu"), F.stddev_samp("total").alias("sd")
    )
    z = F.round((F.col("total") - F.col("mu")) / F.col("sd"), 6)
    return (
        daily.join(F.broadcast(moments), "event_type")
        .filter(F.abs(z) >= 1.5)
        .select("event_type", "day", "total", z.alias("zscore"))
    )


# --- cohort retention matrix ---------------------------------------------
# The classic growth query: users grouped by first-seen day, counted on
# each subsequent active day. Shape at 100 TB: one keyed agg to get
# per-user cohort day (shuffle on user_id), a distinct (user, day)
# activity frame sharing that same key, a co-partitioned join, then a
# small (cohort × offset) count — output cardinality is days², not
# users, so everything downstream of the two user-keyed shuffles is
# negligible.
@register(
    "time_cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM first_seen f JOIN activity a USING (user_id)
    GROUP BY f.cohort_day, day_offset
    """,
)
def time_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    first_seen = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = ev.select("user_id", day.alias("day")).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


# --- SCD2 interval build (temporal dimension from an event log) ----------
# Collapse each user's event stream into validity intervals of their
# current event_type: a new interval opens whenever the type differs
# from the previous event (gaps-and-islands change detection), closes
# at the next change, NULL valid_to = current state. This is the
# batch MERGE a warehouse runs to maintain a slowly-changing dimension
# from CDC events. All windows are partitioned by user_id — one keyed
# shuffle, no global window; ties broken by event_id so the interval
# set is deterministic and engine-independent.
_SCD2_SQL = """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events WHERE user_id IS NOT NULL),
    changes AS (
      SELECT user_id, event_type, ts_s, ts, event_id FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type)
    -- lead ordered by FULL-precision ts + event_id: two state changes
    -- inside the same second tie on ts_s, and each engine would break
    -- the tie its own way (caught at sf0.1)
    SELECT user_id, event_type, ts_s AS valid_from,
           lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to
    FROM changes
    """


@register("scd2_user_state", _SCD2_SQL)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = ordered.filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    )
    # full-precision tie-break (see oracle comment): ts_s collides
    # within a second at larger SFs
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts_s").alias("valid_from"),
        F.lead("ts_s").over(w2).alias("valid_to"),
    )


# --- rolling correlation between two metric series -----------------------
# "Do clicks still predict purchases this week?" — align two event
# series on the day grid, then a 7-day ROWS-frame Pearson correlation.
# The pre-aggregate-then-window pattern (cf. w_trailing_7d_revenue):
# the corpus collapses to one row per day BEFORE any window, so the
# unpartitioned window runs over a days-sized frame — O(days), never
# O(events). Both engines' corr agree to well past 6 dp on a 7-row
# frame.
@register(
    "time_rolling_corr",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             round(SUM(CASE WHEN event_type = 'click' THEN value
                            ELSE 0 END), 6) AS clicks,
             round(SUM(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END), 6) AS purchases
      FROM events GROUP BY CAST(ts AS DATE))
    SELECT day, clicks, purchases,
           round(corr(clicks, purchases) OVER (
             ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
             AS corr_7d
    FROM daily ORDER BY day
    """,
)
def time_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.round(
            F.sum(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0)),
            6,
        ).alias("clicks"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
            ),
            6,
        ).alias("purchases"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "clicks",
        "purchases",
        F.round(F.corr("clicks", "purchases").over(w), 6).alias("corr_7d"),
    ).orderBy("day")


# --- scalar map functions ------------------------------------------------
# create_map / map_keys / map_values / element_at / map_filter /
# transform_values — the map surface (SURVEY §2.3 gap table row:
# "no map scalar functions" in the reference). All codegen'd
# expressions in one stage, no shuffle. The DuckDB oracle reproduces
# the VALUES directly from the source columns (map construction is the
# Spark-side behavior under test; both engines must land on identical
# scalars, computed in the same operation order for bit-equality).
@register(
    "scalar_map_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           3 AS n_entries,
           l_quantity AS qty,
           'disc,qty,tax' AS keys_sorted,
           l_quantity + l_discount * 100 + l_tax * 100 AS vals_sum,
           CAST(CASE WHEN l_quantity > 10 THEN 1 ELSE 0 END
              + CASE WHEN l_discount * 100 > 10 THEN 1 ELSE 0 END
              + CASE WHEN l_tax * 100 > 10 THEN 1 ELSE 0 END AS INT)
             AS n_high,
           l_quantity * 2 AS qty_doubled
    FROM lineitem WHERE l_orderkey % 97 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1/97 slice (VERDICT r16 #6): the map surface is demonstrated per
    # row, so returning EVERY lineitem row only timed a global sort +
    # full materialization of the table — the slice keeps the operator
    # coverage and the oracle parity while the demo stops paying for
    # rows that prove nothing new (bench slot 3.45 -> ~0.4 s).
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") % 97) == 0
    )
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity"),
        F.lit("disc"), F.col("l_discount") * 100,
        F.lit("tax"), F.col("l_tax") * 100,
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.size(m).alias("n_entries"),
        F.element_at(m, "qty").alias("qty"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        # fold in insertion order: qty + disc + tax — matches the
        # oracle's left-to-right sum for bit-identical doubles
        F.aggregate(
            F.map_values(m), F.lit(0.0), lambda acc, v: acc + v
        ).alias("vals_sum"),
        F.size(F.map_filter(m, lambda k, v: v > 10)).alias("n_high"),
        F.element_at(
            F.transform_values(m, lambda k, v: v * 2), "qty"
        ).alias("qty_doubled"),
    ).orderBy("l_orderkey", "l_linenumber")


# --- conversion funnel: view -> click -> purchase ------------------------
# The event-analytics staple a training-data/telemetry pipeline reports
# daily: how many users progressed through an ordered event sequence
# with a bounded gap between steps (here 24 h — sized so every stage
# carries signal on the month-long sparse fixture). Each stage is one keyed
# aggregate + one equi-join against the previous stage's (user, t)
# qualifier table — per stage exactly one shuffle on user_id (stage
# tables are |users|-sized; Catalyst broadcasts them when stats allow,
# otherwise it is a co-partitioned shuffle join — both correct at
# 100 TB, neither a cross product). Exact MIN(ts) timestamps and
# integer counts make the result engine-exact; no floats anywhere.
@register(
    "time_funnel_stages",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND e.ts >= v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOUR
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts >= c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOUR
      GROUP BY e.user_id)
    SELECT stage, n_users FROM (
      SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
      UNION ALL
      SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p)
    ORDER BY stage
    """,
)
def time_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    hour = F.expr("INTERVAL 24 HOUR")
    v = (
        ev.filter((F.col("event_type") == "view") & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") >= F.col("t1")) & (F.col("ts") <= F.col("t1") + hour))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") >= F.col("t2")) & (F.col("ts") <= F.col("t2") + hour))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        )

    return (
        stage(v, "1_view")
        .unionByName(stage(c, "2_click"))
        .unionByName(stage(p, "3_purchase"))
        .orderBy("stage")
    )


# --- SCD2 point-in-interval dimension lookup -----------------------------
# The consumer side of scd2_user_state: route every event to the
# validity interval that was current at its timestamp — the "join the
# fact to the dimension version that was true at the time" lookup every
# temporal warehouse runs. Scale shape: equi-join on user_id (ONE
# keyed shuffle, co-partitioned with the interval build) with the
# range predicate as a join residual — a hash join with a filter,
# never an interval cross-product. Second-granularity string bounds
# compare lexicographically and identically in both engines; an event
# in the same second as a state change lands in the newer interval
# (the older one's [from, to) is empty at that second) —
# deterministic, boundary behavior pinned by the oracle.
@register(
    "aj_scd2_point_lookup",
    f"""
    WITH intervals AS ({_SCD2_SQL}),
    ev AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
      FROM events WHERE user_id IS NOT NULL)
    SELECT i.user_id, i.event_type AS state, i.valid_from,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
    FROM intervals i
    JOIN ev e
      ON e.user_id = i.user_id
     AND e.ts_s >= i.valid_from
     AND (i.valid_to IS NULL OR e.ts_s < i.valid_to)
    GROUP BY i.user_id, i.event_type, i.valid_from
    ORDER BY 1, 3
    """,
)
def aj_scd2_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Merge-scan instead of interval self-join (r9): intervals and
    # facts come from the SAME events table, so routing each event to
    # its interval is a window carry, not a join — ONE scan of events
    # and ONE keyed shuffle (the two windows share the user_id
    # partitioning; the groupBy is map-side-combined). The join form
    # scanned events twice and shuffled three times; at 100 TB the
    # second scan dominates.
    #
    # Semantics replicated exactly: the join routed event e to the
    # interval with the LARGEST valid_from <= e.ts_s (second-granular
    # strings; a same-second earlier interval is empty at that second
    # and matches nothing). A RANGE-framed window ordered by ts_s —
    # whose frame includes ALL peers of the current second — carrying
    # max(struct(ts, event_id, ...)) over change rows picks exactly
    # that interval's opening change, full-precision-tie-broken the
    # same way as scd2_user_state's lead().
    from pyspark.sql.window import Window

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "value",
        )
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_carry = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.withColumn(
        "is_change",
        F.lag("event_type").over(w_seq).isNull()
        | (F.lag("event_type").over(w_seq) != F.col("event_type")),
    )
    carried = marked.select(
        "user_id",
        "value",
        F.max(
            F.when(
                F.col("is_change"),
                F.struct("ts", "event_id", "event_type", "ts_s"),
            )
        )
        .over(w_carry)
        .alias("iv"),
    )
    return (
        carried.groupBy(
            "user_id",
            F.col("iv.event_type").alias("state"),
            F.col("iv.ts_s").alias("valid_from"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("user_id", "valid_from")
    )
