"""Data-quality / skew-mitigation operators.

Two staples of running a pipeline over data you don't control:

- q_profile_events — column profile (null rate, range, cardinality) of
  the stream table in ONE scan: every statistic is a conditional
  aggregate, so profiling 100 TB costs exactly one pass and one 1-row
  reduce, not a query per column.
- a_salted_distinct_users — exact count-distinct for HOT groups via
  two-phase salting.  A plain groupBy(event_type).countDistinct(user)
  shuffles every (type, user) pair to one reducer per type — with 5
  types, 5 tasks own 100 % of the data.  Salting by a hash of the
  distinct key splits each hot group across 16 reducers (each user
  lands in exactly one salt bucket, so per-bucket distinct counts ADD
  to the exact answer).  Same result, 16× the parallelism on the hot
  path; the SQL oracle is the plain COUNT(DISTINCT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.operators.registry import register
from kafka_spark_streaming_spark.tables import table

N_SALT = 16


@register(
    "a_salted_distinct_users",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def a_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    salted = ev.withColumn(
        "salt", F.pmod(F.xxhash64("user_id"), F.lit(N_SALT))
    )
    per_bucket = salted.groupBy("event_type", "salt").agg(
        F.countDistinct("user_id").alias("d")
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum("d").alias("n_users"))
        .orderBy("event_type")
    )


@register(
    "q_profile_events",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(*) - COUNT(user_id) AS user_id_nulls,
           COUNT(DISTINCT user_id) AS user_id_distinct,
           COUNT(*) - COUNT(value) AS value_nulls,
           MIN(value) AS value_min, MAX(value) AS value_max,
           COUNT(*) - COUNT(event_type) AS event_type_nulls,
           COUNT(DISTINCT event_type) AS event_type_distinct,
           CAST(epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS ts_min_epoch,
           CAST(epoch_us(MAX(ts)) // 1000000 AS BIGINT) AS ts_max_epoch
    FROM events
    """,
)
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    return ev.agg(
        n.alias("n_rows"),
        (n - F.count("user_id")).alias("user_id_nulls"),
        F.countDistinct("user_id").alias("user_id_distinct"),
        (n - F.count("value")).alias("value_nulls"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
        (n - F.count("event_type")).alias("event_type_nulls"),
        F.countDistinct("event_type").alias("event_type_distinct"),
        F.unix_timestamp(F.min("ts")).alias("ts_min_epoch"),
        F.unix_timestamp(F.max("ts")).alias("ts_max_epoch"),
    )


# --- interval range-frame window: 7-day trailing revenue ------------------
# rangeBetween (value-based frame) over per-day totals: each day sees
# the sum of the previous 7 days including itself. Pre-aggregating to
# days BEFORE the window keeps the frame scan tiny (one row per day,
# not per order) — the difference between O(days) and O(orders) frame
# evaluation at 100 TB.
@register(
    "w_trailing_7d_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
               AS day_rev
      FROM orders GROUP BY 1
    )
    SELECT d, day_rev,
           CAST(SUM(CAST(day_rev AS DECIMAL(18,2))) OVER (
             ORDER BY d RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                              AND CURRENT ROW) AS DOUBLE) AS rev_7d
    FROM daily ORDER BY d
    """,
)
def w_trailing_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("day_rev")
    )
    w = (
        W.orderBy(F.unix_date(F.col("d")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "d",
        "day_rev",
        F.sum(F.col("day_rev").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("rev_7d"),
    ).orderBy("d")


# --- salted join: hot-key fact ⋈ dim without broadcast --------------------
# event_type has 5 values — a plain shuffle join sends 1/5 of the fact
# table to each of 5 reducers and the rest idle. When the dim side is
# too large to broadcast (the real case this stands in for), the fix is
# salting: replicate each dim row n_salt times, give each fact row a
# deterministic salt from a hash, join on (key, salt) — hot keys now
# spread over n_salt reducers. Oracle is the plain join.
@register(
    "j_salted_type_stats",
    """
    WITH dim AS (
      SELECT event_type, COUNT(*) AS type_total
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, d.type_total, COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type, d.type_total
    ORDER BY e.event_type
    """,
)
def j_salted_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_total")
    )
    dim_salted = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)]))
    )
    fact_salted = ev.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALT))
    )
    return (
        fact_salted.join(dim_salted, ["event_type", "salt"])
        .groupBy("event_type", "type_total")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(14,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


# --- exact interpolated median + dispersion moments ----------------------
# percentile() (exact, sort-based) and the moment aggregates; both
# engines implement the same continuous-quantile and Welford-style
# definitions, rounded to 6 dp to absorb last-ulp accumulation-order
# differences. At 100 TB the exact median needs a per-group sort —
# sk_value_quantiles is the sketch alternative when that's too hot.
@register(
    "a_median_and_moments",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS median_value,
           round(stddev_samp(value), 6) AS sd_value,
           round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_value_user
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def a_median_and_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
            F.round(F.stddev_samp("value"), 6).alias("sd_value"),
            F.round(
                F.corr(F.col("value"), F.col("user_id").cast("double")), 6
            ).alias("corr_value_user"),
        )
        .orderBy("event_type")
    )


# --- unpivot (wide → long) -----------------------------------------------
@register(
    "u_part_measures_long",
    """
    SELECT p_partkey, measure, val FROM (
      SELECT p_partkey,
             CAST(p_size AS DOUBLE) AS sizev,
             p_retailprice AS price
      FROM part
    ) UNPIVOT (val FOR measure IN (sizev AS 'size', price AS 'price'))
    ORDER BY p_partkey, measure
    """,
)
def u_part_measures_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("sizev"),
        F.col("p_retailprice").alias("price"),
    )
    return (
        p.unpivot(
            "p_partkey", ["sizev", "price"], "measure", "val"
        )
        .withColumn(
            "measure",
            F.when(F.col("measure") == "sizev", "size").otherwise("price"),
        )
        .orderBy("p_partkey", "measure")
    )


# --- stratified sampling (training-data subsampling) ---------------------
@register(
    "smp_stratified_events",
    """
    WITH kept AS (
      SELECT event_type FROM events
      WHERE event_type NOT IN ('view', 'click')
         OR strpos('0123456789abcdef',
              substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1 < 8)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY event_type
    """,
)
def smp_stratified_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum downsampling, hash-deterministic: keep the ~50% of
    views/clicks whose md5(event_id) first hex digit < 8, everything
    else intact — the class-rebalancing shape of a training-data
    pipeline. A hash draw instead of a seeded RNG on purpose: the
    sample is identical across runs, engines, and re-partitionings
    (an RNG sampler like sampleBy is partition-order-dependent and
    engine-specific, which makes the pipeline non-replayable), and the
    filter is a per-row map evaluated at the scan — no shuffle."""
    ev = table(spark, sf_dir, "events")
    bucket = F.conv(
        F.substring(F.md5(F.encode(F.col("event_id").cast("string"),
                                   "UTF-8")), 1, 1),
        16,
        10,
    ).cast("bigint")
    kept = ev.filter(
        (~F.col("event_type").isin("view", "click")) | (bucket < 8)
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept")
    )


# --- deterministic capped sampling per stratum ---------------------------
# "At most K docs per source" — the contamination/over-representation
# cap a corpus builder applies before training. Selection is a
# content-independent deterministic order (md5 of the doc id, a string
# both engines hash identically), so the sample is reproducible across
# runs AND across engines — which is what makes it oracle-checkable,
# unlike an RNG sampler. One shuffle on the stratum key, per-partition
# top-K heap via row_number; no global sort.
@register(
    "smp_capped_per_source",
    """
    SELECT source, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
)
def smp_capped_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("source", "doc_id", "n_chars")
    )


# --- equi-width histogram (width_bucket) ---------------------------------
# The profiling histogram: one scan, integer bucket arithmetic, one
# groupBy — the shape never changes with scale, and the bucket count
# (not the row count) bounds the output. Bounds are fixed constants so
# the bucketing is reproducible run-to-run (a data-derived min/max
# would need a first pass; at 100 TB you take bounds from table stats).
@register(
    "q_order_price_histogram",
    """
    SELECT CASE WHEN CAST(o_totalprice AS DOUBLE) < 0.0 THEN 0
                WHEN CAST(o_totalprice AS DOUBLE) >= 600000.0 THEN 13
                ELSE CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 50000.0)
                          AS BIGINT) + 1 END
             AS bucket,
           COUNT(*) AS n_orders,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS max_price
    FROM orders GROUP BY bucket
    """,
)
def q_order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    money = F.col("o_totalprice").cast("decimal(12,2)")
    return (
        o.withColumn(
            "bucket",
            F.width_bucket(
                F.col("o_totalprice").cast("double"),
                F.lit(0.0),
                F.lit(600000.0),
                F.lit(12),
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(money).cast("double").alias("min_price"),
            F.max(money).cast("double").alias("max_price"),
        )
    )


# --- cross-table integrity audit -----------------------------------------
# The referential/constraint QA a warehouse runs after every load:
# orphan foreign keys (anti-joins — dims broadcast at scale), domain
# violations, and null-rate checks, one (check, n_violations) row
# each. Per-table work is a single scan + conditional aggregate; the
# orphan checks shuffle nothing but the probe side's key column.
@register(
    "q_integrity_audit",
    """
    SELECT 'orphan_order_custkey' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_violations
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'orphan_lineitem_orderkey',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'nonpositive_extendedprice',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE CAST(l_extendedprice AS DOUBLE) <= 0.0
    UNION ALL
    SELECT 'null_event_user',
           CAST(COUNT(*) AS BIGINT)
    FROM events WHERE user_id IS NULL
    UNION ALL
    SELECT 'shipdate_before_orderdate',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate < o.o_orderdate
    """,
)
def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cust = table(spark, sf_dir, "customer")
    ev = table(spark, sf_dir, "events")

    def count1(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_violations"),
        )

    orphan_orders = o.join(
        cust.select("c_custkey"),
        o.o_custkey == F.col("c_custkey"),
        "left_anti",
    )
    orphan_items = li.select("l_orderkey").join(
        o.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    )
    bad_price = li.filter(F.col("l_extendedprice").cast("double") <= 0.0)
    null_user = ev.filter(F.col("user_id").isNull())
    early_ship = li.select("l_orderkey", "l_shipdate").join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).filter(F.col("l_shipdate") < F.col("o_orderdate"))
    return (
        count1(orphan_orders, "orphan_order_custkey")
        .unionAll(count1(orphan_items, "orphan_lineitem_orderkey"))
        .unionAll(count1(bad_price, "nonpositive_extendedprice"))
        .unionAll(count1(null_user, "null_event_user"))
        .unionAll(count1(early_ship, "shipdate_before_orderdate"))
    )


# --- data-mixture rebalancing sampler ------------------------------------
# Rebalance a corpus toward a target mixture (here: uniform across
# sources) by per-source downsampling: rate_s = min(1, target_share ·
# N / n_s). The draw is the md5-bucket trick (first 6 hex digits as a
# 24-bit uniform), not an RNG — identical keep-set across runs,
# engines, and repartitionings, which is what makes a 100 TB mixture
# job replayable and auditable. Plan shape: one small per-source agg
# (broadcast back), then a scan-side filter — no wide shuffle of the
# corpus itself.
@register(
    "smp_mixture_rebalance",
    """
    WITH counts AS (
      SELECT source, COUNT(*) AS n_s,
             SUM(COUNT(*)) OVER () AS n_total,
             COUNT(*) OVER () AS n_sources
      FROM documents GROUP BY source),
    rates AS (
      SELECT source, n_s,
             least(1.0, (n_total * 1.0 / n_sources) / n_s) AS rate
      FROM counts),
    kept AS (
      SELECT d.source FROM documents d JOIN rates r USING (source)
      WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))
                 AS BIGINT) / 16777216.0 < r.rate)
    SELECT r.source, CAST(r.n_s AS BIGINT) AS n_docs,
           round(r.rate, 6) AS rate,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN (
      SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY source) k
    USING (source)
    """,
)
def smp_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    # corpus totals as a broadcast 1-row agg (not a global window — that
    # would force the per-source frame through one partition)
    totals = counts.agg(
        F.sum("n_s").alias("n_total"), F.count(F.lit(1)).alias("n_sources")
    )
    rates = counts.crossJoin(totals).select(
        "source",
        "n_s",
        F.least(
            F.lit(1.0),
            (F.col("n_total") * 1.0 / F.col("n_sources")) / F.col("n_s"),
        ).alias("rate"),
    )
    draw = (
        F.conv(
            F.substring(
                F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        / 16777216.0
    )
    kept = (
        d.join(F.broadcast(rates), "source")
        .filter(draw < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_docs"),
            F.round("rate", 6).alias("rate"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


# --- CDC-style snapshot diff ---------------------------------------------
# Reconcile two versions of a table into a change feed: the audit a
# pipeline runs after a backfill ("what did the rerun actually
# change?"). v2 is derived from v1 by deterministic rules (deletes:
# key % 97 = 0; updates: price bump where key % 89 = 0; inserts:
# shifted keys where key % 101 = 0) so both engines see identical
# versions without extra fixtures. The diff itself is the operator: a
# single full-outer equi-join on the key — one co-partitioned shuffle
# at 100 TB — emitting only changed rows (insert/delete/update), never
# the unchanged bulk.
@register(
    "cdc_snapshot_diff",
    """
    WITH v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 89 = 0
                  THEN round(o_totalprice + 10.0, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000, o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0)
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                WHEN b.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           a.o_totalprice AS old_price, b.o_totalprice AS new_price
    FROM orders a FULL OUTER JOIN v2 b USING (o_orderkey)
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_totalprice <> b.o_totalprice
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v2 = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 89 == 0,
                F.round(F.col("o_totalprice") + 10.0, 2),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionAll(
            o.filter(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    a = o.select(
        F.col("o_orderkey").alias("key_a"), F.col("o_totalprice").alias("old_price")
    )
    b = v2.select(
        F.col("o_orderkey").alias("key_b"), F.col("o_totalprice").alias("new_price")
    )
    return (
        a.join(b, a.key_a == b.key_b, "full_outer")
        .filter(
            F.col("key_a").isNull()
            | F.col("key_b").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
        .select(
            F.coalesce("key_a", "key_b").alias("o_orderkey"),
            F.when(F.col("key_a").isNull(), "insert")
            .when(F.col("key_b").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            "old_price",
            "new_price",
        )
    )


# --- join-key skew profiler ----------------------------------------------
# The diagnostic that DECIDES when the salting operators above are
# needed: per join-key column, the hottest keys with their share and a
# skew ratio (hot-key count ÷ mean count). One groupBy per column,
# top-5 via orderBy+limit — TakeOrderedAndProject, a per-partition
# heap, NEVER a window over the distinct-key stream (billions of keys
# at 100 TB); the per-column totals are a 1-row broadcast. The ratio
# widens to double BEFORE the n · n_keys product: at this operator's
# target scale (n ~1e9 hot-key rows × n_keys ~1e10 keys) the BIGINT
# product overflows int64 — Spark (non-ANSI) would wrap silently while
# DuckDB raises, so both engines multiply in double (ADVICE r8).
@register(
    "q_key_skew_profile",
    """
    WITH keys AS (
      SELECT 'o_custkey' AS col_name, CAST(o_custkey AS VARCHAR) AS key
      FROM orders
      UNION ALL
      SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem),
    cnt AS (SELECT col_name, key, COUNT(*) AS n
            FROM keys GROUP BY col_name, key),
    stats AS (
      SELECT col_name, SUM(n) AS total_rows, COUNT(*) AS n_keys
      FROM cnt GROUP BY col_name),
    ranked AS (
      SELECT c.col_name, c.key, c.n,
             ROW_NUMBER() OVER (PARTITION BY c.col_name
                                ORDER BY c.n DESC, c.key ASC) AS rank
      FROM cnt c)
    SELECT r.col_name, r.key, CAST(r.n AS BIGINT) AS n,
           CAST(r.rank AS BIGINT) AS rank,
           CAST(s.total_rows AS BIGINT) AS total_rows,
           CAST(s.n_keys AS BIGINT) AS n_keys,
           round(CAST(r.n AS DOUBLE) * s.n_keys / s.total_rows, 6)
             AS skew_ratio
    FROM ranked r JOIN stats s USING (col_name)
    WHERE r.rank <= 5
    ORDER BY col_name, rank
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    def profile(df: DataFrame, col: str) -> DataFrame:
        cnt = df.groupBy(
            F.col(col).cast("string").alias("key")
        ).agg(F.count(F.lit(1)).alias("n"))
        stats = cnt.agg(
            F.sum("n").cast("bigint").alias("total_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        )
        # top-5: orderBy+limit compiles to TakeOrderedAndProject (per-
        # partition heap); the rank window then runs over the 5-row
        # result — bounded by construction, never over the key stream
        top = cnt.orderBy(F.desc("n"), F.asc("key")).limit(5)
        w = Window.orderBy(F.desc("n"), F.asc("key"))
        return (
            top.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .crossJoin(stats)
            .select(
                F.lit(col).alias("col_name"),
                "key",
                F.col("n").cast("bigint").alias("n"),
                "rank",
                "total_rows",
                "n_keys",
                F.round(
                    F.col("n") * 1.0 * F.col("n_keys") / F.col("total_rows"),
                    6,
                ).alias("skew_ratio"),
            )
        )

    o = profile(table(spark, sf_dir, "orders"), "o_custkey")
    li = profile(table(spark, sf_dir, "lineitem"), "l_suppkey")
    return o.unionByName(li).orderBy("col_name", "rank")
