"""Reference-parity queries (SURVEY.md §2.2 operator inventory).

The reference's entire query surface is: map/reduceByKey/count/distinct
over opaque (key, value) string pairs plus string-formatting of a
per-batch summary (Streamer.scala:122-130), and the bulk-sink row
shaping with null-key sentinel routing (HbaseWriter.scala:42-74).
Each operator below implements the *intended* semantics (the
reference's T2/T3 branch is dead code and its S4 bulk path writes
nothing — SURVEY.md §2.1); here they are live, tested, oracle-checked.

All queries run over the deterministic `messages` projection of the
events fixture (tables.messages / tables.MESSAGES_ORACLE_SQL), so the
DuckDB oracle reproduces them exactly. Wall-clock elements of the
reference (epoch-second rowkeys, SimpleDateFormat(now)) are replaced by
data-derived timestamps (max event ts) — the streaming pipeline in
kafka_spark_streaming_spark.streaming uses real batch time; these
batch variants must be deterministic for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.operators.registry import register
from kafka_spark_streaming_spark.tables import MESSAGES_ORACLE_SQL, messages

_M = f"WITH messages AS ({MESSAGES_ORACLE_SQL})"


# --- batch summary: T1+T2+T3+T4+T6+T7+T9 in one query --------------------
# Reference: counter/count/summary string in foreachRDD
# (Streamer.scala:122-130) + the dead distinct-count branch (:123-124).
# Shape at scale: two aggregates over one scan; the distinct count is a
# partial-agg'd groupBy — no driver-side anything.
@register(
    "r_batch_summary",
    f"""
    {_M}
    SELECT
      0 AS batch_id,
      COUNT(*) AS n_messages,
      (SELECT COUNT(*) FROM (SELECT DISTINCT key, value FROM messages))
          AS n_distinct,
      strftime(MAX(ts), '%Y/%m/%d %H:%M') AS batch_date,
      'Spark - date: ' || strftime(MAX(ts), '%Y/%m/%d %H:%M')
        || ' - number of RDD (batches): 0'
        || ' - number of message in this RDD: ' || CAST(COUNT(*) AS VARCHAR)
          AS summary
    FROM messages
    """,
)
def r_batch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = messages(spark, sf_dir)
    date_col = F.date_format(F.max("ts"), "yyyy/MM/dd HH:mm")
    main = msgs.agg(
        F.lit(0).alias("batch_id"),
        F.count(F.lit(1)).alias("n_messages"),
        date_col.alias("batch_date"),
        F.concat(
            F.lit("Spark - date: "),
            date_col,
            F.lit(" - number of RDD (batches): 0"),
            F.lit(" - number of message in this RDD: "),
            F.count(F.lit(1)).cast("string"),
        ).alias("summary"),
    )
    # null-inclusive distinct (key,value) count — countDistinct would
    # drop null-keyed rows, so dedup-then-count as its own 1-row agg,
    # folded into the same plan by a broadcast cross join (one action,
    # nothing driver-side — mirrors the oracle's scalar subquery).
    dcount = (
        msgs.dropDuplicates(["key", "value"]).agg(
            F.count(F.lit(1)).alias("n_distinct")
        )
    )
    return main.crossJoin(dcount).select(
        "batch_id", "n_messages", "n_distinct", "batch_date", "summary"
    )


# --- T2: per-message frequency (the dead reduceByKey, made live) ---------
@register(
    "r_message_frequency",
    f"""
    {_M}
    SELECT key, value, COUNT(*) AS freq
    FROM messages GROUP BY key, value
    """,
)
def r_message_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        messages(spark, sf_dir)
        .groupBy("key", "value")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


# --- T5: distinct (the bulk path's x.distinct(), Streamer.scala:173) -----
@register(
    "r_distinct_messages",
    f"{_M} SELECT DISTINCT key, value FROM messages",
)
def r_distinct_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return messages(spark, sf_dir).dropDuplicates(["key", "value"]).select("key", "value")


# --- S4 intent: bulk sink row shaping (T5+T7+T10) ------------------------
# HbaseWriter.scala:52-69: distinct records → row `rowkey-key`, cell
# (cf1, content) = "key--|--value"; null keys → sentinel row. The
# reference's implementation wrote nothing (driver-side ArrayList
# mutated on executors, SURVEY.md §2.1) — this is the intended output.
@register(
    "r_bulk_rows",
    f"""
    {_M}
    SELECT DISTINCT
      CASE WHEN key IS NULL THEN 'rk-kafka empty message'
           ELSE 'rk-' || key END AS rowkey,
      'cf1' AS cf,
      'content' AS qualifier,
      CASE WHEN key IS NULL THEN 'kafka empty message'
           ELSE key || '--|--' || value END AS content
    FROM messages
    """,
)
def r_bulk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        messages(spark, sf_dir)
        .select(
            F.when(F.col("key").isNull(), F.lit("rk-kafka empty message"))
            .otherwise(F.concat(F.lit("rk-"), F.col("key")))
            .alias("rowkey"),
            F.lit("cf1").alias("cf"),
            F.lit("content").alias("qualifier"),
            F.when(F.col("key").isNull(), F.lit("kafka empty message"))
            .otherwise(F.concat_ws("--|--", F.col("key"), F.col("value")))
            .alias("content"),
        )
        .dropDuplicates()
    )


# --- multi-topic source: per-topic stats (Streamer.scala:109 csv set) ----
@register(
    "r_per_topic_counts",
    f"""
    {_M}
    SELECT topic, COUNT(*) AS n_messages,
           COUNT(DISTINCT value) AS n_event_types
    FROM messages GROUP BY topic
    """,
)
def r_per_topic_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        messages(spark, sf_dir)
        .groupBy("topic")
        .agg(
            F.count(F.lit(1)).alias("n_messages"),
            F.countDistinct("value").alias("n_event_types"),
        )
    )


# --- S3 semantics: keyed upsert, last-write-wins -------------------------
# HBase cell model: same (rowkey, cf, qualifier) ⇒ latest write wins
# (HbaseWriter.scala:26-29). Batch-queryable formulation: latest value
# per key by event time, deterministic tie-break. At scale this is one
# shuffle on the key (the same shuffle a MERGE would need) — max_by
# shape, no driver involvement.
@register(
    "r_upsert_last_write_wins",
    f"""
    {_M}
    SELECT key AS rowkey, 'cf1' AS cf, 'message' AS qualifier,
           value AS latest_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS updated_at
    FROM (
      SELECT key, value, ts,
             ROW_NUMBER() OVER (PARTITION BY key
                                ORDER BY ts DESC, value DESC) AS rn
      FROM messages WHERE key IS NOT NULL
    ) WHERE rn = 1
    """,
)
def r_upsert_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("key").orderBy(F.desc("ts"), F.desc("value"))
    return (
        messages(spark, sf_dir)
        .filter(F.col("key").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("key").alias("rowkey"),
            F.lit("cf1").alias("cf"),
            F.lit("message").alias("qualifier"),
            F.col("value").alias("latest_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("updated_at"),
        )
    )
