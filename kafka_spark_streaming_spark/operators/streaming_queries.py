"""Streaming-backed registered queries.

Each of these runs a REAL Structured Streaming query (file-stream
source standing in for Kafka, drained deterministically by one
availableNow helper, `_drain`), folds it to final state, and returns
that state as a DataFrame — so the DuckDB oracle can check
batch≡stream equivalence (SURVEY.md §5.3, "what's hard" #2).

Wall-clock elements are made deterministic by injecting a fixed clock
into the pipeline (epoch 1700000000 → 2023/11/14 22:13 UTC).
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from kafka_spark_streaming_spark.manifest import ManifestStore, appended
from kafka_spark_streaming_spark.operators.registry import register
from kafka_spark_streaming_spark.sources.files import file_stream_messages
from kafka_spark_streaming_spark.streaming.pipeline import (
    StreamerConfig,
    StreamerPipeline,
)
from kafka_spark_streaming_spark.streaming.stateful import (
    daily_rollup,
    fold_snapshots_to_final,
    multi_batch_events_stream,
    user_lifetime_stats,
)
from kafka_spark_streaming_spark.streaming.windows import (
    sessionized_counts,
    windowed_counts,
)
from kafka_spark_streaming_spark.operators.dedup import _SHINGLES_SQL
from kafka_spark_streaming_spark.tables import MESSAGES_ORACLE_SQL, table

_M = f"WITH messages AS ({MESSAGES_ORACLE_SQL})"
_seq = itertools.count()

# every prefix a _scratch_dir() caller uses — transient per-invocation
# dirs only; persistent cross-process caches (kss_split_*, kss_docsplit_*,
# bucketed/partitioned layouts) have their own fingerprint-based pruning
# and must NOT be matched here
_SCRATCH_PREFIXES = (
    "kss_ckpt_", "kss_pipe_", "kss_increddup_", "kss_s5_", "kss_snap_",
    "kss_sivf_",
)


def _newest_mtime_shallow(d: str) -> float:
    """Newest mtime across the dir and its direct children (ADVICE r7
    streaming_queries.py:79): a live streaming query's top-level
    checkpoint dir mtime freezes once offsets/ and commits/ exist, but
    every micro-batch write lands a file INSIDE those children and
    advances the child dir's mtime — so a >30-min drain stays visibly
    live to the age gate without needing a full recursive walk."""
    newest = os.path.getmtime(d)
    with os.scandir(d) as entries:
        for e in entries:
            try:
                newest = max(newest, e.stat().st_mtime)
            except OSError:
                pass
    return newest


def reclaim_scratch(min_age_s: float = 1800) -> None:
    """Best-effort-remove every transient scratch dir whose newest
    shallow mtime is older than min_age_s — age-gated on activity, not
    creation, so a concurrent session's live drain (even one running
    longer than the threshold) is never touched (same threshold
    rationale as physical._prune_stale).  Harnesses call it once
    before their timed windows (`bench.Timer`), so a drain that
    happens to run after a batch of dirs ages out is not charged for
    deleting them."""
    now = time.time()
    tmp = tempfile.gettempdir()
    for pref in _SCRATCH_PREFIXES:
        for d in glob.glob(os.path.join(tmp, pref + "*")):
            try:
                if now - _newest_mtime_shallow(d) >= min_age_s:
                    shutil.rmtree(d, ignore_errors=True)
            except OSError:
                pass


def _scratch_dir(prefix: str, min_age_s: float = 1800) -> str:
    """mkdtemp plus reclamation: every streaming query creates fresh
    drain-output/checkpoint dirs per call (bench alone = 3 timed passes
    + warmup) and nothing else ever deletes them, so /tmp would grow by
    several corpus copies per round. Before allocating, reclaim aged
    transient siblings (`reclaim_scratch`)."""
    assert prefix in _SCRATCH_PREFIXES, f"unregistered scratch prefix {prefix}"
    reclaim_scratch(min_age_s)
    return tempfile.mkdtemp(prefix=prefix)


def _events_path(sf_dir: str) -> str:
    return os.path.join(sf_dir, "events.parquet")


def _small_batch_drain_confs(spark: SparkSession, parts: int) -> dict:
    """Conf set for a drain whose per-batch plans are tiny: a pinned
    shuffle width plus the engine's drain AQE policy (config.py
    DRAIN_ADAPTIVE_KEY — default off, the measured local optimum; a
    deployment whose per-batch volumes benefit from AQE flips the
    knob, no engine edit).  Scoped by `_drain` around every stream
    drain (see there for what each conf reaches) and by
    s_upsert_snapshot_read around its three batch merges."""
    from kafka_spark_streaming_spark.config import (
        DRAIN_ADAPTIVE_DEFAULT,
        DRAIN_ADAPTIVE_KEY,
    )

    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.adaptive.enabled": spark.conf.get(
            DRAIN_ADAPTIVE_KEY, DRAIN_ADAPTIVE_DEFAULT
        ),
    }


@contextmanager
def _scoped_sql_confs(spark: SparkSession, confs: dict):
    """Scope a set of SQL confs to a drain and restore them afterwards
    (exception-safe).

    SINGLE-THREADED BY ASSUMPTION (ADVICE r14): this mutates the
    SHARED session conf, so overlapping scopes from concurrent query
    functions on one SparkSession would restore stale values, and a
    DataFrame returned from inside the scope but executed after exit
    plans under the restored default.  Both are fine here — the
    registry drains queries sequentially and every scoped drain fully
    materializes before returning — but a caller that wants
    concurrency must scope per-query instead (the stream-level
    spark.sql.shuffle.partitions option on writeStream)."""
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _drain(
    spark: SparkSession, writer: DataStreamWriter, parts: int
) -> StreamingQuery:
    """The one way a registered query drains a stream: name it
    `kss_drain_<pid>_<n>`, checkpoint it in a fresh scratch dir, run
    it with the availableNow trigger and await it under
    `_small_batch_drain_confs(spark, parts)`; a failed stream re-raises
    here.  `writer` arrives with its sink set (memory, foreach or
    foreachBatch); the terminated query is returned.

    What the scoped confs reach (measured, pyspark 4.1.2):
    - a stateful stream's micro-batch plans never hold an
      AdaptiveSparkPlan, whatever the session's AQE setting, and their
      shuffle width is read at first start and pinned by the
      checkpoint, so `parts` is the stream's state-store count;
    - a foreachBatch body's plans read the OUTER session's confs as
      each batch executes, so `parts` and the AQE policy bound their
      ordinary shuffles too — which is why the scope wraps the await,
      not just the start.

    A memory sink registers a view under the stream's name at start:
    a failed drain drops it here, a finished one leaves it to
    `_drain_to_memory`."""
    name = f"kss_drain_{os.getpid()}_{next(_seq)}"
    writer = (
        writer.queryName(name)
        .option("checkpointLocation", _scratch_dir("kss_ckpt_"))
        .trigger(availableNow=True)
    )
    try:
        with _scoped_sql_confs(spark, _small_batch_drain_confs(spark, parts)):
            q = writer.start()
            q.awaitTermination()
    except BaseException:
        spark.catalog.dropTempView(name)
        raise
    return q


def _drain_to_memory(stream_df: DataFrame, mode: str, parts: int) -> DataFrame:
    """Run a streaming DF to completion into a memory sink on `parts`
    shuffle partitions; return the sink's rows.  The returned frame
    holds the sink through its resolved plan, so the catalog view that
    named it is dropped before returning."""
    spark = stream_df.sparkSession
    q = _drain(
        spark, stream_df.writeStream.outputMode(mode).format("memory"), parts
    )
    try:
        return spark.table(q.name)
    finally:
        spark.catalog.dropTempView(q.name)


# State-store count of the update-mode aggregate drains (_drain_and_fold:
# s_stateful_user_stats, s_incremental_daily_rollup, s_stream_topk_tokens,
# s_stream_hll_users).  The count is fixed at stream start from
# spark.sql.shuffle.partitions, never AQE-coalesced, and pinned by the
# checkpoint for its whole life.  The folds run on the JVM, so each
# store adds a fixed cost per batch (task + state load + delta commit)
# and no parallelism the fold needs.  Interleaved A/B on a 4-vCPU VM
# (PERF_NOTES "s_stateful_user_stats on the JVM"): perfbench
# stateful_drain median events/s 2→18.4k, 4→13.4k, 8→12.7k, 16→8.4k;
# s_stateful_user_stats at sf0.1 (4 batches of 25k rows) min-of-4
# 2→1.21 s, 4→1.40 s, 8→1.78 s, 16→2.64 s; the other three drains at
# sf0.1 in PERF_NOTES "Three partial-fold drains as streaming
# aggregates" (8 stores loses on each).
# 100 TB sizing rule: stores = min(executor cores, max(per-batch rows /
# 10^4, state bytes / 1 GB)), chosen before the first start — below
# ~10^4 rows per store per batch the fixed store cost outweighs the
# fold, and the HDFS-backed provider holds each store's map in executor
# memory.  State bytes per drain: |users| × 3 longs (user stats),
# |days| × 2 longs (rollup), |vocab| × (token + 1 long) (top-k),
# |types| × one HLL sketch of about 4 KB at the default lgConfigK 12
# (HLL).  That state is bounded by the key set, and update mode emits
# only the keys a batch touched; per-batch partial files would instead
# grow by every batch's touched keys for the life of the stream.
_AGGREGATE_DRAIN_STORES = 2


def _drain_and_fold(agg: DataFrame, key: str, count: str) -> DataFrame:
    """Drain a streaming `groupBy(key).agg(...)` in update mode and fold
    its per-batch snapshot rows to each key's final state by the
    strictly rising row count `count` (stateful.fold_snapshots_to_final).
    Exactly-once comes from the checkpointed state store: a batch
    re-executed after a crash before its commit resumes from the last
    committed state version, and its re-emitted snapshots fold away."""
    snapshots = _drain_to_memory(agg, "update", _AGGREGATE_DRAIN_STORES)
    return fold_snapshots_to_final(snapshots, key, count)


# --- streaming aggregation folded to final state -------------------------
@register(
    "s_stream_value_counts",
    f"{_M} SELECT value, COUNT(*) AS n FROM messages GROUP BY value",
)
def s_stream_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = file_stream_messages(spark, _events_path(sf_dir))
    agg = msgs.groupBy("value").agg(F.count(F.lit(1)).alias("n"))
    # 8 state-store partitions (A/B against the 32-partition default:
    # 1.26 -> 0.81 s); the update-mode drains' 2 stores
    # (_AGGREGATE_DRAIN_STORES) have not been A/B'd on this complete-
    # mode drain.
    return _drain_to_memory(agg, "complete", 8)


# --- event-time tumbling windows (phase 2) -------------------------------
@register(
    "s_windowed_counts",
    f"""
    {_M}
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS bucket,
           value, COUNT(*) AS n
    FROM messages GROUP BY 1, 2
    """,
)
def s_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = file_stream_messages(spark, _events_path(sf_dir))
    # 8 state stores (A/B: 1.27 -> 1.00 s)
    return _drain_to_memory(windowed_counts(msgs, "1 hour"), "complete", 8)


# --- event-time session windows (phase 2) --------------------------------
# Gap-based sessions via session_window: state merges adjacent events
# per key until a 30-min silence. The oracle is the batch gaps-and-
# islands equivalent (lag → gap flag → running sum = session id) with
# Spark's window semantics: a new session starts when the gap is >= the
# timeout, and session end = last event + timeout.
@register(
    "s_session_counts",
    f"""
    {_M},
    m AS (SELECT key, ts FROM messages WHERE key IS NOT NULL),
    flagged AS (
      SELECT key, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY key ORDER BY ts)
                    >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
      FROM m),
    sess AS (
      SELECT key, ts,
             SUM(new_sess) OVER (PARTITION BY key ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT key,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
             AS sess_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY key, sid
    """,
)
def s_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = file_stream_messages(spark, _events_path(sf_dir))
    # 8 state stores (A/B: 1.86 -> 1.19 s)
    return _drain_to_memory(
        sessionized_counts(msgs, gap="30 minutes"), "complete", 8
    )


# --- streaming dedup (T5, cross-batch) -----------------------------------
@register(
    "s_stream_distinct",
    f"{_M} SELECT DISTINCT key, value FROM messages",
)
def s_stream_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = file_stream_messages(spark, _events_path(sf_dir))
    distinct = msgs.select("key", "value").dropDuplicates(["key", "value"])
    # 8 state stores (A/B: 1.08 -> 0.72 s)
    return _drain_to_memory(distinct, "append", 8)


# --- stream-static enrichment join ---------------------------------------
# The third streaming join shape (next to stream-stream and stateful):
# each micro-batch joins against a static dimension — no state, the
# dim is re-resolvable per batch. Here the dim is a batch-computed
# user→cohort table; at scale it is the classic "enrich events with
# user metadata" pattern. The dim grows with the user base, so the
# planner picks the strategy from its size estimate: it broadcasts the
# dim at sf0.1 and on the sf1 fixture (the plan a forced hint gave,
# PERF_NOTES "Forced broadcasts") and may shuffle it once the estimate
# passes autoBroadcastJoinThreshold.
@register(
    "s_stream_static_enrich",
    """
    WITH dim AS (
      SELECT user_id, user_id % 7 AS cohort
      FROM (SELECT DISTINCT user_id FROM events))
    SELECT cohort, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT)
             AS sum_value_4dec
    FROM events e JOIN dim USING (user_id)
    GROUP BY cohort
    """,
)
def s_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_spark_streaming_spark.sources.files import file_stream_events
    from kafka_spark_streaming_spark.tables import table

    dim = (
        table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("cohort", F.col("user_id") % 7)
    )
    stream = file_stream_events(spark, _events_path(sf_dir))
    agg = (
        stream.join(dim, "user_id")
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint"))
            .cast("bigint")
            .alias("sum_value_4dec"),
        )
    )
    # 7 cohorts need nowhere near 32 state stores (r17 interleaved
    # A/B at sf0.1, min-of-3: 32 → 1.44 s, 8 → 1.09 s)
    return _drain_to_memory(agg, "complete", 8)


# --- streaming dedup with watermark-bounded state ------------------------
# dropDuplicatesWithinWatermark: the scale-safe upgrade of
# s_stream_distinct — state for a (key, value) is evicted once the
# watermark passes its event time + delay, so state size is bounded by
# the delay window instead of growing with history. Drained as a
# single availableNow batch the watermark starts at epoch 0, nothing
# evicts mid-batch, and the emitted set equals batch DISTINCT — which
# is what makes it oracle-checkable.
@register(
    "s_dedup_within_watermark",
    f"{_M} SELECT DISTINCT key, value FROM messages",
)
def s_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_spark_streaming_spark.streaming.windows import (
        dedup_within_watermark,
    )

    msgs = file_stream_messages(spark, _events_path(sf_dir))
    dd = dedup_within_watermark(msgs, watermark="2 hours").select(
        "key", "value"
    )
    # 8 state stores (A/B: 1.78 -> 1.22 s)
    return _drain_to_memory(dd, "append", 8)


# --- the full Streamer pipeline → sink state ----------------------------
# End-to-end: stream → foreachBatch summary + bulk upsert → LWW cell
# store; the returned DF is the sink's final state. Oracle rebuilds the
# same cells relationally.
@register(
    "s_pipeline_sink_state",
    # Cells are keyed by (rowkey, cf, qualifier); all values of one key
    # collapse into the key's cell, LWW tie-break = max(value) — exactly
    # what the reference's HBase writes would have converged to.
    f"""
    {_M}
    SELECT '1700000000-' || key AS rowkey, 'cf1' AS cf,
           'content' AS qualifier,
           key || '--|--' || MAX(value) AS value
    FROM messages WHERE key IS NOT NULL GROUP BY key
    UNION ALL
    SELECT '1700000000-kafka empty message', 'cf1', 'content',
           'kafka empty message'
    WHERE EXISTS (SELECT 1 FROM ({MESSAGES_ORACLE_SQL}) WHERE key IS NULL)
    UNION ALL
    SELECT '1700000000', 'cf1', 'messages',
           'Spark - date: 2023/11/14 22:13 - number of RDD (batches): 0'
           || ' - number of message in this RDD: '
           || CAST(COUNT(*) AS VARCHAR)
    FROM messages
    """,
)
def s_pipeline_sink_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = _scratch_dir("kss_pipe_")
    cfg = StreamerConfig(
        table_path=os.path.join(work, "cells"),
        bulk=True,
        clock=lambda: 1700000000,
    )
    pipe = StreamerPipeline(spark, cfg)
    msgs = file_stream_messages(spark, _events_path(sf_dir))
    # r17 A/B at sf0.1, min-of-3: 32-part+AQE 2.13 s, 8-part+AQE 1.97 s,
    # 8-part no-AQE 1.74 s
    _drain(spark, msgs.writeStream.foreachBatch(pipe.process_batch), 8)
    return pipe.sink.current().select("rowkey", "cf", "qualifier", "value")


# --- sink snapshot isolation (time-travel read under vacuum) --------------
# The r18 snapshot() API's driver-gate proof: the returned DataFrame is
# a snapshot taken after the FIRST of three writes that each overwrite
# every cell — so by collect time, keep=2 pruning would have vacuumed
# the snapshot's version out from under a plain current() plan.  The
# oracle is LWW over batch 0 alone: a hash match proves both isolation
# (no b1/b2 values leak in) and the prune pin (the files are readable
# at all).
@register(
    "s_upsert_snapshot_read",
    f"""
    {_M}
    SELECT key AS rowkey, 'cf1' AS cf, 'message' AS qualifier,
           MAX('b0:' || value) AS value
    FROM messages WHERE key IS NOT NULL GROUP BY key
    """,
)
def s_upsert_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned time-travel read on the keyed-upsert sink
    (sinks/upsert.py snapshot() — VERDICT r17 #6): write batch 0,
    snapshot, then write batches 1 and 2 over the SAME rowkeys so
    every batch-0 rb partition is rewritten and v_0 leaves both the
    head manifest and the keep=2 window.  Without the snapshot pin
    the prune deletes v_0's files and this query's collect fails;
    without version isolation it returns b2 values.  Scale shape:
    three LWW merge shuffles of |keys| cells each — the snapshot
    itself adds zero Spark work (a manifest read + a pin)."""
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink
    from kafka_spark_streaming_spark.tables import messages

    from kafka_spark_streaming_spark.config import drain_fence_lease_ttl

    work = _scratch_dir("kss_snap_")
    # registered store writer -> drain lease posture (VERDICT r19 #5);
    # each write_batch commit renews the lease
    sink = KeyedUpsertSink(
        spark,
        os.path.join(work, "cells"),
        lease_ttl_s=drain_fence_lease_ttl(spark),
    )
    msgs = messages(spark, sf_dir).filter(F.col("key").isNotNull())

    def cells(tag: str) -> DataFrame:
        return msgs.select(
            F.col("key").alias("rowkey"),
            F.lit("cf1").alias("cf"),
            F.lit("message").alias("qualifier"),
            F.concat(F.lit(tag), F.col("value")).alias("value"),
        )

    # same small-batch scoping as the sibling sink drains (the three
    # LWW merges move ~|keys| cells each; A/B min-of-3 at sf0.1:
    # 2.82 s unscoped vs 2.62 s scoped)
    with _scoped_sql_confs(spark, _small_batch_drain_confs(spark, 8)):
        sink.write_batch(cells("b0:"), 0)
        snap = sink.snapshot()
        # `snap` (the pin holder) stays referenced across both later
        # writes — the prunes they trigger are the ones the pin must
        # survive; the derived select below is safe because no prune
        # can run after the last write
        sink.write_batch(cells("b1:"), 1)
        sink.write_batch(cells("b2:"), 2)
    return snap.select("rowkey", "cf", "qualifier", "value")


# --- keyed stateful fold: per-user lifetime stats ------------------------
# a JVM streaming aggregate across 4 real micro-batches; the oracle is
# the equivalent one-shot batch aggregate (batch≡stream). Exact-integer
# state folds make the equivalence bit-for-bit.
@register(
    "s_stateful_user_stats",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT)
             AS sum_value_4dec,
           CAST(epoch_us(MAX(ts)) // 1000000 AS BIGINT) AS last_ts_epoch
    FROM events GROUP BY user_id
    """,
)
def s_stateful_user_stats(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    stream = multi_batch_events_stream(spark, sf_dir, n_batches=n_batches)
    return _drain_and_fold(user_lifetime_stats(stream), "user_id", "n_events")


# --- stream-stream join: purchases ⋈ prior clicks within 1 h -------------
# Both sides are watermarked streams; Spark buffers exactly the state
# the time-range condition needs (clicks ≤ 1 h older than the purchase
# watermark) and evicts the rest — bounded state at any scale. Input
# files are time-ordered, so nothing is late and the drained result
# equals the batch join bit-for-bit (oracle below).
@register(
    "s_stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS user_id,
           CAST(epoch_us(p.ts) // 1000000
                - epoch_us(c.ts) // 1000000 AS BIGINT) AS gap_s
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
    ORDER BY purchase_id, click_id
    """,
)
def s_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = multi_batch_events_stream(spark, sf_dir, n_batches=4)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    out = joined.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("gap_s"),
    )
    # 4 state-store partitions (r16 tail audit, VERDICT r15 #5): the
    # stateless drain floor of this 4-batch stream is ~1.1 s, so the
    # join's cost is almost entirely per-partition state-store commit
    # work (4 stores/partition for a stream-stream join).  A/B
    # min-of-N at BOTH scales: sf0.1 (371 rows) 8→5.6 s, 4→3.6 s,
    # 2→3.3 s; 10x corpus (3 710 rows) 8→5.65 s, 4→4.15 s, 2→4.24 s —
    # 4 is the optimum once per-partition batch volume matters and
    # within noise of 2 below that, so the r14 "8 for headroom" choice
    # was paying ~1.2-1.5 s of pure commit overhead at every scale we
    # can measure.  On a cluster you size this to executors.
    return _drain_to_memory(out, "append", 4).orderBy(
        "purchase_id", "click_id"
    )


# --- S5: per-record executor-side sink, drained and read back ------------
# The reference's pom main class writes every record from inside
# foreachPartition on executors (KafkaStreamerToHbase.scala:156-160:
# y.foreach(record => insertOneLineToHbase(rowkey, "messages",
# record.toString(), "cf1", table))). Structured-Streaming shape:
# writeStream.foreach(ForeachWriter) — open(partition, epoch) is the
# connection hook, process(row) the per-record put. This query drives
# the REAL writer (sinks/foreach.py) over a real stream drain, then
# reads the committed TSV cells back deterministically so the driver's
# DuckDB oracle hash-gates the executor-side write path end-to-end.
# Wall-clock rowkeys are replaced by the data-derived key (same
# determinism rule as every r_* batch variant); record.toString() for a
# Scala (k, v) tuple is "(k,v)", nulls printed as "null".
@register(
    "s_foreach_record_sink",
    f"""
    {_M}
    SELECT COALESCE(key, 'kafka empty message') AS rowkey,
           'cf1' AS cf,
           'messages' AS qualifier,
           '(' || COALESCE(key, 'null') || ',' || value || ')' AS value,
           COUNT(*) AS n
    FROM messages
    GROUP BY 1, 2, 3, 4
    """,
)
def s_foreach_record_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_spark_streaming_spark.sinks.foreach import (
        RecordForeachWriter,
        read_sink,
    )

    out_dir = _scratch_dir("kss_s5_") + "/cells"
    msgs = file_stream_messages(spark, _events_path(sf_dir))
    records = msgs.select(
        F.coalesce(F.col("key"), F.lit("kafka empty message")).alias(
            "rowkey"
        ),
        F.lit("messages").alias("qualifier"),
        F.concat(
            F.lit("("),
            F.coalesce(F.col("key"), F.lit("null")),
            F.lit(","),
            F.col("value"),
            F.lit(")"),
        ).alias("value"),
    )
    # no exchange in this plan: `parts` is the family's 8, with no effect
    _drain(
        spark, records.writeStream.foreach(RecordForeachWriter(out_dir)), 8
    )
    # fold per-file rows to a partitioning-independent multiset view;
    # multiplicities survive (idempotent per (epoch, partition) files)
    return (
        read_sink(spark, out_dir)
        .groupBy("rowkey", "cf", "qualifier", "value")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- incremental materialized rollup (streaming aggregate) -------------
# Maintains a daily rollup incrementally: each micro-batch folds its rows
# into the per-day state of a checkpointed streaming aggregate and emits
# the days it touched; the snapshot fold keeps each day's last state.
# Exact-integer sums make it order-independent, and per batch it shuffles
# |batch| rows to |days touched| partial rows, never rescanning history.
@register(
    "s_incremental_daily_rollup",
    """
    SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT)
             AS sum_value_4dec
    FROM events GROUP BY 1 ORDER BY d
    """,
)
def s_incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = multi_batch_events_stream(spark, sf_dir, n_batches=4)
    return _drain_and_fold(daily_rollup(stream), "d", "n").orderBy("d")


# --- streaming incremental near-dup dedup (MinHash store probe) ----------
# The corpus-builder shape: document batches arrive in order; each
# batch is near-dup-checked against the ACCUMULATED signature store
# (every doc seen so far) plus its own smaller-id docs, and the store
# grows by the batch's profiles. A doc is rejected iff some smaller-id
# doc anywhere in the corpus is a verified near-dup — which is exactly
# the batch "keep the min of every near-dup pair" rule, so the DuckDB
# batch oracle checks the streamed result bit-for-bit (batch≡stream).
#
# 100 TB posture: the store is the persisted signature table
# (32 longs + hashed shingle set per doc — no text retained); the
# per-batch probe is a band-bucket equi-join of |batch| signatures
# against the store (bucket-partitioned on disk at scale, so a probe
# touches only matching buckets), then exact verification of the
# candidate pairs alone. Per batch nothing rescans history except the
# banded index lookup — the standard incremental-LSH design.
def _table_ordered_batches(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int,
    tbl: str,
    id_col: str,
    cols: list[str],
    prefix: str,
) -> DataFrame:
    """A fixture table as n_batches real micro-batches in id order
    (file mtimes force oldest-first processing).  Batch i covers
    ids [i*step, (i+1)*step) with step = max((max_id+1)//n, 1) and the
    last batch taking the remainder — a DETERMINISTIC split an oracle
    can reproduce in SQL (the streaming-IVF oracle leans on exactly
    this for its training-batch cutoff).  Generalized from the
    documents-only splitter in r18; the docs split dir naming is
    unchanged, so existing split caches stay valid."""
    import glob
    import shutil

    from kafka_spark_streaming_spark.tables import fixture_fingerprint
    from kafka_spark_streaming_spark.tables import table as _table

    df = _table(spark, sf_dir, tbl).select(*cols)
    # fixture fingerprint in the cache key: a regenerated fixture
    # must invalidate the split (round-5 drift class)
    tag = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{n_batches}_{fixture_fingerprint(sf_dir, tbl)}"
    )
    split_dir = os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}")
    # drop the old fingerprint's stranded split copy on regeneration
    from kafka_spark_streaming_spark.tables import prune_stale_siblings

    prune_stale_siblings(prefix, tag)
    if not os.path.exists(os.path.join(split_dir, "_DONE")):
        # build in a process-unique dir, atomically rename into place:
        # two concurrent harness processes must not interleave writes
        # into the same split dir (loser discards its copy)
        build_dir = f"{split_dir}.build{os.getpid()}"
        shutil.rmtree(build_dir, ignore_errors=True)
        os.makedirs(build_dir)
        n_rows = df.agg(F.max(id_col)).collect()[0][0] + 1
        step = max(n_rows // n_batches, 1)
        for i in range(n_batches):
            lo = i * step
            hi = n_rows if i == n_batches - 1 else (i + 1) * step
            part_dir = os.path.join(build_dir, f"_part{i}")
            (
                df.filter(
                    (F.col(id_col) >= lo) & (F.col(id_col) < hi)
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(part_dir)
            )
            (src,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
            dst = os.path.join(build_dir, f"batch_{i:04d}.parquet")
            shutil.move(src, dst)
            shutil.rmtree(part_dir)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        with open(os.path.join(build_dir, "_DONE"), "w"):
            pass
        try:
            os.rename(build_dir, split_dir)
        except OSError:  # another process won the race
            shutil.rmtree(build_dir, ignore_errors=True)
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )


def _docs_ordered_batches(
    spark: SparkSession, sf_dir: str, n_batches: int
) -> DataFrame:
    """documents.parquet as n_batches real micro-batches in doc_id
    order (file mtimes force oldest-first processing)."""
    return _table_ordered_batches(
        spark, sf_dir, n_batches,
        tbl="documents", id_col="doc_id", cols=["doc_id", "text"],
        prefix="kss_docsplit",
    )


def _embeddings_ordered_batches(
    spark: SparkSession, sf_dir: str, n_batches: int
) -> DataFrame:
    """embeddings.parquet as n_batches real micro-batches in vec_id
    order — the ingest stream for the incremental ANN index (r18)."""
    return _table_ordered_batches(
        spark, sf_dir, n_batches,
        tbl="embeddings", id_col="vec_id", cols=["vec_id", "embedding"],
        prefix="kss_embsplit",
    )


# Store-bucket knobs for s_incremental_near_dedup live in engine
# config (VERDICT r15 #4): spark.kss.dedup.bandStoreBuckets /
# spark.kss.dedup.profileStoreBuckets, defaults 16.  See
# kafka_spark_streaming_spark/config.py for the 100 TB sizing rule
# (≈ store_bytes / 256MB–1GB, power of two → thousands of buckets on
# a 1000-executor cluster); the probe/layout code here is
# scale-invariant, the knob is the only thing that changes.
from kafka_spark_streaming_spark.config import (  # noqa: E402
    BAND_STORE_BUCKETS_DEFAULT as _BAND_STORE_BUCKETS,  # test-pinned alias
    band_store_buckets as _band_store_buckets,
    profile_store_buckets as _profile_store_buckets,
)


# The incremental-dedup store is ONE manifest store (manifest.py)
# whose leaves are (kind, pk): kind='b' rows are (doc_id, bh) band
# entries with pk = pmod(bh, band_store_buckets); kind='p' rows are
# full MinHash profiles with a `kept` verdict flag and
# pk = pmod(doc_id, profile_store_buckets).  One layout, two pruned
# probes, and ONE version per micro-batch whose rename commits a
# batch's band and profile rows together.


def _store_probe(
    spark: SparkSession, store_dir: str, kind: str, pks: list, schema
) -> DataFrame | None:
    """The head's `kind=<kind>/pk=` leaves named by ``pks``, read from
    their owner versions and filtered on both partition columns (None
    when no named leaf is committed)."""
    store = ManifestStore(store_dir)
    df = store._read(
        spark, store._head()[1], schema, [f"kind={kind}/pk={k}" for k in pks]
    )
    if df is None:
        return None
    return df.filter((F.col("kind") == kind) & F.col("pk").isin(pks))


def _bucketed_band_probe(
    spark: SparkSession, store_dir: str, pbs: list, schema=None
) -> DataFrame | None:
    """Partition-pruned read of the incremental-dedup store's BAND
    rows (None when no probed leaf is committed): only the
    `kind=b/pk=` leaves named by the incoming batch's band hashes are
    scanned, in the owner versions the head manifest lists for them
    (PartitionFilters on the scan — pinned by tests/test_plans.py::
    test_band_store_probe_prunes_partitions).  Exact by construction:
    `pk = pmod(bh, band_store_buckets)` is a function of the join key
    `bh`, so a store row outside the probed partitions cannot collide
    with any incoming band.  `schema` (when the caller can derive it,
    as the batch body can from its in-batch profile) skips parquet
    footer inference — one fewer 1-task driver job per batch (r17
    job-floor decomposition: inference was 2 of the 17 per-batch job
    submissions)."""
    df = _store_probe(spark, store_dir, "b", pbs, schema)
    return None if df is None else df.select("doc_id", "bh")


def _bucketed_profile_probe(
    spark: SparkSession, store_dir: str, pds: list, schema=None
) -> DataFrame | None:
    """Partition-pruned read of the incremental-dedup store's PROFILE
    rows (r16 — this was the last per-batch full-store scan in the
    engine; None when no probed leaf is committed): only the
    `kind=p/pk=` leaves named by this batch's candidate `doc_a` values
    are scanned (PartitionFilters plan-pinned in tests/test_plans.py::
    test_profile_store_probe_prunes_partitions).  Exact by
    construction: `pk = pmod(doc_id, profile_store_buckets)` is a
    function of the verify join key `doc_id`, so a profile row outside
    the probed partitions cannot match any candidate; doc_b profiles
    always come from the in-batch `prof`.  Mirrors the key-partitioned
    HBase region store the reference models (HbaseWriter.scala:26-29).
    The drop removes the layout/verdict columns plus the band-only
    `bh` (null on every profile row) — what remains is exactly the
    in-batch profile shape, so unionByName with `prof` lines up.
    `schema` skips footer inference like the band probe's."""
    df = _store_probe(spark, store_dir, "p", pds, schema)
    return None if df is None else df.drop("kind", "pk", "kept", "bh")


def _store_layout(
    spark: SparkSession, store_dir: str, commit: bool = False
) -> tuple[int, int]:
    """(band_buckets, profile_buckets) for a dedup store — the store's
    persisted layout (ManifestStore.layout, code-review r16): the
    bucket counts are properties of the STORE, so re-resolving the
    session conf on every micro-batch would let a mid-run (or
    across-restart) conf change make the probe's pmod disagree with
    the directories on disk — silently dropping true candidates.  The
    conf only seeds the marker at the first NON-EMPTY append (ADVICE
    r16 streaming_queries.py:770: a 0-row first micro-batch must not
    pin the layout of a store that does not exist yet — a conf retune
    before the first real data batch would be silently ignored), so
    reads here are commit=False and the batch body calls back with
    commit=True only after its 0-row guard passes."""
    n_pb, n_pd = ManifestStore(store_dir).layout(
        lambda: (_band_store_buckets(spark), _profile_store_buckets(spark)),
        arity=2,
        commit=commit,
    )
    return n_pb, n_pd


def _incremental_dedup_batch(
    batch_df: DataFrame, store_dir: str, batch_id: int, fence=None
) -> None:
    """One micro-batch of the incremental near-dedup — module-level
    (not a closure) so the exactly-once argument is directly testable
    (tests/test_streaming.py::
    test_incremental_dedup_batch_replay_idempotent).

    The batch commits ONE manifest version (manifest.py).  When the
    committed head's batch is already >= ``batch_id`` the call is a
    foreachBatch retry of a committed batch and commits nothing: the
    file-source batches are deterministic, so the retry has nothing
    new to write — exactly-once comes from the manifest, not from
    reads that tolerate duplicates.

    ``fence`` (r18): the owning drain's fencing.WriterFence, checked
    immediately before the version rename (the batch's one commit
    point) so a zombie drain raises StaleWriterError instead of
    committing behind a newer writer.  None (the default) is the
    unfenced direct-call path for tests and one-shot batch use, where
    the caller IS the single writer by construction."""
    from kafka_spark_streaming_spark.operators.dedup import (
        minhash_profile,
        shingles_of,
    )

    store = ManifestStore(store_dir, fence)
    head, manifest = store._head()
    if head is not None and store._batch_of(head) >= batch_id:
        return
    # persist + materialize-via-the-pb-collect instead of an eager
    # localCheckpoint + separate collect (r15): the pb collect in the
    # body is the batch's first action (every batch since r16 — it
    # doubles as the 0-row guard), so it fills the cache as a side
    # effect and one scheduling-floor job per batch disappears; the
    # cache is dropped at the end of the batch.
    prof = minhash_profile(shingles_of(batch_df)).persist()
    try:
        _incremental_dedup_batch_body(prof, store, head, manifest, batch_id)
    finally:
        # the batch's cache must not accumulate across micro-batches —
        # including across foreachBatch RETRIES, so the unpersist sits
        # in a finally (a failed attempt's cached blocks would
        # otherwise linger until GC; code-review r15)
        prof.unpersist()


def _incremental_dedup_batch_body(
    prof: DataFrame, store, head, manifest: dict, batch_id: int
) -> None:
    from kafka_spark_streaming_spark.operators.dedup import (
        band_buckets,
        verified_pairs,
    )

    sess = prof.sparkSession
    store_dir = store.path
    n_pb, n_pd = _store_layout(sess, store_dir)
    # this batch's band rows — cheap on top of the cached profile
    # (16 xxhash64 per row, no shuffle), so NOT separately persisted
    # despite three consumers below.
    incoming = band_buckets(prof).withColumn(
        "pk", F.pmod(F.col("bh"), F.lit(n_pb))
    )
    # bounded collect: ≤ band_store_buckets scalars.  Equal band
    # hashes have equal pk, so pruning the store to the batch's pk
    # values drops only rows that cannot join — exactness is by
    # construction, not recall-traded.  Collected on EVERY batch (not
    # just when history exists): an empty pbs means a 0-row batch,
    # which must not commit — a 0-row partitionBy write produces no
    # leaf (code-review r16; same guard class as the upsert sink's).
    pbs = [r[0] for r in incoming.select("pk").distinct().collect()]
    if not pbs:
        return
    # first non-empty batch pins the store layout (ADVICE r16: seeding
    # before this guard would let a 0-row first micro-batch freeze the
    # bucket counts for a store that doesn't exist yet).  Under a
    # concurrent-attach race commit_layout is first-writer-wins; if a
    # racer pinned a DIFFERENT layout between our read and this
    # commit, the pk values computed above are wrong for the store —
    # refuse to commit rather than corrupt the fan-out.
    pinned = _store_layout(sess, store_dir, commit=True)
    if pinned != (n_pb, n_pd):
        raise RuntimeError(
            f"dedup store {store_dir!r} layout was pinned to {pinned} by a "
            f"concurrent attach while this batch computed {(n_pb, n_pd)}; "
            "re-run the batch (it will read the pinned marker)"
        )
    # the store's on-disk schema is fully determined by this batch's
    # own profile shape + the band/verdict/layout columns, so the
    # probes never need parquet footer inference — passing it
    # explicitly removes one 1-task driver job per probe per batch
    # (r17 job-floor decomposition: inference was 2 of the 17
    # per-batch job submissions)
    from pyspark.sql import types as T

    store_schema = T.StructType(
        list(prof.schema.fields)
        + [
            T.StructField("bh", T.LongType()),
            T.StructField("kept", T.BooleanType()),
            T.StructField("kind", T.StringType()),
            T.StructField("pk", T.IntegerType()),
        ]
    )
    seen_bands = incoming.select("doc_id", "bh")
    if head is not None:
        probed = _bucketed_band_probe(sess, store_dir, pbs, store_schema)
        if probed is not None:
            seen_bands = probed.unionByName(seen_bands)
    # candidate generator: pruned store bands ∪ this batch's bands
    # against this batch's bands; only pairs whose LARGER side is
    # in this batch matter — earlier docs were already decided in
    # their own batch.  The dropDuplicates collapses multi-band
    # matches of one pair.  Persisted: the pd collect below is its
    # materializing action (same persist+collect-as-materializer
    # pattern as prof), and the verify join then reads the cached
    # pairs instead of re-running the band join.
    cand = (
        seen_bands.alias("x")
        .join(
            incoming.alias("y"),
            (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .dropDuplicates()
        .persist()
    )
    try:
        universe = prof
        if head is not None:
            # the store keeps ALL seen docs (kept and rejected): a
            # future doc duplicating a rejected doc must still be
            # rejected — so the universe ignores the kept flag.
            # r16: the verify-side profile lookup is PARTITION-PRUNED —
            # only candidate doc_a values can need an out-of-batch
            # profile (doc_b is always in-batch by the join above), so
            # the ≤ profile_store_buckets pd values they hash to name
            # the only store leaves worth scanning.
            pds = [
                r[0]
                for r in cand.select(
                    F.pmod(F.col("doc_a"), F.lit(n_pd)).alias("pd")
                )
                .distinct()
                .collect()
            ]
            probed = _bucketed_profile_probe(
                sess, store_dir, pds, store_schema
            )
            if probed is not None:
                universe = probed.unionByName(prof)
        rejected = (
            verified_pairs(cand, universe)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .withColumn("_rej", F.lit(True))
        )
        # ONE version per batch (r16 merged bands + profiles into one
        # kind-partitioned dataset): every profile row is stored once
        # with its verdict as a `kept` flag under
        # kind=p/pk=pmod(doc_id, n_pd), and its band rows land under
        # kind=b/pk=pmod(bh, n_pb) — IN THE SAME WRITE, so the version
        # rename commits a batch's band and profile rows together.
        # The repartition lands exactly one file per (kind, pk) leaf
        # per version, so each leaf holds one file per owner.
        # (coalesce(1) was measured WORSE — it collapses the upstream
        # band computation into a single task: 9.1 vs 7.6 s min-of-3.)
        combined = incoming.withColumn("kind", F.lit("b")).unionByName(
            prof.join(rejected, "doc_id", "left")
            .withColumn("kept", F.col("_rej").isNull())
            .drop("_rej")
            .withColumn("kind", F.lit("p"))
            .withColumn("pk", F.pmod(F.col("doc_id"), F.lit(n_pd))),
            allowMissingColumns=True,
        )
        store._commit(
            batch_id,
            lambda vname, leaves: appended(manifest, vname, leaves),
            lambda tmp: combined.repartition("kind", "pk")
            .write.mode("overwrite")
            .partitionBy("kind", "pk")
            .parquet(tmp),
        )
    finally:
        # cached candidate pairs must not accumulate across
        # micro-batches or across foreachBatch retries (same
        # rationale as prof's unpersist one level up).
        cand.unpersist()


@register(
    "s_incremental_near_dedup",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    rejected AS (
      SELECT DISTINCT doc_b FROM common
      JOIN card ca ON ca.doc_id = doc_a
      JOIN card cb ON cb.doc_id = doc_b
      WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.8)
    SELECT c.doc_id, CAST(c.n AS BIGINT) AS n_shingles
    FROM card c
    WHERE NOT EXISTS (SELECT 1 FROM rejected r WHERE r.doc_b = c.doc_id)
    """,
)
def s_incremental_near_dedup(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Streaming MinHash near-dedup against a BAND-HASH-BUCKETED
    manifest store: each micro-batch bands only its own profiles,
    probes the store's band rows with a partition-pruned read
    (`_bucketed_band_probe` — the batch's ≤ band_store_buckets
    distinct `pk` values select leaves; PartitionFilters plan-pinned
    in tests/test_plans.py), verifies candidates exactly against the
    store's PROFILE rows likewise partition-pruned by
    `pk = pmod(doc_id, profile_store_buckets)` (r16,
    `_bucketed_profile_probe` — only candidate doc_a values can need
    an out-of-batch profile), and commits band + profile rows as ONE
    version per batch.  Per-batch work is O(batch bands + store rows
    in the probed band/profile partitions + collisions) with NO
    full-store read anywhere in the batch.  Bucket counts are engine
    config (config.py — 100 TB sizing rule there; thousands of
    buckets at the design point, 16 locally)."""
    from kafka_spark_streaming_spark.config import (
        dedup_compact_every,
        drain_fence_lease_ttl,
    )
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        compact_dedup_store,
    )

    stream = _docs_ordered_batches(spark, sf_dir, n_batches)
    run_dir = _scratch_dir("kss_increddup_")
    store_dir = os.path.join(run_dir, "store")
    # writer fence for the whole drain (r18): one attach-scoped token,
    # the same store-held token as the upsert sink's, checked by every
    # batch before its commit rename.  LEASE mode by default since r20
    # (drain_fence_lease_ttl): the per-batch heartbeat below renews
    # it, and the explicit leaseTtlSec knob still overrides either way.
    store = ManifestStore(store_dir)
    fence = store.acquire(
        "incremental-near-dedup", drain_fence_lease_ttl(spark)
    )
    # compaction cadence (VERDICT r17 #2): policy knob, read once per
    # drain; > 0 folds the store's leaves back to one file every N
    # batches from this callback — a store-idle point (this batch's
    # version has committed; the next cannot start until we return)
    # in the same writer context, so the compactor shares our fence.
    compact_every = dedup_compact_every(spark)

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        _incremental_dedup_batch(batch_df, store_dir, batch_id, fence=fence)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_dedup_store(spark, store_dir, fence=fence)
        fence.heartbeat()  # per-batch lease renewal (read-only check
        # in the default pid mode — fencing.heartbeat)

    # A/B min-of-2 settled: 32 -> 6.57 s, 16 -> 5.95 s, 8 -> 5.76 s
    _drain(spark, stream.writeStream.foreachBatch(dedup_batch), 8)
    # drain finished: mark the token inactive so standalone maintenance
    # (compact_dedup_store's live-writer guard) stops refusing
    fence.idle()
    manifest = store._head()[1]
    return (
        store._read(
            spark,
            manifest,
            # the columns read, named so no footer-inference job runs
            "doc_id long, n long, kept boolean, kind string, pk int",
            [k for k in manifest if k[:7] == "kind=p/"],
        )
        # the kind filter makes the profile-leaf pruning explicit in
        # the plan (band rows have a null `kept` anyway)
        .filter((F.col("kind") == "p") & F.col("kept"))
        .select("doc_id", F.col("n").alias("n_shingles"))
        .orderBy("doc_id")
    )


# --- streaming incremental top-k (heavy hitters over a doc stream) -------
# Maintains the corpus top-10 tokens while documents stream in: a
# streaming aggregate keeps the per-token count (per batch: shuffle
# |batch tokens| → |vocab touched| state rows — history is never
# rescanned); the snapshot fold keeps each token's last count, and the
# top-10 takes a deterministic (count DESC, token ASC) tiebreak, which
# compiles to TakeOrderedAndProject — a per-partition heap, no global
# sort. Batch ≡ stream exactly, so the batch top-k SQL is the oracle.
@register(
    "s_stream_topk_tokens",
    """
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token ORDER BY n DESC, token ASC LIMIT 10
    """,
)
def s_stream_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _docs_ordered_batches(spark, sf_dir, n_batches=3)
    counts = (
        stream.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        _drain_and_fold(counts, "token", "n")
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(10)
    )


# --- streaming mergeable-HLL distinct (a sketch as aggregate state) ------
# The streaming twin of sk_hll_daily_rollup: a streaming aggregate keeps
# one constant-size DataSketches HLL sketch per event_type next to the
# type's row count, merging each batch's users into it; the snapshot fold
# keeps the sketch of each type's last snapshot (max_by the count).
# Distinct-over-the-whole-stream needs state proportional to |types| ×
# sketch size, not |users| — how a 100 TB stream answers cumulative
# count-distinct without keeping the key set anywhere. Estimate is
# engine-specific ⇒ the sk_hll contract: exact count (oracled) +
# error-bound boolean.
@register(
    "s_stream_hll_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS union_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def s_stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = multi_batch_events_stream(spark, sf_dir, n_batches=3)
    sketches = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.hll_sketch_agg("user_id").alias("sk"),
    )
    merged = _drain_and_fold(sketches, "event_type", "n").select(
        "event_type", F.hll_sketch_estimate("sk").alias("est")
    )
    exact = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("union_within_5pct"),
        )
        .orderBy("event_type")
    )


# --- streaming incremental ANN index (IVF cells as an append store) -------
# The embedding-ingest half of a production vector pipeline: the
# coarse quantizer is FROZEN from the first micro-batch (the standard
# IVF practice — FAISS trains the quantizer on a sample, then inverted
# lists grow by appends), every later batch assigns its vectors with
# one Arrow matmul and appends them under cell= partitions, and a
# query probe prunes to its n_probe nearest cells at the DIRECTORY
# level — partition pruning IS the index, and the index grows without
# ever re-clustering or rescanning history.  Batch ≡ stream exactly
# (assignment depends only on the frozen centroids and the row), so
# the oracle replays the whole construction in SQL with the training
# set restricted to the deterministic first-batch id range.
_SIVF_BATCHES = 3


def _sivf_oracle() -> str:
    from kafka_spark_streaming_spark.operators.similarity import (
        _IVF_CELLS,
        _IVF_DIM,
        _IVF_PROBE,
        N_QUERIES,
        TOP_K,
    )

    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cutoff AS (SELECT GREATEST((MAX(vec_id) + 1) // {_SIVF_BATCHES}, 1)
                      AS cut FROM e),
    tr AS (SELECT e.* FROM e, cutoff WHERE e.vec_id < cutoff.cut),
    p AS (SELECT GREATEST(COUNT(*) // {_IVF_CELLS}, 1) AS stride FROM tr),
    init AS (
      SELECT CAST(tr.vec_id // p.stride AS INT) AS cell,
             list_transform(tr.v,
               x -> x / sqrt(list_dot_product(tr.v, tr.v))) AS c
      FROM tr, p
      WHERE tr.vec_id % p.stride = 0 AND tr.vec_id < p.stride * {_IVF_CELLS}
    ),
    assign1 AS (
      SELECT vec_id, v, cell FROM (
        SELECT tr.vec_id, tr.v, i.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY tr.vec_id
                 ORDER BY list_dot_product(tr.v, i.c)
                          / sqrt(list_dot_product(tr.v, tr.v)) DESC,
                          i.cell DESC) AS rn
        FROM tr CROSS JOIN init i)
      WHERE rn = 1
    ),
    dims AS (
      SELECT a.cell, gs.d AS pos, AVG(a.v[gs.d]) AS m
      FROM assign1 a CROSS JOIN generate_series(1, {_IVF_DIM}) AS gs(d)
      GROUP BY a.cell, gs.d
    ),
    newc AS (
      SELECT cell, LIST(m ORDER BY pos) AS raw FROM dims GROUP BY cell
    ),
    cent2 AS (
      SELECT i.cell,
             CASE WHEN n.raw IS NOT NULL
                       AND sqrt(list_dot_product(n.raw, n.raw)) > 0
                  THEN list_transform(n.raw,
                         x -> x / sqrt(list_dot_product(n.raw, n.raw)))
                  ELSE i.c END AS c
      FROM init i LEFT JOIN newc n USING (cell)
    ),
    corpus AS (
      SELECT vec_id AS neighbor_id, v AS cv, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.c)
                          / sqrt(list_dot_product(e.v, e.v)) DESC,
                          c.cell DESC) AS rn
        FROM e CROSS JOIN cent2 c)
      WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.v, c.c) DESC,
                          c.cell ASC) AS rn
        FROM e q CROSS JOIN cent2 c WHERE q.vec_id < {N_QUERIES})
      WHERE rn <= {_IVF_PROBE}
    ),
    scored AS (
      SELECT p.query_id, co.neighbor_id,
             floor(list_cosine_similarity(p.qv, co.cv) * 1e9 + 0.5) / 1e9 AS s
      FROM corpus co JOIN probes p USING (cell)
      WHERE p.query_id <> co.neighbor_id
    )
    SELECT query_id, neighbor_id, round(s, 6) AS score, rn AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY s DESC, neighbor_id ASC) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """


def _ivf_fold(
    batch_df: DataFrame, store_dir: str, batch_id: int, fence=None
) -> None:
    """One micro-batch of the streaming-IVF drain — module-level so
    its exactly-once argument is testable, like the near-dedup
    batch's.  The first non-empty batch trains the coarse quantizer
    (same deterministic recipe as sim_ann_ivf's session index —
    strided init + one Lloyd step, shared helpers so the code cannot
    drift) and its version holds it (`_CENTROIDS.json`, named by the
    manifest); every batch assigns its vectors against the committed
    quantizer (one Arrow matmul) and commits them as ONE
    cell-partitioned version.  A retry of a committed batch commits
    nothing (see _incremental_dedup_batch)."""
    from kafka_spark_streaming_spark.operators.similarity import (
        _IVF_CELLS,
        ivf_assign_arrow,
        ivf_init_centroids,
        lloyd_refine,
    )
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        CENTROIDS_NAME,
        ann_centroids,
        write_centroids,
    )

    store = ManifestStore(store_dir, fence)
    head, manifest = store._head()
    if head is not None and store._batch_of(head) >= batch_id:
        return
    if head is None:
        # the batch is scanned three times here (count, init collect,
        # Lloyd assignment) plus once by the write — persisted for the
        # build only; later batches are scanned exactly once (the
        # write) and skip the count job entirely
        batch_df.persist()
        try:
            n = batch_df.count()
            if n == 0:
                return
            stride = max(n // _IVF_CELLS, 1)
            init = (
                batch_df.filter(
                    (F.col("vec_id") % stride == 0)
                    & (F.col("vec_id") < stride * _IVF_CELLS)
                )
                .orderBy("vec_id")
                .collect()  # bounded: <= n_cells rows
            )
            cmat = ivf_init_centroids(init)
            cmat2 = lloyd_refine(ivf_assign_arrow(batch_df, cmat), cmat)
        finally:
            batch_df.unpersist()
    else:
        cmat2 = ann_centroids(store, manifest)
    assigned = ivf_assign_arrow(batch_df, cmat2)

    def write(tmp: str) -> None:
        (
            assigned.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(tmp)
        )
        if head is None:
            write_centroids(tmp, cmat2)

    def manifest_of(vname: str, leaves: list[str]) -> dict:
        out = appended(manifest, vname, leaves)
        if head is None:
            out[CENTROIDS_NAME] = [vname]
        return out

    store._commit(batch_id, manifest_of, write)


@register("s_incremental_ann_ivf", _sivf_oracle())
def s_incremental_ann_ivf(
    spark: SparkSession, sf_dir: str, n_batches: int = _SIVF_BATCHES
) -> DataFrame:
    """Streaming IVF index maintenance + probe (r18): the drain folds
    each micro-batch into a cell-partitioned manifest store
    (`_ivf_fold` — batch 0 trains and commits the quantizer, every
    batch commits one version of argmax-assigned vectors).  The
    post-drain probe reads ONLY the probed cell= leaves
    (PartitionFilters — the inverted-list lookup is leaf pruning),
    exact-cosine reranks, and returns the same top-k contract as
    sim_ann_ivf.

    Scale shape: per-batch cost is one matmul + one version commit —
    history is never rescanned and the quantizer is never retrained;
    the store is the dedup/upsert stores' third sibling (fenced
    single-writer, one manifest commit protocol, partition-pruned
    probes).  The frozen quantizer's drift exposure (a shifting
    stream concentrating rows into few cells) has a maintenance
    answer since r20: store_maintenance.ann_store_stats is the
    occupancy watch and rebalance_ann_store the offline
    re-train/re-partition response (tools/ann_rebalance.py), which
    commits data and quantizer in one version; this registered drain
    keeps the frozen quantizer so construction stays
    batch-replayable against the oracle.

    Batch ≡ stream: assignment depends only on (frozen centroids,
    row), so the DuckDB oracle replays the construction with the
    training set restricted to batch 0's deterministic id range
    [0, (max_id+1) // n_batches)."""
    from kafka_spark_streaming_spark.config import (
        ann_compact_every,
        drain_fence_lease_ttl,
    )
    from kafka_spark_streaming_spark.functions import cosine_similarity
    from kafka_spark_streaming_spark.operators.similarity import (
        N_QUERIES,
        _topk,
        ivf_probe_cells,
    )
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        ANN_STORE_SCHEMA,
        ann_centroids,
        compact_ann_store,
    )

    stream = _embeddings_ordered_batches(spark, sf_dir, n_batches)
    run_dir = _scratch_dir("kss_sivf_")
    store_dir = os.path.join(run_dir, "store")
    # lease mode by default since r20 — see the dedup drain's fence
    store = ManifestStore(store_dir)
    fence = store.acquire("incremental-ann-ivf", drain_fence_lease_ttl(spark))
    # in-drain maintenance cadence — same policy shape as the dedup
    # drain's (store-idle point, cooperative fence); default off
    compact_every = ann_compact_every(spark)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        _ivf_fold(batch_df, store_dir, batch_id, fence=fence)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_ann_store(spark, store_dir, fence=fence)
        fence.heartbeat()  # per-batch lease renewal (read-only check
        # in the default pid mode — fencing.heartbeat)

    _drain(spark, stream.writeStream.foreachBatch(fold), 8)
    fence.idle()

    manifest = store._head()[1]
    cmat2 = ann_centroids(store, manifest)
    # queries come from the fixture table (their embeddings are
    # identical to the store's rows; the table read keeps the bounded
    # N_QUERIES collect off the partitioned store)
    q_rows = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .orderBy("vec_id")
        .collect()  # bounded: N_QUERIES rows
    )
    probes = ivf_probe_cells(q_rows, cmat2)
    probe_rows = [
        (int(r.vec_id), list(r.embedding), [int(c) for c in probes[i]])
        for i, r in enumerate(q_rows)
    ]
    qdf = spark.createDataFrame(
        probe_rows, "query_id long, qv array<float>, cells array<int>"
    ).select("query_id", "qv", F.explode("cells").alias("cell"))
    needed = sorted({int(c) for row in probes for c in row})
    # explicit schema (no footer-inference job — same job-floor lever
    # as the dedup-store probes); only the probed cells' owners are
    # read, and the cell.isin filter shows as PartitionFilters because
    # cell is a partition column
    corpus = (
        store._read(
            spark, manifest, ANN_STORE_SCHEMA, [f"cell={c}" for c in needed]
        )
        .filter(F.col("cell").isin(needed))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
            "cell",
        )
    )
    scored = (
        corpus.join(F.broadcast(qdf), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("s", cosine_similarity(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "s")
    )
    return _topk(scored)
