"""The Streamer pipeline — entry point 1 of the reference, Spark-first.

Reference behavior (Streamer.scala:120-202): every micro-batch,
(a) count records, (b) build a summary string with a batch counter and
a wall-clock date, (c) send it to Kafka and/or put it into HBase under
an epoch-second rowkey, (d) optionally bulk-write the batch's distinct
records. Re-expressed:

- DStream/foreachRDD       → readStream + foreachBatch
- hand-rolled counter var  → foreachBatch's restart-safe batch_id
  (Streamer.scala:122,128 resets on restart; batch_id doesn't)
- HBase puts               → KeyedUpsertSink (LWW cell semantics)
- Kafka producer-per-batch → optional kafka batch write (executor-side)
- per-record entry point 2 → RecordForeachWriter (sinks/foreach.py)

Everything inside foreachBatch is declarative DataFrame work — the two
counts are distributed aggregations; only the 1-row summary ever
reaches the driver.  The per-batch body runs no Python worker: the
one-row frames it writes (summary cell, summary log row, Kafka summary
record) are JVM literal frames (functions.literal_frame), not
createDataFrame's parallelized Python RDD.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.functions import literal_frame
from kafka_spark_streaming_spark.sinks.kafka import (
    to_kafka_records,
    write_batch_to_kafka,
)
from kafka_spark_streaming_spark.sinks.upsert import (
    KeyedUpsertSink,
    bulk_cells,
    single_cell,
)

_INTERVAL_UNITS = {
    "microsecond": 1e-6,
    "millisecond": 0.001,
    "second": 1.0,
    "minute": 60.0,
    "hour": 3600.0,
    "day": 86400.0,
    "week": 604800.0,
}


def _interval_seconds(interval: str) -> float:
    """Seconds in a Structured Streaming processingTime string,
    accepting the grammar Spark's own CalendarInterval parser takes
    for trigger intervals: optional leading 'interval', one or MORE
    '<number> <unit>' pairs ('1 minute 30 seconds'), singular or
    plural units (code-review r20, second pass — the first cut
    rejected valid configs, a functional regression for a helper that
    only exists to size a lease).  A shape this parser still cannot
    read returns 0.0 (the lease falls back to the floor) with a
    warning rather than failing a stream start Spark itself would
    accept; Spark raises on genuinely invalid strings when the
    trigger is built."""
    parts = interval.strip().lower().split()
    if parts and parts[0] == "interval":
        parts = parts[1:]
    total, ok = 0.0, bool(parts) and len(parts) % 2 == 0
    if ok:
        for num, unit in zip(parts[::2], parts[1::2]):
            u = unit.rstrip("s")
            try:
                total += float(num) * _INTERVAL_UNITS[u]
            except (KeyError, ValueError):
                ok = False
                break
    if ok:
        return total
    import warnings

    warnings.warn(
        f"could not parse trigger interval {interval!r} for lease "
        "sizing — the drain fence lease falls back to the floor "
        f"({interval!r} is handed to Spark unchanged)",
        stacklevel=2,
    )
    return 0.0


@dataclass
class StreamerConfig:
    """Mirror of the reference CLI surface (Streamer.scala:27-43),
    minus Kerberos plumbing (out of scope, SURVEY.md S6)."""

    table_path: str | None = None        # -table (HBase table → sink dir)
    bulk: bool = False                   # -bulk
    output_topic: str | None = None      # -output_topic
    brokers: str | None = None           # -b
    summary_path: str | None = None      # per-batch summary log table
    clock: object = field(default=time.time, repr=False)


class StreamerPipeline:
    def __init__(self, spark: SparkSession, cfg: StreamerConfig):
        if bool(cfg.output_topic) != bool(cfg.brokers):
            raise ValueError(
                "output_topic and brokers must be set together — with only "
                f"one of them (output_topic={cfg.output_topic!r}, "
                f"brokers={cfg.brokers!r}) the Kafka write would be "
                "silently skipped every batch"
            )
        self.spark = spark
        self.cfg = cfg
        # lease-mode fence by default (VERDICT r19 #5): the pipeline IS
        # a streaming drain — its sink commits once per micro-batch,
        # which renews the lease; drain_fence_lease_ttl keeps the
        # explicit leaseTtlSec knob (including =0 for pid mode) in
        # charge when set
        from kafka_spark_streaming_spark.config import drain_fence_lease_ttl

        self.sink = (
            KeyedUpsertSink(
                spark,
                cfg.table_path,
                lease_ttl_s=drain_fence_lease_ttl(spark),
            )
            if cfg.table_path
            else None
        )
        self.summaries: list[tuple] = []  # driver-side log of (batch_id, n, nd)

    # -- the per-batch body (foreachBatch target) -------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            # T4 count + T2/T3 distinct count in ONE aggregate job
            # (r17 job-floor decomposition: these were two separate
            # driver jobs per batch).  count_distinct over a STRUCT is
            # null-safe exactly like dropDuplicates(["key","value"])
            # was: the struct itself is never null, and struct
            # comparison treats null fields as equal.
            counts = batch_df.select(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.struct("key", "value")).alias("nd"),
            ).collect()[0]
            n, n_distinct = counts["n"], counts["nd"]
            epoch = int(self.cfg.clock())
            date_str = time.strftime("%Y/%m/%d %H:%M", time.gmtime(epoch))  # T6
            summary = (
                f"Spark - date: {date_str}"
                f" - number of RDD (batches): {batch_id}"
                f" - number of message in this RDD: {n}"
            )  # T7, Streamer.scala:130

            self.summaries.append((batch_id, n, n_distinct, summary))
            if self.cfg.summary_path:
                # one deterministic subdir per batch, overwritten on a
                # foreachBatch retry — append would duplicate the row
                # and break the exactly-once summary contract
                literal_frame(
                    self.spark,
                    "batch_id long, n_messages long, n_distinct long,"
                    " batch_date string, summary string",
                    (batch_id, n, n_distinct, date_str, summary),
                ).write.mode("overwrite").parquet(
                    f"{self.cfg.summary_path}/batch={batch_id}"
                )

            if self.cfg.output_topic and self.cfg.brokers:
                write_batch_to_kafka(
                    to_kafka_records(
                        literal_frame(self.spark, "value string", (summary,))
                    ),
                    self.cfg.brokers,
                    self.cfg.output_topic,
                )

            if self.sink is not None:
                rowkey = str(epoch)  # Streamer.scala:163: epoch-second rowkey
                qualifier = "messages" if self.cfg.bulk else "message"
                cells = single_cell(self.spark, rowkey, qualifier, summary)
                if self.cfg.bulk:
                    # S4 intent: distinct records of the batch, one cell
                    # each, null keys → sentinel (HbaseWriter.scala:42-74)
                    cells = cells.unionByName(
                        bulk_cells(batch_df, rowkey_prefix=rowkey)
                    )
                # ONE merged LWW write per batch (r15 tail audit): the
                # summary cell and the bulk cells have disjoint cell
                # keys (bare-epoch/'message*' vs prefixed/'content'), so
                # folding them into a single version is last-write-wins
                # equivalent to a put_single + put_bulk pair while
                # paying the merge cycle (prior read + key window +
                # state write + prune) once instead of twice — measured
                # 1.54 -> 0.9 s of the batch body at sf0.1.  A
                # foreachBatch retry commits a fresh attempt of the
                # same batch_id idempotently — even when cfg.clock is
                # wall-clock and the retry's epoch rowkey drifts,
                # because the sink detects the retry (head >= batch_id)
                # and full-merges, purging the first attempt's rows in
                # every rb bucket (ADVICE r16 upsert.py:205).
                self.sink.write_batch(cells, batch_id)
        finally:
            batch_df.unpersist()

    # -- wiring -----------------------------------------------------------
    def start(self, messages: DataFrame, checkpoint: str,
              available_now: bool = True, interval: str = "2 seconds"):
        """Attach to a streaming messages DF ((key,value,topic,ts)).

        availableNow=True drains all pending input then stops — the
        deterministic test mode; processingTime mirrors the reference's
        Seconds(2) cadence (Streamer.scala:57).
        """
        if not available_now and self.sink is not None:
            # lease-TTL sizing needs the REAL trigger cadence
            # (code-review r20: the constructor sized it for the
            # availableNow floor, so a slow processingTime drain's
            # lease could lapse between per-batch heartbeats and a
            # concurrent maintenance pass would fence the live drain
            # out).  The fence is acquired lazily at first write, so
            # re-deriving here is safe; the explicit leaseTtlSec knob
            # still wins inside drain_fence_lease_ttl.
            from kafka_spark_streaming_spark.config import (
                drain_fence_lease_ttl,
            )

            required = drain_fence_lease_ttl(
                self.spark, _interval_seconds(interval)
            )
            if self.sink._fence is None:
                self.sink._lease_ttl_s = required
            else:
                # reused pipeline: the fence token is immutable after
                # acquire, so an already-acquired lease cannot be
                # resized (code-review r20, second pass) — surface
                # the gap instead of silently running with a lease
                # shorter than the batch cadence
                held = self.sink._fence.token.get("lease_ttl_s")
                if (
                    required is not None
                    and held is not None
                    and held < required
                ):
                    import warnings

                    warnings.warn(
                        f"this pipeline's fence lease ({held}s) was "
                        "acquired before the slow trigger cadence "
                        f"(needs {required}s) and cannot be resized; "
                        "the lease may lapse between batches — use a "
                        "fresh StreamerPipeline for slow-cadence runs",
                        stacklevel=2,
                    )
        writer = (
            messages.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=interval)
        return writer.start()
