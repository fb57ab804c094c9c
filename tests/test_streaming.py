"""Streaming semantics tests (SURVEY.md §5.3).

Multi-batch behavior that the oracle-checked availableNow queries can't
see: per-batch summaries across micro-batches, LWW overwrites across
batches, ForeachWriter per-record output, watermark late-data drop,
and sink idempotency under batch replay.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.operators import QUERIES
from kafka_spark_streaming_spark.sinks.foreach import RecordForeachWriter
from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink
from kafka_spark_streaming_spark.sources.files import file_stream_messages
from kafka_spark_streaming_spark.streaming.pipeline import (
    StreamerConfig,
    StreamerPipeline,
)
from kafka_spark_streaming_spark.streaming.windows import (
    dedup_within_watermark,
    sessionized_counts,
    windowed_counts,
)
from kafka_spark_streaming_spark.tables import messages, table


@pytest.fixture(scope="module")
def two_file_stream_dir(spark, sf_smoke, tmp_path_factory):
    """events split into two parquet files → two availableNow batches
    with maxFilesPerTrigger=1. File order is by modification time."""
    base = tmp_path_factory.mktemp("stream_in")
    ev = table(spark, sf_smoke, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    # write raw micros-as-... keep schema identical to source reader's
    # expectation: ts as long nanos
    for i, part in enumerate([first, second]):
        out = str(base / f"f{i}")
        part.withColumn(
            "ts", (F.unix_micros("ts") * 1000).alias("ts")
        ).select("event_id", "ts", "user_id", "event_type", "value", "props") \
            .coalesce(1).write.mode("overwrite").parquet(out)
        os.utime(glob.glob(out + "/*.parquet")[0], (1000 + i, 1000 + i))
    # flatten: move part files into base with ordered mtimes
    files = []
    for i in range(2):
        src = glob.glob(str(base / f"f{i}") + "/*.parquet")[0]
        dst = str(base / f"batch{i}.parquet")
        os.rename(src, dst)
        os.utime(dst, (1000 + i, 1000 + i))
        files.append(dst)
    return str(base), files


def test_pipeline_two_batches_and_lww(spark, two_file_stream_dir, tmp_path):
    base, files = two_file_stream_dir
    cfg = StreamerConfig(
        table_path=str(tmp_path / "cells"), bulk=True, clock=lambda: 1700000000
    )
    pipe = StreamerPipeline(spark, cfg)
    msgs = file_stream_messages(spark, base, max_files_per_trigger=1)
    q = pipe.start(msgs, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination()

    assert len(pipe.summaries) == 2, "expected two micro-batches"
    total = sum(s[1] for s in pipe.summaries)
    assert total == 1000  # all events seen exactly once

    state = pipe.sink.current()
    # LWW: both batches wrote the SAME summary cell (fixed clock ⇒ same
    # epoch rowkey, Streamer.scala:163 collision case) — latest batch wins
    summary_cells = state.filter(
        (F.col("rowkey") == "1700000000") & (F.col("qualifier") == "messages")
    ).collect()
    assert len(summary_cells) == 1
    assert "number of RDD (batches): 1" in summary_cells[0].value

    # bulk cells: exactly the distinct union of both batches
    n_bulk = state.filter(F.col("qualifier") == "content").count()
    exp = (
        messages(spark, "/root/testdata/sf0.001")
        .select(
            F.when(F.col("key").isNull(), "kafka empty message")
            .otherwise(F.col("key"))
            .alias("k"),
            "value",
        )
        .dropDuplicates()
        .select("k")
        .distinct()
        .count()
    )
    # one cell per distinct rowkey (=key); distinct (key,value) pairs
    # collapse onto the same cell via LWW
    assert n_bulk == exp


def test_pipeline_summary_path_one_row_per_batch(
    spark, two_file_stream_dir, tmp_path
):
    """StreamerConfig.summary_path: every micro-batch writes ONE row
    (batch_id, n_messages, n_distinct, batch_date, summary) under
    batch={id}, and a foreachBatch replay of a batch_id overwrites
    that batch's row instead of appending a second one."""
    base, _ = two_file_stream_dir
    summary_path = str(tmp_path / "summary")
    pipe = StreamerPipeline(
        spark,
        StreamerConfig(summary_path=summary_path, clock=lambda: 1700000000),
    )
    q = pipe.start(
        file_stream_messages(spark, base, max_files_per_trigger=1),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert [s[0] for s in pipe.summaries] == [0, 1]

    def rows(batch_id):
        df = spark.read.parquet(f"{summary_path}/batch={batch_id}")
        assert df.dtypes == [
            ("batch_id", "bigint"), ("n_messages", "bigint"),
            ("n_distinct", "bigint"), ("batch_date", "string"),
            ("summary", "string"),
        ]
        return [tuple(r) for r in df.collect()]

    for batch_id, n, n_distinct, summary in pipe.summaries:
        assert rows(batch_id) == [
            (batch_id, n, n_distinct, "2023/11/14 22:13", summary)
        ]
    assert sum(s[1] for s in pipe.summaries) == 1000

    # replay batch 1 with different content: its row is replaced
    replay = spark.range(3).select(
        F.col("id").cast("string").alias("key"),
        F.lit("v").alias("value"),
    )
    pipe.process_batch(replay, 1)
    assert rows(1) == [(1, 3, 3, "2023/11/14 22:13", pipe.summaries[-1][3])]
    everything = spark.read.parquet(summary_path)
    assert sorted(r.batch_id for r in everything.collect()) == [0, 1]


def test_pipeline_distinct_count_fold_is_null_safe(spark):
    """r17 folded the pipeline's T2/T3 distinct count into the T4
    count job as count_distinct(struct(key, value)).  The fold is only
    correct if it keeps dropDuplicates' null semantics: rows with null
    key and/or value still form distinct groups (COUNT(DISTINCT key,
    value) would SKIP them — the struct wrapper is what makes the
    aggregate null-safe).  Pin the equivalence on a frame exercising
    every null shape."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("a", "1"), ("a", "1"),
            (None, "1"), (None, "1"),
            (None, None),
            ("b", None), ("b", None),
        ],
        "key string, value string",
    )
    folded = df.select(
        F.count_distinct(F.struct("key", "value")).alias("nd")
    ).collect()[0]["nd"]
    assert folded == df.dropDuplicates(["key", "value"]).count() == 4


def test_foreach_writer_per_record(spark, sf_smoke, tmp_path):
    out_dir = str(tmp_path / "records")
    msgs = file_stream_messages(
        spark, os.path.join(sf_smoke, "events.parquet")
    ).select(
        F.coalesce(F.col("key"), F.lit("null")).alias("rowkey"),
        F.lit("messages").alias("qualifier"),
        F.col("value"),
    )
    q = (
        msgs.writeStream.foreach(RecordForeachWriter(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    files = glob.glob(os.path.join(out_dir, "*.tsv"))
    assert files, "ForeachWriter wrote no files"
    n_lines = sum(1 for f in files for _ in open(f))
    assert n_lines == 1000


def test_foreach_writer_reclaims_zombie_inprogress(tmp_path):
    """A zombie attempt killed without close() strands its .inprogress
    file; the retry's open() must reclaim it ONLY once aged — a fresh
    sibling is a live concurrent racer (speculation / overlapping
    retry) and unlinking it would re-open the mutual-destruction window
    where both attempts crash at close() (ADVICE r6 foreach.py:46 +
    ADVICE r7 foreach.py:53)."""
    import time as _time

    from kafka_spark_streaming_spark.sinks.foreach import (
        _RECLAIM_AGE_S,
        RecordForeachWriter,
    )

    out_dir = str(tmp_path / "records")
    os.makedirs(out_dir)
    final = os.path.join(out_dir, "epoch=00000003-part=00007.tsv")
    zombie = f"{final}.inprogress.99999-12345"
    racer = f"{final}.inprogress.99998-54321"
    with open(zombie, "w") as fh:
        fh.write("partial\tcf1\tq\ttruncated")  # no trailing newline: mid-write
    with open(racer, "w") as fh:
        fh.write("live\tcf1\tq\tconcurrent")
    stale_ts = _time.time() - _RECLAIM_AGE_S - 5
    os.utime(zombie, (stale_ts, stale_ts))  # aged = zombie; racer stays fresh

    class Row:
        rowkey, qualifier, value = "k", "q", "v"

    w = RecordForeachWriter(out_dir)
    assert w.open(partition_id=7, epoch_id=3)
    assert not os.path.exists(zombie), "aged .inprogress not reclaimed"
    assert os.path.exists(racer), "fresh racer tmp must not be unlinked"
    w.process(Row())
    w.close(None)
    assert os.path.exists(final)
    os.remove(racer)
    leftovers = glob.glob(os.path.join(out_dir, "*.inprogress.*"))
    assert leftovers == []


def test_foreach_sink_roundtrips_hostile_payloads(spark, tmp_path):
    """ADVICE r7 medium (foreach.py:65): tabs, newlines, CRs, leading
    double-quotes, backslashes, percent signs — any JSON broker payload
    in the --per-record CLI mode — must round-trip byte-exact through
    the TSV sink, one sink line per record."""
    from kafka_spark_streaming_spark.sinks.foreach import (
        RecordForeachWriter,
        read_sink,
    )

    hostile = [
        ("tab\tin\tkey", "q1", "plain"),
        ("nl", "q\n2", "line1\nline2"),
        ("cr", "q3", "a\rb"),
        ("json", "q4", '{"k": "v",\n "t": "x\ty"}'),
        ('"leading-quote', 'mid"quote', 'trail\\'),
        ("pct", "100%", "%09 literal %25 %"),
        ("", "", ""),  # empty fields stay '' (not NULL) on read-back
    ]

    class Row:
        def __init__(self, k, q, v):
            self.rowkey, self.qualifier, self.value = k, q, v

    out_dir = str(tmp_path / "records")
    w = RecordForeachWriter(out_dir)
    assert w.open(partition_id=0, epoch_id=0)
    for k, q, v in hostile:
        w.process(Row(k, q, v))
    w.close(None)

    sink_file = glob.glob(os.path.join(out_dir, "*.tsv"))
    assert len(sink_file) == 1
    n_lines = sum(1 for _ in open(sink_file[0]))
    assert n_lines == len(hostile), "a field byte broke record framing"

    got = {
        (r.rowkey, r.qualifier, r.value)
        for r in read_sink(spark, out_dir).collect()
    }
    assert got == set(hostile)


def test_upsert_prune_reclaims_crash_leftover_tmp(spark, tmp_path):
    """A crash between the tmp write and the rename strands v_N.tmp
    holding a full state copy; the next successful write_batch must
    reclaim any tmp at or below the committed head while leaving
    future-id tmps (in-flight batches) alone (ADVICE r6 upsert.py:103)."""
    sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    df = spark.createDataFrame(
        [("k1", "cf1", "q", "v1")],
        "rowkey string, cf string, qualifier string, value string",
    )
    sink.write_batch(df, 1)
    stale = tmp_path / "cells" / "v_000000000001.tmp"
    future = tmp_path / "cells" / "v_000000000099.tmp"
    stale.mkdir()
    future.mkdir()
    sink.write_batch(df, 2)
    assert not stale.exists(), "committed-range tmp not reclaimed"
    assert future.exists(), "future-batch tmp must be left alone"
    assert {r.rowkey for r in sink.current().collect()} == {"k1"}


def test_upsert_sink_idempotent_replay(spark, tmp_path):
    sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    df1 = spark.createDataFrame(
        [("k1", "cf1", "q", "v1"), ("k2", "cf1", "q", "v2")],
        "rowkey string, cf string, qualifier string, value string",
    )
    sink.write_batch(df1, 1)
    df2 = spark.createDataFrame(
        [("k1", "cf1", "q", "v1b")],
        "rowkey string, cf string, qualifier string, value string",
    )
    sink.write_batch(df2, 2)
    # replay batch 2 (foreachBatch retry) — state must be unchanged
    sink.write_batch(df2, 2)
    state = {r.rowkey: r.value for r in sink.current().collect()}
    assert state == {"k1": "v1b", "k2": "v2"}


def test_upsert_retry_with_drifted_rowkeys_purges_first_attempt(
    spark, tmp_path
):
    """ADVICE r16 upsert.py:205: a foreachBatch retry of batch N that
    is NOT bit-deterministic (wall-clock epoch rowkeys drift between
    attempts) must still purge the first attempt's rows — even when
    the two attempts' rowkeys land in DIFFERENT rb buckets, so the
    retry's touched-partition set alone would never reach the ghost.
    The sink detects the retry (committed head >= batch_id) and full-
    merges, purging batch_id >= N everywhere."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    # find two rowkeys that hash to different rb buckets
    probe = spark.createDataFrame(
        [(f"epoch{i}",) for i in range(32)], "rowkey string"
    ).select("rowkey", sink._rb(F.col("rowkey")).alias("rb"))
    by_rb: dict[int, str] = {}
    for r in probe.collect():
        by_rb.setdefault(r["rb"], r["rowkey"])
    (rb_a, key_a), (rb_b, key_b) = sorted(by_rb.items())[:2]
    assert rb_a != rb_b

    def cells(k):
        return spark.createDataFrame(
            [(k, "cf1", "q", f"summary-{k}")],
            "rowkey string, cf string, qualifier string, value string",
        )

    # batch 0 seeds unrelated state; batch 1 first attempt stamps
    # rowkey key_a, the retry stamps key_b (clock drift)
    sink.write_batch(cells("base"), 0)
    sink.write_batch(cells(key_a), 1)
    sink.write_batch(cells(key_b), 1)
    state = {r["rowkey"]: r["value"] for r in sink.current().collect()}
    assert key_a not in state, "first attempt's ghost row survived retry"
    assert state[key_b] == f"summary-{key_b}"
    assert state["base"] == "summary-base"


def test_upsert_empty_retry_purges_first_attempt(spark, tmp_path):
    """Content-drift companion to the rowkey-drift retry test (r17):
    a replay of a committed batch that is EMPTY on retry must purge
    the first attempt's rows rather than carry the manifest forward
    verbatim — converging to the retry's (empty) content.  Also pins
    the degenerate store-wide case: an empty retry of the only batch
    ever written commits an empty manifest that reads as empty state,
    not as the flat legacy layout."""
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    def cells(k):
        return spark.createDataFrame(
            [(k, "cf1", "q", f"v-{k}")],
            "rowkey string, cf string, qualifier string, value string",
        )

    empty = spark.createDataFrame(
        [], "rowkey string, cf string, qualifier string, value string"
    )

    sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    sink.write_batch(cells("base"), 0)
    sink.write_batch(cells("ghost"), 1)
    sink.write_batch(empty, 1)  # retry of batch 1 drifted to empty
    state = {r["rowkey"]: r["value"] for r in sink.current().collect()}
    assert state == {"base": "v-base"}, state

    # degenerate: the whole store was the replayed batch
    sink2 = KeyedUpsertSink(spark, str(tmp_path / "cells2"))
    sink2.write_batch(cells("only"), 0)
    sink2.write_batch(empty, 0)
    assert sink2.current().count() == 0
    # and the store keeps working after the purge-to-empty
    sink2.write_batch(cells("next"), 1)
    assert {
        r["rowkey"] for r in sink2.current().collect()
    } == {"next"}


def test_dedup_store_compaction_preserves_semantics(spark, sf_smoke, tmp_path):
    """compact_dedup_store folds every (kind, pk) leaf to one file and
    must be invisible to every consumer: (a) the kept set is unchanged,
    (b) a superseded original file reappearing at its old path changes
    nothing (reads go through the head manifest only), (c) a store
    that keeps streaming AFTER compaction converges to the same kept
    set as an identical store that never compacted."""
    import os

    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.operators.store_maintenance import (
        _live_files,
        compact_dedup_store,
        pinned_store_read,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    docs = table(spark, sf_smoke, "documents")
    store = str(tmp_path / "store")
    control = str(tmp_path / "control")
    for b in range(4):
        batch = docs.filter(F.col("doc_id") % 5 == b)
        _incremental_dedup_batch(batch, store, b)
        _incremental_dedup_batch(batch, control, b)

    def kept(d):
        return sorted(
            r["doc_id"]
            for r in pinned_store_read(spark, d)
            .filter((F.col("kind") == "p") & F.col("kept"))
            .collect()
        )

    expect = kept(store)
    saved = None  # an original file, preserved to replay it later
    for files in _live_files(store).values():
        if len(files) >= 2:
            saved = (files[0], open(files[0], "rb").read())
            break
    assert saved, "4 batches should leave multi-file leaves"

    stats = compact_dedup_store(spark, store)
    assert stats["rewrote"] and stats["files_after"] < stats["files_before"]
    assert all(len(fs) == 1 for fs in _live_files(store).values())
    assert kept(store) == expect

    # (b) a superseded original resurfaces at its old path — reads
    # follow the head manifest, so nothing changes
    os.makedirs(os.path.dirname(saved[0]), exist_ok=True)
    with open(saved[0], "wb") as fh:
        fh.write(saved[1])
    assert kept(store) == expect
    # and a rerun cleans it back up
    rerun = compact_dedup_store(spark, store, min_files=1)
    assert rerun["rewrote"] and kept(store) == expect

    # (c) the compacted store keeps streaming identically to the
    # never-compacted control
    last = docs.filter(F.col("doc_id") % 5 == 4)
    _incremental_dedup_batch(last, store, 4)
    _incremental_dedup_batch(last, control, 4)
    assert kept(store) == kept(control)
    # layout marker untouched by maintenance
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _store_layout,
    )

    assert _store_layout(spark, store) == _store_layout(spark, control)


def test_dedup_compaction_policy_sawtooths_file_growth(
    spark, sf_smoke, tmp_path
):
    """VERDICT r17 #2 soak: with the compactEveryNBatches policy, a
    long run's per-leaf file count SAWTOOTHS (grows for N batches,
    folds back to 1) instead of growing O(batches), and the kept set
    stays identical to a never-compacted control.  Exercises the
    cooperative fence path compact_dedup_store takes when invoked
    from inside a drain."""
    from kafka_spark_streaming_spark.manifest import ManifestStore
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        _live_files,
        compact_dedup_store,
        pinned_store_read,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    docs = table(spark, sf_smoke, "documents")
    store = str(tmp_path / "store")
    control = str(tmp_path / "control")
    fence = ManifestStore(store).acquire("soak")
    every = 2
    total_files = []  # trajectory after each batch(+policy) step
    for b in range(6):
        batch = docs.filter(F.col("doc_id") % 6 == b)
        _incremental_dedup_batch(batch, store, b, fence=fence)
        _incremental_dedup_batch(batch, control, b)
        if (b + 1) % every == 0:
            compact_dedup_store(spark, store, fence=fence)
        total_files.append(
            sum(len(fs) for fs in _live_files(store).values())
        )
    n_leaves = len(_live_files(store))
    # sawtooth: every policy point is back at one file per leaf...
    assert total_files[1::every] == [n_leaves] * 3, total_files
    # ...while between points the count grows above it
    assert total_files[2] > n_leaves
    # control grows monotonically past the compacted store's ceiling
    control_files = sum(len(fs) for fs in _live_files(control).values())
    assert control_files > total_files[-1]

    def kept(d):
        return sorted(
            r["doc_id"]
            for r in pinned_store_read(spark, d)
            .filter((F.col("kind") == "p") & F.col("kept"))
            .collect()
        )

    assert kept(store) == kept(control)


def test_incremental_near_dedup_result_invariant_to_compaction_knob(
    spark, sf_smoke
):
    """End-to-end wiring of spark.kss.dedup.compactEveryNBatches: the
    registered drain must produce the identical kept set with the
    policy on (compact every batch — the most aggressive cadence) and
    off (the default the sweeps run with)."""
    from kafka_spark_streaming_spark.config import DEDUP_COMPACT_EVERY_KEY
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        s_incremental_near_dedup,
    )

    base = [tuple(r) for r in s_incremental_near_dedup(
        spark, sf_smoke, n_batches=3
    ).collect()]
    spark.conf.set(DEDUP_COMPACT_EVERY_KEY, "1")
    try:
        compacted = [tuple(r) for r in s_incremental_near_dedup(
            spark, sf_smoke, n_batches=3
        ).collect()]
    finally:
        spark.conf.unset(DEDUP_COMPACT_EVERY_KEY)
    assert compacted == base and len(base) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """A late batch arriving after its window was emitted and its state
    evicted is dropped. (Eviction happens at batch end once the
    watermark passes the window end — so the window must close before
    the late data shows up; a late row hitting still-live state is
    merged, per Spark's at-least-delay guarantee.)"""
    t0 = 1_704_067_200_000_000_000
    min_ns = 60_000_000_000
    batches = [
        # b0: minutes 0..59 → after it, wm = 00:49
        [(i, t0 + i * min_ns, 1, "a", 1.0, "{}") for i in range(60)],
        # b1: minutes 120..179 → at its end wm = 02:49; windows ≤ 02:40
        # (incl. 00:00-00:10) are emitted and evicted
        [(200 + i, t0 + (120 + i) * min_ns, 1, "a", 1.0, "{}") for i in range(60)],
        # b2: 5 rows back in minute 0..4 — hopelessly late, must drop
        [(400 + i, t0 + i * 1_000_000_000, 1, "a", 1.0, "{}") for i in range(5)],
    ]
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    base = str(tmp_path / "in")
    os.makedirs(base)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(base + f"/b{i}")
    for i in range(len(batches)):
        src = glob.glob(f"{base}/b{i}/*.parquet")[0]
        dst = f"{base}/batch{i}.parquet"
        os.rename(src, dst)
        os.utime(dst, (1000 + i, 1000 + i))

    msgs = file_stream_messages(spark, base, max_files_per_trigger=1)
    windowed = windowed_counts(msgs, "10 minutes", watermark="10 minutes")
    name = "wm_late_test"
    q = (
        windowed.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(name).collect()
    # late rows targeted the first 10-minute window; on-time batch had 10
    # rows there — the count must still be 10 (late rows dropped), and
    # closed windows are emitted exactly once
    first_bucket = min(r.bucket for r in emitted)
    n_first = [r.n for r in emitted if r.bucket == first_bucket]
    assert n_first == [10]


def test_session_window_smoke(spark, sf_smoke, tmp_path):
    msgs = file_stream_messages(spark, os.path.join(sf_smoke, "events.parquet"))
    sess = sessionized_counts(msgs, gap="30 minutes")
    name = "sess_test"
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    assert out.count() > 0
    assert out.agg(F.sum("n_events")).collect()[0][0] > 0


def test_dedup_within_watermark_smoke(spark, sf_smoke, tmp_path):
    msgs = file_stream_messages(spark, os.path.join(sf_smoke, "events.parquet"))
    dd = dedup_within_watermark(msgs).select("key", "value")
    name = "ddwm_test"
    q = (
        dd.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name).count()
    exp = (
        messages(spark, sf_smoke).dropDuplicates(["key", "value"]).count()
    )
    assert got == exp


def test_stateful_user_stats_crosses_batches(spark, sf_smoke):
    """The stateful operator must see multiple real micro-batches —
    users spanning batches emit one snapshot per batch, so the
    snapshot stream is strictly larger than the user set."""
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _AGGREGATE_DRAIN_STORES,
        _drain_to_memory,
    )
    from kafka_spark_streaming_spark.streaming.stateful import (
        fold_snapshots_to_final,
        multi_batch_events_stream,
        user_lifetime_stats,
    )

    stream = multi_batch_events_stream(spark, sf_smoke, n_batches=4)
    snapshots = _drain_to_memory(
        user_lifetime_stats(stream), "update", _AGGREGATE_DRAIN_STORES
    )
    n_snapshots = snapshots.count()
    final = fold_snapshots_to_final(snapshots, "user_id", "n_events")
    n_users = final.count()
    assert n_users > 0
    assert n_snapshots > n_users, (
        "every user emitted exactly one snapshot — the stream collapsed "
        "into a single micro-batch and cross-batch state was never hit"
    )


@pytest.mark.parametrize("agg", ["user_lifetime_stats", "daily_rollup"])
def test_stateful_state_survives_restart(spark, sf_smoke, tmp_path_factory, agg):
    """Kill the stream after half the input, start a NEW query on the
    same checkpoint with the rest: resumed state must make the final
    fold equal the one-shot batch aggregate (exactly-once semantics of
    checkpointed state + availableNow).  The first run's last commit is
    deleted before the restart, so the restart re-executes that batch
    (a crash between the batch's sink write and its commit): the
    re-emitted snapshot rows must not double-count."""
    import shutil

    from kafka_spark_streaming_spark.streaming import stateful
    from kafka_spark_streaming_spark.streaming.stateful import (
        fold_snapshots_to_final,
    )
    from kafka_spark_streaming_spark.tables import table as t

    aggregate = getattr(stateful, agg)
    key, count = {
        "user_lifetime_stats": ("user_id", "n_events"),
        "daily_rollup": ("d", "n"),
    }[agg]
    base = tmp_path_factory.mktemp("restart")
    src = str(base / "src")
    ckpt = str(base / "ckpt")
    staging = str(base / "staging")
    os.makedirs(src)

    ev = t(spark, sf_smoke, "events")
    ev.repartitionByRange(4, "ts").write.parquet(staging)
    parts = sorted(glob.glob(staging + "/part-*.parquet"))
    assert len(parts) == 4

    out = str(base / "snapshots")
    batch_ids = []

    def write(df, bid):
        batch_ids.append(bid)
        df.write.mode("append").parquet(out)

    def run():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # memory sink can't recover a checkpoint; foreachBatch can
        q = (
            aggregate(stream)
            .writeStream.outputMode("update")
            .foreachBatch(write)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    for p in parts[:2]:
        shutil.copy(p, src)
    run1 = run()
    n1 = run1.count()
    assert n1 > 0
    assert batch_ids == [0, 1]
    run1_rows = run1.collect()

    # crash before the last batch's commit: its output is in the sink
    # but the checkpoint does not record it.  The .crc goes too: left
    # behind, it makes the rewrite of commits/1 fail as "multiple
    # streaming queries are concurrently using .../commits"
    commits = os.path.join(ckpt, "commits")
    os.remove(os.path.join(commits, "1"))
    os.remove(os.path.join(commits, ".1.crc"))

    for p in parts[2:]:
        shutil.copy(p, src)
    snaps = run()
    # run 2 must RESUME (process only the 2 new files), not reprocess:
    # users in run-2 snapshots carry counts > their run-1 rows only if
    # state survived; equality of the final fold proves it exactly.
    assert snaps.count() > n1
    # batch 1 re-executed from state version 1 and re-emitted exactly
    # its first snapshot rows; batch 0 did not run again
    assert batch_ids == [0, 1, 1, 2, 3]
    dup = snaps.exceptAll(snaps.distinct())
    assert dup.count() > 0
    run1_df = spark.createDataFrame(run1_rows, snaps.schema)
    assert dup.exceptAll(run1_df).count() == 0
    final = fold_snapshots_to_final(snaps, key, count)
    assert final.columns == snaps.columns
    if agg == "user_lifetime_stats":
        expected = (
            ev.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 10000).cast("long")).alias(
                    "sum_value_4dec"
                ),
                F.max(F.unix_timestamp("ts")).alias("last_ts_epoch"),
            )
        )
    else:
        expected = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias(
                "sum_value_4dec"
            ),
        )
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0


def test_stateful_user_stats_all_null_folds_match_oracle(spark, tmp_path):
    """A user whose values (or timestamps) are all null folds to a NULL
    sum (or last-seen), as the registered DuckDB oracle's SUM/MAX do —
    not to 0 — across two real micro-batches."""
    import duckdb

    from kafka_spark_streaming_spark.operators.registry import ORACLES
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _AGGREGATE_DRAIN_STORES,
        _drain_to_memory,
    )
    from kafka_spark_streaming_spark.streaming.stateful import (
        fold_snapshots_to_final,
        user_lifetime_stats,
    )
    from tests.oracle_check import compare

    batches = [
        # user 1: all-null value; user 3: all-null ts (both span batches)
        "(1, TIMESTAMP'2024-01-02 03:04:05', NULL), "
        "(2, TIMESTAMP'2024-01-02 03:04:05', 1.5), "
        "(3, NULL, 0.25)",
        "(1, NULL, NULL), (3, NULL, NULL), "
        "(2, TIMESTAMP'2024-01-05 00:00:01', NULL)",
    ]
    src = tmp_path / "src"
    src.mkdir()
    for k, rows in enumerate(batches):
        staged = str(tmp_path / f"staged{k}")
        spark.sql(
            "SELECT CAST(user_id AS BIGINT) AS user_id, "
            "CAST(ts AS TIMESTAMP) AS ts, CAST(value AS DOUBLE) AS value "
            f"FROM VALUES {rows} AS t(user_id, ts, value)"
        ).coalesce(1).write.parquet(staged)
        (part,) = glob.glob(staged + "/part-*.parquet")
        dest = str(src / f"batch{k}.parquet")
        os.rename(part, dest)
        os.utime(dest, (1_000_000_000 + k, 1_000_000_000 + k))

    files = sorted(glob.glob(str(src / "*.parquet")))
    stream = (
        spark.readStream.schema(spark.read.parquet(*files).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    snapshots = _drain_to_memory(
        user_lifetime_stats(stream), "update", _AGGREGATE_DRAIN_STORES
    )
    # two batches: users 1-3 snapshot in both
    assert snapshots.count() == 6
    final = fold_snapshots_to_final(snapshots, "user_id", "n_events")

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet({files!r})"
        )
        cur = con.execute(ORACLES["s_stateful_user_stats"])
        ora_cols = [d[0] for d in cur.description]
        ora_rows = cur.fetchall()
    finally:
        con.close()
    assert sorted(ora_rows)[0][2] is None  # the oracle's SUM over nulls
    problems = compare(
        final.columns, [tuple(r) for r in final.collect()], ora_cols, ora_rows
    )
    assert not problems, "\n".join(problems)


# every registered query that starts a stream
_STREAM_DRAINS = sorted(
    n for n in QUERIES if n.startswith("s_") and n != "s_upsert_snapshot_read"
)


@pytest.mark.parametrize("name", _STREAM_DRAINS)
def test_registered_stream_drains_through_one_helper(
    spark, sf_smoke, monkeypatch, name
):
    """Every stream-backed registered query drains through
    streaming_queries._drain: its streams carry the helper's name and
    have terminated when the query returns, no memory-sink view
    outlives the drain, and the returned frame still reads the drained
    rows, the same on every action."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    def drain_views():
        return [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("kss_drain_")
        ]

    assert not drain_views()
    started = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        started.append(real_start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", start)
    out = QUERIES[name](spark, sf_smoke)
    assert started
    for q in started:
        assert q.name.startswith("kss_drain_"), q.name
        assert not q.isActive, q.name
    assert not drain_views()
    first = Counter(out.collect())
    assert first
    assert Counter(out.collect()) == first


def test_cli_streamer_end_to_end(spark, sf_smoke, tmp_path_factory):
    """python -m kafka_spark_streaming_spark with the reference's flag
    surface, file-source stand-in: summary printed, sink cells written."""
    from kafka_spark_streaming_spark.__main__ import main

    base = tmp_path_factory.mktemp("cli")
    sink = str(base / "sink")
    rc = main(
        [
            "--source-parquet",
            os.path.join(sf_smoke, "events.parquet"),
            "-table",
            sink,
            "-bulk",
            "--available-now",
            "--checkpoint",
            str(base / "ckpt"),
        ]
    )
    assert rc == 0
    cells = KeyedUpsertSink(spark, sink).current()
    assert cells.filter(F.col("qualifier") == "messages").count() >= 1
    assert cells.filter(F.col("qualifier") == "content").count() >= 1


def test_cli_per_record_end_to_end(spark, sf_smoke, tmp_path_factory):
    """--per-record = entry point 2 (the reference's pom main class):
    every record lands in the sink dir as one TSV cell via the
    executor-side ForeachWriter."""
    from kafka_spark_streaming_spark.__main__ import main
    from kafka_spark_streaming_spark.sinks.foreach import read_sink

    base = tmp_path_factory.mktemp("cli_pr")
    sink = str(base / "cells")
    rc = main(
        [
            "--source-parquet",
            os.path.join(sf_smoke, "events.parquet"),
            "-table",
            sink,
            "--per-record",
            "--checkpoint",
            str(base / "ckpt"),
        ]
    )
    assert rc == 0
    rows = read_sink(spark, sink)
    assert rows.count() == 1000  # one cell per record at sf0.001
    assert rows.filter(F.col("qualifier") != "messages").count() == 0
    assert (
        rows.filter(F.col("rowkey") == "kafka empty message").count() > 0
    )  # null keys routed to the sentinel


def test_pipeline_zombie_driver_fenced_after_failover(
    spark, sf_smoke, tmp_path
):
    """The r18 fencing story end-to-end through the pipeline layer: a
    driver that lost a failover (its replacement attached to the same
    sink path and committed) must FAIL its next micro-batch loudly —
    the StaleWriterError surfaces through foreachBatch as a failed
    streaming query — and must mutate nothing: the sink state stays
    exactly what the new driver's timeline wrote, and the zombie's
    uncommitted input batch remains available for the legitimate
    driver to process."""
    ev = table(spark, sf_smoke, "events")
    thirds = [
        ev.filter(F.col("event_id") % 3 == i).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        for i in range(3)
    ]

    def stage(base: str, i: int, df) -> None:
        scratch = f"{base}/_w{i}"
        df.coalesce(1).write.mode("overwrite").parquet(scratch)
        dst = f"{base}/batch{i}.parquet"
        os.rename(glob.glob(scratch + "/*.parquet")[0], dst)
        os.utime(dst, (1000 + i, 1000 + i))

    def run(pipe: StreamerPipeline, base: str, ckpt: str) -> None:
        msgs = file_stream_messages(spark, base, max_files_per_trigger=1)
        q = pipe.start(msgs, checkpoint=ckpt)
        q.awaitTermination()

    base, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(base)
    cfg = StreamerConfig(
        table_path=str(tmp_path / "cells"), bulk=True,
        clock=lambda: 1700000000,
    )
    stage(base, 0, thirds[0])
    zombie = StreamerPipeline(spark, cfg)
    run(zombie, base, ckpt)  # the original driver commits batch 0

    stage(base, 1, thirds[1])
    failover = StreamerPipeline(spark, cfg)  # replacement driver
    run(failover, base, ckpt)  # commits batch 1 -> bumps the epoch
    want = {
        (r.rowkey, r.value)
        for r in failover.sink.current().collect()
    }

    stage(base, 2, thirds[2])
    with pytest.raises(Exception, match="StaleWriterError|stale"):
        run(zombie, base, ckpt)  # the zombie wakes up and must be fenced
    got = {
        (r.rowkey, r.value)
        for r in KeyedUpsertSink(spark, cfg.table_path).current().collect()
    }
    assert got == want, "a fenced zombie batch must mutate nothing"

    # the legitimate driver picks batch 2 up from the same checkpoint
    # (the zombie's failed batch never committed its offset)
    resumed = StreamerPipeline(spark, cfg)
    run(resumed, base, ckpt)
    assert [s[0] for s in resumed.summaries] == [2]
    # batch 2's rowkeys overlap the existing cells (same key alphabet),
    # so the evidence it landed is LWW content: the summary cell now
    # carries the batch-2 counter
    final = {
        r.rowkey: r.value
        for r in KeyedUpsertSink(spark, cfg.table_path).current().collect()
    }
    assert "number of RDD (batches): 2" in final["1700000000"]


def test_pipeline_checkpoint_restart_exactly_once(spark, sf_smoke, tmp_path):
    """SURVEY.md §7 "what's hard" #4 / VERDICT r5 item 5: kill a stream
    mid-corpus and resume from its checkpoint — the restarted run must
    (a) not reprocess files the checkpoint already committed and (b)
    leave the sink bit-identical to an uninterrupted single run. At
    100 TB restart is the common case, and this is what the reference
    gets wrong (its hand-rolled batch counter resets on restart,
    Streamer.scala:122); foreachBatch's checkpoint-backed batch_id plus
    the idempotent versioned MERGE is the fix being proven here.
    """
    ev = table(spark, sf_smoke, "events")
    halves = [
        ev.filter(F.col("event_id") % 2 == i).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        for i in range(2)
    ]

    def stage(base: str, i: int, df) -> None:
        scratch = f"{base}/_w{i}"
        df.coalesce(1).write.mode("overwrite").parquet(scratch)
        dst = f"{base}/batch{i}.parquet"
        os.rename(glob.glob(scratch + "/*.parquet")[0], dst)
        os.utime(dst, (1000 + i, 1000 + i))

    def run(pipe: StreamerPipeline, base: str, ckpt: str) -> None:
        msgs = file_stream_messages(spark, base, max_files_per_trigger=1)
        q = pipe.start(msgs, checkpoint=ckpt)
        q.awaitTermination()

    # --- interrupted run: drain half, stop, add the rest, resume -------
    base_a, ckpt_a = str(tmp_path / "in_a"), str(tmp_path / "ckpt_a")
    os.makedirs(base_a)
    stage(base_a, 0, halves[0])
    cfg_a = StreamerConfig(
        table_path=str(tmp_path / "cells_a"), bulk=True, clock=lambda: 1700000000
    )
    first = StreamerPipeline(spark, cfg_a)
    run(first, base_a, ckpt_a)
    assert [s[0] for s in first.summaries] == [0]

    stage(base_a, 1, halves[1])
    resumed = StreamerPipeline(spark, cfg_a)  # fresh process, same ckpt+sink
    run(resumed, base_a, ckpt_a)

    # (a) exactly-once input: the resumed run saw ONLY the new file, and
    # its batch_id continued from the checkpoint instead of resetting
    assert [s[0] for s in resumed.summaries] == [1]
    assert resumed.summaries[0][1] == halves[1].count()

    # --- uninterrupted single run over the same two files --------------
    base_b, ckpt_b = str(tmp_path / "in_b"), str(tmp_path / "ckpt_b")
    os.makedirs(base_b)
    for i in range(2):
        stage(base_b, i, halves[i])
    cfg_b = StreamerConfig(
        table_path=str(tmp_path / "cells_b"), bulk=True, clock=lambda: 1700000000
    )
    single = StreamerPipeline(spark, cfg_b)
    run(single, base_b, ckpt_b)
    assert [s[0] for s in single.summaries] == [0, 1]

    # (b) the sink state is bit-identical to the uninterrupted run
    cols = ["rowkey", "cf", "qualifier", "value", "batch_id"]
    got = sorted(map(tuple, resumed.sink.current().select(*cols).collect()))
    want = sorted(map(tuple, single.sink.current().select(*cols).collect()))
    assert got == want and len(got) > 0


def test_multi_batch_split_files_arrive_in_ts_order(spark):
    """Regression test for the round-6 stream-stream-join failure: the
    file source orders files by mtime, and parallel task commits can
    land all split files with IDENTICAL mtimes (observed equal to the
    nanosecond) — arrival order then becomes arbitrary, and a file
    arriving after the watermark passed its ts range gets silently
    dropped. multi_batch_events_stream must stamp strictly increasing
    mtimes in range-partition (= ascending ts) order, idempotently."""
    import pyarrow.parquet as pq

    from kafka_spark_streaming_spark.streaming.stateful import (
        multi_batch_events_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    multi_batch_events_stream(spark, sf_dir, n_batches=4)

    import glob as _glob

    from kafka_spark_streaming_spark.tables import fixture_fingerprint

    import tempfile

    split_dir = os.path.join(
        tempfile.gettempdir(),
        f"kss_split_sf0.001_4_{fixture_fingerprint(sf_dir, 'events')}",
    )
    parts = sorted(_glob.glob(split_dir + "/part-*.parquet"))
    assert len(parts) == 4
    mtimes = [os.stat(p).st_mtime for p in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4, (
        f"split mtimes not strictly increasing: {mtimes}"
    )
    # partition order must equal ts order (repartitionByRange contract)
    ts_firsts = [pq.read_table(p, columns=["ts"])["ts"][0].as_py() for p in parts]
    assert ts_firsts == sorted(ts_firsts)

    # sabotage: equalize mtimes (the parallel-commit failure shape) and
    # re-enter — the function must restamp even on a cache hit
    for p in parts:
        os.utime(p, (5_000_000, 5_000_000))
    multi_batch_events_stream(spark, sf_dir, n_batches=4)
    mtimes = [os.stat(p).st_mtime for p in sorted(_glob.glob(split_dir + "/part-*.parquet"))]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


def test_put_single_default_preserves_prior_cells(spark, tmp_path):
    """Convenience-API landmine fixed: put_single with no explicit
    batch_id must auto-advance past the last committed version —
    a fixed default id would make write_batch treat every later call
    as a replay of that id and drop all other cells."""
    sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    sink.put_single("r1", "q", "v1")
    sink.put_single("r2", "q", "v2")
    sink.put_single("r1", "q", "v1b")  # overwrite same cell
    state = {r.rowkey: r.value for r in sink.current().collect()}
    assert state == {"r1": "v1b", "r2": "v2"}


def _soak(query, done, timeout_sec=240.0):
    """Run a started continuous-trigger query until done() or timeout,
    then stop it and return its progress history. The ONLY place the
    suite runs a processingTime trigger — everything else drains with
    availableNow for determinism."""
    import time as _t

    deadline = _t.monotonic() + timeout_sec
    try:
        while _t.monotonic() < deadline and not done():
            _t.sleep(0.2)
        assert done(), (
            f"soak did not reach its batch target in {timeout_sec}s; "
            f"progress={[p['batchId'] for p in query.recentProgress]}"
        )
    finally:
        query.stop()
        query.awaitTermination()
    return list(query.recentProgress)


def test_processing_time_trigger_pipeline_soak(spark, tmp_path):
    """The reference runs FOREVER on a 2-second processing-time cadence
    (Streamer.scala:57) — availableNow drains can't see that semantic.
    Soak the pipeline on a rate source with trigger(processingTime=
    '1 second') for >=5 real micro-batches: batch_ids must be strictly
    monotonic (the restart-safe counter, T9) and the trigger must
    actually pace batches — near-empty batches fire roughly once per
    interval instead of spinning as fast as the loop allows."""
    cfg = StreamerConfig(clock=lambda: 1700000000)
    pipe = StreamerPipeline(spark, cfg)
    msgs = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .select(
            (F.col("value") % 10).cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
            F.lit("page_visits").alias("topic"),
            F.col("timestamp").alias("ts"),
        )
    )
    q = pipe.start(
        msgs,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=False,
        interval="1 second",
    )
    # done() counts INPUT-BEARING progress reports, not pipe.summaries:
    # the rate source's batch 0 is always empty, a delayed first trigger
    # adds more empty catch-up batches, and the final batch's progress
    # report races query.stop() — counting summaries made the later
    # >=4-stamps assertion flaky in full-suite runs (seen twice at r9:
    # 5 summaries but only 3 input-bearing progress rows survived).
    progress = _soak(
        q,
        lambda: sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
        >= 5,
    )

    ids = [s[0] for s in pipe.summaries]
    assert ids == sorted(set(ids)), f"batch_ids not monotonic: {ids}"
    # cadence: with ~100 tiny rows/batch, execution is far below the
    # 1 s interval, so firing is trigger-paced. Bound the MEDIAN
    # inter-batch gap loosely (shared host: individual gaps jitter) —
    # an unpaced loop would show ~0 s medians, a broken trigger none.
    # The LOWER bound is the discriminating assertion; the upper bound
    # only sanity-checks against a total stall and must tolerate a
    # co-tenant-loaded host where a 1 s-trigger batch can take several
    # seconds to execute (the trigger still paces: it fires as soon as
    # the previous batch ends when behind schedule). Measured r9: the
    # suite run concurrently with bench.py pushed one run past the old
    # 5 s bound / 90 s deadline; isolated runs sit at ~1 s gaps.
    stamps = sorted(
        p["timestamp"] for p in progress if p["numInputRows"] > 0
    )
    assert len(stamps) >= 4
    from datetime import datetime

    ts = [
        datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()
        for s in stamps
    ]
    gaps = sorted(b - a for a, b in zip(ts, ts[1:]))
    median_gap = gaps[len(gaps) // 2]
    assert 0.5 <= median_gap <= 20.0, f"cadence off: gaps={gaps}"


def test_processing_time_trigger_state_stays_bounded(spark, tmp_path):
    """Continuous-operation memory contract: a keyed streaming agg over
    an unbounded rate source must hold state proportional to the KEY
    domain, not the row count — every progress report's state-store
    row total stays <= the 10 live keys while input rows grow without
    bound. This is what lets the reference's forever-loop run forever."""
    counts = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
        .groupBy((F.col("value") % 10).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        counts.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    progress = _soak(
        q,
        lambda: sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
        >= 5,
    )
    fed = [p for p in progress if p["numInputRows"] > 0]
    assert len(fed) >= 5
    totals = [
        op["numRowsTotal"] for p in fed for op in p["stateOperators"]
    ]
    assert totals and max(totals) <= 10, (
        f"state store grew past the key domain: {totals}"
    )
    # and input genuinely grew while state didn't — the unbounded half
    assert sum(p["numInputRows"] for p in fed) > 10 * max(totals)


def test_explain_cli_lists_and_rejects(capsys):
    """The plan-inspection entry point: --list enumerates the registry
    in driver-emission order; an unknown name exits 2 with a
    suggestion and never starts a SparkSession."""
    from kafka_spark_streaming_spark.explain import main as explain_main
    from kafka_spark_streaming_spark.operators import ordered_queries

    assert explain_main(["--list"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out == list(ordered_queries())

    assert explain_main(["q1_pricing_sumary"]) == 2  # typo
    err = capsys.readouterr().err
    assert "q1_pricing_summary" in err, "no did-you-mean suggestion"


def test_explain_cli_prints_plan(spark, capsys):
    """A real query name prints its formatted plan (pushed filters
    visible — the property the CLI exists to expose)."""
    from kafka_spark_streaming_spark.explain import main as explain_main

    rc = explain_main(["q6_forecast_revenue", "--sf", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "PushedFilters" in out
    # ADVICE r8: main() must NOT stop a pre-existing session — it got
    # it from getOrCreate, it doesn't own it. The fixture session has
    # to stay usable for every test that runs after this one.
    assert spark.range(1).count() == 1, "explain CLI stopped the ambient session"


def test_incremental_dedup_batch_replay_idempotent(spark, sf_smoke, tmp_path):
    """Exactly-once from the manifest: run two batches, then REPLAY
    the second with its batch_id (exactly what a foreachBatch retry
    after a post-commit crash does — the store already holds the
    replayed batch's version), and pin that the retry commits no
    version, leaves the stored profile-row count unchanged and leaves
    the kept set unchanged row-for-row.  Also pins the store's
    (kind, pk) leaf layout, which the partition-pruned probes rely
    on."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.manifest import ManifestStore
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        pinned_store_read,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    store_dir = str(tmp_path / "store")
    docs = table(spark, sf_smoke, "documents")
    half0 = docs.filter(F.col("doc_id") < 250)
    half1 = docs.filter(F.col("doc_id") >= 250)

    def profiles():
        return pinned_store_read(spark, store_dir).filter(
            F.col("kind") == "p"
        )

    def kept_rows():
        return sorted(
            tuple(r)
            for r in profiles()
            .filter(F.col("kept"))
            .select("doc_id", "n")
            .collect()
        )

    _incremental_dedup_batch(half0, store_dir, 0)
    _incremental_dedup_batch(half1, store_dir, 1)
    before = kept_rows()
    assert len(before) > 0
    n_profiles = profiles().count()
    assert n_profiles == docs.count(), "one profile row per document"
    # the combined store is leaf-partitioned on (kind, pk): band rows
    # under kind=b, profile rows under kind=p (r16 — both pruned
    # probes rely on this layout)
    store = ManifestStore(store_dir)
    versions = store._versions()
    leaves = store._head()[1]
    assert {leaf.split("/")[0] for leaf in leaves} == {"kind=b", "kind=p"}
    assert any(
        leaf.startswith("kind=b/pk=") for leaf in leaves
    ), "band rows lost their pk= partition layout"

    # retry of batch 1: same input against a store whose head already
    # holds batch 1
    _incremental_dedup_batch(half1, store_dir, 1)
    assert store._versions() == versions, "the retry committed a version"
    assert profiles().count() == n_profiles
    assert kept_rows() == before, "replayed batch changed the kept set"


def test_ivf_fold_replay_commits_nothing(spark, sf_smoke, tmp_path):
    """The streaming-IVF fold's exactly-once argument, as for the
    near-dedup batch: replaying a committed batch_id commits no
    version and leaves the stored rows (and the quantizer) as they
    were; the next batch_id still commits."""
    from kafka_spark_streaming_spark.manifest import ManifestStore
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        CENTROIDS_NAME,
        pinned_store_read,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _ivf_fold,
    )
    from kafka_spark_streaming_spark.tables import table

    store_dir = str(tmp_path / "store")
    emb = table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    parts = [emb.filter(F.col("vec_id") % 3 == b) for b in range(3)]

    def rows():
        return sorted(
            (r.vec_id, r.cell)
            for r in pinned_store_read(spark, store_dir)
            .select("vec_id", "cell")
            .collect()
        )

    _ivf_fold(parts[0], store_dir, 0)
    _ivf_fold(parts[1], store_dir, 1)
    store = ManifestStore(store_dir)
    versions = store._versions()
    quantizer = store._head()[1][CENTROIDS_NAME]
    before = rows()
    for b in (0, 1):
        _ivf_fold(parts[b], store_dir, b)
    assert store._versions() == versions, "a replay committed a version"
    assert rows() == before
    assert store._head()[1][CENTROIDS_NAME] == quantizer
    _ivf_fold(parts[2], store_dir, 2)
    after = rows()
    assert len(after) == emb.count()
    assert len({v for v, _ in after}) == len(after), "duplicate vec_ids"


def test_default_compaction_leaves_only_compacted_head_on_disk(
    spark, sf_smoke, tmp_path
):
    """The prune frees space a whole version at a time, so a default
    compaction (min_files=2) on a store where some leaves hold ONE
    file must still leave the compacted head as the only version on
    disk: it rewrites every leaf (and carries the IVF quantizer), so no
    older version stays referenced.  Checked on both append stores."""
    from kafka_spark_streaming_spark.manifest import ManifestStore
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        CENTROIDS_NAME,
        _live_files,
        ann_centroids,
        compact_ann_store,
        compact_dedup_store,
        pinned_store_read,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
        _ivf_fold,
    )
    from kafka_spark_streaming_spark.tables import table

    def on_disk(store_dir):
        return sorted(
            os.path.join(d, f)
            for d, _, files in os.walk(store_dir)
            for f in files
            if f.endswith(".parquet")
        )

    def rows(store_dir, cols):
        return sorted(
            tuple(r)
            for r in pinned_store_read(spark, store_dir).select(*cols)
            .collect()
        )

    dedup = str(tmp_path / "dedup")
    docs = table(spark, sf_smoke, "documents")
    for b in range(2):
        _incremental_dedup_batch(
            docs.filter(F.col("doc_id") % 2 == b), dedup, b
        )
    sizes = [len(fs) for fs in _live_files(dedup).values()]
    assert min(sizes) == 1 and max(sizes) >= 2, sizes
    before = rows(dedup, ["kind", "pk", "doc_id", "bh", "kept"])
    assert compact_dedup_store(spark, dedup)["rewrote"]
    assert ManifestStore(dedup)._versions() == ["v_000000000001-r000001"]
    live = sorted(f for fs in _live_files(dedup).values() for f in fs)
    assert on_disk(dedup) == live
    assert rows(dedup, ["kind", "pk", "doc_id", "bh", "kept"]) == before

    ann = str(tmp_path / "ann")
    emb = table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    for b in range(3):
        _ivf_fold(emb.filter(F.col("vec_id") % 3 == b), ann, b)
    store = ManifestStore(ann)
    quantizer = ann_centroids(store, store._head()[1])
    before = rows(ann, ["vec_id", "cell"])
    assert compact_ann_store(spark, ann)["rewrote"]
    head, manifest = store._head()
    assert store._versions() == [head] == ["v_000000000002-r000001"]
    assert manifest[CENTROIDS_NAME] == [head]
    assert (ann_centroids(store, manifest) == quantizer).all()
    live = sorted(f for fs in _live_files(ann).values() for f in fs)
    assert on_disk(ann) == live
    assert rows(ann, ["vec_id", "cell"]) == before


def test_incremental_dedup_batching_invariant(spark, sf_smoke):
    """The kept set must be a property of the CORPUS, not of how the
    stream happened to batch it: the per-batch candidate generator
    only pairs a doc against earlier-or-same-batch docs with smaller
    doc_id, which for ordered batches covers exactly the same
    (doc_a < doc_b) universe whether the corpus arrives in 1 batch or
    4.  Pins the r16 combined-store/pruned-probe machinery against
    the one failure mode oracle parity at a fixed n_batches=4 cannot
    see: a probe that silently misses cross-batch candidates would
    still look 'consistent' within one batching."""
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        s_incremental_near_dedup,
    )

    def kept(n_batches):
        return sorted(
            tuple(r)
            for r in s_incremental_near_dedup(
                spark, sf_smoke, n_batches=n_batches
            ).collect()
        )

    one = kept(1)
    assert len(one) > 0
    assert kept(3) == one, "kept set changed with micro-batch count"


def test_ann_store_compaction_policy_and_knob_invariance(spark, sf_smoke):
    """The streaming IVF store's in-drain compaction (r18): with
    spark.kss.ann.compactEveryNBatches=1 the registered drain must
    return the identical top-k as with the policy off (the default
    the sweeps run with), and the compacted run's store must end at
    one file per cell leaf while the knob-off run's accumulates more.
    Covers compact_ann_store's cooperative fence path end-to-end."""
    import glob as _glob
    import os
    import tempfile

    from kafka_spark_streaming_spark.config import ANN_COMPACT_EVERY_KEY
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        _live_files,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        s_incremental_ann_ivf,
    )

    def run_and_stats(knob: str | None):
        if knob is not None:
            spark.conf.set(ANN_COMPACT_EVERY_KEY, knob)
        try:
            before = set(
                _glob.glob(os.path.join(tempfile.gettempdir(), "kss_sivf_*"))
            )
            rows = [
                tuple(r)
                for r in s_incremental_ann_ivf(spark, sf_smoke).collect()
            ]
            (run_dir,) = (
                set(
                    _glob.glob(
                        os.path.join(tempfile.gettempdir(), "kss_sivf_*")
                    )
                )
                - before
            )
            live = _live_files(os.path.join(run_dir, "store"))
            files = sum(len(fs) for fs in live.values())
            leaves = len(live)
            return rows, files, leaves
        finally:
            if knob is not None:
                spark.conf.unset(ANN_COMPACT_EVERY_KEY)

    base_rows, base_files, base_leaves = run_and_stats(None)
    comp_rows, comp_files, comp_leaves = run_and_stats("1")
    assert comp_rows == base_rows and len(base_rows) > 0
    assert comp_leaves == base_leaves
    # compact-every-batch ends at exactly one file per leaf; the
    # knob-off store accumulated one file per (batch, touched leaf)
    assert comp_files == comp_leaves
    assert base_files > base_leaves
