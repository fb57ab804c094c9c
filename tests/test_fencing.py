"""Writer fencing for the on-disk stores (VERDICT r17 #1).

Both versioned stores were single-writer by docstring contract only;
r18 adds an epoch-token fence (kafka_spark_streaming_spark/fencing.py)
acquired at a writer's first commit and checked before every
commit-point mutation.  These tests pin the whole surface: the token
protocol itself, the upsert sink's two-writer loser raising instead
of corrupting, the dedup drain's fenced append, and
compact_dedup_store refusing to run beside a live writer.
"""

from __future__ import annotations

import gc
import os

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.fencing import (
    StaleWriterError,
    WriterFence,
    live_writer,
)
from kafka_spark_streaming_spark.manifest import ManifestStore


# --- token protocol -------------------------------------------------------


def test_fence_epoch_monotone_and_check(tmp_path):
    marker = str(tmp_path / "_WRITER_EPOCH")
    f1 = WriterFence.acquire(marker, purpose="t1")
    assert f1.epoch == 1
    f1.check()  # freshest writer passes
    f2 = WriterFence.acquire(marker, purpose="t2")
    assert f2.epoch == 2
    f2.check()
    with pytest.raises(StaleWriterError):
        f1.check()
    # idle preserves the epoch and does not un-fence the stale holder
    f2.idle()
    f2.check()  # idle is not a release; the holder may keep committing
    with pytest.raises(StaleWriterError):
        f1.check()
    # a stale holder must not be able to mark the token idle either
    with pytest.raises(StaleWriterError):
        f1.idle()


def test_fence_live_writer_probe(tmp_path):
    marker = str(tmp_path / "_WRITER_EPOCH")
    assert live_writer(marker) is None  # never acquired
    f = WriterFence.acquire(marker, purpose="drain")
    tok = live_writer(marker)
    assert tok is not None and tok["purpose"] == "drain"
    f.idle()
    assert live_writer(marker) is None  # inactive token is not live
    # active token with a dead pid is stale, not live (crashed holder)
    f2 = WriterFence.acquire(marker, purpose="zombie")
    f2.token["pid"] = 2**22 + 12345  # beyond default pid_max
    from kafka_spark_streaming_spark.fencing import _write_token

    _write_token(marker, f2.token)
    assert live_writer(marker) is None


def test_fence_corrupt_token_fails_loudly(tmp_path):
    marker = str(tmp_path / "_WRITER_EPOCH")
    with open(marker, "w") as fh:
        fh.write("{not json")
    with pytest.raises(ValueError, match="corrupt writer token"):
        WriterFence.acquire(marker)


def test_fence_concurrent_acquire_single_winner(tmp_path):
    """Racing acquires: everyone who returns holds a distinct epoch or
    raised; at any quiescent point exactly the newest holder passes
    check().  Threads exercise the unique-tmp + replace + read-back
    protocol under real interleaving."""
    from concurrent.futures import ThreadPoolExecutor

    marker = str(tmp_path / "_WRITER_EPOCH")

    def try_acquire(i):
        try:
            return WriterFence.acquire(marker, purpose=f"racer-{i}")
        except StaleWriterError:
            return None

    with ThreadPoolExecutor(max_workers=8) as ex:
        fences = [f for f in ex.map(try_acquire, range(8)) if f is not None]
    assert fences, "at least one racer must win its acquire"
    survivors = []
    for f in fences:
        try:
            f.check()
            survivors.append(f)
        except StaleWriterError:
            pass
    assert len(survivors) == 1, "exactly one newest writer may survive"


def test_commit_layout_racers_all_agree(tmp_path):
    """ADVICE r17 config.py:164: racing commit_layout calls used a
    SHARED tmp name and returned their own vals without re-reading —
    interleaved truncate/replace could leave racers proceeding with
    layouts that disagree with the marker.  Now (unique tmp + os.link
    create-if-absent publish + mandatory re-read) every racer must
    return the same tuple, and it must equal what the marker holds."""
    from concurrent.futures import ThreadPoolExecutor

    from kafka_spark_streaming_spark.config import commit_layout, read_layout

    marker = str(tmp_path / "_BUCKETS")

    def racer(i):
        return commit_layout(marker, (i + 1, (i + 1) * 10))

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(racer, range(8)))
    assert len(set(results)) == 1, f"racers disagree: {sorted(set(results))}"
    assert read_layout(marker, 2) == results[0]


# --- upsert sink: two-writer failover ------------------------------------


def _cells(spark, rows):
    return spark.createDataFrame(
        [(k, "cf1", "q", v) for k, v in rows],
        "rowkey string, cf string, qualifier string, value string",
    )


def test_upsert_two_writers_loser_raises_not_corrupts(spark, tmp_path):
    """Failover shape: writer A commits batches, writer B attaches
    (new driver) and commits, zombie A tries to keep going — A must
    raise StaleWriterError at its next commit and the state must be
    exactly what B's timeline produced (A's fenced write mutates
    nothing)."""
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    path = str(tmp_path / "cells")
    a = KeyedUpsertSink(spark, path)
    a.write_batch(_cells(spark, [("k1", "v1"), ("k2", "v2")]), 0)

    b = KeyedUpsertSink(spark, path)  # read-only attach: no fence yet
    assert {r.rowkey for r in b.current().collect()} == {"k1", "k2"}
    b.write_batch(_cells(spark, [("k2", "v2b"), ("k3", "v3")]), 1)

    with pytest.raises(StaleWriterError):
        a.write_batch(_cells(spark, [("k1", "ZOMBIE")]), 2)
    state = {r.rowkey: r.value for r in b.current().collect()}
    assert state == {"k1": "v1", "k2": "v2b", "k3": "v3"}
    # and B keeps working after fencing A out
    b.write_batch(_cells(spark, [("k4", "v4")]), 2)
    assert {r.rowkey for r in b.current().collect()} == {
        "k1", "k2", "k3", "k4",
    }


def test_upsert_read_only_attach_does_not_fence(spark, tmp_path):
    """Attaching a sink just to read current() (oracle readers, the
    registry's post-drain reads) must not bump the epoch and fence a
    live writer out — the fence is acquired at the first WRITE."""
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    path = str(tmp_path / "cells")
    writer = KeyedUpsertSink(spark, path)
    writer.write_batch(_cells(spark, [("k1", "v1")]), 0)
    reader = KeyedUpsertSink(spark, path)
    assert {r.rowkey for r in reader.current().collect()} == {"k1"}
    writer.write_batch(_cells(spark, [("k2", "v2")]), 1)  # still fine
    assert {r.rowkey for r in writer.current().collect()} == {"k1", "k2"}


def test_upsert_snapshot_survives_pruning(spark, tmp_path):
    """VERDICT r17 #6: a held snapshot() DataFrame pins the versions
    it references across keep=2 pruning; releasing the reference
    releases the pin.  buckets=1 makes every write own the single rb
    partition, so without the pin v_0 would be deleted by the third
    write."""
    from kafka_spark_streaming_spark.config import UPSERT_STATE_BUCKETS_KEY
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    try:
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    finally:
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)
    sink.write_batch(_cells(spark, [("k1", "v1")]), 0)
    snap = sink.snapshot()
    sink.write_batch(_cells(spark, [("k1", "v2")]), 1)
    sink.write_batch(_cells(spark, [("k1", "v3")]), 2)
    # v_0 must still be readable through the pinned snapshot
    assert os.path.isdir(str(tmp_path / "cells" / "v_000000000000"))
    assert [(r.rowkey, r.value) for r in snap.collect()] == [("k1", "v1")]
    # current() sees the head as usual
    assert [r.value for r in sink.current().collect()] == ["v3"]
    # releasing the snapshot releases the pin at the next prune
    del snap
    gc.collect()
    sink.write_batch(_cells(spark, [("k1", "v4")]), 3)
    assert not os.path.exists(str(tmp_path / "cells" / "v_000000000000"))


def test_snapshot_survives_post_failover_writers_prunes(spark, tmp_path):
    """Pins are process-level (r18): a snapshot handed out by the OLD
    sink must survive prunes performed by the NEW writer that fenced
    it out — the failover must not vacuum data out from under readers
    the predecessor already served."""
    from kafka_spark_streaming_spark.config import UPSERT_STATE_BUCKETS_KEY
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    try:
        old = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    finally:
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)
    old.write_batch(_cells(spark, [("k1", "v1")]), 0)
    snap = old.snapshot()
    new = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    new.write_batch(_cells(spark, [("k1", "v2")]), 1)  # fences `old` out
    new.write_batch(_cells(spark, [("k1", "v3")]), 2)  # would prune v_0
    assert [(r.rowkey, r.value) for r in snap.collect()] == [("k1", "v1")]
    del snap
    gc.collect()
    new.write_batch(_cells(spark, [("k1", "v4")]), 3)
    assert not os.path.exists(str(tmp_path / "cells" / "v_000000000000"))


# --- dedup store: fenced append + compaction guard ------------------------


def test_dedup_batch_fenced_append_raises_for_zombie(spark, sf_smoke, tmp_path):
    """A drain-held fence must stop a zombie's append: after a newer
    writer acquires, the old fence's batch raises StaleWriterError at
    the commit point and the store content is unchanged."""
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        pinned_store_read,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    store = str(tmp_path / "store")
    docs = table(spark, sf_smoke, "documents")
    old = ManifestStore(store).acquire("drain-1")
    _incremental_dedup_batch(
        docs.filter(F.col("doc_id") < 50), store, 0, fence=old
    )
    n_before = pinned_store_read(spark, store).count()
    ManifestStore(store).acquire("drain-2")  # failover
    with pytest.raises(StaleWriterError):
        _incremental_dedup_batch(
            docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)),
            store,
            1,
            fence=old,
        )
    assert pinned_store_read(spark, store).count() == n_before


def test_compact_refuses_live_writer_token(spark, sf_smoke, tmp_path):
    """compact_dedup_store (standalone) must refuse while the store's
    token names a live writer, run after the writer idles, and honor
    force=True against a token the operator knows is stale."""
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        compact_dedup_store,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    store = str(tmp_path / "store")
    docs = table(spark, sf_smoke, "documents")
    fence = ManifestStore(store).acquire("drain")
    for b in range(2):
        _incremental_dedup_batch(
            docs.filter(F.col("doc_id") % 2 == b), store, b, fence=fence
        )
    with pytest.raises(StaleWriterError, match="live writer"):
        compact_dedup_store(spark, store)
    # force overrides (and fences the "live" writer out as a side
    # effect — its next append raises, which is the safe direction)
    stats = compact_dedup_store(spark, store, force=True)
    assert stats["rewrote"]
    with pytest.raises(StaleWriterError):
        _incremental_dedup_batch(docs.limit(10), store, 2, fence=fence)
    # a new drain attaches cleanly behind the compaction and, once it
    # idles, standalone compaction no longer refuses
    fence2 = ManifestStore(store).acquire("drain-2")
    _incremental_dedup_batch(
        docs.filter(F.col("doc_id") < 20), store, 2, fence=fence2
    )
    fence2.idle()
    stats2 = compact_dedup_store(spark, store, min_files=1)
    assert stats2["rewrote"]


def test_dedup_layout_race_guard_fires_on_foreign_pin(
    spark, sf_smoke, tmp_path
):
    """ADVICE r17 config.py:164 follow-through: commit_layout now
    re-reads the marker after publishing, so the batch body's
    pinned-vs-computed guard can actually fire.  Simulate the race: a
    concurrent attach pins a DIFFERENT layout between this batch's
    read and its commit — the batch must refuse to append (its pk
    values were computed under the losing layout) instead of writing
    a store whose directories disagree with the marker."""
    from kafka_spark_streaming_spark.config import commit_layout
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    store = str(tmp_path / "store")
    marker = os.path.join(store, "_BUCKETS")
    os.makedirs(store)
    # the racer pins (3, 5) before our batch (session conf defaults
    # differ: 16/16) reaches its own commit
    assert commit_layout(marker, (3, 5)) == (3, 5)
    docs = table(spark, sf_smoke, "documents").filter(F.col("doc_id") < 30)
    # no guard trip here: the batch READS the already-pinned marker up
    # front and computes with it — the race needs the pin to land
    # mid-batch, which we force by pre-pinning then deleting the
    # marker so the batch's initial read sees None
    os.remove(marker)
    pinned = {"done": False}
    import kafka_spark_streaming_spark.operators.streaming_queries as sq

    orig = sq._store_layout

    def racing_layout(sess, sdir, commit=False):
        if commit and not pinned["done"]:
            # the concurrent attach wins the marker right before us
            commit_layout(os.path.join(sdir, "_BUCKETS"), (3, 5))
            pinned["done"] = True
        return orig(sess, sdir, commit=commit)

    sq._store_layout = racing_layout
    try:
        with pytest.raises(RuntimeError, match="pinned to \\(3, 5\\)"):
            _incremental_dedup_batch(docs, store, 0)
    finally:
        sq._store_layout = orig
    assert os.listdir(store) == ["_BUCKETS"], (
        "losing batch must leave nothing in the store but the racer's marker"
    )


def test_upsert_keep_versions_knob_and_history(spark, tmp_path):
    """spark.kss.sink.upsertKeepVersions widens the retention window
    (r18 — keep was hardcoded at 2), and history() reports every
    retained version with its ownership stats.  buckets=1 so each
    write owns the single partition and old versions are retained by
    the keep window alone."""
    from kafka_spark_streaming_spark.config import (
        UPSERT_KEEP_VERSIONS_KEY,
        UPSERT_STATE_BUCKETS_KEY,
    )
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    spark.conf.set(UPSERT_KEEP_VERSIONS_KEY, "3")
    try:
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    finally:
        spark.conf.unset(UPSERT_KEEP_VERSIONS_KEY)
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)
    for i in range(5):
        sink.write_batch(_cells(spark, [("k1", f"v{i}")]), i)
    hist = sink.history()
    assert [h["batch_id"] for h in hist] == [2, 3, 4]
    assert hist[-1]["is_head"] and not hist[0]["is_head"]
    assert all(
        h["live_partitions"] == h["owned_partitions"] == 1 for h in hist
    )
    # default retention (2) on a fresh attach prunes back down
    sink2 = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    sink2.write_batch(_cells(spark, [("k1", "v5")]), 5)
    assert [h["batch_id"] for h in sink2.history()] == [4, 5]


def test_compact_cooperative_abort_before_delete_is_crash_shaped(
    spark, sf_smoke, tmp_path
):
    """Cooperative compaction whose fence goes stale mid-pass must
    abort at its commit point: the version rename never happens, so
    the store keeps its pre-compaction head — exactly a crash-window
    state — and a later legitimate pass compacts it."""
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        _live_files,
        compact_dedup_store,
        pinned_store_read,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    store = str(tmp_path / "store")
    docs = table(spark, sf_smoke, "documents")
    fence = ManifestStore(store).acquire("drain")
    for b in range(2):
        _incremental_dedup_batch(
            docs.filter(F.col("doc_id") % 2 == b), store, b, fence=fence
        )

    def kept(d):
        return sorted(
            r["doc_id"]
            for r in pinned_store_read(spark, d)
            .filter((F.col("kind") == "p") & F.col("kept"))
            .collect()
        )

    expect = kept(store)
    head_before = ManifestStore(store)._head()
    files_before = _live_files(store)
    # the fence goes stale before the pass reaches its commit point
    # (failover landed mid-compaction)
    usurper = ManifestStore(store).acquire("drain-2")
    with pytest.raises(StaleWriterError):
        compact_dedup_store(spark, store, fence=fence)
    assert ManifestStore(store)._head() == head_before, (
        "the abort point is BEFORE the version rename — the "
        "pre-compaction head must still be the store's head"
    )
    assert _live_files(store) == files_before
    assert kept(store) == expect
    # the usurping drain's own cooperative pass folds everything back
    stats = compact_dedup_store(spark, store, fence=usurper, min_files=1)
    assert stats["rewrote"]
    assert all(len(fs) == 1 for fs in _live_files(store).values())
    assert kept(store) == expect


def test_snapshot_survives_replay_of_pinned_batch(spark, tmp_path):
    """Regression (r18, caught by the LWW property model's drawn
    snapshot point): the retry path used to rmtree+rewrite v_N in
    place, deleting the files a live snapshot() pin was still reading
    — FileNotFoundException at collect.  Committed versions are now
    immutable: the replay commits an attempt version (v_N-r1) and the
    pinned original stays readable; releasing the pin lets both be
    pruned."""
    from kafka_spark_streaming_spark.config import UPSERT_STATE_BUCKETS_KEY
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    try:
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    finally:
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)
    sink.write_batch(_cells(spark, [("k1", "v1")]), 0)
    snap = sink.snapshot()  # pins v_0
    # foreachBatch replay of batch 0 with drifted content — the purge
    # semantics must land in a NEW attempt version, not overwrite v_0
    sink.write_batch(_cells(spark, [("k1", "v1-replayed")]), 0)
    assert sink._versions() == [
        "v_000000000000", "v_000000000000-r000001",
    ]
    assert [(r.rowkey, r.value) for r in snap.collect()] == [("k1", "v1")]
    assert [r.value for r in sink.current().collect()] == ["v1-replayed"]
    # a second replay appends -r000002; batch ids in history stay honest
    sink.write_batch(_cells(spark, [("k1", "v1-again")]), 0)
    assert sink._versions()[-1] == "v_000000000000-r000002"
    assert [h["batch_id"] for h in sink.history()] == [0, 0, 0]
    assert [r.value for r in sink.current().collect()] == ["v1-again"]
    # pin released -> later writes prune the superseded attempts
    del snap
    gc.collect()
    sink.write_batch(_cells(spark, [("k1", "v2")]), 1)
    sink.write_batch(_cells(spark, [("k1", "v3")]), 2)
    assert "v_000000000000" not in sink._versions()


def test_attempt_ordering_at_double_digit_retries(spark, tmp_path):
    """Regression (ADVICE r18 upsert.py:190): after the 10th retry
    committed, head selection picked a superseded attempt (current()
    read stale state) and _prune treated the true newest attempt as
    non-live and deleted it.  _versions() sorts numerically on
    (batch_id, attempt), and the next attempt name continues from the
    highest committed attempt, zero-padded."""
    from kafka_spark_streaming_spark.config import UPSERT_STATE_BUCKETS_KEY
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    try:
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    finally:
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)
    # a committed first attempt plus ten zero-padded retries
    for d in ["v_000000000000"] + [
        f"v_000000000000-r{k:06d}" for k in range(1, 11)
    ]:
        os.makedirs(os.path.join(sink.path, d))
        sink._write_manifest(os.path.join(sink.path, d), {})
    vs = sink._versions()
    assert vs[-1] == "v_000000000000-r000010", vs
    assert [sink._attempt_of(v) for v in vs] == list(range(11))
    # the next attempt continues from 10, zero-padded
    nxt = sink._new_version_name(0, vs)
    assert nxt == "v_000000000000-r000011"
    os.makedirs(os.path.join(sink.path, nxt))
    sink._write_manifest(os.path.join(sink.path, nxt), {})
    assert sink._versions()[-1] == nxt
    # prune keeps the true newest attempt, not a lexicographic head
    sink._prune(keep=1)
    assert sink._versions() == [nxt]


def test_current_tracks_head_across_double_digit_replays(spark, tmp_path):
    """End-to-end twin of the ordering regression: 10 foreachBatch
    replays of batch 0 with drifted content — after each commit,
    current() must read THAT attempt (pre-fix, attempt 10 surfaced
    attempt 9's value) and history() batch ids stay honest."""
    from kafka_spark_streaming_spark.config import UPSERT_STATE_BUCKETS_KEY
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    try:
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    finally:
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)
    sink.write_batch(_cells(spark, [("k1", "v0")]), 0)
    for k in range(1, 11):
        sink.write_batch(_cells(spark, [("k1", f"v0-attempt{k}")]), 0)
    assert sink._versions()[-1] == "v_000000000000-r000010"
    assert [r.value for r in sink.current().collect()] == ["v0-attempt10"]
    assert {h["batch_id"] for h in sink.history()} == {0}
    # a later batch prunes the superseded attempts without touching
    # the live head lineage
    sink.write_batch(_cells(spark, [("k1", "v1")]), 1)
    assert [r.value for r in sink.current().collect()] == ["v1"]


def test_manifestless_version_fails_closed(spark, tmp_path):
    """Every version the sink commits carries _MANIFEST.json, so a
    committed version without one (parquet data, no manifest) is not a
    layout this sink writes: current(), snapshot() and write_batch()
    each raise a pointed ValueError instead of guessing which rb
    partitions the version owns, and nothing is committed over it."""
    import re

    from kafka_spark_streaming_spark.manifest import MANIFEST_NAME
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    path = str(tmp_path / "cells")
    sink = KeyedUpsertSink(spark, path)
    spark.createDataFrame(
        [(f"k{i}", "cf1", "q", f"v{i}", 0) for i in range(4)],
        "rowkey string, cf string, qualifier string, value string,"
        " batch_id long",
    ).write.parquet(os.path.join(path, "v_000000000000"))
    assert sink._versions() == ["v_000000000000"]
    match = re.escape(f"has no {MANIFEST_NAME}")
    with pytest.raises(ValueError, match=match):
        sink.current()
    with pytest.raises(ValueError, match=match):
        sink.snapshot()
    with pytest.raises(ValueError, match=match):
        sink.write_batch(_cells(spark, [("k1", "v1-new")]), 1)
    assert sink._versions() == ["v_000000000000"]
    assert not os.path.exists(
        os.path.join(path, "v_000000000000", MANIFEST_NAME)
    )


def test_snapshot_pins_are_durable_cross_process(spark, tmp_path):
    """r19: snapshot() pins are pin FILES inside the store, so a
    pruner in a different process honors a reader it cannot see in
    memory.  Simulated here by hand-writing a pin file with a foreign
    LIVE pid (pid 1 — always alive) naming v_0: three later writes at
    keep=2/buckets=1 must retain v_0; flipping the pin's pid to a dead
    one lets the next prune delete both the version and the stale pin
    file."""
    import json

    from kafka_spark_streaming_spark.config import UPSERT_STATE_BUCKETS_KEY
    from kafka_spark_streaming_spark.manifest import PIN_DIR
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    try:
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    finally:
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)
    sink.write_batch(_cells(spark, [("k1", "v1")]), 0)
    pin_dir = os.path.join(sink.path, PIN_DIR)
    os.makedirs(pin_dir, exist_ok=True)
    pin_path = os.path.join(pin_dir, "pin-1-deadbeef.json")
    with open(pin_path, "w") as fh:
        json.dump(
            {"versions": ["v_000000000000"], "pid": 1,
             "purpose": "snapshot"}, fh,
        )
    sink.write_batch(_cells(spark, [("k1", "v2")]), 1)
    sink.write_batch(_cells(spark, [("k1", "v3")]), 2)
    sink.write_batch(_cells(spark, [("k1", "v4")]), 3)
    assert "v_000000000000" in sink._versions(), (
        "a live foreign-process pin must survive keep-window pruning"
    )
    # dead holder: pin is reaped and the version becomes prunable
    with open(pin_path, "w") as fh:
        json.dump(
            {"versions": ["v_000000000000"], "pid": 2**22 + 12345,
             "purpose": "snapshot"}, fh,
        )
    sink.write_batch(_cells(spark, [("k1", "v5")]), 4)
    assert "v_000000000000" not in sink._versions()
    assert not os.path.exists(pin_path), "dead-holder pin must be reaped"


def test_snapshot_pin_file_lifecycle(spark, tmp_path):
    """The pin file appears when snapshot() hands out a DataFrame and
    disappears when the reference is dropped; a corrupt pin file fails
    the prune loudly instead of silently deleting a reader's files."""
    import json

    import pytest as _pytest

    from kafka_spark_streaming_spark.config import UPSERT_STATE_BUCKETS_KEY
    from kafka_spark_streaming_spark.manifest import PIN_DIR
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    try:
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    finally:
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)
    sink.write_batch(_cells(spark, [("k1", "v1")]), 0)
    pin_dir = os.path.join(sink.path, PIN_DIR)

    def pin_files():
        return [
            f for f in os.listdir(pin_dir)
            if f.startswith("pin-") and f.endswith(".json")
        ] if os.path.isdir(pin_dir) else []

    snap = sink.snapshot()
    assert len(pin_files()) == 1
    with open(os.path.join(pin_dir, pin_files()[0])) as fh:
        pin = json.load(fh)
    assert pin["pid"] == os.getpid()
    assert "v_000000000000" in pin["versions"]
    del snap
    gc.collect()
    assert pin_files() == [], "dropping the snapshot must release its pin"
    # corrupt pin: the prune must not guess
    with open(os.path.join(pin_dir, "pin-9-feed.json"), "w") as fh:
        fh.write("{not json")
    with _pytest.raises(ValueError, match="corrupt snapshot pin"):
        sink.write_batch(_cells(spark, [("k1", "v2")]), 1)


def test_pinned_store_read_survives_compaction(spark, sf_smoke, tmp_path):
    """r19: pinned_store_read pins the versions its read references,
    so a compaction pass that lands mid-read commits its version but
    the prune SKIPS the pinned originals — the held DataFrame stays
    collectable with unchanged content.  Releasing the pin lets the
    next pass's prune reclaim them, down to one file per leaf on disk
    in the compacted head alone, and reap the pin dir."""
    from kafka_spark_streaming_spark.manifest import PIN_DIR
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        _live_files,
        compact_dedup_store,
        pinned_store_read,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    store = str(tmp_path / "store")
    docs = table(spark, sf_smoke, "documents")
    fence = ManifestStore(store).acquire("drain")
    for b in range(2):
        _incremental_dedup_batch(
            docs.filter(F.col("doc_id") % 2 == b), store, b, fence=fence
        )
    fence.idle()  # drain finished: standalone compaction may run

    def kept(df):
        return sorted(
            r["doc_id"]
            for r in df.filter((F.col("kind") == "p") & F.col("kept"))
            .collect()
        )

    def files_on_disk():
        # leaf -> parquet files under it in EVERY version dir on disk
        per: dict[str, int] = {}
        for d, _, files in os.walk(store):
            rel = os.path.relpath(d, store).split(os.sep)
            if rel[0].startswith("v_") and len(rel) > 1:
                leaf = os.path.join(*rel[1:])
                per[leaf] = per.get(leaf, 0) + sum(
                    f.endswith(".parquet") for f in files
                )
        return {k: n for k, n in per.items() if n}

    pinned = pinned_store_read(spark, store)
    expect = kept(pinned)
    assert expect == kept(pinned_store_read(spark, store))
    stats = compact_dedup_store(spark, store)
    assert stats["rewrote"]
    # pinned originals survived: some leaf holds >1 file on disk
    # (compacted + pinned original), and the held DataFrame still
    # collects the same answer from the SAME files
    assert any(n > 1 for n in files_on_disk().values())
    assert ManifestStore(store)._versions() == [
        "v_000000000000", "v_000000000001", "v_000000000001-r000001"
    ]
    assert kept(pinned) == expect
    assert kept(pinned_store_read(spark, store)) == expect
    # release the pin -> the next pass's prune reclaims the originals
    # (the head is already one file per leaf: nothing to rewrite)
    del pinned
    gc.collect()
    stats2 = compact_dedup_store(spark, store, min_files=2)
    assert not stats2["rewrote"]
    assert ManifestStore(store)._versions() == ["v_000000000001-r000001"]
    assert all(n == 1 for n in files_on_disk().values())
    assert all(len(fs) == 1 for fs in _live_files(store).values())
    assert kept(pinned_store_read(spark, store)) == expect
    gc.collect()
    pin_dir = os.path.join(store, PIN_DIR)
    assert not [
        f for f in os.listdir(pin_dir) if f.endswith(".json")
    ] if os.path.isdir(pin_dir) else True


def test_fence_lease_ttl_liveness(tmp_path):
    """r19: a fence acquired with lease_ttl_s is live while its token
    mtime is within the TTL (host-agnostic — no pid involved), expires
    when the holder stops heartbeating, and heartbeat() renews it.  A
    fenced-out stale holder cannot renew."""
    import time

    marker = str(tmp_path / "_WRITER_EPOCH")
    f = WriterFence.acquire(marker, purpose="drain", lease_ttl_s=30.0)
    tok = live_writer(marker)
    assert tok is not None and tok["lease_ttl_s"] == 30.0
    # lease liveness ignores the pid entirely: a dead holder pid with
    # a fresh mtime is still within its lease
    from kafka_spark_streaming_spark.fencing import _write_token

    _write_token(marker, {**f.token, "pid": 2**22 + 12345})
    assert live_writer(marker) is not None
    _write_token(marker, f.token)  # restore
    # age the token past the TTL: the lease expires
    past = time.time() - 61.0
    os.utime(marker, (past, past))
    assert live_writer(marker) is None
    # heartbeat renews (rewrites the token -> fresh mtime)
    f.heartbeat()
    assert live_writer(marker) is not None
    # a newer writer fences the old one out of heartbeat too
    f2 = WriterFence.acquire(marker, purpose="drain-2", lease_ttl_s=30.0)
    with pytest.raises(StaleWriterError):
        f.heartbeat()
    f2.heartbeat()  # the live holder keeps renewing fine
    # idle still wins over the lease: an inactive token is not live
    f2.idle()
    assert live_writer(marker) is None


def test_compact_standalone_proceeds_past_expired_lease(
    spark, sf_smoke, tmp_path
):
    """An expired lease is exactly the crashed-on-another-host case:
    standalone compaction must treat it as stale and proceed without
    force=True (with the pid probe alone it would refuse forever when
    the pid happened to be recycled)."""
    import time

    from kafka_spark_streaming_spark.operators.store_maintenance import (
        compact_dedup_store,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    store = str(tmp_path / "store")
    docs = table(spark, sf_smoke, "documents")
    fence = ManifestStore(store).acquire("drain", lease_ttl_s=30.0)
    marker = os.path.join(store, "_WRITER_EPOCH")
    for b in range(2):
        _incremental_dedup_batch(
            docs.filter(F.col("doc_id") % 2 == b), store, b, fence=fence
        )
    # live lease: compaction refuses
    with pytest.raises(StaleWriterError):
        compact_dedup_store(spark, store)
    # holder silently dies (no idle); its lease runs out
    past = time.time() - 61.0
    os.utime(marker, (past, past))
    stats = compact_dedup_store(spark, store)
    assert stats["rewrote"]
    # and the zombie, were it to come back, is fenced at its next append
    with pytest.raises(StaleWriterError):
        _incremental_dedup_batch(docs.limit(5), store, 2, fence=fence)


def test_fence_lease_knob_wires_store_writers(spark, tmp_path):
    """spark.kss.fence.leaseTtlSec > 0 makes the upsert sink (and the
    drains, same fence_lease_ttl plumbing) acquire a leased fence and
    renew it once per committed batch: after aging the token, the next
    write_batch's heartbeat brings the lease back within TTL."""
    import time

    from kafka_spark_streaming_spark.config import FENCE_LEASE_TTL_KEY
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(FENCE_LEASE_TTL_KEY, "45")
    try:
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
        sink.write_batch(_cells(spark, [("k1", "v1")]), 0)
    finally:
        spark.conf.unset(FENCE_LEASE_TTL_KEY)
    marker = os.path.join(sink.path, "_WRITER_EPOCH")
    tok = live_writer(marker)
    assert tok is not None and tok["lease_ttl_s"] == 45.0
    past = time.time() - 120.0
    os.utime(marker, (past, past))
    assert live_writer(marker) is None  # lapsed between batches
    sink.write_batch(_cells(spark, [("k2", "v2")]), 1)
    assert live_writer(marker) is not None, (
        "the commit's heartbeat must renew the lease"
    )
    # default mode unchanged: no knob -> no lease field in the token
    sink2 = KeyedUpsertSink(spark, str(tmp_path / "cells2"))
    sink2.write_batch(_cells(spark, [("k1", "v1")]), 0)
    tok2 = live_writer(os.path.join(sink2.path, "_WRITER_EPOCH"))
    assert tok2 is not None and "lease_ttl_s" not in tok2


def test_lease_mode_pins_auto_expire(spark, tmp_path):
    """With the PIN-TTL knob set, snapshot pins carry lease_ttl_s and
    auto-expire by mtime instead of pid-liveness — the retention-window
    contract a multi-host deployment needs (a crashed remote reader's
    pin cannot block vacuum forever, and pid reuse is irrelevant).
    The knob is spark.kss.store.pinTtlSec, deliberately separate from
    the per-batch-renewed fence lease (code-review r19: reusing the
    fence TTL silently stripped protection from any snapshot held
    longer than one batch interval)."""
    import json
    import time

    from kafka_spark_streaming_spark.config import (
        STORE_PIN_TTL_KEY,
        UPSERT_STATE_BUCKETS_KEY,
    )
    from kafka_spark_streaming_spark.manifest import PIN_DIR
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    spark.conf.set(STORE_PIN_TTL_KEY, "45")
    try:
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
        sink.write_batch(_cells(spark, [("k1", "v1")]), 0)
        snap = sink.snapshot()
        pin_dir = os.path.join(sink.path, PIN_DIR)
        pins = [f for f in os.listdir(pin_dir) if f.endswith(".json")]
        assert len(pins) == 1
        pin_path = os.path.join(pin_dir, pins[0])
        with open(pin_path) as fh:
            assert json.load(fh)["lease_ttl_s"] == 45.0
        # fresh pin: v_0 survives writes past the keep window
        sink.write_batch(_cells(spark, [("k1", "v2")]), 1)
        sink.write_batch(_cells(spark, [("k1", "v3")]), 2)
        assert "v_000000000000" in sink._versions()
        assert [(r.rowkey, r.value) for r in snap.collect()] == [
            ("k1", "v1")
        ]
        # lapse the lease: the next prune expires the pin and vacuums
        past = time.time() - 120.0
        os.utime(pin_path, (past, past))
        sink.write_batch(_cells(spark, [("k1", "v4")]), 3)
        assert "v_000000000000" not in sink._versions()
        assert not os.path.exists(pin_path)
    finally:
        spark.conf.unset(STORE_PIN_TTL_KEY)
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)


def test_idle_sidecar_cannot_clobber_usurper(tmp_path):
    """r19: idle() publishes a sidecar naming its own tenure instead
    of rewriting the shared token — so even a zombie whose idle races
    past its check (simulated by writing the sidecar directly) cannot
    fence out the legitimate writer: the sidecar names a superseded
    epoch/nonce and is ignored."""
    from kafka_spark_streaming_spark.fencing import (
        _idle_marker,
        _write_token,
    )

    marker = str(tmp_path / "_WRITER_EPOCH")
    f1 = WriterFence.acquire(marker, purpose="drain")
    f2 = WriterFence.acquire(marker, purpose="drain-2")
    # zombie f1's idle, bypassing its check (the race window)
    _write_token(_idle_marker(marker, f1.token), {})
    assert live_writer(marker) is not None, (
        "a superseded tenure's idle sidecar must not mark the live "
        "writer inactive"
    )
    f2.check()  # and the usurper's token is untouched
    f2.idle()  # the live holder's own idle does take effect
    assert live_writer(marker) is None


def test_pin_ttl_falls_back_to_fence_lease(spark):
    """pin_ttl_for_writer: explicit pinTtlSec wins; unset with the fence
    lease on falls back to PIN_TTL_FALLBACK_FACTOR x the fence TTL
    with a warning (multi-host mode must never silently use pid pins,
    but the raw batch-sized fence TTL would strip vacuum protection
    from any snapshot held past ~one batch — ADVICE r19); both unset
    -> None."""
    import warnings as _warnings

    from kafka_spark_streaming_spark.config import (
        FENCE_LEASE_TTL_KEY,
        PIN_TTL_FALLBACK_FACTOR,
        STORE_PIN_TTL_KEY,
        pin_ttl_for_writer,
    )

    assert pin_ttl_for_writer(spark) is None
    spark.conf.set(FENCE_LEASE_TTL_KEY, "30")
    try:
        with pytest.warns(UserWarning, match="pinTtlSec"):
            assert pin_ttl_for_writer(spark) == 30.0 * PIN_TTL_FALLBACK_FACTOR
        assert PIN_TTL_FALLBACK_FACTOR >= 8, (
            "the fallback factor exists to cover multi-batch reads; "
            "a small factor re-opens the silent-protection-loss gap"
        )
        spark.conf.set(STORE_PIN_TTL_KEY, "600")
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")  # explicit knob: no warning
            assert pin_ttl_for_writer(spark) == 600.0
    finally:
        spark.conf.unset(FENCE_LEASE_TTL_KEY)
        spark.conf.unset(STORE_PIN_TTL_KEY)


def test_explicit_pin_ttl_zero_opts_out_of_fallback(spark):
    """An EXPLICIT pinTtlSec=0 keeps pid-liveness pins even in
    fence-lease mode — the fallback must not override the key's
    documented '0 = off' (code-review r19)."""
    from kafka_spark_streaming_spark.config import (
        FENCE_LEASE_TTL_KEY,
        STORE_PIN_TTL_KEY,
        pin_ttl_for_writer,
    )

    spark.conf.set(FENCE_LEASE_TTL_KEY, "30")
    spark.conf.set(STORE_PIN_TTL_KEY, "0")
    try:
        assert pin_ttl_for_writer(spark) is None
    finally:
        spark.conf.unset(FENCE_LEASE_TTL_KEY)
        spark.conf.unset(STORE_PIN_TTL_KEY)


def test_delayed_zombie_idle_cannot_unidle_or_misidle(tmp_path):
    """Per-tenure idle-sidecar names: a zombie's delayed idle write
    (its check raced past before the usurper acquired AND idled)
    creates a file no live token matches — the current tenure's idle
    state is untouched in both directions."""
    from kafka_spark_streaming_spark.fencing import (
        _idle_marker,
        _write_token,
    )

    marker = str(tmp_path / "_WRITER_EPOCH")
    f1 = WriterFence.acquire(marker, purpose="drain")
    f2 = WriterFence.acquire(marker, purpose="drain-2")
    f2.idle()
    assert live_writer(marker) is None
    # zombie f1's delayed idle lands AFTER f2 idled: f2 stays idle
    _write_token(_idle_marker(marker, f1.token), {})
    assert live_writer(marker) is None
    # and the inverse: a fresh tenure is NOT idled by either old file
    f3 = WriterFence.acquire(marker, purpose="drain-3")
    assert live_writer(marker) is not None
    assert f3.epoch == 3


def test_pin_guarded_releases_pin_on_unexpected_error(tmp_path):
    """A verify/finish failure that is NOT a race must release the
    published pin before propagating — a leaked pid-mode pin would
    block compaction sweeps for the driver's whole lifetime."""
    from kafka_spark_streaming_spark.fencing import pin_guarded

    pin_dir = str(tmp_path / "store.pins")

    def attempt():
        def verify():
            return True

        def finish(_pin_path):
            raise RuntimeError("boom: not a race")

        return {"files": ["x"], "purpose": "t"}, verify, finish

    with pytest.raises(RuntimeError, match="boom"):
        pin_guarded(pin_dir, attempt, what="t")
    assert [
        f for f in os.listdir(pin_dir) if f.endswith(".json")
    ] == [], "the pin must not leak past the failure"


def test_snapshot_collects_race_live_writer(spark, tmp_path):
    """Chaos check of the whole r19 pin protocol under REAL
    concurrency: a reader thread takes and collects snapshots in a
    loop while the main thread commits batches with maximal prune
    pressure (buckets=1 -> every version superseded immediately,
    keep=2).  Each batch writes ALL keys with one value, so every
    successfully collected snapshot must be UNIFORM — a mixed state
    would mean a snapshot read torn across versions; a vanished-file
    error would mean a prune ignored a live pin.  The documented
    residual window (pruner's pin read predating the pin, unlink
    following the verify) is tolerated at <=2 occurrences — zero in
    practice (97/97 clean in the authoring run under full-suite CPU
    contention)."""
    import threading

    from kafka_spark_streaming_spark.config import UPSERT_STATE_BUCKETS_KEY
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    try:
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    finally:
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)
    keys = [f"k{i}" for i in range(4)]
    done = False
    ok, nonuniform, errors = [], [], []

    def reader():
        while not done:
            try:
                rows = {
                    r.rowkey: r.value for r in sink.snapshot().collect()
                }
            except Exception as exc:  # noqa: BLE001 — tallied below
                errors.append(f"{type(exc).__name__}: {exc}"[:200])
                continue
            if rows:
                (nonuniform if len(set(rows.values())) > 1 else ok).append(
                    rows
                )

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(10):
            sink.write_batch(
                spark.createDataFrame(
                    [(k, "cf1", "q", f"v{i:02d}") for k in keys],
                    "rowkey string, cf string, qualifier string,"
                    " value string",
                ),
                i,
            )
    finally:
        done = True
        t.join()
    assert not nonuniform, f"torn snapshot reads: {nonuniform}"
    assert len(errors) <= 2, f"pin protocol losing races: {errors}"
    assert ok, "the reader thread never completed a snapshot"


def test_drain_runs_end_to_end_in_lease_mode(spark, sf_smoke):
    """The incremental-dedup drain with the fence lease knob on: the
    fence acquires with a TTL, every batch's heartbeat renews it (a
    lapsed lease mid-drain would make this flaky), and the result is
    identical to pid-mode — the liveness policy must be invisible to
    query semantics."""
    from kafka_spark_streaming_spark.config import FENCE_LEASE_TTL_KEY
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        s_incremental_near_dedup,
    )

    baseline = {
        (r.doc_id, r.n_shingles)
        for r in s_incremental_near_dedup(spark, sf_smoke).collect()
    }
    spark.conf.set(FENCE_LEASE_TTL_KEY, "300")
    try:
        leased = {
            (r.doc_id, r.n_shingles)
            for r in s_incremental_near_dedup(spark, sf_smoke).collect()
        }
    finally:
        spark.conf.unset(FENCE_LEASE_TTL_KEY)
    assert leased == baseline and baseline


def test_acquire_sweep_guards_and_ages(tmp_path):
    """The acquire-time sidecar sweep (code-review r19, final pass):
    older tenures' committed sidecars go; newer/equal tenures' stay;
    fresh mkstemp-shaped temps stay (a live idle() may be mid-write);
    hard-kill-orphaned temps age out; junk names never crash the
    acquire."""
    import time

    from kafka_spark_streaming_spark.fencing import _write_token

    marker = str(tmp_path / "_WRITER_EPOCH")
    f1 = WriterFence.acquire(marker, purpose="t1")  # epoch 1
    f1.idle()  # committed older sidecar: .idle-1-<nonce>
    old_sidecar = f"{marker}.idle-1-{f1.token['nonce']}"
    assert os.path.exists(old_sidecar)
    # a NEWER tenure's sidecar (as if a stalled sweeper raced it)
    newer = f"{marker}.idle-9-{'ab' * 8}"
    _write_token(newer, {})
    # fresh temp (live idle mid-write) and an aged orphan temp
    fresh_tmp = f"{marker}.idle-1-deadbeef.AbCdEf"
    aged_tmp = f"{marker}.idle-1-deadbeef.ZyXwVu"
    for p in (fresh_tmp, aged_tmp):
        with open(p, "w") as fh:
            fh.write("{}")
    past = time.time() - 7200
    os.utime(aged_tmp, (past, past))
    # junk that int() would reject under isdigit (superscript two)
    junk = f"{marker}.idle-²-abcd"
    with open(junk, "w") as fh:
        fh.write("{}")
    os.utime(junk, (past, past))

    f2 = WriterFence.acquire(marker, purpose="t2")  # epoch 2: sweeps
    assert not os.path.exists(old_sidecar), "older tenure swept"
    assert os.path.exists(newer), "newer tenure's sidecar must survive"
    assert os.path.exists(fresh_tmp), "fresh in-flight temp kept"
    assert not os.path.exists(aged_tmp), "orphaned temp aged out"
    assert not os.path.exists(junk), "aged junk aged out, no crash"
    f2.check()


def test_live_pins_ages_out_orphaned_temps(tmp_path):
    """ADVICE r19 fencing.py:311: write_pin's mkstemp temps
    (`pin-….json.XXXXXX`) orphaned by a hard kill are skipped by
    live_pins but were never reclaimed.  live_pins now ages them out
    after an hour — mirroring the fence acquire sweep's rule — while a
    FRESH temp (a live write_pin mid-publish) survives."""
    import time

    from kafka_spark_streaming_spark.fencing import live_pins, write_pin

    pin_dir = str(tmp_path / "_pins")
    path = write_pin(pin_dir, {"purpose": "t", "files": []})
    fresh_tmp = os.path.join(pin_dir, "pin-1-aa.json.AbCdEf")
    aged_tmp = os.path.join(pin_dir, "pin-1-aa.json.ZyXwVu")
    for p in (fresh_tmp, aged_tmp):
        with open(p, "w") as fh:
            fh.write("{}")
    past = time.time() - 7200
    os.utime(aged_tmp, (past, past))

    pins = live_pins(pin_dir)
    assert [p["purpose"] for p in pins] == ["t"]
    assert os.path.exists(path), "the live pin itself is untouched"
    assert os.path.exists(fresh_tmp), "fresh in-flight temp kept"
    assert not os.path.exists(aged_tmp), "orphaned temp aged out"


def test_snapshot_verify_fails_on_mid_rmtree_version(
    spark, tmp_path, monkeypatch
):
    """ADVICE r19 upsert.py:407: _prune deletes versions via
    shutil.rmtree, which removes FILES before the directory — so a
    pruner caught mid-rmtree passed the old isdir verify with the data
    already gone.  The verify now probes each pinned version's
    _MANIFEST.json (gone in that same file-removal phase); this test
    captures snapshot()'s verify closure and shows it failing once the
    manifest file vanishes even though the version DIRECTORY is still
    there."""
    import kafka_spark_streaming_spark.fencing as fencing
    from kafka_spark_streaming_spark.config import (
        UPSERT_STATE_BUCKETS_KEY,
    )
    from kafka_spark_streaming_spark.manifest import MANIFEST_NAME
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    try:
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
        sink.write_batch(_cells(spark, [("k1", "v1")]), 0)

        captured = {}
        real = fencing.pin_guarded

        def capture(pin_dir, attempt, **kw):
            payload, verify, finish = attempt()
            captured["verify"] = verify
            captured["versions"] = payload["versions"]
            return real(pin_dir, lambda: (payload, verify, finish), **kw)

        monkeypatch.setattr(fencing, "pin_guarded", capture)
        snap = sink.snapshot()
        assert snap.count() == 1
        verify = captured["verify"]
        assert verify(), "intact store must pass the verify"
        # simulate a pruner mid-rmtree: files gone, directory not yet
        head = captured["versions"][-1]
        mpath = os.path.join(sink.path, head, MANIFEST_NAME)
        assert os.path.isfile(mpath)
        os.remove(mpath)
        assert os.path.isdir(os.path.join(sink.path, head))
        assert not verify(), (
            "a pinned version whose manifest file vanished (mid-rmtree "
            "deleter) must fail the post-publish verify even while its "
            "directory still exists"
        )
        del snap
        gc.collect()
    finally:
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)


def test_drains_default_to_lease_mode(spark, tmp_path):
    """VERDICT r19 #5: the registered drains' writers run LEASE mode
    by default — the pid probe means nothing multi-host and every
    drain already heartbeats per committed batch.  The explicit
    leaseTtlSec knob still rules when set (including =0 to force pid
    mode back), and BARE sink attaches keep pid-mode defaults
    (pinned by test_fence_lease_knob_wires_store_writers)."""
    from kafka_spark_streaming_spark.config import (
        DRAIN_LEASE_FACTOR,
        DRAIN_LEASE_FLOOR_S,
        FENCE_LEASE_TTL_KEY,
        drain_fence_lease_ttl,
    )
    from kafka_spark_streaming_spark.streaming.pipeline import (
        StreamerConfig,
        StreamerPipeline,
    )

    # sizing: floor for availableNow/fast triggers, factor x interval
    # once the cadence dominates, knob wins outright either way
    assert drain_fence_lease_ttl(spark) == DRAIN_LEASE_FLOOR_S
    assert (
        drain_fence_lease_ttl(spark, trigger_interval_s=60.0)
        == DRAIN_LEASE_FACTOR * 60.0
    )
    spark.conf.set(FENCE_LEASE_TTL_KEY, "0")
    try:
        assert drain_fence_lease_ttl(spark) is None  # forced pid mode
        spark.conf.set(FENCE_LEASE_TTL_KEY, "77")
        assert drain_fence_lease_ttl(spark, trigger_interval_s=60.0) == 77.0
    finally:
        spark.conf.unset(FENCE_LEASE_TTL_KEY)

    # and the pipeline (the drains' sink context) acquires leased
    cfg = StreamerConfig(table_path=str(tmp_path / "cells"), bulk=True)
    pipe = StreamerPipeline(spark, cfg)
    pipe.sink.write_batch(_cells(spark, [("k1", "v1")]), 0)
    tok = live_writer(os.path.join(pipe.sink.path, "_WRITER_EPOCH"))
    assert tok is not None and tok["lease_ttl_s"] == DRAIN_LEASE_FLOOR_S


def test_live_pins_tolerates_foreign_entries(tmp_path):
    """code-review r20: the aging sweep must never crash the pin
    listing every prune/compaction rides on — a subdirectory or a
    non-pin file in the pin dir is left alone, and only write_pin's
    own temp shape is aged out."""
    import time

    from kafka_spark_streaming_spark.fencing import live_pins, write_pin

    pin_dir = str(tmp_path / "_pins")
    write_pin(pin_dir, {"purpose": "t"})
    os.makedirs(os.path.join(pin_dir, "backup.dir"))
    foreign = os.path.join(pin_dir, "README")
    with open(foreign, "w") as fh:
        fh.write("hands off")
    past = time.time() - 7200
    for p in (os.path.join(pin_dir, "backup.dir"), foreign):
        os.utime(p, (past, past))
    pins = live_pins(pin_dir)  # must not raise
    assert [p["purpose"] for p in pins] == ["t"]
    assert os.path.isdir(os.path.join(pin_dir, "backup.dir"))
    assert os.path.exists(foreign), "foreign files are never deleted"


def test_drain_default_sink_pins_carry_lease(spark, tmp_path):
    """code-review r20: a sink running the r20 drain-default lease
    (constructor arg, conf knobs UNSET) must hand out snapshot pins
    that auto-expire — pid pins under a lease-mode writer are exactly
    the multi-host wrongness the pinTtlSec fallback exists to prevent."""
    import json
    import warnings as _warnings

    from kafka_spark_streaming_spark.config import (
        PIN_TTL_FALLBACK_FACTOR,
        UPSERT_STATE_BUCKETS_KEY,
        drain_fence_lease_ttl,
    )
    from kafka_spark_streaming_spark.manifest import PIN_DIR
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "1")
    try:
        ttl = drain_fence_lease_ttl(spark)
        sink = KeyedUpsertSink(
            spark, str(tmp_path / "cells"), lease_ttl_s=ttl
        )
        sink.write_batch(_cells(spark, [("k1", "v1")]), 0)
        with pytest.warns(UserWarning, match="pinTtlSec"):
            snap = sink.snapshot()
        pin_dir = os.path.join(sink.path, PIN_DIR)
        (pin,) = [f for f in os.listdir(pin_dir) if f.endswith(".json")]
        with open(os.path.join(pin_dir, pin)) as fh:
            assert json.load(fh)["lease_ttl_s"] == (
                ttl * PIN_TTL_FALLBACK_FACTOR
            )
        del snap
        gc.collect()
        # and an EXPLICIT pid-mode sink still hands out pid pins
        sink2 = KeyedUpsertSink(
            spark, str(tmp_path / "cells2"), lease_ttl_s=None
        )
        sink2.write_batch(_cells(spark, [("k1", "v1")]), 0)
        snap2 = sink2.snapshot()
        pin_dir2 = os.path.join(sink2.path, PIN_DIR)
        (pin2,) = [f for f in os.listdir(pin_dir2) if f.endswith(".json")]
        with open(os.path.join(pin_dir2, pin2)) as fh:
            assert "lease_ttl_s" not in json.load(fh)
        del snap2
        gc.collect()
    finally:
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)


def test_pipeline_sizes_lease_from_trigger_interval(spark, tmp_path):
    """code-review r20: a processingTime drain's lease must be sized
    from the REAL cadence, or the lease lapses between per-batch
    heartbeats and maintenance fences out the live drain."""
    from kafka_spark_streaming_spark.config import (
        DRAIN_LEASE_FACTOR,
        DRAIN_LEASE_FLOOR_S,
    )
    from kafka_spark_streaming_spark.streaming.pipeline import (
        StreamerConfig,
        StreamerPipeline,
        _interval_seconds,
    )

    assert _interval_seconds("2 seconds") == 2.0
    assert _interval_seconds("15 minutes") == 900.0
    assert _interval_seconds("1 hour") == 3600.0
    # the full grammar Spark's trigger parser takes (code-review r20,
    # second pass: the first cut REJECTED these valid configs)
    assert _interval_seconds("1 minute 30 seconds") == 90.0
    assert _interval_seconds("interval 2 seconds") == 2.0
    assert _interval_seconds("1 week") == 604800.0
    assert _interval_seconds("500 milliseconds") == 0.5
    # a shape even that parser can't read degrades to the floor with
    # a warning — never a start()-time failure Spark wouldn't have
    with pytest.warns(UserWarning, match="lease sizing"):
        assert _interval_seconds("whenever") == 0.0

    cfg = StreamerConfig(table_path=str(tmp_path / "cells"), bulk=True)
    pipe = StreamerPipeline(spark, cfg)
    assert pipe.sink._lease_ttl_s == DRAIN_LEASE_FLOOR_S
    rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    msgs = rate.selectExpr(
        "CAST(value AS STRING) AS key",
        "CAST(value AS STRING) AS value",
        "'t' AS topic",
        "timestamp AS ts",
    )
    q = pipe.start(
        msgs,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=False,
        interval="15 minutes",
    )
    try:
        assert (
            pipe.sink._lease_ttl_s == DRAIN_LEASE_FACTOR * 900.0
        ), "start() must re-derive the lease TTL from the trigger cadence"
    finally:
        q.stop()


def test_failed_standalone_pass_is_retryable(spark, sf_smoke, tmp_path):
    """code-review r20: a standalone maintenance pass that raises
    mid-flight must idle its fence so a retry is not refused for the
    holder process's lifetime (or a full TTL in lease mode)."""
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        compact_dedup_store,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    store = str(tmp_path / "store")
    docs = table(spark, sf_smoke, "documents")
    fence = ManifestStore(store).acquire("drain")
    for b in range(2):
        _incremental_dedup_batch(
            docs.filter(F.col("doc_id") % 2 == b), store, b, fence=fence
        )
    fence.idle()

    # inject a failure mid-pass: make the tmp path unusable by
    # pre-creating it as a FILE (the pass rmtree/overwrites a dir)
    tmp = os.path.join(store, "v_000000000001-r000001.tmp")
    with open(tmp, "w") as fh:
        fh.write("not a dir")
    with pytest.raises(Exception):
        compact_dedup_store(spark, store)
    os.remove(tmp)
    assert ManifestStore(store).live_writer() is None, (
        "a failed standalone pass must not leave a live token"
    )
    stats = compact_dedup_store(spark, store)  # retry succeeds now
    assert stats["rewrote"]


def test_pinned_store_read_inherits_writer_lease(spark, tmp_path):
    """code-review r20 (second pass): the append stores' pinned reads
    must also see the writer's effective lease — read from the store's
    epoch token — so a drain-default store's export pins auto-expire
    instead of staying pid-based."""
    import json

    from kafka_spark_streaming_spark.config import (
        PIN_TTL_FALLBACK_FACTOR,
    )
    from kafka_spark_streaming_spark.manifest import PIN_DIR
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        pinned_store_read,
    )

    def _pin_dir(store):
        return os.path.join(store, PIN_DIR)

    def commit(store):
        ManifestStore(store)._commit(
            0,
            lambda vname, leaves: {leaf: [vname] for leaf in leaves},
            lambda tmp: df.write.partitionBy("kind", "pk").parquet(tmp),
        )

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [("a", 0, 1), ("b", 1, 2)], "kind string, pk int, val int"
    ).coalesce(1)
    commit(store)

    # writer ran the drain default: leased fence, conf knobs unset
    fence = ManifestStore(store).acquire("drain", lease_ttl_s=300.0)
    fence.idle()
    with pytest.warns(UserWarning, match="pinTtlSec"):
        pinned = pinned_store_read(spark, store)
    (pin,) = [
        f for f in os.listdir(_pin_dir(store)) if f.endswith(".json")
    ]
    with open(os.path.join(_pin_dir(store), pin)) as fh:
        assert json.load(fh)["lease_ttl_s"] == 300.0 * PIN_TTL_FALLBACK_FACTOR
    assert pinned.count() == 2
    del pinned
    gc.collect()

    # a pid-mode writer's store keeps pid pins (no token lease)
    store2 = str(tmp_path / "store2")
    commit(store2)
    ManifestStore(store2).acquire("drain").idle()
    pinned2 = pinned_store_read(spark, store2)
    (pin2,) = [
        f for f in os.listdir(_pin_dir(store2)) if f.endswith(".json")
    ]
    with open(os.path.join(_pin_dir(store2), pin2)) as fh:
        assert "lease_ttl_s" not in json.load(fh)
    del pinned2
    gc.collect()


# --- store markers live inside the store ----------------------------------


def test_dedup_batch_creates_missing_parent_dirs(spark, sf_smoke, tmp_path):
    """Every file of a store lives under the store dir, so a batch on a
    path whose parent does not exist yet creates it with the store: the
    layout marker is written inside the store, never beside it."""
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        pinned_store_read,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    store = str(tmp_path / "not_yet" / "store")
    docs = table(spark, sf_smoke, "documents").filter(F.col("doc_id") < 40)
    _incremental_dedup_batch(docs, store, 0)
    assert ManifestStore(store)._versions() == ["v_000000000000"]
    got = {
        r.doc_id
        for r in pinned_store_read(spark, store)
        .filter(F.col("kind") == "p")
        .collect()
    }
    assert got == {r.doc_id for r in docs.collect()}
    assert sorted(os.listdir(tmp_path)) == ["not_yet"]
    assert os.listdir(tmp_path / "not_yet") == ["store"]


def test_sink_store_keeps_its_on_disk_marker_names(spark, tmp_path):
    """The sink's in-store markers are part of its on-disk format:
    `_WRITER_EPOCH` and `_BUCKETS` holding the bucket count as text.
    A store laid out that way — every sink store written so far —
    reattaches with its own bucket count whatever the conf says now,
    so renaming a marker would orphan every existing store."""
    from kafka_spark_streaming_spark.config import UPSERT_STATE_BUCKETS_KEY
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    path = str(tmp_path / "cells")
    spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "3")
    try:
        KeyedUpsertSink(spark, path).write_batch(
            _cells(spark, [("k1", "v1"), ("k2", "v2")]), 0
        )
    finally:
        spark.conf.unset(UPSERT_STATE_BUCKETS_KEY)
    assert sorted(os.listdir(path)) == [
        "_BUCKETS", "_WRITER_EPOCH", "v_000000000000"
    ]
    with open(os.path.join(path, "_BUCKETS")) as fh:
        assert fh.read() == "3"
    sink = KeyedUpsertSink(spark, path)
    assert sink.buckets == 3
    assert sorted((r.rowkey, r.value) for r in sink.current().collect()) == [
        ("k1", "v1"), ("k2", "v2")
    ]


def test_missing_layout_marker_fails_closed(spark, sf_smoke, tmp_path):
    """A store that has committed a version but lost its layout marker
    must not re-seed its bucket counts from the session conf — the
    probes' pmod could then disagree with the leaves on disk.  Both
    bucketed stores refuse to attach or append instead."""
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink
    from kafka_spark_streaming_spark.tables import table

    cells = str(tmp_path / "cells")
    KeyedUpsertSink(spark, cells).write_batch(_cells(spark, [("k", "v")]), 0)
    os.remove(os.path.join(cells, "_BUCKETS"))
    with pytest.raises(ValueError, match="_BUCKETS"):
        KeyedUpsertSink(spark, cells)

    store = str(tmp_path / "store")
    docs = table(spark, sf_smoke, "documents")
    _incremental_dedup_batch(docs.filter(F.col("doc_id") < 30), store, 0)
    os.remove(os.path.join(store, "_BUCKETS"))
    with pytest.raises(ValueError, match="_BUCKETS"):
        _incremental_dedup_batch(
            docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
            store,
            1,
        )
    assert ManifestStore(store)._versions() == ["v_000000000000"]


def test_standalone_pass_on_missing_store_acquires_nothing(spark, tmp_path):
    """A standalone maintenance pass on a path with nothing committed
    has no head to maintain: it takes no writer token and leaves no
    file at or beside the path."""
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        compact_ann_store,
        compact_dedup_store,
    )

    missing = str(tmp_path / "no_store")
    for compact in (compact_dedup_store, compact_ann_store):
        stats = compact(spark, missing)
        assert not stats["rewrote"] and stats["files_before"] == 0
    assert os.listdir(tmp_path) == []


def test_read_only_snapshot_follows_writer_lease(spark, tmp_path):
    """A bare, read-only sink attach (conf keys unset) snapshotting a
    store whose writer holds a lease hands out a pin that expires with
    that lease — the pin TTL comes from the store's writer token, not
    from how this attach was constructed."""
    import json

    from kafka_spark_streaming_spark.config import PIN_TTL_FALLBACK_FACTOR
    from kafka_spark_streaming_spark.manifest import PIN_DIR
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    path = str(tmp_path / "cells")
    writer = KeyedUpsertSink(spark, path, lease_ttl_s=300.0)
    writer.write_batch(_cells(spark, [("k1", "v1")]), 0)
    reader = KeyedUpsertSink(spark, path)
    with pytest.warns(UserWarning, match="pinTtlSec"):
        snap = reader.snapshot()
    pin_dir = os.path.join(path, PIN_DIR)
    (pin,) = [f for f in os.listdir(pin_dir) if f.endswith(".json")]
    with open(os.path.join(pin_dir, pin)) as fh:
        assert json.load(fh)["lease_ttl_s"] == 300.0 * PIN_TTL_FALLBACK_FACTOR
    assert [(r.rowkey, r.value) for r in snap.collect()] == [("k1", "v1")]
    del snap
    gc.collect()
