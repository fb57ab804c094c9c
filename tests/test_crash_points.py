"""Crash points at the one commit seam of the on-disk stores.

Every store commit goes through manifest.ManifestStore._commit: data
written to `<v>.tmp`, manifest written, rename, prune.  For each
commit path — the near-dedup batch, dedup compaction, the IVF
rebalance and the upsert sink's write_batch — these tests make the
shared module raise right after each step in turn, then reopen the
store and check three things: it reads exactly the pre-commit rows
(crash before the rename) or the post-commit rows (crash after it),
it holds no duplicate row, and the next write succeeds.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.manifest import ManifestStore
from kafka_spark_streaming_spark.operators.store_maintenance import (
    compact_dedup_store,
    pinned_store_read,
    rebalance_ann_store,
)
from kafka_spark_streaming_spark.operators.streaming_queries import (
    _incremental_dedup_batch,
    _ivf_fold,
)
from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink
from kafka_spark_streaming_spark.tables import table

STEPS = ("data", "manifest", "rename", "prune")


class Crash(RuntimeError):
    pass


def _crash_after(monkeypatch, step: str) -> None:
    """Make the commit seam raise right after ``step`` completes."""
    write_manifest = ManifestStore._write_manifest
    prune = ManifestStore._prune

    def manifest_then_crash(self, vdir, manifest):
        if step == "manifest":
            write_manifest(self, vdir, manifest)
        raise Crash(step)

    def prune_then_crash(self, keep):
        if step == "prune":
            prune(self, keep)
        raise Crash(step)

    if step in ("data", "manifest"):
        monkeypatch.setattr(
            ManifestStore, "_write_manifest", manifest_then_crash
        )
    else:
        monkeypatch.setattr(ManifestStore, "_prune", prune_then_crash)


def _copy_store(src: str, dst: str) -> str:
    shutil.copytree(src, dst)
    return dst


def _check_crash(monkeypatch, tmp_path, pre_dir, op, rows, next_write, step):
    """Run ``op`` on a clean copy (the post-commit rows) and on a copy
    that crashes after ``step``; the crashed store must read the pre-
    or post-commit rows as the step dictates, with no duplicate, and
    take ``next_write``.  Returns the crashed store's path."""
    pre = rows(pre_dir)
    clean = _copy_store(pre_dir, str(tmp_path / "clean"))
    op(clean)
    post = rows(clean)
    crashed = _copy_store(pre_dir, str(tmp_path / "crashed"))
    head_before = ManifestStore(crashed)._head()[0]
    with monkeypatch.context() as m:
        _crash_after(m, step)
        with pytest.raises(Crash):
            op(crashed)
    committed = step in ("rename", "prune")
    assert (ManifestStore(crashed)._head()[0] != head_before) == committed
    got = rows(crashed)
    assert got == (post if committed else pre), f"crash after {step}"
    assert len(got) == len(set(got)), f"duplicate rows after {step}"
    next_write(crashed)
    assert not [d for d in os.listdir(crashed) if d.endswith(".tmp")]
    return crashed


def _dedup_rows(spark):
    def rows(store):
        return sorted(
            tuple(r)
            for r in pinned_store_read(spark, store)
            .select("kind", "pk", "doc_id", "bh", "kept")
            .collect()
        )

    return rows


@pytest.fixture(scope="module")
def dedup_pre(spark, sf_smoke, tmp_path_factory):
    """A near-dedup store holding batches 0 and 1 (no fence marker)."""
    docs = table(spark, sf_smoke, "documents").filter(F.col("doc_id") < 150)
    store = str(tmp_path_factory.mktemp("dedup") / "store")
    for b in range(2):
        _incremental_dedup_batch(
            docs.filter(F.col("doc_id") % 3 == b), store, b
        )
    return store, docs.filter(F.col("doc_id") % 3 == 2)


@pytest.mark.parametrize("step", STEPS)
def test_crash_in_dedup_batch_commit(
    spark, dedup_pre, tmp_path, monkeypatch, step
):
    pre_dir, batch2 = dedup_pre
    rows = _dedup_rows(spark)

    def append(store):
        _incremental_dedup_batch(batch2, store, 2)

    crashed = _check_crash(
        monkeypatch, tmp_path, pre_dir, append, rows, append, step
    )
    # the retry (the next write) converges on the clean run's rows
    assert rows(crashed) == rows(str(tmp_path / "clean"))


@pytest.mark.parametrize("step", STEPS)
def test_crash_in_compaction_commit(
    spark, dedup_pre, tmp_path, monkeypatch, step
):
    pre_dir, _ = dedup_pre
    rows = _dedup_rows(spark)

    def compact(store):
        assert compact_dedup_store(spark, store, min_files=1)["rewrote"]

    crashed = _check_crash(
        monkeypatch, tmp_path, pre_dir, compact, rows, compact, step
    )
    assert rows(crashed) == rows(pre_dir)


@pytest.fixture(scope="module")
def ivf_pre(spark, sf_smoke, tmp_path_factory):
    """A streaming-IVF store holding batches 0 and 1."""
    emb = table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    store = str(tmp_path_factory.mktemp("ivf") / "store")
    for b in range(2):
        _ivf_fold(emb.filter(F.col("vec_id") % 3 == b), store, b)
    return store, emb.filter(F.col("vec_id") % 3 == 2)


@pytest.mark.parametrize("step", STEPS)
def test_crash_in_rebalance_commit(
    spark, sf_smoke, ivf_pre, tmp_path, monkeypatch, step
):
    pre_dir, batch2 = ivf_pre

    def rows(store):
        return sorted(
            tuple(r)
            for r in pinned_store_read(spark, store)
            .select("vec_id", "cell")
            .collect()
        )

    def rebalance(store):
        assert rebalance_ann_store(spark, store)["rewrote"]

    def fold_next(store):
        _ivf_fold(batch2, store, 2)

    crashed = _check_crash(
        monkeypatch, tmp_path, pre_dir, rebalance, rows, fold_next, step
    )
    ids = [v for v, _ in rows(crashed)]
    assert len(ids) == len(set(ids)) == table(
        spark, sf_smoke, "embeddings"
    ).count()


@pytest.fixture(scope="module")
def sink_pre(spark, tmp_path_factory):
    """An upsert-sink store holding batches 0 and 1."""
    path = str(tmp_path_factory.mktemp("sink") / "cells")
    sink = KeyedUpsertSink(spark, path)
    for b in range(2):
        sink.write_batch(_cells(spark, b), b)
    return path


def _cells(spark, b):
    return spark.createDataFrame(
        [(f"k{i}", "cf1", "q", f"v{i}-b{b}") for i in range(b, b + 20)],
        "rowkey string, cf string, qualifier string, value string",
    )


@pytest.mark.parametrize("step", STEPS)
def test_crash_in_sink_write_batch_commit(
    spark, sink_pre, tmp_path, monkeypatch, step
):
    def rows(path):
        return sorted(
            tuple(r) for r in KeyedUpsertSink(spark, path).current().collect()
        )

    def write(path):
        KeyedUpsertSink(spark, path).write_batch(_cells(spark, 2), 2)

    crashed = _check_crash(
        monkeypatch, tmp_path, sink_pre, write, rows, write, step
    )
    assert rows(crashed) == rows(str(tmp_path / "clean"))
