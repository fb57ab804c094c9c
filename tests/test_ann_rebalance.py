"""Streaming-IVF cell-skew watch + offline rebalance (VERDICT r19 #1).

The drain freezes its coarse quantizer at batch 0
(operators/streaming_queries.py s_incremental_ann_ivf); a drifting
stream then concentrates appends into few cell= partitions, degrading
append parallelism and probe pruning.  These tests build exactly that
pathology with the drain's own training/assignment helpers, show
ann_store_stats detecting it, and show rebalance_ann_store restoring
balance without changing the store's logical contents: every row ends
in its argmax cell under the re-trained quantizer, the (vec_id,
embedding) set is preserved, and an all-cells probe through the
manifest read path equals a numpy exhaustive search.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.fencing import StaleWriterError
from kafka_spark_streaming_spark.manifest import ManifestStore
from kafka_spark_streaming_spark.operators.similarity import (
    _IVF_CELLS,
    _IVF_DIM,
    ivf_assign_arrow,
)
from kafka_spark_streaming_spark.operators.store_maintenance import (
    _live_files,
    ann_centroids,
    ann_store_stats,
    pinned_store_read,
    rebalance_ann_store,
)
from kafka_spark_streaming_spark.operators.streaming_queries import _ivf_fold

N_BATCH0 = 64
N_DRIFT = 500


def _emb_batch0(i: int) -> list[float]:
    """16 well-separated directions (one-hot dims 0..15) + a tiny
    distinctness component that cannot change any argmax."""
    v = np.zeros(_IVF_DIM, dtype=np.float32)
    v[i % _IVF_CELLS] = 1.0
    v[16] = 0.01 * (i / N_BATCH0)
    return [float(x) for x in v]


def _emb_drift(i: int) -> list[float]:
    """The drifted regime: a single tight cluster on a direction no
    batch-0 centroid points at — the frozen quantizer funnels ALL of
    it into whichever cell ties best."""
    v = np.zeros(_IVF_DIM, dtype=np.float32)
    v[32] = 1.0
    v[33] = 0.001 * (i - 100)
    return [float(x) for x in v]


def _centroids(store_dir: str) -> np.ndarray:
    store = ManifestStore(store_dir)
    return ann_centroids(store, store._head()[1])


def _build_skewed_store(spark, store_dir: str) -> np.ndarray:
    """Run the drain's exact lifecycle through its own fold: batch 0
    trains and commits the quantizer (strided init + one Lloyd step),
    every batch commits its Arrow-matmul assignment
    one-file-per-touched-cell.  Batches 1..5 are pure drift.  Returns
    the frozen centroid matrix."""
    b0 = spark.createDataFrame(
        [(i, _emb_batch0(i)) for i in range(N_BATCH0)],
        "vec_id long, embedding array<float>",
    )
    _ivf_fold(b0, store_dir, 0)
    for b in range(5):
        ids = range(100 + b * 100, 100 + (b + 1) * 100)
        _ivf_fold(
            spark.createDataFrame(
                [(i, _emb_drift(i)) for i in ids],
                "vec_id long, embedding array<float>",
            ),
            store_dir,
            b + 1,
        )
    return _centroids(store_dir)


def _store_rows(spark, store_dir: str) -> dict[int, tuple]:
    return {
        int(r.vec_id): (
            tuple(round(float(x), 6) for x in r.embedding),
            int(r.cell),
        )
        for r in pinned_store_read(spark, store_dir).collect()
    }


def test_skew_watch_detects_drift_and_rebalance_restores(spark, tmp_path):
    store = str(tmp_path / "store")
    _build_skewed_store(spark, store)

    # --- the watch: the histogram names the pathology -------------------
    stats = ann_store_stats(spark, store)
    assert stats["rows"] == N_BATCH0 + N_DRIFT
    assert stats["n_cells"] == _IVF_CELLS
    # 500 of 564 rows share one frozen cell: max/mean far above healthy
    assert stats["skew"] >= 3.0, stats
    hot = max(stats["rows_per_cell"].values())
    assert hot >= N_DRIFT, (
        "precondition: the drift regime must funnel into one cell "
        f"(rows_per_cell={stats['rows_per_cell']})"
    )

    before = _store_rows(spark, store)

    # --- the response: offline re-train + re-partition ------------------
    out = rebalance_ann_store(spark, store)
    assert out["rewrote"]
    assert out["rows"] == N_BATCH0 + N_DRIFT
    assert out["skew_after"] < out["skew_before"]
    assert out["skew_after"] <= 2.0, out
    assert out["occupied_after"] >= out["occupied_before"]
    # one rewrite job -> one file per occupied leaf (compaction too)
    assert all(len(fs) == 1 for fs in _live_files(store).values())

    # --- invariant 1: logical contents preserved exactly ----------------
    after = _store_rows(spark, store)
    assert set(after) == set(before)
    assert all(after[k][0] == before[k][0] for k in before)

    # --- invariant 2: every row sits in its argmax cell under the new
    # quantizer (the property probe pruning is correct BY) --------------
    new_cmat = _centroids(store)
    assert new_cmat.shape == (_IVF_CELLS, _IVF_DIM)
    sdf = pinned_store_read(spark, store)
    reassigned = {
        int(r.vec_id): int(r.cell)
        for r in ivf_assign_arrow(
            sdf.select("vec_id", "embedding"), new_cmat
        ).collect()
    }
    assert all(after[k][1] == reassigned[k] for k in after)

    # --- invariant 3: the read path over the rebalanced store equals an
    # exhaustive numpy search when every cell is probed (partition-
    # layout-independent ground truth) -----------------------------------
    ids = sorted(after)
    mat = np.array([after[i][0] for i in ids], dtype=np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for qid in (100, 0, 550):
        q = mat_n[ids.index(qid)]
        sims = mat_n @ q
        order = [
            ids[j]
            for j in np.argsort(-sims, kind="stable")
            if ids[j] != qid
        ][:3]
        got = (
            pinned_store_read(spark, store)
            .filter(F.col("cell").isin(list(range(_IVF_CELLS))))
            .filter(F.col("vec_id") != qid)
            .collect()
        )
        emb_q = np.array(after[qid][0], dtype=np.float64)
        emb_q /= np.linalg.norm(emb_q)
        scored = sorted(
            (
                -float(
                    np.dot(
                        np.array(r.embedding, dtype=np.float64)
                        / np.linalg.norm(
                            np.array(r.embedding, dtype=np.float64)
                        ),
                        emb_q,
                    )
                ),
                int(r.vec_id),
            )
            for r in got
        )
        assert [v for _, v in scored[:3]] == order, f"query {qid}"


def test_rebalance_refuses_live_writer_and_converges(spark, tmp_path):
    """Standalone rebalance refuses a live drain's token (same
    contract as compaction); a second pass on an already-balanced
    store preserves the logical contents (cell LABELS may permute —
    the quantizer is re-derived and label identity is not part of the
    store contract; the assignment invariant is) and never worsens
    balance."""
    store = str(tmp_path / "store")
    _build_skewed_store(spark, store)

    fence = ManifestStore(store).acquire("drain")
    with pytest.raises(StaleWriterError, match="live writer"):
        rebalance_ann_store(spark, store)
    fence.idle()

    first = rebalance_ann_store(spark, store)
    rows_first = _store_rows(spark, store)
    second = rebalance_ann_store(spark, store)
    assert second["rows"] == first["rows"]
    rows_second = _store_rows(spark, store)
    assert set(rows_second) == set(rows_first)
    assert all(
        rows_second[k][0] == rows_first[k][0] for k in rows_first
    ), "a re-run must never change the store's logical contents"
    assert second["skew_after"] <= first["skew_after"] + 0.5
    # and the assignment invariant holds under the latest sidecar
    cmat = _centroids(store)
    sdf = pinned_store_read(spark, store)
    reassigned = {
        int(r.vec_id): int(r.cell)
        for r in ivf_assign_arrow(
            sdf.select("vec_id", "embedding"), cmat
        ).collect()
    }
    assert all(rows_second[k][1] == reassigned[k] for k in rows_second)


def test_rebalance_requires_centroid_sidecar(spark, tmp_path):
    store = str(tmp_path / "not_a_store")
    os.makedirs(store)
    with pytest.raises(ValueError, match="centroid sidecar"):
        rebalance_ann_store(spark, store)
