"""Maintenance passes for the engine's on-disk incremental stores.

The incremental-dedup store and the streaming-IVF store
(operators/streaming_queries.py) commit one manifest version per
micro-batch (manifest.py), and each batch adds one file per touched
leaf — so a leaf's owner list, and the files a probe lists, grow
O(batches) on a long-running stream.  `compact_dedup_store` /
`compact_ann_store` rewrite the head, one file per leaf, once any leaf
holds ``min_files`` files, and commit the result as a `v_{head}-r{k}`
version that owns every leaf — the role OPTIMIZE/rewrite_data_files
plays for a Delta/Iceberg table, and the symmetric move to the upsert
sink's manifest compaction (sinks/upsert.py).  `rebalance_ann_store`
re-trains the IVF quantizer and commits the re-partitioned data and
the new quantizer in ONE version, so probes switch quantizers in the
same rename that moves the rows.

Crash safety is the commit protocol's: nothing a pass writes is
visible before its version rename, so a crash — or a fenced abort —
leaves the pre-maintenance head, and the next pass rebuilds from it.
The superseded versions are reclaimed by the commit's prune once no
manifest and no reader pin references them.

Single WRITER contract — ENFORCED since r18 (was documentation):
maintenance participates in the store's writer fencing
(kafka_spark_streaming_spark.fencing, through the token the store
keeps in its own dir — ManifestStore.acquire/live_writer).  Two
modes:

- STANDALONE (``fence=None``, the CLI path): refuses to run while
  the token names a LIVE writer (tenure not idled, lease fresh or
  pid alive — a drain is committing; ``force=True`` overrides for
  operator judgment calls), then ACQUIRES its own fence.  A path
  with nothing committed has nothing to maintain: the pass returns
  before the probe, takes no token and leaves no file at or beside
  the path.  The epoch bump means a zombie drain that
  silently survived a failover raises at its next commit instead of
  interleaving with the pass; if a NEW drain attaches mid-pass, the
  fence check before the pass's rename aborts it, leaving the
  pre-maintenance head.
- COOPERATIVE (``fence=`` the owning drain's token): invoked from
  the drain's own foreachBatch body at a store-idle point (the
  batch's version committed, the next batch can't start until the
  callback returns — spark.kss.dedup.compactEveryNBatches wires
  this); no guard or acquire, just the caller's fence checked before
  the rename.

Readers that overlap maintenance (debugging, exports) use
``pinned_store_read``: the shared version pin, whose pinned versions
no prune deletes while the DataFrame is alive.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_spark_streaming_spark.fencing import StaleWriterError, WriterFence
from kafka_spark_streaming_spark.manifest import ManifestStore

# the IVF quantizer file a streaming-IVF version holds (batch 0's, and
# each rebalance's); the manifest names its owner under this key
CENTROIDS_NAME = "_CENTROIDS.json"

# the streaming-IVF store's row layout: explicit on every read, so no
# read needs a parquet footer-inference job
ANN_STORE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("cell", T.IntegerType()),
    ]
)


def _live_files(store_dir: str) -> dict[str, list[str]]:
    """leaf → the data files of every owner the head manifest lists
    for it (metadata entries skipped) — what a full read scans."""
    store = ManifestStore(store_dir)
    return {
        leaf: sorted(
            os.path.join(store_dir, owner, leaf, f)
            for owner in owners
            for f in os.listdir(os.path.join(store_dir, owner, leaf))
            if f.endswith(".parquet")
        )
        for leaf, owners in store._head()[1].items()
        if not leaf.startswith("_")
    }


def ann_centroids(store: ManifestStore, manifest: dict) -> np.ndarray:
    """The committed IVF quantizer the manifest names."""
    if CENTROIDS_NAME not in manifest:
        raise ValueError(
            f"no centroid sidecar ({CENTROIDS_NAME}) committed under "
            f"{store.path!r} — not a streaming-IVF store (or its drain "
            "never trained batch 0)"
        )
    owner = manifest[CENTROIDS_NAME][0]
    with open(os.path.join(store.path, owner, CENTROIDS_NAME)) as fh:
        return np.array(json.load(fh), dtype=np.float64)


def write_centroids(vdir: str, cmat) -> None:
    """Write a quantizer into a still-uncommitted version dir, fsync'd
    like the manifest (the version rename commits it)."""
    with open(os.path.join(vdir, CENTROIDS_NAME), "w") as fh:
        json.dump([[float(x) for x in row] for row in cmat], fh)
        fh.flush()
        os.fsync(fh.fileno())


def pinned_store_read(spark: SparkSession, store_dir: str) -> DataFrame:
    """Maintenance-safe read of a dedup or IVF store: the DataFrame
    reads the head manifest of one listing (basePath keeps the
    partition columns real), and every version it references is
    pinned against the prune for as long as the returned DataFrame
    object is alive — the same version pin as the upsert sink's
    snapshot() (ManifestStore._snapshot).  Dropping the reference
    releases the pin; a holder that crashes without releasing leaves
    a dead-pid pin the next prune reaps, and the pin auto-expires
    under the lease of the store's writer token.  Raises on a store
    with nothing committed (create it by draining at least one batch
    first)."""
    store = ManifestStore(store_dir)

    def build(manifest: dict) -> DataFrame:
        df = store._read(spark, manifest)
        if df is None:
            raise ValueError(
                f"pinned_store_read: nothing committed under {store_dir!r}"
            )
        return df

    return store._snapshot(
        spark, build, what=f"pinned_store_read({store_dir!r})"
    )


def _fenced_pass(
    spark: SparkSession,
    store_dir: str,
    fence: WriterFence | None,
    force: bool,
    purpose: str,
    verb: str,
    body,
) -> dict:
    """Run ``body(store)`` under the maintenance fence protocol shared
    by compaction and rebalance (module docstring).  STANDALONE
    (``fence=None``): refuse a live writer unless ``force``, acquire
    with the session's lease knob, and idle the fence afterwards —
    also on failure, so a failed pass stays retryable (code-review
    r20).  Callers return before it on a path with nothing committed,
    so such a path never grows a token."""
    store = ManifestStore(store_dir, fence)
    if fence is not None:
        return body(store)
    tok = store.live_writer()
    if tok is not None and not force:
        raise StaleWriterError(
            f"store {store_dir!r} has a live writer (pid "
            f"{tok.get('pid')}, purpose {tok.get('purpose')!r}): "
            f"refusing to {verb} beside an active drain — run between "
            "drains, or pass force=True if the token is known-stale"
        )
    from kafka_spark_streaming_spark.config import fence_lease_ttl

    # same lease plumbing as the drains and the upsert sink — without
    # it a standalone pass that crashed on another host would leave a
    # pid-mode token that live_writer can only probe locally
    fence = store.acquire(purpose, fence_lease_ttl(spark))
    try:
        out = body(store)
    except BaseException:
        try:
            fence.idle()
        except Exception:  # noqa: BLE001 — usurped: nothing to idle
            pass
        raise
    fence.idle()
    return out


def _occupancy(counts: dict[int, int], n_cells: int | None) -> dict:
    """Histogram-summary shared by ann_store_stats and the rebalance
    pass (which already holds the counts — no second store scan,
    code-review r20)."""
    total = sum(counts.values())
    denom = n_cells if n_cells else len(counts)
    mean = total / denom if denom else 0.0
    mx = max(counts.values(), default=0)
    return {
        "rows": total,
        "n_cells": n_cells,
        "occupied_cells": len(counts),
        "empty_cells": (denom - len(counts)) if n_cells else 0,
        "rows_per_cell": dict(sorted(counts.items())),
        "max_cell_rows": mx,
        "mean_cell_rows": round(mean, 3),
        "skew": round(mx / mean, 3) if mean else 0.0,
    }


def ann_store_stats(spark: SparkSession, store_dir: str) -> dict:
    """Cell-occupancy introspection for a streaming-IVF store
    (VERDICT r18 #2 / r19 #1) — the append-store analogue of the
    upsert sink's history(): one partition-column aggregation
    (groupBy cell over the head's leaves; bounded collect of
    <= n_cells rows) summarizing how evenly the frozen quantizer is
    spreading rows.  ``skew`` is max-cell rows over the mean across
    DECLARED cells (the committed quantizer's count, so cells the
    drift has emptied out still dilute the mean — an occupancy view
    over observed cells only would under-report collapse).  skew ~1 =
    healthy; a drifting stream concentrating rows into few cells
    pushes it toward n_cells, degrading write parallelism and probe
    pruning — the signal rebalance_ann_store answers."""
    store = ManifestStore(store_dir)
    manifest = store._head()[1]
    df = store._read(spark, manifest, ANN_STORE_SCHEMA)
    per = {} if df is None else {
        int(r["cell"]): int(r["count"])
        for r in df.groupBy("cell").count().collect()  # <= n_cells rows
    }
    n_cells = (
        len(ann_centroids(store, manifest))
        if CENTROIDS_NAME in manifest
        else None
    )
    return _occupancy(per, n_cells)


def rebalance_ann_store(
    spark: SparkSession,
    store_dir: str,
    fence: WriterFence | None = None,
    force: bool = False,
) -> dict:
    """Offline re-train + re-partition pass for a skewed streaming-IVF
    store (VERDICT r19 #1): the drain freezes its coarse quantizer at
    batch 0, so a drifting stream concentrates rows into few cell=
    leaves — this pass re-trains the quantizer on the store's CURRENT
    contents and rewrites every row into its new argmax cell,
    restoring write parallelism and probe pruning.  Cell COUNT is
    preserved (read from the committed quantizer): the fix for drift
    is where the centroids sit, not how many there are.

    Seeding is OCCUPANCY-PROPORTIONAL, deliberately unlike the drain's
    batch-0 id-strided init: re-training must seed where the data IS,
    and the old cells' row counts are exactly the drift map — each
    old cell gets seeds by largest-remainder apportionment of its
    share, picked at evenly-spaced ranks WITHIN the cell (a
    Window.partitionBy(cell) row_number — distributed, never a global
    sort; the seed-position table is a <= n_cells-row broadcast).  A
    hot cell holding 90% of the rows thus contributes ~90% of the
    seeds, and the single Lloyd step (the drain's shared helper)
    splits it.  One bounded collect of <= n_cells seed rows; then one
    store-wide Arrow-matmul reassignment job, which writes the new
    version's cell leaves next to its new quantizer.  The version
    rename swaps both at once; a later drain batch assigns against
    the quantizer the head names.

    Fencing: same standalone/cooperative contract as compaction
    (module docstring)."""
    # validate before fencing: a store with no quantizer must not
    # grow a writer token
    store = ManifestStore(store_dir)
    ann_centroids(store, store._head()[1])
    return _fenced_pass(
        spark, store_dir, fence, force, "rebalance-ann-store", "rebalance",
        lambda fenced: _rebalance_body(spark, fenced),
    )


def _rebalance_body(spark: SparkSession, store: ManifestStore) -> dict:
    from pyspark.sql import Window

    from kafka_spark_streaming_spark.operators.similarity import (
        ivf_assign_arrow,
        ivf_init_centroids,
        lloyd_refine,
    )

    head, manifest = store._head()
    n_cells = len(ann_centroids(store, manifest))
    files_before = sum(len(v) for v in _live_files(store.path).values())
    base = (
        store._read(spark, manifest, ANN_STORE_SCHEMA)
        .select("vec_id", "embedding", "cell")
        .persist()
    )
    try:
        # ONE occupancy scan feeds both the before-stats and the seed
        # quotas (code-review r20 — ann_store_stats here was a second
        # identical scan)
        counts = {
            int(r["cell"]): int(r["count"])
            for r in base.groupBy("cell").count().collect()  # <= n_cells
        }
        stats_before = _occupancy(counts, n_cells)
        n = sum(counts.values())
        if n == 0:
            raise ValueError(f"empty ANN store {store.path!r}")
        n_seeds = min(n, n_cells)
        # largest-remainder apportionment of the seed budget over the
        # OLD cells' occupancy (the drift map); ties by cell id
        quotas = {c: n_seeds * nc // n for c, nc in counts.items()}
        frac = sorted(
            counts,
            key=lambda c: (-(n_seeds * counts[c] % n), c),
        )
        for c in frac[: n_seeds - sum(quotas.values())]:
            quotas[c] += 1
        positions = [
            (c, k * counts[c] // q + 1)  # 1-based rank
            for c, q in quotas.items()
            if q
            for k in range(q)
        ]
        pos_df = spark.createDataFrame(positions, "cell int, rn int")
        w = Window.partitionBy("cell").orderBy("vec_id")
        init = (
            base.withColumn("rn", F.row_number().over(w))
            .join(F.broadcast(pos_df), ["cell", "rn"])
            .orderBy("vec_id")
            .collect()  # bounded: <= n_cells seed rows
        )
        cmat = ivf_init_centroids(init, n_cells=n_cells)
        cmat2 = lloyd_refine(ivf_assign_arrow(base, cmat), cmat)

        def write(tmp: str) -> None:
            (
                ivf_assign_arrow(base, cmat2)
                .repartition("cell")
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(tmp)
            )
            write_centroids(tmp, cmat2)

        # the new version owns every leaf and the quantizer: the old
        # cell assignment is superseded as a whole
        store._commit(
            store._batch_of(head),
            lambda vname, leaves: {
                **{leaf: [vname] for leaf in leaves},
                CENTROIDS_NAME: [vname],
            },
            write,
        )
    finally:
        base.unpersist()
    stats_after = ann_store_stats(spark, store.path)
    return {
        "rows": stats_after["rows"],
        "files_before": files_before,
        "files_after": sum(len(v) for v in _live_files(store.path).values()),
        "skew_before": stats_before["skew"],
        "skew_after": stats_after["skew"],
        "occupied_before": stats_before["occupied_cells"],
        "occupied_after": stats_after["occupied_cells"],
        # full drift maps, so a rebalance run's record keeps the
        # histogram without a separate stats scan (code-review r20)
        "rows_per_cell_before": stats_before["rows_per_cell"],
        "rows_per_cell_after": stats_after["rows_per_cell"],
        "rewrote": True,
    }


def compact_dedup_store(
    spark: SparkSession,
    store_dir: str,
    min_files: int = 2,
    fence: WriterFence | None = None,
    force: bool = False,
) -> dict:
    """Fold every (kind, pk) leaf of an incremental-dedup store back
    to one file — the dedup-store instance of
    compact_partitioned_store below (kept as the named public surface
    its CLI/tests/drain wiring use)."""
    return compact_partitioned_store(
        spark, store_dir, ["kind", "pk"], min_files, fence, force,
        purpose="compact-dedup-store",
    )


def compact_ann_store(
    spark: SparkSession,
    store_dir: str,
    min_files: int = 2,
    fence: WriterFence | None = None,
    force: bool = False,
) -> dict:
    """Fold every cell= leaf of a streaming-IVF store back to one
    file (r18) — the same pass as the dedup store's; only the
    leaf layout differs."""
    return compact_partitioned_store(
        spark, store_dir, ["cell"], min_files, fence, force,
        purpose="compact-ann-store",
    )


def compact_partitioned_store(
    spark: SparkSession,
    store_dir: str,
    partition_cols: list[str],
    min_files: int = 2,
    fence: WriterFence | None = None,
    force: bool = False,
    purpose: str = "compact-store",
) -> dict:
    """Fold every leaf of the head back to one file once any leaf
    holds >= ``min_files`` files.  Returns {leaves, files_before,
    files_after, rewrote}.  ONE Spark job rewrites the whole head into
    a new `v_{head}-r{k}` version (repartitioned on the partition
    keys, so each leaf lands in exactly one task and one file), and
    the version carries the head's metadata files too: it is the only
    owner its manifest names, so the commit's prune reclaims every
    older version no reader pins.  A store whose leaves all hold fewer
    files — or with nothing committed — is left as it is (the prune
    still runs).

    Fencing (r18, module docstring): standalone (``fence=None``)
    refuses a live writer unless ``force`` and acquires its own
    token; cooperative passes the owning drain's fence.  Either way
    the fence is checked before the version rename."""
    if not ManifestStore(store_dir)._versions():
        # nothing to maintain: take no token, leave no file
        return {"leaves": 0, "files_before": 0, "files_after": 0,
                "rewrote": False}
    return _fenced_pass(
        spark, store_dir, fence, force, purpose, "compact",
        lambda store: _compact_body(spark, store, partition_cols, min_files),
    )


def _compact_body(
    spark: SparkSession,
    store: ManifestStore,
    partition_cols: list[str],
    min_files: int,
) -> dict:
    head, manifest = store._head()
    files = _live_files(store.path)
    files_before = sum(len(v) for v in files.values())
    if all(len(fs) < min_files for fs in files.values()):
        store._prune(keep=1)  # still reclaim versions pins released
        return {
            "leaves": len(files),
            "files_before": files_before,
            "files_after": files_before,
            "rewrote": False,
        }
    # rewrite EVERY leaf, and carry every metadata file (the IVF
    # quantizer), into the new version: the prune frees space a whole
    # version at a time, so an older version that still owned one leaf
    # would keep all its superseded leaf files on disk with it
    rows = store._read(spark, manifest)
    meta = [name for name in manifest if name.startswith("_")]

    def write(tmp: str) -> None:
        (
            rows.repartition(*partition_cols)
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(tmp)
        )
        for name in meta:
            src = os.path.join(store.path, manifest[name][0], name)
            with open(src, "rb") as fin, open(
                os.path.join(tmp, name), "wb"
            ) as fout:
                fout.write(fin.read())
                fout.flush()
                os.fsync(fout.fileno())

    store._commit(
        store._batch_of(head),
        lambda vname, leaves: {k: [vname] for k in [*leaves, *meta]},
        write,
    )
    return {
        "leaves": len(files),
        "files_before": files_before,
        "files_after": sum(len(v) for v in _live_files(store.path).values()),
        "rewrote": True,
    }
