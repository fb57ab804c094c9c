"""Maintenance passes for the engine's on-disk incremental stores.

The incremental-dedup store (operators/streaming_queries.py) is an
append-only (kind, pk)-partitioned dataset where every micro-batch
lands exactly one file per touched leaf — by design, so probe listings
stay O(batches x buckets).  On a long-running stream that linear file
growth is the one unbounded term left in the store's cost model (the
probes themselves are partition-pruned): after 10k batches a 32-bucket
store lists ~hundreds of thousands of files.  `compact_dedup_store`
folds each leaf back to one file, capping listings at O(buckets)
between maintenance runs — the same role OPTIMIZE/rewrite_data_files
plays for a Delta/Iceberg table, and the symmetric move to the upsert
sink's manifest compaction (sinks/upsert.py).

Crash safety WITHOUT atomic directory swaps: the store's read paths
are duplicate-tolerant by construction (the replay-idempotence
argument — band duplicates only duplicate candidates, which the
candidate dropDuplicates collapses; profile duplicates only duplicate
verify matches, and `rejected` is distinct'd; the final read dedups by
doc_id).  Compaction exploits exactly that invariant: it APPENDS the
compacted files into the live leaves first and deletes the originals
last, so every crash point leaves either extra bit-identical rows
(tolerated) or a finished compaction — never a missing-store or
half-swapped state.  This is test-pinned by re-introducing an
already-deleted original file and checking reads are unchanged.

Single WRITER contract — ENFORCED since r18 (was documentation):
compaction participates in the store's writer fencing
(kafka_spark_streaming_spark.fencing, token at `<store>.epoch` —
the same sibling-marker convention as the `.layout` sidecar).  Two
modes:

- STANDALONE (``fence=None``, the CLI path): refuses to run while
  the token names a LIVE writer (fencing.live_writer: tenure not
  idled, lease fresh or pid alive — a drain is appending;
  ``force=True`` overrides for operator judgment calls),
  then ACQUIRES its own fence.  The epoch bump means a zombie drain
  that silently survived a failover raises at its next append
  instead of interleaving with the compaction; the fence is
  re-checked immediately before the delete phase — the only step
  that removes data — so if a NEW drain attaches mid-compaction the
  pass aborts leaving only extra bit-identical rows, which every
  read path tolerates (the crash-safety invariant doubles as the
  abort-safety one).
- COOPERATIVE (``fence=`` the owning drain's token): invoked from
  the drain's own foreachBatch body at a store-idle point (the
  append committed, the next batch can't start until the callback
  returns — spark.kss.dedup.compactEveryNBatches wires this); no
  guard or acquire, just the caller's fence checked before the
  delete phase.

Reader caveat and the pinned-read escape hatch (r19): a DataFrame
whose file listing was captured BEFORE a compaction pass may
reference originals the delete phase has since removed — rebuild
readers after maintenance (the standard OPTIMIZE caveat), OR hand
them out via ``pinned_store_read``, which snapshots the store's
current data files, builds the DataFrame over exactly that listing,
and publishes a durable pin file (``<store>.pins/``, the same
fencing.write_pin/live_pins lifecycle as the upsert sink's snapshot
pins) that the delete phase honors: live-pinned originals are
SKIPPED, left behind as bit-identical duplicates every read path
tolerates, and swept by the first compaction after the pin is
released.  The registered queries don't need it (their read plans
are built strictly after the drain, and the maintenance idle points
sit inside the drain) — it exists for out-of-band readers
(debugging, exports) that overlap maintenance.
"""

from __future__ import annotations

import glob
import os
import shutil
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.fencing import (
    PinRaceLost,
    StaleWriterError,
    WriterFence,
    is_path_not_found,
    live_pins,
    live_writer,
    pin_guarded,
    release_pin,
)


def _leaf_dirs(
    store_dir: str, leaf_glob: str = os.path.join("kind=*", "pk=*")
) -> list[str]:
    return sorted(
        d
        for d in glob.glob(os.path.join(store_dir, leaf_glob))
        if os.path.isdir(d)
    )


def _data_files(leaf: str) -> list[str]:
    return sorted(
        os.path.join(leaf, f)
        for f in os.listdir(leaf)
        if f.endswith(".parquet")
    )


def _pin_dir(store_dir: str) -> str:
    # sibling dir, same convention as the `.epoch` fence marker and
    # the `.layout` sidecar — never inside the store, so partition
    # discovery and leaf listings can't trip over it
    return store_dir.rstrip("/") + ".pins"


def _all_data_files(store_dir: str) -> list[str]:
    """Every committed data file under the store — skipping any path
    with a hidden component (`_temporary` from an in-flight append,
    `.`-prefixed sidecars), the same filter Spark's own partition
    discovery applies; an explicit file list bypasses that filter, so
    it must be re-applied here or a pinned read racing an append could
    capture uncommitted task files."""
    return sorted(
        f
        for f in glob.glob(
            os.path.join(store_dir, "**", "*.parquet"), recursive=True
        )
        if not any(
            part.startswith(("_", "."))
            for part in os.path.relpath(f, store_dir).split(os.sep)
        )
    )


def _pinned_files(store_dir: str) -> set[str]:
    """Data files named by live-holder pins (realpath-normalized for
    the delete-phase comparison)."""
    pinned: set[str] = set()
    for pin in live_pins(_pin_dir(store_dir)):
        pinned.update(os.path.realpath(f) for f in pin.get("files", []))
    return pinned


def pinned_store_read(
    spark: SparkSession,
    store_dir: str,
    dedup_cols: list[str] | None = None,
) -> DataFrame:
    """Compaction-safe read of a partitioned append store: the
    DataFrame reads EXACTLY the data files present now (basePath keeps
    the partition columns real), and those files are pinned against
    compaction's delete phase for as long as the returned DataFrame
    object is alive — the append stores' analogue of the upsert sink's
    snapshot() (module docstring, reader caveat).  Dropping the
    reference releases the pin; a holder that crashes without
    releasing leaves a dead-pid pin the next maintenance pass reaps.
    Raises on an empty store — there is no listing to pin (create the
    store by draining at least one batch first).  The returned frame
    is full-row deduplicated by default (ADVICE r19): a listing taken
    after a crash window, or after a compaction that skipped pin-held
    originals, contains originals AND compacted copies, and unlike
    the registered queries an out-of-band export has no downstream
    collapse — so this read applies the same full-row dropDuplicates
    compaction's rewrite bakes in.  CAVEAT (code-review r20): full-row
    dedup only collapses SAME-LEAF copies; a row RELOCATED across
    partitions (rebalance_ann_store's crash window or its pin-skipped
    originals — old cell and new cell both present) differs in the
    partition column and survives it.  Pass ``dedup_cols`` with the
    store's logical key (``["vec_id"]`` for ANN stores) to collapse
    relocated copies too; which copy's partition value wins is
    arbitrary, exactly like the probe paths' own key dedup.

    Paths are realpath-normalized at WRITE time so a pin taken with a
    relative store_dir still matches the delete phase's comparison
    from any cwd, and the pin follows the shared publish-then-verify
    protocol (fencing.pin_guarded, code-review r19): a compaction
    pass that deleted a listed file in the listing-to-pin window
    fails the post-publish verify — or raises path-not-found while
    the plan is built — and the attempt retries from a fresh listing;
    see pin_guarded for the residual-window argument."""
    from pyspark.errors import AnalysisException

    store_dir = os.path.realpath(store_dir)
    # the pin TTL must see the store WRITER's effective fence lease
    # (code-review r20, second pass): a drain on the r20 lease default
    # acquires with drain_fence_lease_ttl while the conf knobs stay
    # unset, so a TTL from the conf keys alone would hand out
    # pid-based pins — wrong on multi-host.  The writer's lease is in
    # the store's epoch token (set at acquire, never rewritten), so
    # read it from there; no token or a pid-mode token leaves the
    # conf-chain result.
    from kafka_spark_streaming_spark.config import pin_ttl_for_writer
    from kafka_spark_streaming_spark.fencing import _read_token

    try:
        tok = _read_token(store_dir + ".epoch")
    except ValueError:
        tok = None  # corrupt token fails the WRITER path loudly, not reads
    ttl = pin_ttl_for_writer(
        spark, tok.get("lease_ttl_s") if tok else None
    )

    def attempt():
        files = _all_data_files(store_dir)
        if not files:
            raise ValueError(
                f"pinned_store_read: no data files under {store_dir!r}"
            )
        payload = {"files": files, "purpose": "pinned-store-read"}
        if ttl is not None:
            # multi-host mode: the pin auto-expires instead of relying
            # on the single-host pid probe (fencing.live_pins)
            payload["lease_ttl_s"] = ttl

        def verify():
            return all(os.path.exists(f) for f in files)

        def finish(pin_path):
            try:
                df = (
                    spark.read.option("basePath", store_dir)
                    .parquet(*files)
                    # collapse duplicate rows exactly as compaction's
                    # rewrite does (ADVICE r19): after a crash window —
                    # or a compaction that skipped pin-held originals —
                    # the listing legitimately contains both originals
                    # and compacted copies, and an out-of-band EXPORT
                    # has no downstream dedup the registered queries'
                    # duplicate-tolerance argument can lean on.
                    # dedup_cols widens the collapse to partition-
                    # relocated copies (docstring caveat, r20).
                    .dropDuplicates(dedup_cols)
                )
            except AnalysisException as exc:
                if not is_path_not_found(exc):
                    raise  # deterministic failure, not a race
                raise PinRaceLost(str(exc)) from exc
            weakref.finalize(df, release_pin, pin_path)
            return df

        return payload, verify, finish

    return pin_guarded(
        _pin_dir(store_dir),
        attempt,
        what=f"pinned_store_read({store_dir!r})",
    )


def _standalone_fence(
    spark: SparkSession,
    store_dir: str,
    purpose: str,
    force: bool,
    verb: str,
) -> WriterFence:
    """The standalone maintenance-pass fence protocol, shared by
    compaction and rebalance (code-review r20 — it was copy-pasted):
    refuse a live writer unless ``force``, then acquire with the
    session's lease knob."""
    marker = store_dir.rstrip("/") + ".epoch"
    tok = live_writer(marker)
    if tok is not None and not force:
        raise StaleWriterError(
            f"store {store_dir!r} has a live writer (pid "
            f"{tok.get('pid')}, purpose {tok.get('purpose')!r}): "
            f"refusing to {verb} beside an active drain — run between "
            "drains, or pass force=True if the token is known-stale"
        )
    from kafka_spark_streaming_spark.config import fence_lease_ttl

    return WriterFence.acquire(
        marker, purpose=purpose, lease_ttl_s=fence_lease_ttl(spark)
    )


def _idle_quietly(fence: WriterFence) -> None:
    """Mark a standalone pass's tenure finished on the FAILURE path so
    a failed pass is immediately retryable (code-review r20: an
    exception between acquire and the success-path idle() left the
    token active — blocking retries for the holder pid's lifetime, or
    a full TTL in lease mode).  Quiet: if a newer writer already
    usurped us, idling is neither possible nor needed."""
    try:
        fence.idle()
    except Exception:  # noqa: BLE001 — failure-path cleanup only
        pass


def _move_leaf_files(tmp: str, store_dir: str, leaf_glob: str) -> None:
    """Append-first move of a rewrite's tmp-dataset files into the
    live leaves (os.rename, same filesystem; Spark part names carry a
    job UUID so they cannot collide)."""
    for tleaf in _leaf_dirs(tmp, leaf_glob):
        rel = os.path.relpath(tleaf, tmp)
        dest = os.path.join(store_dir, rel)
        os.makedirs(dest, exist_ok=True)
        for f in os.listdir(tleaf):
            if f.endswith(".parquet") or f.endswith(".parquet.crc"):
                os.rename(os.path.join(tleaf, f), os.path.join(dest, f))


def _delete_snapshotted(
    before: dict[str, list[str]], pinned: set[str]
) -> None:
    """Delete-last phase shared by compaction and rebalance: remove the
    snapshotted original files (+ .crc sidecars), SKIPPING any file a
    live pin still references."""
    for files in before.values():
        for f in files:
            if os.path.realpath(f) in pinned:
                continue
            for path in (f, os.path.join(
                os.path.dirname(f), "." + os.path.basename(f) + ".crc"
            )):
                try:
                    os.remove(path)
                except FileNotFoundError:
                    pass


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
    (groupBy cell, a metadata-friendly scan; bounded collect of
    <= n_cells rows) summarizing how evenly the frozen quantizer is
    spreading appends.  ``skew`` is max-cell rows over the mean
    across DECLARED cells (the centroid sidecar's count, so cells
    the drift has emptied out still dilute the mean — an occupancy
    view over observed cells only would under-report collapse).
    skew ~1 = healthy; a drifting stream concentrating appends into
    few cells pushes it toward n_cells, degrading append parallelism
    and probe pruning — the signal rebalance_ann_store answers.
    Duplicate rows from replayed batches are collapsed (vec_id) so
    the histogram reflects logical occupancy, not crash-window
    artifacts."""
    import json

    df = spark.read.parquet(store_dir).dropDuplicates(["vec_id"])
    per = {
        int(r["cell"]): int(r["count"])
        for r in df.groupBy("cell").count().collect()  # <= n_cells rows
    }
    cent_path = store_dir.rstrip("/") + ".centroids.json"
    n_cells = None
    if os.path.exists(cent_path):
        with open(cent_path) as fh:
            n_cells = len(json.load(fh))
    return _occupancy(per, n_cells)


def rebalance_ann_store(
    spark: SparkSession,
    store_dir: str,
    fence: WriterFence | None = None,
    force: bool = False,
) -> dict:
    """Offline re-train + re-partition pass for a skewed streaming-IVF
    store (VERDICT r19 #1): the drain freezes its coarse quantizer at
    batch 0, so a drifting stream concentrates appends into few cell=
    leaves — this pass re-trains the quantizer on the store's CURRENT
    contents and rewrites every row into its new argmax cell,
    restoring append parallelism and probe pruning.  Cell COUNT is
    preserved (read from the centroid sidecar): the fix for drift is
    where the centroids sit, not how many there are.

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
    store-wide Arrow-matmul reassignment job.

    Crash safety reuses compact_partitioned_store's append-first /
    delete-last skeleton, with the centroid-sidecar swap slotted
    between the two:

      1. snapshot the current data files (the deletion set);
      2. ONE Spark job re-assigns the deduplicated store against the
         re-trained centroids and writes a sibling tmp dataset,
         one file per new cell;
      3. move the files INTO the live leaves (append-first) — every
         row now exists under BOTH quantizers' assignments;
      4. atomically publish the new centroid sidecar (tmp+rename,
         same protocol as the drain's batch-0 freeze);
      5. fence-heartbeat, then delete the snapshotted originals
         (skipping live-pinned files, like compaction).

    A crash BEFORE step 4 leaves probes on the OLD centroids with
    every row still in its old cell (the new-cell copies are extra
    rows a probe either prunes away or collapses via its
    dropDuplicates(vec_id)); a crash AFTER step 4 leaves probes on
    the NEW centroids with every row in its new cell (the old copies
    are the tolerated stragglers).  Either way re-running the pass
    converges: step 2 reads the union and dedups by vec_id.  A
    post-rebalance drain batch is consistent by construction — the
    fold re-reads the sidecar every batch, so replays and new batches
    assign against the new quantizer.

    Fencing: same standalone/cooperative contract as
    compact_partitioned_store (refuse a live writer unless ``force``;
    cooperative mode shares the owning drain's token; the fence is
    re-checked before the delete phase)."""
    import json

    cent_path = store_dir.rstrip("/") + ".centroids.json"
    if not os.path.exists(cent_path):
        raise ValueError(
            f"no centroid sidecar at {cent_path!r} — not a streaming-IVF "
            "store (or its drain never trained batch 0)"
        )
    with open(cent_path) as fh:
        n_cells = len(json.load(fh))
    standalone = fence is None
    if standalone:
        fence = _standalone_fence(
            spark, store_dir, "rebalance-ann-store", force, "rebalance"
        )
    try:
        out = _rebalance_body(spark, store_dir, cent_path, n_cells, fence)
    except BaseException:
        if standalone:
            _idle_quietly(fence)  # failed pass stays retryable
        raise
    if standalone:
        fence.idle()
    return out


def _rebalance_body(
    spark: SparkSession,
    store_dir: str,
    cent_path: str,
    n_cells: int,
    fence: WriterFence,
) -> dict:
    import json
    import tempfile

    from pyspark.sql import Window

    from kafka_spark_streaming_spark.operators.similarity import (
        ivf_assign_arrow,
        ivf_init_centroids,
        lloyd_refine,
    )

    leaves = _leaf_dirs(store_dir, "cell=*")
    before = {leaf: _data_files(leaf) for leaf in leaves}
    files_before = sum(len(v) for v in before.values())

    base = (
        spark.read.parquet(store_dir)
        .dropDuplicates(["vec_id"])
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
            raise ValueError(f"empty ANN store {store_dir!r}")
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

        tmp = store_dir.rstrip("/") + ".rebalance.tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)  # leftover from a crashed prior run
        (
            ivf_assign_arrow(base, cmat2)
            .repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(tmp)
        )
    finally:
        base.unpersist()
    # append-first: move the re-assigned files into the live leaves
    _move_leaf_files(tmp, store_dir, "cell=*")
    # publish the new quantizer — the probe cutover point (tmp+rename
    # atomic, same as the drain's batch-0 freeze)
    d = os.path.dirname(cent_path) or "."
    fd, ctmp = tempfile.mkstemp(
        prefix=os.path.basename(cent_path) + ".", dir=d
    )
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump([[float(x) for x in row] for row in cmat2], fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(ctmp, cent_path)
    except BaseException:
        try:
            os.unlink(ctmp)
        except FileNotFoundError:
            pass
        raise
    # delete originals last (fence re-check first; pins honored)
    fence.heartbeat()
    _delete_snapshotted(before, _pinned_files(store_dir))
    shutil.rmtree(tmp, ignore_errors=True)
    stats_after = ann_store_stats(spark, store_dir)
    return {
        "rows": stats_after["rows"],
        "files_before": files_before,
        "files_after": sum(
            len(_data_files(leaf))
            for leaf in _leaf_dirs(store_dir, "cell=*")
        ),
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
    """Fold every (kind, pk) leaf of an incremental-dedup store back to
    one file — the dedup-store instance of the generic
    compact_partitioned_store below (kept as the named public surface
    its CLI/tests/drain wiring use)."""
    return compact_partitioned_store(
        spark,
        store_dir,
        partition_cols=["kind", "pk"],
        leaf_glob=os.path.join("kind=*", "pk=*"),
        min_files=min_files,
        fence=fence,
        force=force,
        purpose="compact-dedup-store",
    )


def compact_ann_store(
    spark: SparkSession,
    store_dir: str,
    min_files: int = 2,
    fence: WriterFence | None = None,
    force: bool = False,
) -> dict:
    """Fold every cell= leaf of a streaming-IVF index store back to
    one file (r18).  The IVF store has the identical growth and
    duplicate-tolerance profile as the dedup store (one file per
    (batch, touched cell); replayed batches re-append bit-identical
    rows that the read-side dropDuplicates(vec_id) collapses), so the
    same crash-safe append-first/delete-last pass applies verbatim —
    only the leaf layout differs."""
    return compact_partitioned_store(
        spark,
        store_dir,
        partition_cols=["cell"],
        leaf_glob="cell=*",
        min_files=min_files,
        fence=fence,
        force=force,
        purpose="compact-ann-store",
    )


def compact_partitioned_store(
    spark: SparkSession,
    store_dir: str,
    partition_cols: list[str],
    leaf_glob: str,
    min_files: int = 2,
    fence: WriterFence | None = None,
    force: bool = False,
    purpose: str = "compact-store",
) -> dict:
    """Fold every leaf of a partitioned append store back to one file.
    Returns {leaves, files_before, files_after, rewrote}.

    Steps (order is the crash-safety argument — see module docstring):
      1. snapshot the current data files per leaf (the deletion set);
      2. ONE Spark job rewrites the whole store into a sibling tmp
         dataset, repartitioned to one file per leaf;
      3. move the compacted files INTO the live leaves (os.rename,
         same filesystem; Spark part names carry a job UUID so they
         cannot collide with existing names);
      4. delete the snapshotted originals (+ their .crc sidecars);
      5. remove the tmp dataset.
    A crash after any step leaves only bit-identical duplicate rows,
    which every read path collapses.  Leaves already at one file are
    left byte-identical (no rewrite) when NO leaf needs work; when any
    does, the single-job rewrite covers all leaves (simpler than
    per-leaf jobs, and maintenance cost is one store scan either way).

    Fencing (r18, module docstring): standalone (``fence=None``)
    refuses a live writer unless ``force`` and acquires its own
    token; cooperative passes the owning drain's fence.  Either way
    the fence is checked before step 4 — the only destructive step.
    """
    standalone = fence is None
    if standalone:
        # same lease plumbing as the drains and the upsert sink —
        # without it a standalone pass that crashed on another host
        # would leave a pid-mode token that live_writer can only
        # probe locally (code-review r19)
        fence = _standalone_fence(spark, store_dir, purpose, force, "compact")
    try:
        out = _compact_body(
            spark, store_dir, partition_cols, leaf_glob, min_files, fence
        )
    except BaseException:
        if standalone:
            _idle_quietly(fence)  # failed pass stays retryable (r20)
        raise
    if standalone:
        fence.idle()
    return out


def _compact_body(
    spark: SparkSession,
    store_dir: str,
    partition_cols: list[str],
    leaf_glob: str,
    min_files: int,
    fence: WriterFence,
) -> dict:
    leaves = _leaf_dirs(store_dir, leaf_glob)
    before = {leaf: _data_files(leaf) for leaf in leaves}
    files_before = sum(len(v) for v in before.values())
    if not leaves or all(len(v) < min_files for v in before.values()):
        return {
            "leaves": len(leaves),
            "files_before": files_before,
            "files_after": files_before,
            "rewrote": False,
        }

    tmp = store_dir.rstrip("/") + ".compact.tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # leftover from a crashed prior run
    # full-row dropDuplicates: the only duplicates a store can carry
    # are bit-identical (replayed batches and crashed prior
    # compactions — deterministic profiles, one batch per doc), and
    # reads merely tolerate them; compaction is the natural place to
    # collapse them permanently so a crash-then-rerun cannot bake the
    # crash window's extra rows into the store forever.  repartition
    # on the partition keys lands each leaf in exactly one task, so
    # partitionBy writes exactly one file per leaf (same argument as
    # the append job's).
    (
        spark.read.parquet(store_dir)
        .dropDuplicates()
        .repartition(*partition_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(tmp)
    )
    # move compacted files into the live leaves (append-first)
    _move_leaf_files(tmp, store_dir, leaf_glob)
    # delete originals last — the only step that removes data, and by
    # now every row exists in a compacted file.  Fence check first: if
    # a newer writer attached since, abort HERE — the appended
    # compacted files are bit-identical duplicates every read path
    # tolerates, so a fenced abort is exactly a crash-window state.
    # heartbeat = check + lease renewal (code-review r19): the rewrite
    # job above is the pass's long pole and aged the token's mtime for
    # its whole duration, so a lease-mode fence renews here for the
    # work that follows; a single job longer than the TTL still needs
    # the TTL sized to the pass (FENCE_LEASE_TTL_KEY comment) — an
    # expired-mid-pass lease lets a second pass start, which this
    # abort keeps correct at the cost of the wasted rewrite.
    # Files a live pinned_store_read still references are SKIPPED —
    # left behind as tolerated duplicates for the first pass after
    # the pin is released to sweep (module docstring, r19).
    fence.heartbeat()
    _delete_snapshotted(before, _pinned_files(store_dir))
    shutil.rmtree(tmp, ignore_errors=True)
    files_after = sum(
        len(_data_files(leaf)) for leaf in _leaf_dirs(store_dir, leaf_glob)
    )
    return {
        "leaves": len(leaves),
        "files_before": files_before,
        "files_after": files_after,
        "rewrote": True,
    }
