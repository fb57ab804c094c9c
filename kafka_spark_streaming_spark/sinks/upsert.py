"""Keyed-upsert sink — the reference's HBase cell model on parquet.

HBase semantics (SURVEY.md §1.1, HbaseWriter.scala:22-31,76-82): a row
is (rowkey, cf, qualifier) → value; writing the same cell again
overwrites it (last-write-wins). The reference offers a single-row put
(S3) and a bulk per-batch put (S4, whose implementation was broken —
driver-side ArrayList mutated on executors; we implement the intent).

Design for scale:
- State lives in versioned parquet dirs `v_{batch_id}`, each
  partitioned by `rb = pmod(xxhash64(rowkey), buckets)` — the parquet
  analogue of the rowkey-range region sharding of the HBase table the
  reference writes through (HbaseWriter.scala:26-29; a hash of the
  key gives the same pruning with none of the range-boundary skew).
  Each batch LWW-merges ONLY the rb partitions its rowkeys touch —
  the prior-state read is partition-pruned (PartitionFilters,
  plan-pinned in tests/test_plans.py::
  test_upsert_merge_prunes_state_partitions) and the merge shuffle
  moves |touched partitions| + |batch| rows, not |state| (VERDICT
  r15 #3: the per-batch one-shuffle-of-|state| was the next shape to
  go if the sink carries volume).  Untouched partitions carry forward
  as MANIFEST ENTRIES (VERDICT r16 #1): versions are committed
  through the engine's one manifest protocol (manifest.py, shared
  with the near-dedup and streaming-IVF stores), whose
  `_MANIFEST.json` maps each live `rb=` partition to its owner list —
  always ONE owner here, since a merge rewrites a whole partition —
  so a new version rewrites only the touched partitions' files and
  inherits the rest as pure metadata, the file-remapping move of a
  Delta/Iceberg MERGE.  A committed version without its manifest is
  not a layout this sink writes and fails every read loudly.  Read
  fan-out is bounded: when a manifest would reference more than
  spark.kss.sink.upsertCompactVersions distinct versions, the next
  write folds ALL live partitions into itself (log-structured
  compaction — amortized one full rewrite every ~threshold batches).
  Bucket count is engine config (spark.kss.sink.upsertStateBuckets —
  config.py has the 100 TB sizing rule).
- Idempotent / exactly-once under foreachBatch retries: a re-run of
  batch N commits a fresh ATTEMPT version `v_N-r{k}` rebuilt from the
  batch_id < N residue of the state (SURVEY.md §7 "what's hard" #4).
  A retry is DETECTED (the committed head's batch is already >=
  batch_id) and triggers a full merge, so even a NON-deterministic
  replay — wall-clock rowkeys landing in different rb buckets than
  the first attempt — purges the first attempt's rows everywhere via
  the batch_id < N filter instead of carrying them forward as ghosts
  in "untouched" partitions (ADVICE r16 upsert.py:205).  Retries are
  rare; the one-off full merge is the cheap price of correctness
  under either clock.  COMMITTED VERSIONS ARE IMMUTABLE (r18): the
  pre-r18 retry rewrote `v_N` in place (rmtree + rename), which
  deleted the files a live snapshot() pin was still reading — the
  attempt suffix makes every commit append-only and leaves the
  superseded attempt to the ordinary prune/pin lifecycle.
- Within-batch collisions on the same cell (the reference's
  epoch-second rowkeys collide routinely, Streamer.scala:163) resolve
  deterministically by max(value) — documented tie-break so tests and
  oracle agree.
- On a real deployment this maps 1:1 onto a Delta/Iceberg MERGE; the
  versioned-parquet variant keeps the harness dependency-free.
- SINGLE WRITER per store path — ENFORCED since r18 (was contract
  only): the sink holds the store's fenced-writer token
  (ManifestStore.acquire — the token lives inside the store like
  every other store file, manifest.py), acquired lazily at the sink's
  FIRST write_batch (an attach that only reads never fences a live
  writer out) and re-checked immediately before every commit-point
  mutation (the version rename and the prune's deletions).  Newest
  writer wins: after a failover the new driver's first write bumps
  the epoch, and the zombie's next commit raises StaleWriterError
  instead of interleaving renames — the parquet analogue of the
  HBase region lease the reference leaned on (HbaseWriter.scala's
  puts go through the region holder).  Readers see a consistent
  snapshot (the manifest read pins one immutable head); a LAZY
  current() DataFrame held across later write_batch calls may still
  reference version dirs prune has since deleted — use snapshot()
  for a read that pins its versions against EVERY pruner on the
  host (durable pin files, manifest.PIN_DIR) for the DataFrame's
  lifetime (same time-travel caveat as any vacuumed table format
  otherwise).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_spark_streaming_spark.fencing import WriterFence
from kafka_spark_streaming_spark.functions import literal_frame
from kafka_spark_streaming_spark.manifest import ManifestStore

CELL_KEY = ["rowkey", "cf", "qualifier"]

STATE_SCHEMA = T.StructType(
    [
        T.StructField("rowkey", T.StringType(), False),
        T.StructField("cf", T.StringType(), False),
        T.StructField("qualifier", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("batch_id", T.LongType(), False),
    ]
)

# STATE_SCHEMA plus the rb partition column: the explicit schema of
# every state read (no parquet footer-inference job per referenced
# version) and of the empty state
READ_SCHEMA = T.StructType(
    STATE_SCHEMA.fields + [T.StructField("rb", T.IntegerType(), True)]
)


# sentinel: "caller did not choose" — distinct from an explicit None
# (pid mode), so drains can force lease mode without stealing the
# conf knob from bare attaches
_LEASE_FROM_CONF = object()


class KeyedUpsertSink(ManifestStore):
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        lease_ttl_s: float | None | object = _LEASE_FROM_CONF,
    ):
        """``lease_ttl_s``: fence-liveness override for this writer.
        Unset (the default) reads the spark.kss.fence.leaseTtlSec knob
        — pid mode unless configured, the right posture for a BARE
        local attach.  The registered streaming drains pass
        config.drain_fence_lease_ttl(...) to run lease-mode by
        default (VERDICT r19 #5); an explicit None forces pid mode."""
        from kafka_spark_streaming_spark.config import (
            upsert_compact_versions,
            upsert_keep_versions,
            upsert_state_buckets,
        )

        super().__init__(path)
        self.spark = spark
        self._lease_ttl_s = lease_ttl_s
        self.compact_versions = upsert_compact_versions(spark)
        self.keep_versions = upsert_keep_versions(spark)
        # The bucket count is a property of the STORE, not the
        # session: reopening an rb-partitioned store under a different
        # count would prune the prior read with the wrong pmod and
        # carry stale rows forward as "untouched" — silent LWW
        # corruption (code-review r16).  So the store's layout marker
        # is seeded at the first attach and every later attach reads
        # it; the conf only seeds brand-new stores.
        (self.buckets,) = self.layout(
            lambda: (upsert_state_buckets(spark),), arity=1
        )
        # writer fence (module docstring): acquired at the FIRST
        # write_batch, not here — attaching to read must not fence a
        # live writer out (ManifestStore starts it as None).

    def _writer_fence(self) -> WriterFence:
        if self._fence is None:
            from kafka_spark_streaming_spark.config import fence_lease_ttl

            self.acquire(
                "keyed-upsert-sink",
                fence_lease_ttl(self.spark)
                if self._lease_ttl_s is _LEASE_FROM_CONF
                else self._lease_ttl_s,
            )
        return self._fence

    # -- state management (version machinery: manifest.ManifestStore) ----
    def _rb(self, col) -> Column:
        return F.pmod(F.xxhash64(col), F.lit(self.buckets)).cast("int")

    def _frame(self, manifest: dict[str, list[str]]) -> DataFrame:
        """State incl. the rb layout column: one partition-pruned scan
        per version the manifest references, unioned (the per-owner
        basePath keeps rb a real partition column, so downstream
        rb.isin filters prune at the directory level — and the
        fan-out is bounded by the compaction threshold, not by batch
        count).  Explicit READ_SCHEMA: the cell layout is fixed, so
        none of the per-owner reads needs a parquet footer-inference
        job."""
        df = self._read(self.spark, manifest, READ_SCHEMA)
        return literal_frame(self.spark, READ_SCHEMA) if df is None else df

    def _current_raw(self) -> DataFrame:
        """Current state INCLUDING the rb layout column."""
        return self._frame(self._head()[1])

    def current(self) -> DataFrame:
        """Current cell state as a DataFrame (empty if no writes yet).
        The rb layout column is internal — consumers see cell shape.
        LAZY: executing it after this writer advances past the keep
        window may hit pruned version dirs — see snapshot() for a
        pinned read."""
        return self._current_raw().drop("rb")

    def snapshot(self) -> DataFrame:
        """Version-PINNED read (VERDICT r17 #6): the returned
        DataFrame reads the manifest the head held at call time, and
        every version it references is excluded from prunes for as
        long as the DataFrame object is alive (weakref guard —
        dropping the reference releases the pin; no explicit close
        needed).  Closes current()'s documented lazy-across-prune
        caveat.  Scope (r19): pins are DURABLE pin files inside the
        store (manifest.PIN_DIR), so every pruner on the
        host honors them — any attach in this process, a post-failover
        writer in a DIFFERENT process, or a standalone maintenance
        pass; liveness is pid-based (a holder that crashes without
        releasing is reaped at the next prune), mapping onto a lease
        TTL on multi-host deployments.  The pin is held by the
        RETURNED DataFrame object: keep it referenced while derived
        frames (selects/filters over it) are in use — deriving and
        dropping the original releases the pin at the next prune.

        The read plan and the pin set come from ONE listing (ADVICE
        r18): a second listing could race a concurrent write_batch and
        pin the new head's versions while the DataFrame still read the
        old manifest.  The pin is the shared version pin,
        ManifestStore._snapshot (publish-then-verify), which sizes
        the pin's TTL from the lease in the store's writer token — so
        a read-only attach pins for the writer's actual lease."""
        return self._snapshot(
            self.spark,
            lambda manifest: self._frame(manifest).drop("rb"),
            what=f"snapshot({self.path!r})",
        )

    def history(self) -> list[dict]:
        """Retained-version metadata, oldest first — the DESCRIBE
        HISTORY analogue for the versioned-parquet store.  Driver-side
        file metadata only (no Spark job): per retained version, its
        batch_id, how many live rb partitions its manifest references,
        how many of those it physically owns, and whether it is the
        head.  A version retained only because a newer manifest or a
        live snapshot pin references its files still appears — it is
        readable state."""
        versions = self._versions()
        out = []
        for v in versions:
            manifest = self._manifest(v)
            out.append(
                {
                    "version": v,
                    "batch_id": self._batch_of(v),
                    "live_partitions": len(manifest),
                    "owned_partitions": sum(
                        1 for owners in manifest.values() if owners == [v]
                    ),
                    "is_head": v == versions[-1],
                }
            )
        return out

    # -- the upsert -------------------------------------------------------
    def _merged_state(
        self, stamped: DataFrame, batch_id: int, rbs: list
    ) -> DataFrame:
        """LWW(touched prior partitions ∪ batch) — the distributed half
        of write_batch, factored out so the partition-pruned prior read
        is a testable plan property.  Rows outside `rbs` never enter
        the shuffle; they are carried forward file-for-file by
        write_batch."""
        prior = self._current_raw().filter(
            F.col("rb").isin(rbs) & (F.col("batch_id") < batch_id)
        )
        merged = prior.unionByName(stamped)
        w = W.partitionBy(*CELL_KEY).orderBy(
            F.desc("batch_id"), F.desc("value")
        )
        return (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """MERGE-style last-write-wins upsert of (rowkey, cf, qualifier, value).

        One shuffle on the TOUCHED rb partitions' cells only (r16 —
        was the full state); untouched partitions carry into the new
        version as manifest entries pointing at their owning versions
        (r17 — was hard links, a local-FS-only mechanism).  Safe under
        foreachBatch replay even when the replay is NOT
        bit-deterministic (ADVICE r16): a retry of batch N is detected
        (committed head >= N) and merges ALL live partitions, so the
        batch_id < N filter purges the first attempt's rows everywhere
        — including rb buckets this attempt does not touch, where a
        wall-clock rowkey drift would otherwise leave them as
        carried-forward ghosts.

        Fenced (r18): the sink's writer token is acquired at the
        first call and re-checked immediately before every rename and
        before the prune — a zombie writer raises StaleWriterError
        instead of committing over a newer writer's head.
        """
        fence = self._writer_fence()
        fence.check()  # fail fast before any Spark work if already stale
        stamped = (
            batch_df.select(*CELL_KEY, F.col("value").cast("string"))
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn("rb", self._rb(F.col("rowkey")))
            .persist()
        )
        try:
            # bounded collect (≤ buckets scalars) — names the touched
            # partitions AND materializes the batch cache in one job,
            # the same collect-as-materializer pattern as the
            # incremental-dedup batch body
            rbs = [r[0] for r in stamped.select("rb").distinct().collect()]
            head, manifest = self._head()
            if not rbs:
                if not head:
                    # empty batch over an empty store: a 0-row
                    # partitionBy write emits NO files, so the version
                    # would hold nothing readable.  Skip the version.
                    return
                if self._batch_of(head) >= batch_id:
                    # EMPTY retry of a committed batch whose first
                    # attempt may have had rows (content drift — the
                    # same replay-determinism gap as the rowkey-drift
                    # case below, r17): carrying the manifest forward
                    # verbatim would keep the first attempt's rows
                    # forever.  Full purge-merge instead: every live
                    # partition re-merges under the batch_id < N
                    # filter against the empty batch.  If that purges
                    # the whole store the version commits an EMPTY
                    # manifest, which current() reads as empty state.
                    rbs = sorted(int(d[3:]) for d in manifest)
                else:
                    # empty batch over a committed head: a pure-metadata
                    # version — every live partition carries forward in
                    # the manifest verbatim, no Spark job at all
                    self._commit(
                        batch_id,
                        lambda _v, _leaves: manifest,
                        keep=self.keep_versions,
                    )
                    fence.heartbeat()
                    return
            if head and self._batch_of(head) >= batch_id:
                # RETRY of a committed batch (ADVICE r16): merge every
                # live partition so the batch_id < N purge reaches the
                # first attempt's rows wherever its (possibly
                # different) rowkeys landed.  Rare, so the one-off
                # full merge is cheap insurance.
                rbs = sorted({int(d[3:]) for d in manifest} | set(rbs))
            else:
                carried_owners = {
                    owner
                    for d, owners in manifest.items()
                    if int(d[3:]) not in set(rbs)
                    for owner in owners
                }
                if len(carried_owners) + 1 > self.compact_versions:
                    # manifest would fan reads over too many versions:
                    # fold everything into this write (log-structured
                    # compaction, amortized one full rewrite per
                    # ~compact_versions batches)
                    rbs = sorted({int(d[3:]) for d in manifest} | set(rbs))
            new_state = self._merged_state(stamped, batch_id, rbs)
            # manifest: carried partitions keep their owners; every rb
            # dir this write actually produced is owned by this
            # version.  A touched rb that merged to ZERO rows (all its
            # cells were first-attempt ghosts) writes no dir and drops
            # out of the manifest — exactly the purge semantics.
            touched = {f"rb={k}" for k in rbs}
            self._commit(
                batch_id,
                lambda vname, leaves: {
                    **{d: o for d, o in manifest.items() if d not in touched},
                    **{leaf: [vname] for leaf in leaves},
                },
                lambda tmp: new_state.write.mode("overwrite")
                .partitionBy("rb")
                .parquet(tmp),
                keep=self.keep_versions,
            )
            fence.heartbeat()  # renew the lease once per committed
            # batch (no-op write in pid mode — fencing.heartbeat)
        finally:
            stamped.unpersist()

    # -- convenience: the reference's two write shapes --------------------
    def _next_batch_id(self) -> int:
        versions = self._versions()
        return self._batch_of(versions[-1]) + 1 if versions else 0

    def put_single(self, rowkey: str, qualifier: str, value: str,
                   cf: str = "cf1", batch_id: int | None = None) -> None:
        """S3: one summary cell per batch (HbaseWriter.scala:22-31).

        batch_id defaults to (last committed version)+1: write_batch
        treats an equal-or-lower id as a replay of that batch, so a
        fixed default would make every later call drop all prior state.
        Pass an explicit id only for replay-idempotent streaming use.
        """
        self.write_batch(
            single_cell(self.spark, rowkey, qualifier, value, cf),
            self._next_batch_id() if batch_id is None else batch_id,
        )

    def put_bulk(self, messages_df: DataFrame, rowkey_prefix: str,
                 cf: str = "cf1", batch_id: int | None = None) -> None:
        """S4 intent: distinct (key,value) records → one cell each
        (HbaseWriter.scala:42-74), null keys → sentinel row."""
        self.write_batch(
            bulk_cells(messages_df, rowkey_prefix, cf),
            self._next_batch_id() if batch_id is None else batch_id,
        )


def single_cell(
    spark: SparkSession,
    rowkey: str,
    qualifier: str,
    value: str,
    cf: str = "cf1",
) -> DataFrame:
    """One summary cell in cell shape — the single source of the
    (rowkey, cf, qualifier, value) construction, shared by put_single
    and the pipeline's merged per-batch write (code-review r15: two
    inline copies could drift).  A JVM literal frame, so the batch's
    sink jobs start no Python worker (functions.literal_frame)."""
    return literal_frame(
        spark,
        "rowkey string, cf string, qualifier string, value string",
        (rowkey, cf, qualifier, value),
    )


def bulk_cells(
    messages_df: DataFrame, rowkey_prefix: str, cf: str = "cf1"
) -> DataFrame:
    """The S4 bulk rows in cell shape (rowkey, cf, qualifier, value) —
    shared by put_bulk and the pipeline's merged per-batch write.
    Bulk rowkeys are '{prefix}-{key}' with qualifier 'content', so
    they can never collide with the batch summary cell (bare-epoch
    rowkey, qualifier 'message'/'messages')."""
    return (
        messages_df.select(
            F.when(
                F.col("key").isNull(),
                F.lit(f"{rowkey_prefix}-kafka empty message"),
            )
            .otherwise(F.concat(F.lit(f"{rowkey_prefix}-"), F.col("key")))
            .alias("rowkey"),
            F.lit(cf).alias("cf"),
            F.lit("content").alias("qualifier"),
            F.when(F.col("key").isNull(), F.lit("kafka empty message"))
            .otherwise(F.concat_ws("--|--", F.col("key"), F.col("value")))
            .alias("value"),
        )
        .dropDuplicates()
    )
