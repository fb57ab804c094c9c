"""One commit protocol for the engine's three on-disk stores.

The keyed-upsert sink (sinks/upsert.py), the incremental near-dedup
store and the streaming-IVF store (operators/streaming_queries.py)
all commit state the same way: as immutable version dirs under the
store path, each carrying a `_MANIFEST.json` — the file-remapping
move of a Delta/Iceberg commit, which works on any filesystem (no
hard links, no in-place rewrites).

Layout — every file of a store lives under its own dir, and this
module is the only one that names them::

    <store>/v_{batch_id:012d}[-r{k:06d}]/<leaf>/part-*.parquet
    <store>/v_.../_MANIFEST.json     {leaf: [owner version, ...]}
    <store>/_pins/pin-*.json         live readers' version pins
    <store>/_WRITER_EPOCH            the writer token (`acquire`)
    <store>/_BUCKETS                 the bucket counts (`layout`)

A leaf is one partition dir (`rb=K`, `kind=b/pk=K`, `cell=K`); its
rows are the union of that leaf dir in every owner version the head
manifest lists for it.  The upsert sink's lists always hold one owner
(a merge rewrites the whole leaf); an append store's lists grow by one
owner per batch until compaction folds them back to one.  A key
starting with `_` names a metadata FILE a version holds rather than a
data leaf (the IVF quantizer, `_CENTROIDS.json`) — Spark's own
hidden-file convention, so data reads skip it.  A manifest of any
other shape, or a committed version without one, fails closed: it is
not a layout this engine writes.

Commit (`_commit`): build the version in `<v>.tmp`, write the
manifest there (fsync'd), `fence.check()`, rename.  The rename is the
only commit point: a crash before it leaves the previous head intact
(the stale tmp dir is swept by the next prune), a crash after it
leaves the new head.  Readers never see a partial version and never
see a row twice, so no read needs a duplicate-tolerant dedup.

Versions are immutable: a retry of batch N commits a fresh ATTEMPT
version `v_N-r{k}` (and a maintenance rewrite of head N commits
`v_N-r{k}` too); `_versions()` sorts numerically on
(batch_id, attempt), never on the name.  A writer detects a retry as
"the committed head's batch is already >= batch_id" — batch ids are
the stream's, monotone across checkpoint-resumed restarts.

Writer token (`acquire`, `live_writer`): a fencing.WriterFence whose
token the store keeps at `_WRITER_EPOCH`; the fence is checked before
every commit rename and every prune.

Layout marker (`layout`): a store whose leaves are `pmod(key,
buckets)` partitions keeps its bucket counts in `_BUCKETS`, seeded once
from the session conf (config.persisted_layout) and read by every
later attach, so a conf change can never make a probe's pmod disagree
with the leaves on disk.  A store with a committed version but no
marker fails closed instead of re-seeding.

Pins (`_snapshot`): a reader publishes a durable pin file naming
every version its read plan references (publish-then-verify,
fencing.pin_guarded) and holds it for the DataFrame's lifetime; the
pin auto-expires under the TTL the store's writer token implies
(config.pin_ttl_for_writer).  The prune (`_prune`) keeps the last K
heads, every version their manifests reference and every pinned
version, deletes the rest, and sweeps stale `.tmp` build dirs.
"""

from __future__ import annotations

import json
import os
import shutil
import weakref
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from kafka_spark_streaming_spark import config, fencing

MANIFEST_NAME = "_MANIFEST.json"
WRITER_TOKEN = "_WRITER_EPOCH"
LAYOUT_NAME = "_BUCKETS"

# snapshot pins are DURABLE: each handed-out pin writes a
# `_pins/pin-{pid}-{nonce}.json` file inside the store naming the
# versions its read plan references, and EVERY pruner — any attach in
# any process on the host — honors pin files whose holder is live
# (fencing.live_pins).  Release is a weakref lifecycle (the pin file
# is deleted when the pinned DataFrame is collected), with two crash
# backstops: a holder that dies without releasing leaves a pin whose
# pid is dead (or whose lease lapsed), which the next prune deletes;
# and pid REUSE merely delays pruning until the recycled pid exits
# (pins gate only deletions, never correctness).
PIN_DIR = "_pins"


def _leaves_in(root: str) -> list[str]:
    """Relative paths of the dirs under ``root`` that hold parquet
    data — the leaves a Spark partitionBy write produced."""
    return sorted(
        os.path.relpath(d, root)
        for d, _, files in os.walk(root)
        if d != root and any(f.endswith(".parquet") for f in files)
    )


def appended(manifest: dict, vname: str, leaves: list[str]) -> dict:
    """``manifest`` with ``vname`` added to the owner list of every
    leaf it produced — an append store's per-batch commit."""
    return {
        **manifest,
        **{leaf: manifest.get(leaf, []) + [vname] for leaf in leaves},
    }


class ManifestStore:
    """A store of immutable manifest versions at ``path`` — see the
    module docstring.  ``_fence`` (a fencing.WriterFence, or None for
    an unfenced single-writer caller) is checked before every commit
    rename and every prune."""

    def __init__(self, path: str, fence=None):
        self.path = path
        self._fence = fence

    def acquire(
        self, purpose: str, lease_ttl_s: float | None = None
    ) -> fencing.WriterFence:
        """Become the store's newest writer: create the store dir and
        acquire the fence on its `_WRITER_EPOCH` token, which every
        later commit and prune of this object checks."""
        os.makedirs(self.path, exist_ok=True)
        self._fence = fencing.WriterFence.acquire(
            os.path.join(self.path, WRITER_TOKEN), purpose, lease_ttl_s
        )
        return self._fence

    def live_writer(self) -> dict | None:
        """The store's writer token if its holder is plausibly live
        (fencing.live_writer), else None."""
        return fencing.live_writer(os.path.join(self.path, WRITER_TOKEN))

    def layout(self, seed, arity: int, commit: bool = True) -> tuple:
        """The store's persisted bucket counts from `_BUCKETS`.  Without
        a marker, ``seed()`` (the session conf) answers, and
        ``commit`` makes that answer the marker — first writer wins
        under a race (config.commit_layout), so the caller gets what
        actually landed.  A store that has committed a version but
        has no marker fails closed: re-seeding it from the conf could
        make every probe's pmod disagree with the leaves on disk."""
        marker = os.path.join(self.path, LAYOUT_NAME)

        def first_seed() -> tuple:
            if self._versions():
                raise ValueError(
                    f"store {self.path!r} has committed versions but no "
                    f"{LAYOUT_NAME} marker — its bucket counts can no "
                    "longer be trusted; restore the marker from the "
                    "store's leaf layout before reattaching (a dedup "
                    "store written before its markers moved inside it "
                    f"keeps it beside it: move <store>.layout to "
                    f"<store>/{LAYOUT_NAME})"
                )
            if commit:
                os.makedirs(self.path, exist_ok=True)
            return seed()

        if commit:
            return config.persisted_layout(marker, first_seed, arity)
        return config.read_layout(marker, arity) or first_seed()

    @staticmethod
    def _batch_of(version: str) -> int:
        """batch_id of a version dir name.  Names are
        ``v_{batch_id:012d}`` for a first attempt and
        ``v_{batch_id:012d}-r{k:06d}`` for the k-th RETRY (or
        maintenance) attempt."""
        return int(version[2:].split("-", 1)[0])

    @staticmethod
    def _attempt_of(version: str) -> int:
        """retry-attempt number of a version dir name (0 for a first
        attempt)."""
        return int(version.rsplit("-r", 1)[1]) if "-r" in version else 0

    def _new_version_name(self, batch_id: int, versions: list[str]) -> str:
        base = f"v_{batch_id:012d}"
        attempts = [
            v for v in versions if v == base or v.startswith(base + "-r")
        ]
        if not attempts:
            return base
        k = 1 + max(self._attempt_of(v) for v in attempts)
        return f"{base}-r{k:06d}"

    def _versions(self) -> list[str]:
        # exclude in-flight '.tmp' build dirs: after a crash between the
        # tmp write and the rename they linger, and a read must never
        # surface uncommitted state (nor _prune count them toward keep).
        try:
            names = os.listdir(self.path)
        except (FileNotFoundError, NotADirectoryError):
            return []  # nothing committed yet (or not a store dir)
        return sorted(
            (
                d for d in names
                if d.startswith("v_") and "." not in d
                and os.path.isdir(os.path.join(self.path, d))
            ),
            key=lambda v: (self._batch_of(v), self._attempt_of(v)),
        )

    def _manifest(self, version: str) -> dict[str, list[str]]:
        """{leaf → [owner versions]} of a committed version.  Every
        commit carries one (an empty manifest is empty state), so a
        committed version without it — or with any other shape — is
        corruption or a layout this engine never writes: fail loudly
        rather than guess its ownership."""
        vdir = os.path.join(self.path, version)
        try:
            with open(os.path.join(vdir, MANIFEST_NAME)) as fh:
                manifest = json.load(fh)
        except FileNotFoundError:
            raise ValueError(
                f"store version {vdir!r} has no {MANIFEST_NAME} — not a "
                "layout this engine writes; restore its manifest or "
                "rebuild the store before reattaching"
            ) from None
        if not isinstance(manifest, dict) or not all(
            isinstance(owners, list)
            and owners
            and all(isinstance(o, str) for o in owners)
            for owners in manifest.values()
        ):
            raise ValueError(
                f"store version {vdir!r} has a {MANIFEST_NAME} that does "
                "not map each leaf to a list of owner versions — not a "
                "layout this engine writes"
            )
        return manifest

    def _write_manifest(self, vdir: str, manifest: dict) -> None:
        """Written into the STILL-UNCOMMITTED tmp dir (the version
        commit is the dir rename), fsync'd so a post-rename crash
        cannot leave a truncated file (same durability policy as
        config.commit_layout).  A torn manifest would fail LOUD
        anyway — a truncated json.dump prefix is invalid JSON and
        json.load raises — never silently-wrong ownership."""
        with open(os.path.join(vdir, MANIFEST_NAME), "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
            fh.flush()
            os.fsync(fh.fileno())

    def _head(self) -> tuple[str | None, dict[str, list[str]]]:
        """(head version, its manifest) from ONE listing — (None, {})
        for a store with nothing committed."""
        versions = self._versions()
        if not versions:
            return None, {}
        return versions[-1], self._manifest(versions[-1])

    def _read(
        self,
        spark: SparkSession,
        manifest: dict[str, list[str]],
        schema=None,
        leaves=None,
    ) -> DataFrame | None:
        """The rows of ``manifest``'s data leaves (only those named in
        ``leaves``, when given), or None when there are none: one
        scan per owner version over the leaf dirs it owns, unioned.
        The per-owner basePath keeps the leaf path's key=value parts
        real partition columns, so a caller's filter on them shows up
        as PartitionFilters.  Without ``schema`` the first owner's
        scan infers it and every other owner reuses it — one footer
        inference for the whole read, not one per owner — so the
        scans share one column order and union by position."""
        names = manifest.keys() if leaves is None else set(leaves)
        by_owner: dict[str, list[str]] = {}
        for leaf in sorted(n for n in names if n in manifest):
            if leaf.startswith("_"):
                continue  # a metadata file, not a data leaf
            for owner in manifest[leaf]:
                by_owner.setdefault(owner, []).append(leaf)
        parts = []
        for owner in sorted(
            by_owner, key=lambda v: (self._batch_of(v), self._attempt_of(v))
        ):
            vdir = os.path.join(self.path, owner)
            reader = spark.read
            if schema is not None:
                reader = reader.schema(schema)
            parts.append(
                reader.option("basePath", vdir).parquet(
                    *[os.path.join(vdir, leaf) for leaf in by_owner[owner]]
                )
            )
            if schema is None:
                schema = parts[0].schema
        if len(parts) < 2:
            return parts[0] if parts else None
        # Spark floors EVERY file scan at the default parallelism's
        # worth of splits, so a union of K small owner scans would run
        # K times the tasks one scan of the same files runs (measured:
        # +78 tasks, ~0.35 s, per near-dedup drain at sf0.1).  Folding
        # the union back to that floor merges splits without a
        # shuffle; the caller's partition filters still push down to
        # every scan.  At scale the fold only bites when the union has
        # more splits than the cluster has cores, and then runs them
        # as one wave of tasks that each stream several splits.
        return reduce(DataFrame.union, parts).coalesce(
            spark.sparkContext.defaultParallelism
        )

    def _commit(self, batch_id: int, manifest_of, write=None, keep=1) -> str:
        """Commit one version for ``batch_id`` and return its name:
        ``write(tmp)`` builds the data in ``<v>.tmp`` (None: a
        pure-metadata version), ``manifest_of(v, leaves)`` maps the
        leaves it produced to the new manifest, which is written into
        tmp; then ``fence.check()`` and the rename — the commit
        point — and a prune keeping ``keep`` heads."""
        vname = self._new_version_name(batch_id, self._versions())
        out = os.path.join(self.path, vname)
        tmp = out + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)  # a crashed attempt's leftover
        if write is None:
            os.makedirs(tmp)
        else:
            write(tmp)
        self._write_manifest(tmp, manifest_of(vname, _leaves_in(tmp)))
        if self._fence is not None:
            self._fence.check()  # commit point: the version rename
        os.rename(tmp, out)
        self._prune(keep=keep)
        return vname

    def _snapshot(self, spark: SparkSession, build, what: str):
        """Version-PINNED read: ``build(manifest)`` makes the
        DataFrame from the head manifest of ONE listing, and every
        version it references (plus the head) is excluded from prunes
        for as long as the returned object is alive (weakref guard —
        dropping the reference releases the pin).  The pin follows
        the shared publish-then-verify protocol (fencing.pin_guarded):
        a pruner racing the listing-to-pin window fails the
        post-publish verify (or surfaces as a path-not-found while the
        plan is built over the just-pruned listing), and the attempt
        retries against the new head.  The pin auto-expires (the
        multi-host mapping) under config.pin_ttl_for_writer of the
        lease the store's writer token carries — a reader attach
        holds no fence of its own, so the token is the one place the
        writer's effective lease is recorded; no token, or a pid-mode
        one, leaves the conf-chain answer (None: pid liveness)."""
        try:
            tok = fencing._read_token(os.path.join(self.path, WRITER_TOKEN))
        except ValueError:
            tok = None  # a corrupt token fails the WRITER path loudly
        ttl = config.pin_ttl_for_writer(spark, tok and tok.get("lease_ttl_s"))

        def attempt():
            try:
                head, manifest = self._head()
                df = build(manifest)
            except AnalysisException as exc:
                if not fencing.is_path_not_found(exc):
                    raise  # deterministic failure, not a race
                raise fencing.PinRaceLost(str(exc)) from exc
            if head is None:
                return None, None, lambda _p: df
            pins = sorted({head}.union(*manifest.values()))
            payload = {"versions": pins, "purpose": "snapshot"}
            if ttl is not None:
                # multi-host mode: the pin auto-expires instead of
                # relying on the single-host pid probe (fencing.live_pins)
                payload["lease_ttl_s"] = ttl
            # verify against a FILE-level sentinel: _prune deletes via
            # shutil.rmtree, which removes files before the directory,
            # so a pruner caught MID-rmtree still passes an isdir probe
            # with the data already gone.  Each version's manifest
            # disappears in that same file-removal phase, narrowing the
            # undetected window to rmtree's final rmdir.
            sentinels = [
                os.path.join(self.path, v, MANIFEST_NAME) for v in pins
            ]

            def verify():
                return all(os.path.exists(s) for s in sentinels)

            def finish(pin_path):
                weakref.finalize(df, fencing.release_pin, pin_path)
                return df

            return payload, verify, finish

        return fencing.pin_guarded(
            os.path.join(self.path, PIN_DIR), attempt, what=what
        )

    def _live_pins(self) -> set[str]:
        """Union of versions named by live-holder pin files — see
        fencing.live_pins for the liveness/reaping/corrupt policy."""
        pinned: set[str] = set()
        for pin in fencing.live_pins(os.path.join(self.path, PIN_DIR)):
            pinned.update(pin.get("versions", []))
        return pinned

    def _prune(self, keep: int) -> None:
        # deletions are a commit-point mutation too: a stale writer's
        # version listing may not include the new writer's head, so it
        # must not get to rmtree anything
        if self._fence is not None:
            self._fence.check()
        versions = self._versions()
        # live = the kept heads plus every version their manifests
        # reference — a version dir holds data that NEWER versions
        # inherit by manifest entry (references are direct, never
        # chained: reading v_N touches only v_N's own manifest) — plus
        # every version a live reader pin names, from this or any
        # other process
        live = set(versions[-keep:])
        for v in list(live):
            live.update(*self._manifest(v).values())
        live.update(self._live_pins())
        for stale in versions:
            if stale not in live:
                shutil.rmtree(
                    os.path.join(self.path, stale), ignore_errors=True
                )
        # crash-leftover build dirs: a v_N.tmp at or below the committed
        # head can never be renamed into place (a retry of batch N
        # commits a fresh attempt name and rebuilds its tmp from
        # scratch), so each one strands a copy of its data.  Future-id
        # tmp dirs are left alone — their batch is still in flight.
        if versions:
            head = self._batch_of(versions[-1])
            for d in os.listdir(self.path):
                if not (d.startswith("v_") and d.endswith(".tmp")):
                    continue
                try:
                    n = self._batch_of(d[:-4])
                except ValueError:
                    continue
                if n <= head:
                    shutil.rmtree(
                        os.path.join(self.path, d), ignore_errors=True
                    )
