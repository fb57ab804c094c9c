"""Writer fencing for the engine's on-disk incremental stores.

All three on-disk stores (the keyed-upsert sink, the incremental-dedup
store and the streaming-IVF store, which commit through one manifest
protocol — manifest.py) are SINGLE-writer: the writer is a
foreachBatch body and Structured Streaming guarantees one live query
per checkpoint.  That contract held by documentation only (VERDICT
r17 #1) — the reference got real enforcement for free from HBase
region leases (a zombie region server's RPCs bounce off the new
lease holder).  This module is the parquet-store analogue: an EPOCH
TOKEN file inside the store (placed and acquired by
manifest.ManifestStore.acquire).

Mechanics
---------
- ``WriterFence.acquire(marker)`` bumps the epoch in the token file
  (unique-tmp write + fsync + ``os.replace``, then a read-back that
  raises if a concurrent acquire landed on top — last acquire wins).
- ``fence.check()`` re-reads the token before every commit-point
  mutation (the version rename and the prune's deletions) and raises
  :class:`StaleWriterError` if any newer writer has acquired since.
  A zombie driver that lost a failover therefore fails LOUDLY at its
  next commit instead of interleaving renames with the new driver's.
- ``fence.idle()`` marks the holder's TENURE finished by creating a
  per-tenure sidecar file (``<marker>.idle-<epoch>-<nonce>``; the
  shared token is never rewritten after acquire — rewrites had
  check-then-write clobber races, code-review r19) so out-of-band
  maintenance (``compact_dedup_store``) can distinguish "a drain is
  live" from "a writer once existed"; ``live_writer`` is that
  guard's probe, treating an idled tenure, an expired lease, or (in
  pid mode) a token whose pid is dead as stale.

Guarantee and caveat (same class as any advisory fencing without
compare-and-swap): once a new writer's acquire is durable, every
LATER ``check()`` by an older writer raises — the zombie cannot
start a new commit.  A check that passed immediately before the
usurper's acquire can still finish its in-flight rename (the window
is one syscall); that lands one whole version, which the newer
writer's next listing simply takes as the head (the upsert sink's
retry path then purges by ``batch_id``; an append store's retry of a
committed batch commits nothing).  On a real deployment the
token maps onto a primitive with a true CAS (object-store
conditional PUT / a catalog lock); the call sites here are the part
that carries over.  Liveness has both shapes in-tree (r19): the
default pid probe for single-host, and an opt-in LEASE
(``acquire(..., lease_ttl_s=...)`` + periodic ``heartbeat()``) whose
mtime-within-TTL check carries across machines on any shared
filesystem/object store that exposes modification times.
"""

from __future__ import annotations

import json
import os
import tempfile


class StaleWriterError(RuntimeError):
    """A newer writer has acquired this store's fence token; the
    holder must stop committing (its state view is no longer the
    head's)."""


def _read_token(marker_path: str) -> dict | None:
    """Token dict or None when no writer ever acquired.  A torn token
    cannot happen under the unique-tmp+replace protocol; any unparsable
    content is outside interference and fails the attach loudly."""
    try:
        with open(marker_path) as fh:
            raw = fh.read()
    except FileNotFoundError:
        return None
    try:
        tok = json.loads(raw)
    except ValueError as exc:
        raise ValueError(
            f"corrupt writer token {marker_path!r}: {raw!r} — remove it "
            "only after confirming no writer is live"
        ) from exc
    if not isinstance(tok, dict) or not isinstance(tok.get("epoch"), int):
        raise ValueError(
            f"corrupt writer token {marker_path!r}: {raw!r} — remove it "
            "only after confirming no writer is live"
        )
    return tok


def _write_token(marker_path: str, token: dict) -> None:
    """Unique-tmp + fsync + os.replace: concurrent writers each use
    their OWN tmp (the shared-tmp-name torn-interleave of ADVICE r17
    config.py cannot occur) and a crash mid-write never leaves a
    truncated token at the marker path."""
    d = os.path.dirname(marker_path) or "."
    fd, tmp = tempfile.mkstemp(
        prefix=os.path.basename(marker_path) + ".", dir=d
    )
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(token, fh, sort_keys=True)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, marker_path)
    except BaseException:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
        raise


def _idle_marker(marker_path: str, token: dict) -> str:
    """Per-tenure idle-sidecar path: the tenure identity lives in the
    NAME, so no two tenures ever write the same file."""
    return f"{marker_path}.idle-{token['epoch']}-{token['nonce']}"


class WriterFence:
    """One writer's hold on a store — see module docstring."""

    def __init__(self, marker_path: str, token: dict):
        self.marker_path = marker_path
        self.token = token

    @property
    def epoch(self) -> int:
        return self.token["epoch"]

    @classmethod
    def acquire(
        cls,
        marker_path: str,
        purpose: str = "writer",
        lease_ttl_s: float | None = None,
    ) -> "WriterFence":
        """Become the store's newest writer (bump the epoch).  Raises
        StaleWriterError if a concurrent acquire raced ours out before
        the read-back — the caller simply lost the election and must
        not write.

        ``lease_ttl_s`` (r19) opts into LEASE liveness: the token is
        considered live only while its mtime is within the TTL, and
        the holder must ``heartbeat()`` (any commit cadence well under
        the TTL — a drain's per-batch callback is the natural place)
        to keep it fresh.  This is the multi-host mapping the pid
        heuristic cannot provide: a shared filesystem/object store
        carries mtimes across machines, pids mean nothing there.
        Without a TTL the probe stays pid-based (single-host)."""
        cur = _read_token(marker_path)
        token = {
            "epoch": (cur["epoch"] if cur else 0) + 1,
            "pid": os.getpid(),
            # nonce disambiguates two acquirers that computed the same
            # epoch from the same prior read — the read-back equality
            # then picks exactly one winner
            "nonce": os.urandom(8).hex(),
            "purpose": purpose,
        }
        if lease_ttl_s is not None:
            token["lease_ttl_s"] = float(lease_ttl_s)
        _write_token(marker_path, token)
        back = _read_token(marker_path)
        if back != token:
            raise StaleWriterError(
                f"lost writer election for {marker_path!r}: a concurrent "
                f"acquire ({back and back.get('purpose')!r}) superseded "
                "this one before it could commit anything"
            )
        # housekeeping: idle sidecars of STRICTLY OLDER tenures are
        # dead weight (a sidecar can only ever match its own tenure's
        # token), so sweep them here; a zombie's delayed idle may
        # re-create one afterwards, which stays a dead file until the
        # next acquire sweeps it.  Filters (code-review r19, twice):
        # only epochs BELOW ours — a stalled acquirer's delayed sweep
        # must not delete a NEWER tenure's idle marker and un-idle it;
        # isdecimal, not isdigit, so a junk name cannot crash the
        # acquire that already committed its token (int() rejects the
        # non-ASCII digits isdigit accepts); and FRESH mkstemp temps
        # (random '.suffix') are never unlinked out from under a
        # concurrent idle(), while temps orphaned by a hard kill —
        # which nothing else ever reclaims — age out after an hour.
        import time

        d = os.path.dirname(marker_path) or "."
        prefix = os.path.basename(marker_path) + ".idle-"
        now = time.time()
        for name in os.listdir(d):
            if not name.startswith(prefix):
                continue
            path = os.path.join(d, name)
            ep, _, nonce = name[len(prefix):].partition("-")
            if ep.isdecimal() and nonce and "." not in nonce:
                # committed per-tenure shape: epoch guard
                if int(ep) >= token["epoch"]:
                    continue
            else:
                # temp/junk shape: age out only (a live idle()'s
                # in-flight temp is milliseconds old)
                try:
                    if now - os.stat(path).st_mtime < 3600:
                        continue
                except FileNotFoundError:
                    continue
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass
        return cls(marker_path, token)

    def check(self) -> None:
        """Raise StaleWriterError unless this fence is still the
        store's newest writer.  Call immediately before every
        commit-point mutation."""
        back = _read_token(self.marker_path)
        # nothing rewrites the token after acquire (idle is a sidecar,
        # heartbeat a utime), so identity on the tenure fields is the
        # whole test; any difference means a newer acquire
        if back is None or any(
            back.get(k) != self.token[k] for k in ("epoch", "pid", "nonce")
        ):
            raise StaleWriterError(
                f"writer fence for {self.marker_path!r} is stale (held "
                f"epoch {self.epoch}, on-disk "
                f"{back and back.get('epoch')}): a newer writer attached; "
                "this writer must stop — its next restart will re-attach "
                "behind the new head"
            )

    def idle(self) -> None:
        """Mark this holder's tenure inactive (drain finished; epoch
        kept) so maintenance's live-writer guard stops refusing.
        Checks first: a stale holder must not idle someone else's
        tenure.  Published as a PER-TENURE sidecar file
        (``<marker>.idle-<epoch>-<nonce>``), never by rewriting the
        shared token and never through a shared sidecar either
        (code-review r19, twice: any shared-file rewrite after a
        content check has the check-then-write clobber race — a
        zombie's delayed write overwrites the current tenure's state;
        a file whose NAME is the tenure can only ever mark its own
        tenure, so a delayed zombie write creates a dead file that no
        live token matches)."""
        self.check()
        _write_token(_idle_marker(self.marker_path, self.token), {})

    def heartbeat(self) -> None:
        """Refresh the lease by bumping the token file's MTIME
        (os.utime), never by rewriting its content: a rewrite would
        re-open the acquire race without acquire's read-back — a
        stale holder whose check() passed just before a usurper's
        acquire landed could clobber the new token, resurrecting the
        zombie and fencing out the legitimate writer (code-review
        r19).  With utime the worst case of that window is freshening
        the USURPER's lease — benign, it is the live writer anyway.
        Checks first, so a known-stale holder raises instead of
        renewing at all.  A fence acquired WITHOUT ``lease_ttl_s``
        only checks (no touch): call sites can heartbeat
        unconditionally per batch and pid-mode fences pay one read,
        not a write."""
        self.check()
        if "lease_ttl_s" in self.token:
            try:
                os.utime(self.marker_path, None)
            except FileNotFoundError:
                # tokens are never deleted; a vanished marker means
                # outside interference — the holder must stop
                raise StaleWriterError(
                    f"writer token {self.marker_path!r} disappeared "
                    "under a live lease holder"
                ) from None


def pid_alive(pid) -> bool:
    """Single-host pid-liveness probe (says nothing across machines —
    a multi-host deployment maps this onto a lease TTL; pid REUSE can
    also report a crashed holder as alive until the recycled pid
    exits, the standard caveat of any pid heuristic).  Shared by the
    fence's live-writer guard and the upsert sink's durable snapshot
    pins so the two liveness policies cannot drift."""
    if not isinstance(pid, int):
        return True  # unknown shape: assume alive (conservative)
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # pid exists but is not ours — still alive
    return True


def write_pin(pin_dir: str, payload: dict) -> str:
    """Durably publish a reader pin file (unique name, unique-tmp +
    fsync + replace) and return its path.  A pin names store VERSIONS
    that no prune may delete while the holder is live; ``live_pins``
    is the reading side.  Shared by every store's version pin
    (manifest.ManifestStore._snapshot)."""
    os.makedirs(pin_dir, exist_ok=True)
    path = os.path.join(
        pin_dir, f"pin-{os.getpid()}-{os.urandom(8).hex()}.json"
    )
    _write_token(path, {**payload, "pid": os.getpid()})
    return path


def release_pin(pin_path: str) -> None:
    """Drop a pin file.  Module-level so weakref.finalize callbacks
    keep no object graph alive; tolerates a pruner having already
    reaped it (holder pid looked dead)."""
    try:
        os.remove(pin_path)
    except FileNotFoundError:
        pass


class PinRaceLost(Exception):
    """A pin attempt observed state vanishing under it (a pruner won
    the listing-to-pin window); ``pin_guarded`` retries the attempt
    against the store's new head."""


def is_path_not_found(exc) -> bool:
    """True when a Spark AnalysisException is the missing-path class —
    the ONLY AnalysisException shape a pin race can produce (a pruner
    deleted a listed path before the plan's file index resolved).
    Everything else (schema mismatch, conflicting basePath, ...) is
    deterministic: converting it to PinRaceLost would retry a
    permanent failure 5 times and misreport it as a race
    (code-review r19)."""
    for probe in ("getCondition", "getErrorClass"):
        get = getattr(exc, probe, None)
        if callable(get):
            try:
                name = get()
            except Exception:
                continue
            if name:
                return "PATH_NOT_FOUND" in str(name)
    return "PATH_NOT_FOUND" in str(exc)


def pin_guarded(pin_dir: str, attempt, attempts: int = 5, what: str = "pinned read"):
    """The publish-then-verify pin protocol of the shared version pin
    (manifest.ManifestStore._snapshot — the upsert sink's snapshot()
    and the dedup/IVF stores' pinned_store_read).

    ``attempt()`` returns ``(payload, verify, finish)``:

    - ``payload is None`` → nothing to pin (empty store); return
      ``finish(None)`` immediately.
    - otherwise the payload is durably published via ``write_pin``,
      ``verify()`` re-checks the pinned resources still exist AFTER
      the pin landed (a deleter that raced the listing-to-pin window
      fails the verify), and on success ``finish(pin_path)`` builds
      and returns the caller's result.  A failed verify — or
      ``attempt``/``verify``/``finish`` raising :class:`PinRaceLost`
      (e.g. a path-not-found from a plan built over a just-pruned
      listing) — drops the pin and retries from a fresh listing.

    Once a verify passes, any LATER deletion pass's pin read sees the
    file; the residual window is a deleter whose pin read predates
    the pin but whose unlink follows the verify — bounded by that
    deleter's listing-to-unlink span (the advisory-file analogue of
    the fence's one-syscall in-flight window) and closed for real
    deployments by the pin-TTL retention horizon
    (spark.kss.store.pinTtlSec)."""
    last: PinRaceLost | None = None
    for _ in range(attempts):
        try:
            payload, verify, finish = attempt()
        except PinRaceLost as exc:
            last = exc
            continue
        if payload is None:
            return finish(None)
        path = write_pin(pin_dir, payload)
        # ANY exception out of verify/finish must not leak the pin —
        # a lingering pid-mode pin blocks prunes for the whole
        # driver lifetime (code-review r19); PinRaceLost
        # retries, everything else re-raises after the release.
        try:
            ok = verify()
            if ok:
                return finish(path)
        except PinRaceLost as exc:
            release_pin(path)
            last = exc
            continue
        except BaseException:
            release_pin(path)
            raise
        release_pin(path)
    # chain the last race so a DETERMINISTIC failure surfaced as
    # PinRaceLost (a mis-filtered error, a genuinely broken store) is
    # visible in the traceback instead of masquerading as a race
    raise RuntimeError(
        f"{what}: lost the pin race {attempts} times — deletion is "
        "outrunning pinning (keep window or maintenance cadence too "
        "aggressive for concurrent readers?)"
    ) from last


def live_pins(pin_dir: str) -> list[dict]:
    """Every pin in ``pin_dir`` whose holder is plausibly live; stale
    pins are reaped in passing (crash backstop — a reader that dies
    without releasing must not pin forever).  Liveness mirrors the
    writer fence's two modes: a pin carrying ``lease_ttl_s`` is live
    while its file mtime is within the TTL (host-agnostic; the pin
    auto-expires — a reader that must hold longer re-pins, the
    retention-window contract of any vacuumed table format), else the
    single-host pid probe applies (pid REUSE merely delays reaping,
    and pins gate only deletions, never correctness).  A pin file
    that does not parse is outside interference and fails LOUDLY —
    silently ignoring it could let a pruner delete a live reader's
    versions."""
    import time

    out: list[dict] = []
    try:
        names = os.listdir(pin_dir)
    except FileNotFoundError:
        return out
    now = time.time()
    for name in sorted(names):
        if not (name.startswith("pin-") and name.endswith(".json")):
            # in-flight tmp from _write_token (`pin-….json.XXXXXX`) or
            # junk.  A LIVE write_pin's temp is milliseconds old; one
            # orphaned by a hard kill is reclaimed by nothing else, so
            # age it out after an hour (ADVICE r19 — the same rule the
            # fence acquire sweep applies to orphaned idle temps).
            # Only write_pin's own temp shape is swept: foreign
            # entries (a subdirectory, an unwritable file) must never
            # crash the pin listing that every prune/compaction rides
            # on (code-review r20), so anything else is left alone and
            # unlink failures are swallowed.
            if not name.startswith("pin-"):
                continue
            p = os.path.join(pin_dir, name)
            try:
                if os.path.isfile(p) and now - os.stat(p).st_mtime >= 3600:
                    os.unlink(p)
            except OSError:
                pass
            continue
        p = os.path.join(pin_dir, name)
        try:
            with open(p) as fh:
                raw = fh.read()
        except FileNotFoundError:
            continue  # released between listdir and open
        try:
            pin = json.loads(raw)
        except ValueError as exc:
            raise ValueError(
                f"corrupt snapshot pin {p!r} — remove it only after "
                "confirming no reader holds that snapshot"
            ) from exc
        ttl = pin.get("lease_ttl_s")
        if ttl is not None:
            try:
                fresh = time.time() - os.stat(p).st_mtime <= ttl
            except FileNotFoundError:
                continue  # released under us
            if fresh:
                out.append(pin)
            else:
                release_pin(p)
        elif pid_alive(pin.get("pid")):
            out.append(pin)
        else:
            release_pin(p)
    return out


def live_writer(marker_path: str) -> dict | None:
    """The store's writer token if it plausibly belongs to a LIVE
    writer: its tenure not marked idle (the ``.idle-`` sidecar naming
    this exact epoch+nonce — see WriterFence.idle), plus liveness — a
    LEASE check when the token carries ``lease_ttl_s`` (mtime within
    TTL; authoritative and host-agnostic, r19), else the pid probe
    (``pid_alive``, see its single-host caveat).  Used by
    ``compact_dedup_store`` to refuse running beside a live drain
    rather than silently fencing it out."""
    import time

    tok = _read_token(marker_path)
    if not tok or os.path.exists(_idle_marker(marker_path, tok)):
        return None  # never acquired, or this tenure finished cleanly
    ttl = tok.get("lease_ttl_s")
    if ttl is not None:
        try:
            mtime = os.stat(marker_path).st_mtime
        except FileNotFoundError:
            return None
        if time.time() - mtime > ttl:
            return None  # lease expired: holder stopped heartbeating
        return tok
    if not pid_alive(tok.get("pid")):
        return None  # holder crashed without idle(); token is stale
    return tok
