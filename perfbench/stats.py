"""Pure helpers shared by the benchmark processes: percentiles, the
checkpoint's tick-to-batch map, and failure accounting.

No Spark and no third-party imports, so the helpers are cheap to test
(`python3 -m pytest perfbench/tests`).
"""

from __future__ import annotations

import json
import math
import os

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank of the pct-th percentile among n samples
    (rounded first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(pct / 100.0 * n, 9)))


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    pct% of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(pct, len(values)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ten samples
    beyond it among n samples, or None when n is too small for any."""
    for pct in TAIL_PERCENTILES:
        if n - _rank(pct, n) >= 10:
            return pct
    return None


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def weighted_percentile(samples: list[tuple[float, int]], pct: float) -> float:
    """Nearest-rank percentile of values each repeated `count` times,
    without expanding them: a pass's wall time weighted by the events
    it completed."""
    total = sum(c for _, c in samples)
    if total <= 0:
        raise ValueError("percentile of no samples")
    rank = _rank(pct, total)
    seen = 0
    for value, count in sorted(samples):
        seen += count
        if seen >= rank:
            return value
    return sorted(samples)[-1][0]


def busy_throughput(batches: list) -> float:
    """Events per second of batch wall time over (batch, events,
    seconds) rows: the rate the engine sustains while it is busy, which
    an open loop offered below capacity would not show."""
    busy = sum(sec for _, _, sec in batches)
    if busy <= 0:
        raise ValueError("no busy time")
    return sum(n for _, n, _ in batches) / busy


def _log_entries(path: str) -> list[dict]:
    """JSON entries of one metadata-log file (first line is the
    version header)."""
    with open(path) as f:
        lines = f.read().splitlines()
    return [json.loads(line) for line in lines[1:] if line.strip()]


def file_batches(source_log_dir: str) -> dict[str, int]:
    """Map each file the streaming file source took to its batch id.

    The source log holds one file per batch (`N`) and, every
    compaction interval, an `N.compact` file that replaces the earlier
    ones and repeats their entries, each still tagged with its own
    `batchId`.  Reading only the numbered files loses every batch that
    a compact file folded in."""
    out: dict[str, int] = {}
    if not os.path.isdir(source_log_dir):
        return out
    for name in os.listdir(source_log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue  # .crc and temp files
        for e in _log_entries(os.path.join(source_log_dir, name)):
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(commits_dir: str) -> dict[int, float]:
    """Batch id -> mtime of its checkpoint commit file: the moment the
    batch's sink output became durable and the batch was done."""
    out: dict[int, float] = {}
    if not os.path.isdir(commits_dir):
        return out
    for name in os.listdir(commits_dir):
        if name.isdigit():
            out[int(name)] = os.path.getmtime(os.path.join(commits_dir, name))
    return out


def tick_latencies(
    ticks: list[tuple[int, float, float]],
    batch_of_file: dict[str, int],
    committed_at: dict[int, float],
    name_of_tick,
) -> tuple[list[float], list[int]]:
    """Latency of each (tick, due, actual) row: due time to the commit
    of the batch holding the tick's file.  Returns the latencies and
    the ticks that no committed batch holds."""
    lat, missing = [], []
    for tick, due, _actual in ticks:
        b = batch_of_file.get(name_of_tick(tick))
        if b is None or b not in committed_at:
            missing.append(tick)
        else:
            lat.append(committed_at[b] - due)
    return lat, missing


class Ledger:
    """Operations attempted and failed in one run.  An operation is a
    tick, a pass, or an output check; each one that fails counts once."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.problems.append(what)
        return ok

    def ops(self, n_ok: int, failures: list[str]) -> None:
        self.attempted += n_ok + len(failures)
        self.failed += len(failures)
        self.problems.extend(failures)

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0
