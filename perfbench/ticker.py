"""Open-loop tick generator, run as its own process.

    python3 perfbench/ticker.py --staged DIR --landing DIR --log FILE \
        --start-at EPOCH_S --rate TICKS_PER_S

Tick i is due at start_at + i / rate, whatever the system under test is
doing.  When it falls due, the i-th pre-staged file is renamed into the
landing directory: both live on one filesystem, so the rename is atomic
and the streaming file source never lists a half-written file.  The
generator stops when the staged files run out or on SIGTERM, then
writes one (tick, due, actual) row per landed tick to the log.
Standard library only, so it starts in a fraction of a second.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import time


def tick_name(i: int) -> str:
    return f"tick-{i:06d}.parquet"


def tick_index(path: str) -> int:
    """Tick number of a landed file path or file:// URI."""
    name = os.path.basename(path)
    return int(name[len("tick-"): -len(".parquet")])


def run_ticks(staged: str, landing: str, log: str, start_at: float,
              rate: float) -> None:
    stop: list[int] = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    rows = []
    os.makedirs(landing, exist_ok=True)
    for name in sorted(os.listdir(staged)):
        due = start_at + tick_index(name) / rate
        while not stop:
            wait = due - time.time()
            if wait <= 0:
                break
            time.sleep(min(wait, 0.05))
        if stop:
            break
        src = os.path.join(staged, name)
        now = time.time()
        # the file source orders and ages files by mtime: stamp landing
        os.utime(src, (now, now))
        os.rename(src, os.path.join(landing, name))
        rows.append((tick_index(name), due, time.time()))
    tmp = log + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rows, f)
    os.replace(tmp, log)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--staged", required=True)
    ap.add_argument("--landing", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--start-at", type=float, required=True)
    ap.add_argument("--rate", type=float, required=True)
    a = ap.parse_args()
    run_ticks(a.staged, a.landing, a.log, a.start_at, a.rate)


if __name__ == "__main__":
    main()
