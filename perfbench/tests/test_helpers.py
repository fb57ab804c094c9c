"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

import gen
import stats
from ticker import tick_index, tick_name


# --- the percentile rule -------------------------------------------------------
def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([7.0], 99.9) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(10, None), (20, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        rank = stats.percentile(list(range(n)), want)  # 0-based value = rank-1
        assert n - (rank + 1) >= 10


def test_median_and_weighted_percentile():
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert stats.median([5.0]) == 5.0
    # two passes of 1000 events: p90 of the events is the slower pass
    assert stats.weighted_percentile([(8.0, 1000), (9.0, 1000)], 90) == 9.0
    assert stats.weighted_percentile([(8.0, 1000), (9.0, 1000)], 50) == 8.0
    assert stats.weighted_percentile([(8.0, 1000), (9.0, 10)], 90) == 8.0


def test_busy_throughput():
    assert stats.busy_throughput([(0, 100, 0.5), (1, 300, 1.5)]) == 200.0
    with pytest.raises(ValueError):
        stats.busy_throughput([])


# --- tick -> batch mapping with compact files ---------------------------------------
def _write_log(path: str, entries: list[tuple[str, int]]) -> None:
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///landing/{name}",
                                "timestamp": 0, "batchId": batch}) + "\n")


def test_file_batches_reads_compact_files(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    # batches 0..9 folded into 9.compact; 10 and 11 are plain files;
    # checksum and temp files sit beside them
    folded = [(tick_name(2 * b + k), b) for b in range(10) for k in (0, 1)]
    _write_log(str(src / "9.compact"), folded)
    _write_log(str(src / "10"), [(tick_name(20), 10), (tick_name(21), 10)])
    _write_log(str(src / "11"), [(tick_name(22), 11)])
    (src / ".11.crc").write_text("x")
    (src / ".12.tmp").write_text("partial")
    got = stats.file_batches(str(src))
    assert len(got) == 23
    assert got[tick_name(0)] == 0 and got[tick_name(19)] == 9
    assert got[tick_name(21)] == 10 and got[tick_name(22)] == 11
    # numbered files alone would have lost every folded batch
    plain = {n for n in os.listdir(src) if n.isdigit()}
    assert plain == {"10", "11"}


def test_tick_latencies_and_missing(tmp_path):
    commits = tmp_path / "commits"
    commits.mkdir()
    for b, t in [(0, 105.0), (1, 107.0)]:
        p = commits / str(b)
        p.write_text("v1\n{}")
        os.utime(p, (t, t))
    (commits / ".1.crc").write_text("x")
    committed = stats.commit_times(str(commits))
    assert committed == {0: 105.0, 1: 107.0}
    batch_of = {tick_name(0): 0, tick_name(1): 1, tick_name(2): 2}
    ticks = [(0, 100.0, 100.001), (1, 104.0, 104.002), (2, 106.0, 106.0),
             (3, 106.5, 106.5)]
    lat, missing = stats.tick_latencies(ticks, batch_of, committed, tick_name)
    assert lat == [5.0, 3.0]
    assert missing == [2, 3]  # batch 2 uncommitted; tick 3 never taken


def test_tick_names_round_trip():
    assert tick_index("file:///x/landing/" + tick_name(42)) == 42
    assert sorted(tick_name(i) for i in (10, 9, 100)) == [
        tick_name(9), tick_name(10), tick_name(100)]


# --- failed_share accounting ------------------------------------------------------------
def test_ledger_counts_every_failure_once():
    led = stats.Ledger()
    led.ops(98, ["tick 7 uncommitted", "tick 8 uncommitted"])
    led.op(True, "check conservation")
    led.op(False, "check sink_keys: 50 sink keys, 51 expected")
    assert (led.attempted, led.failed) == (102, 3)
    assert led.failed_share == pytest.approx(3 / 102)
    assert not led.correct
    assert led.problems[-1].startswith("check sink_keys")


def test_ledger_clean_run_and_empty_run():
    led = stats.Ledger()
    led.ops(2, [])
    led.op(True)
    assert led.correct and led.failed_share == 0.0
    empty = stats.Ledger()
    assert not empty.correct and empty.failed_share == 1.0


def test_account_counts_raised_passes_and_stream_failures():
    import run

    res = {"pass_s": [7.5, 7.8], "errors": ["pass raised RuntimeError: x"],
           "passes_agree": True}
    led = run.account("stateful_drain", res, [["oracle", True, ""]])
    assert (led.attempted, led.failed) == (5, 1)
    assert led.problems == ["pass raised RuntimeError: x"]
    res = {"measured_ticks": 60, "uncommitted_ticks": [58, 59],
           "stream_error": "boom"}
    led = run.account("ingest_open_loop", res, [["conservation", True, ""]])
    assert (led.attempted, led.failed) == (62, 3)
    assert led.problems[-1] == "stream failed: boom"


def test_e2e_tail_follows_the_tail_rule():
    import run

    lat = [float(i) for i in range(1, 61)]  # 60 ticks: p75 is the tail
    res = {"latencies_s": lat, "setup_s": 30.0, "lateness_s": [0.001],
           "busy_batches": [[3, 1000, 2.0], [4, 1000, 2.0]],
           "warmup_batch_s": [2.5, 2.4]}
    m, note = run.e2e_metrics("ingest_open_loop", res)
    assert m["latency_tail_s"] == 45.0 and m["latency_p50_s"] == 30.5
    assert m["events_per_s"] == 500.0 and "tail p75" in note
    m, note = run.e2e_metrics("ingest_open_loop", dict(res, latencies_s=lat[:20]))
    assert m["latency_tail_s"] == 20.0 and "tail p100" in note
    res = {"pass_s": [8.0, 9.0], "events_per_pass": 1000, "setup_s": 40.0,
           "warmup_pass_s": [20.0]}
    m, note = run.e2e_metrics("stateful_drain", res)
    assert m["latency_tail_s"] == 9.0 and "tail p99;" in note


# --- generator determinism per seed --------------------------------------------------
P_INGEST = {"events_per_tick": 50, "n_users": 500, "user_skew": 1.1,
            "in_tick_dup_share": 0.2}
P_STATE = {"n_events": 2000, "n_users": 100, "user_skew": 1.0}


def _tables(d):
    return [pq.read_table(os.path.join(d, n)) for n in sorted(os.listdir(d))]


def test_ticks_same_seed_same_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for seed, d in ((7, a), (7, b), (8, c)):
        gen.stage_ticks(seed, P_INGEST, 5, d, d + "-primer")
    ta, tb, tc = (_tables(d + "-primer") + _tables(d) for d in (a, b, c))
    assert sorted(os.listdir(a)) == [tick_name(i) for i in range(5)]
    assert all(x.equals(y) for x, y in zip(ta, tb))
    assert not all(x.equals(y) for x, y in zip(ta, tc))
    ids = [i for t in ta for i in t.column("event_id").to_pylist()]
    assert ids == list(range(300))  # primer first, then the ticks


def test_events_same_seed_same_inputs(tmp_path):
    paths = [str(tmp_path / f"{k}/events.parquet") for k in range(3)]
    for seed, path in zip((3, 3, 4), paths):
        gen.write_events(seed, P_STATE, path)
    t0, t1, t2 = (pq.read_table(p) for p in paths)
    assert t0.equals(t1) and not t0.equals(t2)
    assert t0.schema.equals(gen.EVENTS_SCHEMA)
    ts = t0.column("ts").to_pylist()
    assert ts == sorted(ts)


def test_ticks_carry_null_keys_and_in_tick_duplicates(tmp_path):
    d = str(tmp_path / "s")
    gen.stage_ticks(1, P_INGEST, 20, d, str(tmp_path / "p"))
    rows = [
        list(zip(t.column("user_id").to_pylist(),
                 t.column("event_type").to_pylist()))
        for t in _tables(d)
    ]
    keys = [gen.message_key(u) for r in rows for u, _ in r]
    assert None in keys
    assert any(len({(gen.message_key(u), v) for u, v in r}) < len(r)
               for r in rows)


def test_message_key_matches_the_program_rule():
    assert gen.message_key(38) is None  # 38 % 19 == 0
    assert gen.message_key(51) == "1"
    assert gen.message_key(0) is None


# --- output checks ---------------------------------------------------------------------
def _ingest_work(tmp_path, n_ticks=3):
    """A work directory as a finished ingest run leaves it: landed tick
    files and a result whose summaries and sink keys match them."""
    import check

    work = tmp_path / "work"
    gen.stage_ticks(3, P_INGEST, n_ticks, str(work / "landing"),
                    str(work / "primer"))
    names = sorted(os.listdir(work / "landing"))
    batch_of = {n: i // 2 for i, n in enumerate(names)}
    summaries, keys = [], set()
    for b in sorted(set(batch_of.values())):
        ev = [
            (u, v)
            for n in names if batch_of[n] == b
            for u, v in zip(*pq.read_table(
                work / "landing" / n, columns=["user_id", "event_type"]
            ).to_pydict().values())
        ]
        summaries.append([b, len(ev), len({(gen.message_key(u), v)
                                            for u, v in ev})])
        keys |= {gen.message_key(u) or check.NULL_SENTINEL for u, _ in ev}
    res = {"batch_of_file": batch_of, "summaries": summaries,
           "landed_before_last_listing": names, "sink_keys": sorted(keys)}
    return work, res


def _run_check(work, res, workload="ingest_open_loop"):
    import check

    (work / "result.json").write_text(json.dumps(res))
    return {name: ok for name, ok, _ in check.CHECKS[workload](str(work))}


def test_check_ingest_passes_a_consistent_run_and_catches_errors(tmp_path):
    work, res = _ingest_work(tmp_path)
    got = _run_check(work, res)
    assert got["batch_summaries"] and got["conservation"]
    # 150 events over 500 Zipf users cannot cover all 50 keys
    assert not got["sink_keys"]
    bad = dict(res, summaries=[[b, n + 1, nd] for b, n, nd in res["summaries"]])
    got = _run_check(work, bad)
    assert not got["batch_summaries"] and not got["conservation"]
    lost = dict(res, sink_keys=res["sink_keys"][1:])
    assert not _run_check(work, lost)["sink_keys"]
    # a file landed before the last listing but in no committed batch
    dropped = dict(res, landed_before_last_listing=(
        res["landed_before_last_listing"] + ["tick-999999.parquet"]))
    assert not _run_check(work, dropped)["conservation"]


def test_check_stateful_compares_with_the_oracle(tmp_path):
    work = tmp_path / "work"
    gen.write_events(5, P_STATE, str(work / "input" / "events.parquet"))
    (work / "oracle.sql").write_text(
        "SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id")
    t = pq.read_table(work / "input" / "events.parquet")
    counts: dict[int, int] = {}
    for u in t.column("user_id").to_pylist():
        counts[u] = counts.get(u, 0) + 1
    rows = [[n, u] for u, n in counts.items()]  # other column order
    out = {"columns": ["n_events", "user_id"], "rows": rows}
    (work / "output.json").write_text(json.dumps(out))
    assert _run_check(work, {}, "stateful_drain") == {"oracle": True}
    rows[0][0] += 1
    (work / "output.json").write_text(json.dumps(out))
    assert _run_check(work, {}, "stateful_drain") == {"oracle": False}
