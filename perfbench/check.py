"""Output checks, run as their own process after Spark has exited.

    python3 perfbench/check.py --workload NAME --work DIR

Prints one JSON object {"checks": [[name, ok, detail], ...]}.

- ingest_open_loop: every committed batch's (n, distinct) summary
  equals a count over the tick files the checkpoint says that batch
  took; the summed n equals the events of those files, and every file
  that landed before the last committed batch listed the directory is
  in one of them (conservation); the sink's bulk keys are exactly the
  message keys of those events (null keys as the sentinel).
- stateful_drain: the drained per-user stats equal the registered
  DuckDB oracle for `s_stateful_user_stats` (its SQL saved by
  measure.py from the program's ORACLES registry) over the same input
  file.
"""

from __future__ import annotations

import argparse
import json
import os

NULL_SENTINEL = "kafka empty message"


def check_ingest(work: str) -> list[list]:
    import pyarrow.parquet as pq

    from gen import message_key

    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    landing = os.path.join(work, "landing")
    by_batch: dict[int, list[tuple]] = {}
    for name, b in res["batch_of_file"].items():
        t = pq.read_table(os.path.join(landing, name),
                          columns=["user_id", "event_type"])
        by_batch.setdefault(b, []).extend(
            zip(t.column("user_id").to_pylist(),
                t.column("event_type").to_pylist()))
    want = {
        b: (len(ev), len({(message_key(u), v) for u, v in ev}))
        for b, ev in by_batch.items()
    }
    got = {b: (n, nd) for b, n, nd in res["summaries"]}
    bad = sorted(b for b in want if got.get(b) != want[b])
    checks = [["batch_summaries", not bad and len(got) == len(want),
               f"{len(bad)} of {len(want)} batches differ" if bad else
               f"{len(want)} batches"]]
    taken = sum(len(ev) for ev in by_batch.values())
    summed = sum(n for _, n, _ in res["summaries"])
    lost = sorted(set(res["landed_before_last_listing"])
                  - set(res["batch_of_file"]))
    checks.append(["conservation", summed == taken and not lost,
                   f"summed n {summed}, events in committed batches "
                   f"{taken}, landed files never taken {len(lost)}"])
    keys = {
        message_key(u) or NULL_SENTINEL
        for ev in by_batch.values() for u, _ in ev
    }
    sink = set(res["sink_keys"])
    checks.append(["sink_keys", sink == keys and len(keys) == 51,
                   f"{len(sink)} sink keys, {len(keys)} expected"])
    return checks


def canon(rows: list) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


def check_stateful(work: str) -> list[list]:
    import duckdb

    with open(os.path.join(work, "output.json")) as f:
        out = json.load(f)
    with open(os.path.join(work, "oracle.sql")) as f:
        oracle_sql = f.read()
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    try:
        path = os.path.join(work, "input", "events.parquet")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        cur = con.execute(oracle_sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    if sorted(cols) != sorted(out["columns"]):
        return [["oracle", False, f"columns {out['columns']} vs {cols}"]]
    order = [cols.index(c) for c in out["columns"]]
    want = canon([[r[i] for i in order] for r in rows])
    got = canon(out["rows"])
    diff = [(a, b) for a, b in zip(got, want) if a != b][:1]
    return [["oracle", got == want,
             f"{len(got)} rows, oracle {len(want)}"
             + (f"; first diff {diff[0]}" if diff else "")]]


CHECKS = {"ingest_open_loop": check_ingest, "stateful_drain": check_stateful}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CHECKS))
    ap.add_argument("--work", required=True)
    a = ap.parse_args()
    print(json.dumps({"checks": CHECKS[a.workload](a.work)}))


if __name__ == "__main__":
    main()
