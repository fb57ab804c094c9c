"""The measured process: one workload in one Spark session.

    python3 perfbench/measure.py --workload NAME --work DIR --seconds S \
        --trace 0|1 --t0 EPOCH_S

`run.py` starts it with the environment the run needs (TMPDIR,
PYTHONPATH, SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM) after writing
the inputs into DIR, and reads DIR/result.json when it exits.  `--t0`
is the moment run.py spawned this process, so `setup_s` covers
interpreter start, imports, session start and warm-up.

With --trace 1 the same work runs with tracing on: a
StreamingQueryListener keeps each batch's progress, wrappers around
the benchmark's own pipeline and sink instances time their calls, the
status tracker counts jobs, and the Spark event log is parsed after
the session stops.  Spans stay in memory until the end of the run.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import subprocess
import sys
import time
from contextlib import contextmanager
from datetime import datetime

import stats
from gen import PRIMER
from ticker import tick_name

HERE = os.path.dirname(os.path.abspath(__file__))


class Tracer:
    """In-memory spans (name, start, end, parent, run id) and counters.
    Disabled, every call is a no-op."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.phase = "setup"

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        t = time.time()
        try:
            yield
        finally:
            if self.enabled:
                self.spans.append({
                    "name": name, "start": t, "end": time.time(),
                    "parent": parent or self.phase, "run_id": self.run_id,
                })

    def wrap(self, obj, method: str, name: str, parent: str, jobs=None):
        """Replace obj.method on this instance with a timed wrapper;
        `jobs` (a callable returning the job ids so far) adds the
        number of jobs the call ran to its span."""
        inner = getattr(obj, method)

        def timed(*a, **kw):
            before = set(jobs()) if jobs else set()
            t = time.time()
            try:
                return inner(*a, **kw)
            finally:
                span = {"name": name, "start": t, "end": time.time(),
                        "parent": parent, "run_id": self.run_id}
                if jobs:
                    span["jobs"] = len(set(jobs()) - before)
                self.spans.append(span)

        setattr(obj, method, timed)

    def durations_ms(self, name: str, start: float, end: float) -> list[float]:
        return [
            1000.0 * (s["end"] - s["start"])
            for s in self.spans
            if s["name"] == name and start <= s["start"] < end
        ]


def add_progress_listener(spark, tracer: Tracer) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            tracer.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Progress())


def start_session(work: str, trace: bool, tracer: Tracer):
    from kafka_spark_streaming_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.time()
    spark = get_spark(extra_conf=conf)
    get_spark_s = time.time() - t
    t = time.time()
    spark.range(1000).selectExpr("sum(id)").collect()
    first_job_s = time.time() - t
    if trace:
        add_progress_listener(spark, tracer)
    return spark, {"session.get_spark_s": get_spark_s,
                   "session.first_job_s": first_job_s}


def agree(a: float, b: float, tol: float) -> bool:
    return abs(a - b) <= tol * max(a, b)


# --- ingest_open_loop ------------------------------------------------------
def batch_timestamp_ms(ckpt: str, batch: int) -> int:
    """The trigger time Spark logged for a batch in its WAL entry."""
    with open(os.path.join(ckpt, "offsets", str(batch))) as f:
        return json.loads(f.read().splitlines()[1])["batchTimestampMs"]


def batch_durations(ckpt: str) -> list[tuple[int, float]]:
    """(batch, wall time) of each committed batch, from its WAL
    (offsets/N) write to its commit (commits/N) write, in batch order."""
    commits = stats.commit_times(os.path.join(ckpt, "commits"))
    out = []
    for b in sorted(commits):
        off = os.path.join(ckpt, "offsets", str(b))
        if os.path.exists(off):
            out.append((b, commits[b] - os.path.getmtime(off)))
    return out


def ingest_open_loop(spark, p, work, seconds, tracer, t0):
    from kafka_spark_streaming_spark.sources.files import file_stream_messages
    from kafka_spark_streaming_spark.streaming.pipeline import (
        StreamerConfig,
        StreamerPipeline,
    )

    landing = os.path.join(work, "landing")
    ckpt = os.path.join(work, "ckpt")
    src_log = os.path.join(ckpt, "sources", "0")
    log = os.path.join(work, "ticks.json")
    trig = p["trigger_s"]
    rate = p["tick_rate_per_s"]
    # the primer lands first: the file source probes its schema from a
    # landed file, and the cold first batch runs before the open loop
    # starts, so its backlog does not leak into the measured window
    os.makedirs(landing)
    os.rename(os.path.join(work, "primer", PRIMER),
              os.path.join(landing, PRIMER))
    pipe = StreamerPipeline(spark, StreamerConfig(
        table_path=os.path.join(work, "sink"), bulk=True))
    run_id: list[str] = []
    if tracer.enabled:
        # wrapped before start: foreachBatch binds the method then
        tracker = spark.sparkContext.statusTracker()
        tracer.wrap(pipe, "process_batch", "pipeline.process_batch",
                    "streaming.batch",
                    jobs=lambda: tracker.getJobIdsForGroup(run_id[0]))
        tracer.wrap(pipe.sink, "write_batch", "sinks.upsert.write_batch",
                    "pipeline.process_batch")
    query = pipe.start(file_stream_messages(spark, landing), ckpt,
                       available_now=False, interval=f"{trig} seconds")
    # micro-batch jobs run in a job group named after the run id
    run_id.append(str(query.runId))
    stream_error: list[str] = []

    def wait_for(done, until: float) -> None:
        while not stream_error and not done() and time.time() < until:
            if query.exception() is not None:
                stream_error.append(str(query.exception()))
            time.sleep(0.05)

    wait_for(lambda: batch_durations(ckpt), time.time() + 60)
    # Processing-time triggers fire on multiples of the interval since
    # the epoch.  Ticks fall due half a tick period off that grid, so a
    # tick never races the directory listing of the batch that takes it,
    # and each batch takes the ticks due in the trigger period before it.
    period = 1.0 / rate
    start_at = (math.ceil((time.time() + 0.3) / period) + 0.5) * period
    ticker = subprocess.Popen([
        sys.executable, os.path.join(HERE, "ticker.py"),
        "--staged", os.path.join(work, "staged"), "--landing", landing,
        "--log", log, "--start-at", repr(start_at), "--rate", str(rate),
    ])
    try:
        warm: list[float] = []

        def steady() -> bool:
            warm[:] = [d for _, d in batch_durations(ckpt)[1:]]
            return len(warm) >= p["warmup_min_batches"] and agree(
                warm[-2], warm[-1], p["warmup_agree"])

        wait_for(steady, time.time() + p["warmup_max_s"])
        ready = time.time()
        setup_s = ready - t0
        tracer.phase = "measure"
        # the window is whole trigger periods from the last trigger
        # before warm-up ended: the ticks due in it are exactly those of
        # the batches that start after warm-up, all full, and the last
        # of them starts when the window ends
        m0 = math.floor(ready / trig) * trig
        m1 = m0 + trig * max(1, round(seconds / trig))
        first, end = (math.ceil((m - start_at) * rate) for m in (m0, m1))
        measured_names = [tick_name(i) for i in range(first, end)]

        def measured_committed() -> bool:
            files = stats.file_batches(src_log)
            commits = stats.commit_times(os.path.join(ckpt, "commits"))
            return all(files.get(n) in commits for n in measured_names)

        time.sleep(max(0.0, m1 - time.time()))
        wait_for(measured_committed, m1 + p["drain_deadline_s"])
        ticker.terminate()
        ticker.wait(timeout=30)
    finally:
        if ticker.poll() is None:
            ticker.kill()
        ticker.wait()
        query.stop()
    with open(log) as f:
        ticks = [tuple(r) for r in json.load(f)]
    committed_at = stats.commit_times(os.path.join(ckpt, "commits"))
    batch_of_file = {n: b for n, b in stats.file_batches(src_log).items()
                     if b in committed_at}
    measured = [t for t in ticks if first <= t[0] < end]
    lat, missing = stats.tick_latencies(
        measured, batch_of_file, committed_at, tick_name)
    missing = sorted(set(missing) | set(range(first, end))
                     - {t for t, _, _ in measured})
    sink_rows = (
        pipe.sink.current().filter("qualifier = 'content'")
        .select("rowkey").collect()
    )
    rows_of = {s[0]: s[1] for s in pipe.summaries}
    durations = dict(batch_durations(ckpt))
    held = sorted({batch_of_file[tick_name(t)] for t, _, _ in measured
                   if tick_name(t) in batch_of_file})
    listed = (os.path.getmtime(os.path.join(
        ckpt, "offsets", str(max(committed_at)))) if committed_at else 0.0)
    out = {
        "setup_s": setup_s,
        "window": [m0, m1],
        "warmup_batch_s": warm,
        "stream_error": stream_error[0] if stream_error else None,
        "batch_timestamps_ms": {b: batch_timestamp_ms(ckpt, b) for b in held},
        "busy_batches": [[b, rows_of.get(b, 0), durations[b]] for b in held],
        "latencies_s": lat,
        "uncommitted_ticks": missing,
        "measured_ticks": end - first,
        "lateness_s": [a - d for _, d, a in ticks],
        # a file that landed before the last committed batch listed the
        # directory must be in a committed batch
        "landed_before_last_listing": sorted(
            [PRIMER] + [tick_name(t) for t, _, a in ticks
                        if a < listed - 1.0]),
        "batch_of_file": batch_of_file,
        "summaries": [list(s[:3]) for s in pipe.summaries
                      if s[0] in committed_at],
        "sink_keys": sorted({r[0].split("-", 1)[1] for r in sink_rows}),
    }
    if tracer.enabled:
        ingest_layers(out, tracer, ckpt, held, committed_at)
    return out


def store_size(path: str) -> tuple[int, int]:
    """Committed version directories (`v_*`, no in-flight suffix) and
    total bytes of an upsert-sink store, read from the filesystem."""
    versions = sum(
        1 for d in os.listdir(path) if d.startswith("v_") and "." not in d
    ) if os.path.isdir(path) else 0
    nbytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )
    return versions, nbytes


def ingest_layers(out: dict, tracer: Tracer, ckpt: str, held: list[int],
                  committed_at: dict[int, float]) -> None:
    """Layer metrics of the batches that hold the measured ticks; a
    batch can start before the window and end after it."""
    settle(tracer)
    batches = [b for b in tracer.progress if b["batchId"] in held]
    if not batches:
        raise RuntimeError("no progress event for the measured batches")
    lo = min(batch_start(b) for b in batches)
    hi = max(committed_at[b] for b in held)
    body = [s for s in tracer.spans if s["name"] == "pipeline.process_batch"
            and lo <= s["start"] < hi]
    body_ms = sum(1000.0 * (s["end"] - s["start"]) for s in body)
    write_ms = sum(tracer.durations_ms("sinks.upsert.write_batch", lo, hi))
    versions, nbytes = store_size(os.path.join(os.path.dirname(ckpt), "sink"))
    out["trace_batches"], out["trace_window"] = batches, [lo, hi]
    out["layers"] = {
        **streaming_layers(batches),
        "sources.files.files_per_batch_max": files_per_batch_max(
            os.path.join(ckpt, "sources", "0"), held),
        "pipeline.process_batch_share": share(body_ms, batches),
        "pipeline.jobs_per_batch": med([s["jobs"] for s in body]),
        "sinks.upsert.write_share": share(write_ms, batches),
        "sinks.upsert.versions_on_disk": versions,
        "sinks.upsert.bytes_on_disk": nbytes,
    }


# --- stateful_drain ------------------------------------------------------------
def stateful_drain(spark, p, work, seconds, tracer, t0):
    from kafka_spark_streaming_spark.operators import ORACLES, QUERIES

    query = QUERIES["s_stateful_user_stats"]
    gen_dir = os.path.join(work, "input")
    # check.py runs the registered oracle without importing the program
    with open(os.path.join(work, "oracle.sql"), "w") as f:
        f.write(ORACLES["s_stateful_user_stats"])

    columns: list[str] = []
    errors: list[str] = []

    def one_pass():
        """(wall time, sorted rows) of one forced pass, or None if it
        raised; the error is kept and counts as a failed operation."""
        t = time.time()
        try:
            with tracer.span("stateful.pass"):
                df = query(spark, gen_dir, n_batches=p["n_batches"])
                rows = df.collect()
        except Exception as e:  # noqa: BLE001 - any raise is a failed pass
            errors.append(f"pass raised {type(e).__name__}: {e}"[:300])
            return None
        wall = time.time() - t
        columns[:] = df.columns
        return wall, sorted(tuple(r) for r in rows)

    warm = []
    warm_until = time.time() + p["warmup_max_s"]
    for _ in range(p["warmup_max_passes"]):
        done = one_pass()
        if done:
            warm.append(done[0])
        # the time cap only ends warm-up after the minimum passes, so a
        # slow host never measures the pass after the cold one
        if len(warm) >= p["warmup_min_passes"] and (agree(
            warm[-2], warm[-1], p["warmup_agree"]
        ) or time.time() > warm_until):
            break
    m0 = time.time()
    setup_s = m0 - t0
    tracer.phase = "measure"
    ckpts_before = set(glob.glob(os.path.join(os.environ["TMPDIR"], "kss_ckpt_*")))
    passes, outputs, rows = [], [], None
    while True:
        done = one_pass()
        if done:
            passes.append(done[0])
            outputs.append(hash(tuple(done[1])))
            rows = done[1]
        # whole passes, as many as fit the window best: stop unless the
        # next one would end less than half a pass after the window
        if time.time() - m0 + (passes[-1] / 2 if passes else 0) >= seconds:
            break
    m1 = time.time()
    if rows is not None:
        with open(os.path.join(work, "output.json"), "w") as f:
            json.dump({"columns": columns, "rows": rows}, f)
    drains = sorted(set(glob.glob(os.path.join(os.environ["TMPDIR"], "kss_ckpt_*")))
                    - ckpts_before)
    out = {
        "setup_s": setup_s,
        "window": [m0, m1],
        "warmup_pass_s": warm,
        "pass_s": passes,
        "errors": errors,
        "events_per_pass": p["n_events"],
        "passes_agree": len(set(outputs)) <= 1,
    }
    if tracer.enabled:
        settle(tracer)
        batches = [b for b in tracer.progress
                   if m0 <= batch_start(b) < m1 and b["numInputRows"] > 0]
        out["trace_batches"], out["trace_window"] = batches, [m0, m1]
        ops = [op for b in batches for op in b.get("stateOperators", [])]
        finals = last_batch_of_each_run(batches)
        out["layers"] = {
            **streaming_layers(batches),
            "sources.files.files_per_batch_max": max(
                (files_per_batch_max(os.path.join(d, "sources", "0"))
                 for d in drains), default=0),
            "stateful.state_commit_share": share(
                sum(op.get("commitTimeMs", 0) for op in ops), batches),
            "stateful.state_rows_total": med([
                sum(op.get("numRowsTotal", 0) for op in b["stateOperators"])
                for b in finals]),
            "stateful.state_memory_bytes": med([
                sum(op.get("memoryUsedBytes", 0) for op in b["stateOperators"])
                for b in finals]),
        }
    return out


def last_batch_of_each_run(batches: list[dict]) -> list[dict]:
    """The last stateful batch of each drain: the state a pass ends
    with."""
    last: dict[str, dict] = {}
    for b in batches:
        if b.get("stateOperators"):
            last[b["runId"]] = b
    return list(last.values())


# --- shared -------------------------------------------------------------------
def med(values: list[float]) -> float:
    return stats.median(values) if values else 0.0


def batch_start(progress: dict) -> float:
    """Epoch seconds of a progress event's batch start timestamp."""
    return datetime.fromisoformat(
        progress["timestamp"].replace("Z", "+00:00")).timestamp()


def settle(tracer: Tracer) -> None:
    """Listener events arrive asynchronously: wait until none has come
    for half a second (at most 5 s)."""
    seen, quiet_from, until = -1, time.time(), time.time() + 5.0
    while time.time() - quiet_from < 0.5 and time.time() < until:
        if len(tracer.progress) != seen:
            seen, quiet_from = len(tracer.progress), time.time()
        time.sleep(0.05)


def share(layer_ms: float, batches: list[dict]) -> float:
    """A layer's time as a share of the batches' trigger time."""
    total = sum(b["durationMs"].get("triggerExecution", 0) for b in batches)
    return layer_ms / total if total else 0.0


def streaming_layers(batches: list[dict]) -> dict:
    """Micro-batch engine and file-source phases from query progress."""
    def phase(name):
        return med([b["durationMs"].get(name, 0) for b in batches])

    return {
        "streaming.batches": len(batches),
        "streaming.rows_per_batch_p50": med(
            [b.get("numInputRows", 0) for b in batches]),
        "streaming.trigger_ms_p50": phase("triggerExecution"),
        "streaming.add_batch_ms_p50": phase("addBatch"),
        "streaming.query_planning_ms_p50": phase("queryPlanning"),
        "streaming.wal_ms_p50": phase("walCommit"),
        "streaming.commit_offsets_ms_p50": phase("commitOffsets"),
        "sources.files.latest_offset_ms_p50": phase("latestOffset"),
        "sources.files.get_batch_ms_p50": phase("getBatch"),
    }


def files_per_batch_max(source_log: str, batches=None) -> int:
    """Most files one batch (of `batches`, default all) took from a
    file-source log: on the open loop, the ticks of a trigger period
    plus any that piled up while the previous batch ran."""
    per_batch: dict[int, int] = {}
    for b in stats.file_batches(source_log).values():
        if batches is None or b in batches:
            per_batch[b] = per_batch.get(b, 0) + 1
    return max(per_batch.values(), default=0)


def event_log_ledger(work: str, m0: float, m1: float) -> dict:
    """Executor-side totals of the tasks launched in the measured
    window, from the Spark event log."""
    tasks = jobs = 0
    run_ms = cpu_ns = shuffle_w = input_b = 0
    for path in glob.glob(os.path.join(work, "eventlog", "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    if m0 <= e.get("Submission Time", 0) / 1000.0 < m1:
                        jobs += 1
                elif ev == "SparkListenerTaskEnd":
                    info = e.get("Task Info", {})
                    if not m0 <= info.get("Launch Time", 0) / 1000.0 < m1:
                        continue
                    m = e.get("Task Metrics") or {}
                    tasks += 1
                    run_ms += m.get("Executor Run Time", 0)
                    cpu_ns += m.get("Executor CPU Time", 0)
                    shuffle_w += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return {
        "jobs": jobs, "tasks": tasks, "run_ms": run_ms, "cpu_ms": cpu_ns / 1e6,
        "shuffle_write_bytes": shuffle_w,
        "input_bytes": input_b,
    }


def ledger_layers(ledger: dict, batches: list[dict]) -> dict:
    """The executor ledger per micro-batch and per input event, so runs
    that fit a different number of batches into the window compare."""
    n_batches = max(len(batches), 1)
    kevents = max(sum(b.get("numInputRows", 0) for b in batches), 1) / 1000.0
    return {
        "spark.jobs_per_batch": ledger["jobs"] / n_batches,
        "spark.tasks_per_batch": ledger["tasks"] / n_batches,
        "spark.executor_run_ms_per_kevent": ledger["run_ms"] / kevents,
        "spark.executor_cpu_ms_per_kevent": ledger["cpu_ms"] / kevents,
        "spark.shuffle_write_bytes_per_event":
            ledger["shuffle_write_bytes"] / kevents / 1000.0,
        "spark.input_bytes_per_event": ledger["input_bytes"] / kevents / 1000.0,
    }


# per-layer metrics of the layers a workload does not run read 0
ABSENT_LAYERS = {
    "ingest_open_loop": {
        "stateful.state_commit_share": 0.0,
        "stateful.state_rows_total": 0,
        "stateful.state_memory_bytes": 0,
    },
    "stateful_drain": {
        "pipeline.process_batch_share": 0.0,
        "pipeline.jobs_per_batch": 0,
        "sinks.upsert.write_share": 0.0,
        "sinks.upsert.versions_on_disk": 0,
        "sinks.upsert.bytes_on_disk": 0,
    },
}

WORKLOADS = {
    "ingest_open_loop": ingest_open_loop,
    "stateful_drain": stateful_drain,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        params = json.load(f)[a.workload]
    tracer = Tracer(bool(a.trace), os.path.basename(a.work))
    spark, session = start_session(a.work, bool(a.trace), tracer)
    try:
        out = WORKLOADS[a.workload](
            spark, params, a.work, a.seconds, tracer, a.t0)
    finally:
        spark.stop()
    if a.trace:
        out["layers"].update(ABSENT_LAYERS[a.workload])
        out["layers"].update(session)
        out["layers"].update(ledger_layers(
            event_log_ledger(a.work, *out.pop("trace_window")),
            out.pop("trace_batches")))
        out["spans"] = tracer.spans
        out["progress"] = tracer.progress
    tmp = os.path.join(a.work, "result.json.tmp")
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, os.path.join(a.work, "result.json"))


if __name__ == "__main__":
    main()
