"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One run:

1. makes the workload's inputs from --seed (untimed) in a fresh work
   directory under .perfbench_work/, which is also the run's TMPDIR, so
   the program's TMPDIR-keyed caches start cold in every run;
2. starts measure.py in its own process group, with PYTHONPATH set
   for Spark's Python workers, SPARK_GRAFT_CPUS pinned to the usable
   cores and SPARK_GRAFT_DRIVER_MEM well below host memory, and waits
   until every process of that group (the JVM included) has exited;
3. checks the outputs in a separate process (check.py);
4. prints a summary line and, as the last line of standard output,
   {"correct", "attempted", "failed", "metrics"}: the end-to-end
   metrics with --trace 0, the per-layer metrics with --trace 1.

The full result, with spans when tracing, is kept in .perfbench_out/.
Exits non-zero without a result line when the program is missing, the
measured process fails, or no measured tick or pass completed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafka_spark_streaming_spark"
MEASURE_TIMEOUT_S = 130
CHECK_TIMEOUT_S = 30



def load_json(path: str) -> dict:
    if not os.path.exists(path):
        die(f"{os.path.relpath(path, ROOT)} is missing")
    with open(path) as f:
        return json.load(f)


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def driver_mem() -> str:
    """A quarter of host memory, at most 2 GB: the program's default
    (16g) is above what small hosts have."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(x for x in f if x.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(512, min(2048, kb // 1024 // 4))}m"


def child_env(work: str) -> dict:
    env = dict(os.environ)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def session_pids(sid: int) -> list[int]:
    """Live processes of session `sid`.  A session, not a process
    group: Spark's Python worker daemon moves to a group of its own."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def run_session(cmd: list[str], env: dict, timeout: float,
                capture: bool = False) -> tuple[int, str]:
    """Run cmd as the leader of a new session and return only when no
    process of the session is left: the Spark JVM and its Python
    workers are descendants of the measured process."""
    p = subprocess.Popen(
        cmd, env=env, cwd=ROOT, start_new_session=True,
        stdout=subprocess.PIPE if capture else sys.stderr,
    )
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        for pid in session_pids(p.pid):
            os.kill(pid, signal.SIGKILL)
        out, _ = p.communicate()
        p.returncode = -9
    deadline = time.time() + 20
    while pids := session_pids(p.pid):
        if time.time() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
    return p.returncode, (out or b"").decode()


def make_inputs(workload: str, p: dict, seed: int, seconds: float,
                work: str) -> None:
    import gen

    if workload == "ingest_open_loop":
        # the open loop runs through the warm-up cap, the window rounded
        # up to whole trigger periods, and the batch after it
        horizon = p["warmup_max_s"] + seconds + 2 * p["trigger_s"]
        gen.stage_ticks(seed, p, math.ceil(horizon * p["tick_rate_per_s"]),
                        os.path.join(work, "staged"),
                        os.path.join(work, "primer"))
    else:
        gen.write_events(seed, p, os.path.join(work, "input", "events.parquet"))


def e2e_metrics(workload: str, res: dict) -> tuple[dict, str]:
    """End-to-end metrics and a one-line human summary.  The tail is
    the highest percentile with at least ten samples beyond it."""
    if workload == "ingest_open_loop":
        lat = res["latencies_s"]
        n = len(lat)
        if not n:
            die("no measured tick was committed")
        # a run whose stream failed can commit too few ticks for the
        # rule; it still reports, as the maximum, so its failures count
        tail = stats.tail_percentile(n) or 100.0
        late = res["lateness_s"]
        m = {
            "setup_s": res["setup_s"],
            "latency_p50_s": stats.median(lat),
            "latency_tail_s": stats.percentile(lat, tail),
            "events_per_s": stats.busy_throughput(res["busy_batches"]),
        }
        note = (f"{n} ticks in {len(res['busy_batches'])} batches, tail p{tail:g}; "
                "warm-up batches "
                + ", ".join(f"{s:.2f}" for s in res["warmup_batch_s"])
                + f" s; generator lateness p50 {1000 * stats.median(late):.1f}"
                f" ms, max {1000 * max(late):.1f} ms")
        return m, note
    passes = res["pass_s"]
    if not passes:
        die("no measured pass completed")
    ev = res["events_per_pass"]
    # every event of a pass completes with it, so the tail is the
    # slowest pass once there are ten events beyond it
    tail = stats.tail_percentile(ev * len(passes))
    m = {
        "setup_s": res["setup_s"],
        "latency_p50_s": stats.median(passes),
        "latency_tail_s": stats.weighted_percentile(
            [(s, ev) for s in passes], tail),
        "events_per_s": ev * len(passes) / sum(passes),
    }
    note = (f"{len(passes)} passes of {ev} events, tail p{tail:g}; warm-up "
            "passes " + ", ".join(f"{s:.2f}" for s in res["warmup_pass_s"])
            + " s")
    return m, note


def account(workload: str, res: dict, checks: list) -> stats.Ledger:
    """Operations: measured ticks or passes, then output checks."""
    led = stats.Ledger()
    if workload == "ingest_open_loop":
        led.ops(res["measured_ticks"] - len(res["uncommitted_ticks"]),
                [f"tick {t} uncommitted at the drain deadline"
                 for t in res["uncommitted_ticks"]])
        led.op(res["stream_error"] is None,
               f"stream failed: {res['stream_error']}")
    else:
        led.ops(len(res["pass_s"]), res["errors"])
        led.op(res["passes_agree"], "measured passes returned different rows")
    for name, ok, detail in checks:
        led.op(ok, f"check {name}: {detail}")
    return led


def select(values: dict, specs: list[dict]) -> dict:
    """The metrics BENCHMARK.json lists, with their units."""
    missing = [m["name"] for m in specs if m["name"] not in values]
    if missing:
        die(f"metrics not produced: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in specs}


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    params = load_json(os.path.join(HERE, "workloads.json"))
    ap.add_argument("--workload", required=True, choices=sorted(params))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        die(f"the program ({PACKAGE}/) is not in {ROOT}")
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        make_inputs(a.workload, params[a.workload], a.seed, a.seconds, work)
        env = child_env(work)
        t0 = time.time()
        code, _ = run_session(
            [sys.executable, os.path.join(HERE, "measure.py"),
             "--workload", a.workload, "--work", work,
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--t0", repr(t0)],
            env, MEASURE_TIMEOUT_S)
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_path):
            die(f"measured process failed (exit {code})")
        with open(result_path) as f:
            res = json.load(f)
        code, out = run_session(
            [sys.executable, os.path.join(HERE, "check.py"),
             "--workload", a.workload, "--work", work],
            env, CHECK_TIMEOUT_S, capture=True)
        checks = (json.loads(out.strip().splitlines()[-1])["checks"]
                  if code == 0 and out.strip() else
                  [["check_process", False, f"exit {code}"]])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, note = e2e_metrics(a.workload, res)
    led = account(a.workload, res, checks)
    if a.trace:
        values = dict(res["layers"], **{f"trace.{k}": v for k, v in e2e.items()})
        metrics = select(values, bench["per_layer"])
    else:
        metrics = select(e2e, bench["end_to_end"])

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "e2e": e2e, "checks": checks, "problems": led.problems,
              "failed_share": led.failed_share, "note": note, **res}
    with open(os.path.join(out_dir, f"{a.workload}-t{a.trace}.json"), "w") as f:
        json.dump(record, f)
    overhead = ""
    untraced = os.path.join(out_dir, f"{a.workload}-t0.json")
    if a.trace and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["e2e"]
        overhead = "; tracing overhead vs last untraced run: " + ", ".join(
            f"{k} {e2e[k] - base[k]:+.4g}" for k in e2e if k in base)
    print(f"{a.workload} seed {a.seed}: {note}; failed_share "
          f"{led.failed_share:.4f}" + overhead
          + "".join(f"; {p}" for p in led.problems[:5]))
    print(json.dumps({
        "correct": led.correct,
        "attempted": led.attempted,
        "failed": led.failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
