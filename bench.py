"""Benchmark harness — one JSON line for the driver (BENCH_r{N}.json).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query is forced
end-to-end with a noop-format write (full plan executes, nothing
collected to the driver — same shape a cluster job has).

This module is also the one measurement core that tools/sweep.py and
sf1_smoke.py drive: the pass loop (Timer.time_queries), the baseline
reader (_prev_bench), the derived-build resample (Timer.resample), the
dirty-window predicate (should_rerun_window), the prev-round gate (gate)
and the teardown before the last stdout line (Timer.emit).  Each harness
keeps only its query set, its gate policy and its output schema.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_spark_streaming_spark import tables  # noqa: E402
from kafka_spark_streaming_spark.operators import QUERIES  # noqa: E402
from kafka_spark_streaming_spark.operators.streaming_queries import (  # noqa: E402
    reclaim_scratch,
)

# Headline set: one per operator family — scan-agg, top-k join,
# star join, scan-filter-agg, multiway join, windowing, as-of join,
# streaming fold, stateful streaming, dedup (minhash path),
# similarity, sketch, text, multimodal.
# Streaming queries run LAST: stopping a streaming query leaves a
# transient tax (state-store unload + GC of micro-batch state) that
# the next ~one batch job in the session pays — measured ~4 s added to
# whatever runs immediately after. Batch first, streams last keeps
# every number attributable to its own query.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_profit_by_nation_year",
    "q18_large_volume_customers",
    "w_top3_parts_per_brand",
    # r11: regression-prone history cases (VERDICT r9 #3 / r10 #3):
    # d_simhash_pairs rotted to 35-47 s unnoticed before the r9 13x fix;
    # d_containment_pairs rides the shared key-index artifact.
    "d_simhash_pairs",
    "d_containment_pairs",
    # r12: index-probe regressions are the likeliest perf-rot class
    # (three rounds running — VERDICT r11 #6); now sub-second after the
    # r11 memoized-index rewrite, so HEADLINE's min-of-3 + regressions
    # gate is cheap insurance on the probe path.
    "sim_ann_ivf",
    "sessionize_events",
    "aj_purchase_last_click",
    "d_minhash_lsh_pairs",
    "sim_topk_bruteforce",
    "sk_heavy_hitter_tokens",
    "t_quality_score",
    "t_top_tokens",
    "t_repetition_signals",
    "g_pagerank_trade",
    "m_media_features",
    "p_decontaminate_ngram",
    "p_pack_sequences",
    # r9: the three slowest r8 additions, gated so they can't regress
    # silently (VERDICT r8 next #6)
    "t_bigram_logprob",
    "sim_kmeans_clusters",
    "aj_scd2_point_lookup",
    "s_stream_value_counts",
    "s_stateful_user_stats",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Same data, same operator, 2 forced micro-batch boundaries instead of
# 4: the timing is dominated by the per-batch state-store floor (task +
# state load and commit per store per batch), not by data volume, so
# fewer forced batches makes the number interpretable as operator cost
# rather than micro-batch count.
OVERRIDES = {
    "s_stateful_user_stats": functools.partial(
        QUERIES["s_stateful_user_stats"], n_batches=2
    )
}
NOTES = {
    "s_stateful_user_stats": (
        "JVM streaming aggregate drained over 2 real micro-batches; "
        "cost is the per-batch state-store floor, amortized at scale "
        "by larger batches (registered correctness query uses 4)"
    ),
    "timing": (
        "per-query time = min of 3 timed passes; total = sum of mins; "
        "derived builds sampled twice (memo cleared) with min kept "
        "(shared-host VM shows 1.5-2x whole-run noise between passes, "
        "measured across identical back-to-back runs in r7)"
    ),
    "derived_tables": (
        "derived artifacts (minhash signature profile, distilled edge "
        "list, 8-gram index, ...) are memoized per (session, corpus) via "
        "tables.session_checkpoint — the production shape persists these "
        "next to the corpus, so the per-query numbers measure the probe; "
        "each artifact's build cost is reported separately as "
        "derived_build_sec and gated at the same 1.5x vs the previous "
        "round"
    ),
}

# Dirty-window threshold (VERDICT r21 #7): a canary factor above it
# means co-tenant CPU steal polluted the whole timing window.
DIRTY_FACTOR = 2.0


def settle_streams(spark) -> None:
    """Drain the previous streaming query's teardown off the clock
    (VERDICT r11 #3: registry-order timing charged the prior stream's
    stop tax to the next entry — s_stream_stream_join recorded 30.2 s
    vs 12.5-19.5 s isolated).  Stop any still-active query, then run a
    trivial job as a scheduler barrier so stop/cleanup threads finish
    before the next timer starts."""
    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:  # noqa: BLE001 — settle must not fail a run
            pass
    spark.range(1).count()


class Timer:
    """One harness run on one Spark session: the pass loop, the
    derived-build resample and the teardown, plus what they share —
    per sf_dir, the queries whose first timed pass built a derived
    artifact there (in timing order, with the artifacts), the action
    output that went with each query's last recorded timing, and
    whether an s_* entry ran.
    """

    def __init__(self, spark) -> None:
        # aged drain scratch goes now, outside every timed window
        reclaim_scratch()
        self.spark = spark
        self.builders: dict[str, dict[str, tuple]] = {}
        self.outputs: dict[str, object] = {}
        self.streamed = False

    def time_queries(
        self,
        fns: dict,
        sf_dir: str,
        passes: int,
        action=force,
        timings: dict[str, float] | None = None,
        errors: dict[str, str] | None = None,
    ) -> tuple[dict[str, float], dict[str, str]]:
        """The pass loop: `passes` passes over `fns` ({name: fn(spark,
        sf_dir) -> DataFrame}), each query timed through `action(df)`,
        the min per query kept in `timings` (min-of-N reports the
        machine's capability per plan rather than whichever pass caught
        the noisy neighbor on a shared host).  Pass existing
        `timings`/`errors` to extend a run with more passes.

        A query that raises is recorded in `errors` and skipped by later
        passes; its earlier timing (if any) stays.  An entry is
        streaming iff its name starts with ``s_``: streams are settled
        before and after each such entry so no stop tax lands on a
        neighbor's clock."""
        timings = {} if timings is None else timings
        errors = {} if errors is None else errors
        for _ in range(passes):
            for name, fn in fns.items():
                if name in errors:
                    continue
                stream = name.startswith("s_")
                if stream:
                    self.streamed = True
                    settle_streams(self.spark)
                first = name not in timings
                known = set(derived_build_sec(sf_dir))
                t0 = time.perf_counter()
                try:
                    out = action(fn(self.spark, sf_dir))
                except Exception as exc:  # noqa: BLE001 — report, don't die
                    errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                else:
                    dt = round(time.perf_counter() - t0, 3)
                    if dt < timings.get(name, float("inf")):
                        timings[name] = dt
                        self.outputs[name] = out
                built = sorted(set(derived_build_sec(sf_dir)) - known)
                if first and built:
                    self.builders.setdefault(sf_dir, {})[name] = (fn, built)
                if stream:
                    settle_streams(self.spark)
        return timings, errors

    def resample(
        self, sf_dir: str, rebuilds: int = 1, action=force
    ) -> tuple[dict[str, str], list[str]]:
        """Rebuild every derived artifact the timed passes built at
        sf_dir `rebuilds` more times, memo cleared before each round, by
        replaying the queries observed building them (ADVICE r4 #2: the
        memo hides build cost from the timed passes).
        session_checkpoint keeps the min per artifact across builds, so
        derived_build_sec becomes min-of-(1 + rebuilds) instead of a
        one-shot noise sample.  Returns ({query: error} for replays that
        raised, the artifacts those queries first built — possibly left
        one-shot)."""
        builders = dict(self.builders.get(sf_dir, {}))
        errors: dict[str, str] = {}
        for _ in range(rebuilds):
            tables.reset_derived_cache()  # cache + sidecars together
            self.time_queries(
                {n: fn for n, (fn, _) in builders.items()}, sf_dir, 1,
                action, errors=errors,
            )
        return errors, sorted(a for n in errors for a in builders[n][1])

    def emit(self, line: str) -> None:
        """Teardown, then print `line` as the process' final stdout
        bytes.

        BENCH_r12 was `parsed: null` because a post-stop StateStore
        maintenance WARN printed AFTER the JSON line, pushing it out of
        the driver's 2000-byte tail window.  So: stop any streaming
        queries still holding state stores, stop the session (joins the
        maintenance pool), and — only if an s_* entry ran, since
        batch-only runs have no maintenance threads to wait for — give
        lagging daemon threads a beat to flush.  The print lives in
        `finally` so a teardown exception (wedged stream, dropped py4j
        connection) degrades to a possibly-noisy tail rather than
        losing the line."""
        try:
            settle_streams(self.spark)
            self.spark.stop()
            if self.streamed:
                time.sleep(2)
        finally:
            sys.stderr.flush()
            print(line, flush=True)


def derived_build_sec(sf_dir: str) -> dict[str, float]:
    """Derived-artifact build seconds at sf_dir, keyed by artifact name
    ("artifact:<sf_dir>" keys shortened for round-over-round
    comparability)."""
    return {
        k.split(":", 1)[0]: v
        for k, v in tables.DERIVED_BUILD_SEC.items()
        if k.endswith(f":{sf_dir}")
    }


def should_rerun_window(
    host_window: float,
    attempt: int,
    retries: int,
    threshold: float = DIRTY_FACTOR,
) -> bool:
    """Pure dirty-window policy (VERDICT r21 #7): a canary factor above
    `threshold` means co-tenant load polluted the timing window — time
    again (while `retries` attempts remain) instead of gating near-blind
    behind a clamped factor.  The bench takes extra passes; the sweep
    re-runs its whole window."""
    return host_window > threshold and attempt < retries


def _usable_queries(parsed: dict, key: str = "queries") -> dict[str, float]:
    """The one sanitizer for every timing map: the `key` map of a bench
    or sf1 doc (the per-query map by default, or `derived_build_sec`)
    iff it holds real timings.

    r21's tail-guard replaced `queries` and `derived_build_sec` with
    slim pointers (`{"_see": ..., "n": 27}`) whose truthiness made the
    reader adopt them as the baseline — every prev lookup then missed,
    so host_factor fell back to 1.0 and the regression gates ran blind.
    A map carrying the slim marker is no baseline.  sf1 entries
    (`{"sec": ..., "rows": ...}`) read as their seconds; `{"error":
    ...}` entries and other non-numeric values are dropped."""
    m = parsed.get(key) or {}
    if not isinstance(m, dict) or "_see" in m:
        return {}

    def sec(v):
        return v.get("sec") if isinstance(v, dict) and "error" not in v else v

    return {
        k: s for k, v in m.items() if isinstance(s := sec(v), (int, float))
    }


def read_json(path: str) -> dict:
    """The JSON object at `path`, or {} if it is missing or unreadable."""
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def rounds(pattern: str) -> list[tuple[int, str]]:
    """(round, path) of every repo-root file whose name fully matches
    `pattern` (its one group is the round number), newest first."""
    here = os.path.dirname(os.path.abspath(__file__))
    found = [
        (int(m.group(1)), os.path.join(here, f))
        for f in os.listdir(here)
        if (m := re.fullmatch(pattern, f))
    ]
    return sorted(found, reverse=True)


def _prev_bench(suffix: str = "") -> tuple[dict[str, float], dict[str, float]]:
    """(per-query, derived-build) timings from the newest
    BENCH_r{N}{suffix}.json that actually produced numbers — "" for the
    bench, "_sf1" for the sf1 smoke.  A crashed round (parsed: null,
    like r05) or a slim-line round (r21) is skipped, so the gate
    compares against the last REAL round."""
    for _, path in rounds(rf"BENCH_r(\d+){suffix}\.json"):
        doc = read_json(path)
        parsed = doc.get("parsed") or doc
        if q := _usable_queries(parsed):
            return q, _usable_queries(parsed, "derived_build_sec")
    return {}, {}


# JVM-side canary slots for host-drift normalization (VERDICT r18 #4,
# landed r20 after the predicted spurious q11 flag re-occurred in r19):
# pure whole-stage-codegen scan/agg queries with no Python workers, no
# derived artifacts and no streaming state, whose plans have been
# stable for many rounds — their ratio vs the previous committed round
# measures the HOST (CPU steal on this shared VM), not the code.
CANARIES = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q18_large_volume_customers",
)


def host_factor(
    timings: dict[str, float],
    prev: dict[str, float],
    canaries: tuple[str, ...] = CANARIES,
) -> float:
    """Median canary slowdown this run vs the committed baseline,
    clamped to [1.0, 3.0] — the regressions gate divides by this, so
    pure host drift (every slot slower by ~the canary factor) cannot
    flag, while a real per-query regression still pokes above the
    canary-measured host speed.  Clamps: never below 1 (a FASTER host
    must not loosen the gate) and never above 3 (a canary regression
    beyond the observed drift band must surface as a flag, not
    silently forgive the whole board).  MEDIAN of three keeps one
    genuinely-regressed canary from inflating the factor — the other
    two outvote it and the regressed one then flags itself.  Shared
    policy: sf1_smoke passes its own canary set, and tools/sweep.py
    normalizes against its min-of-history baseline with the same
    function."""
    ratios = [
        timings[c] / prev[c]
        for c in canaries
        if timings.get(c) and prev.get(c)
    ]
    if not ratios:
        return 1.0
    return max(1.0, min(statistics.median(ratios), 3.0))


def regressions(
    timings: dict[str, float],
    prev: dict[str, float],
    ratio: float = 1.5,
    host: float = 1.0,
) -> list[dict]:
    """Queries whose canary-normalized time (sec / host) exceeds
    `ratio`× their previous-round time — the build-time gate the judge
    asked for (VERDICT r03 #4): a regression shows up in the bench
    JSON the round it happens, not a round later.  host=1.0 is the raw
    pre-r20 gate.  Flag entries record RAW seconds (code-review r20 —
    the sweep's gate_flags convention; a reader cross-checking `sec`
    against `queries[name]` must see the same number), with the
    normalization spelled out in norm_sec/norm_ratio/host when it is
    in effect."""
    out = []
    for n, sec in timings.items():
        p = prev.get(n)
        if p and p > 0 and sec / host > ratio * p:
            entry = {
                "query": n,
                "sec": sec,
                "prev_sec": p,
                "ratio": round(sec / p, 2),
            }
            if host != 1.0:
                entry["norm_sec"] = round(sec / host, 3)
                entry["norm_ratio"] = round(sec / host / p, 2)
                entry["host"] = round(host, 3)
            out.append(entry)
    return out


def gate(
    timings: dict[str, float],
    derived: dict[str, float],
    prev_q: dict[str, float],
    prev_d: dict[str, float],
    canaries: tuple[str, ...] = CANARIES,
) -> dict:
    """The prev-round gate of the bench and the sf1 smoke (VERDICT r18
    #4): per-query and derived-build seconds flagged at 1.5x their
    previous round after dividing by the same run's canary factor, so
    a loaded window on unchanged code prints regressions: [] while a
    real single-query regression still flags.  Raw seconds stay in the
    caller's maps and the unnormalized flags in raw_regressions."""
    hf = host_factor(timings, prev_q, canaries)

    def flags(host: float) -> list[dict]:
        return regressions(timings, prev_q, host=host) + regressions(
            derived, prev_d, host=host
        )

    return {
        "host_factor": round(hf, 3),
        "regressions": flags(hf),
        "raw_regressions": flags(1.0),
    }


def compact_line(doc: dict, budget: int = 1900) -> str:
    """Serialize the bench doc to the one printed JSON line, keeping it
    under the driver's 2000-byte stdout tail window.

    r21 post-mortem (VERDICT r21 #1): the old guard dropped the
    per-query map — the one part of the doc the driver's comparator and
    scaling block NEED — while keeping the unbounded regression arrays,
    which are exactly what grows on a loaded window.  Order inverted:
    the flag arrays are capped FIRST (top-3 by raw ratio, plus an
    honest `<name>_n` total so a capped line is self-describing), then
    derived_build_sec collapses to a pointer, and `queries` is NEVER
    dropped.  Full detail always lives in BENCH_FULL_LAST.json.  A line
    still over budget after all of that is printed anyway, with a loud
    stderr warning, since its front will be clipped.
    """
    line = json.dumps(doc)
    if len(line) <= budget:
        return line
    pointer = {
        "_see": "BENCH_FULL_LAST.json",
        "n": len(doc.get("derived_build_sec") or {}),
    }
    for cap in (3, 2, 1, 0):
        slim = dict(doc)
        for key in ("regressions", "raw_regressions"):
            flags = doc.get(key) or []
            if len(flags) > cap:
                slim[key] = sorted(
                    flags, key=lambda e: -e.get("ratio", 0)
                )[:cap]
                slim[key + "_n"] = len(flags)
        line = json.dumps(slim)
        if len(line) <= budget:
            return line
        slim["derived_build_sec"] = pointer
        line = json.dumps(slim)
        if len(line) <= budget:
            return line
    # cap 0 + derived collapsed is the smallest doc that still honors
    # the contract; at that point the line is queries + scalars only.
    print(
        f"WARNING: compact_line: printed line is {len(line)} bytes, over "
        f"the {budget}-byte budget even with flags capped and "
        "derived_build_sec collapsed; its front will be clipped",
        file=sys.stderr,
    )
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from kafka_spark_streaming_spark.session import get_spark

    timer = Timer(get_spark(app_name="kss-bench"))
    fns = {n: OVERRIDES.get(n, QUERIES[n]) for n in HEADLINE if n in QUERIES}
    # Warm every plan shape once on the smallest SF (the fixture
    # default) so the timed section measures the engine, not first-call
    # codegen/JIT.  Reversed: the streaming warmups (last in HEADLINE)
    # run first, so the post-stream-stop tax lands on warmup batch
    # jobs, not on the first timed query.
    timer.time_queries(dict(reversed(fns.items())), tables.DEFAULT_SF_DIR, 1)
    # Three timed passes, min per query: whole-run throughput on this
    # shared-host VM swings 1.5-2x between invocations with no local
    # cause (measured 2x across back-to-back identical runs in r7).
    prev_q, prev_d = _prev_bench()
    timings, errors = timer.time_queries(fns, sf_dir, 3)
    # Dirty-window rule: if the canary factor after the standard 3
    # passes says the window was polluted, take up to 2 EXTRA passes
    # rather than publish near-blind numbers.  min-of-N is monotone, so
    # extra passes only move a number toward the machine's capability;
    # a clean window runs exactly the 3 passes every prior round ran.
    extra = 0
    while should_rerun_window(hf := host_factor(timings, prev_q), extra, 2):
        extra += 1
        print(
            f"[dirty-window] canary factor {hf:.2f} > {DIRTY_FACTOR} — "
            f"extra pass {extra}/2",
            file=sys.stderr,
        )
        timer.time_queries(fns, sf_dir, 1, timings=timings, errors=errors)
    errors.update(timer.resample(sf_dir)[0])
    if errors:
        raise RuntimeError(f"bench queries failed: {errors}")
    derived = derived_build_sec(sf_dir)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf
    doc = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "derived_build_sec": derived,
        **gate(timings, derived, prev_q, prev_d),
    }
    if extra:
        doc["extra_passes"] = extra
    # The driver keeps only the LAST 2000 bytes of stdout and parses the
    # JSON line out of that tail — r9/r10 both shipped `parsed: null`
    # because the inline NOTES prose pushed the line past the window and
    # clipped its FRONT (VERDICT r10 #2). The printed line is the
    # compact machine-readable doc; the full doc including NOTES goes
    # to its own file, which the round commits alongside BENCH_r{N}.json.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL_LAST.json"), "w") as f:
        json.dump({**doc, "notes": NOTES}, f, indent=1)
    timer.emit(compact_line(doc))


if __name__ == "__main__":
    main()
