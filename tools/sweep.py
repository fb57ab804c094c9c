"""Full-registry timing sweep with a min-of-history gate (VERDICT r9 #1,
r10 next-round #1).

Why this exists: HEADLINE + sf1_smoke cover ~30 queries; the other ~120
registered queries had NO timed gate, and d_simhash_pairs proved the
cost — it sat at 35-47 s warm at sf0.1 for two rounds before the r9
cold sweep noticed. This tool times EVERY registered query at the bench
SF and flags anything slower than GATE× its best-ever recorded time.

Gate design (VERDICT r10: "vs a min-of-history to absorb host drift"):
the baseline (SWEEP_BASELINE.json, committed) keeps the MINIMUM warm
seconds ever observed per query. A round-over-round gate at 1.5× proved
too weak on this shared-host VM — r10's uniform ~1.3× co-tenant drift
consumed most of the headroom — so the sweep compares against the best
the plan has ever run, with a 2× ratio AND an absolute slack so
sub-second queries can't flag on scheduler jitter. Baselines only move
DOWN (a faster pass tightens the gate); a slower pass never loosens it.

Timing protocol:
  * batch queries: min of 2 consecutive forced passes (pass 1 may pay
    derived-artifact build + codegen; pass 2 is warm — min reports the
    warm plan cost).
  * streaming queries (s_*): ONE pass. Their cost is the micro-batch
    drain floor (state-store commit + stop tax), not codegen — a second
    drain doubles sweep wall-time for no extra signal, and the floor is
    what the baseline should hold anyway.

Every query is forced end-to-end with a noop write (full plan executes,
nothing collected), same as bench.py.

Usage:
    python tools/sweep.py             # writes SWEEP_r{N}.json + updates
                                      # SWEEP_BASELINE.json; rc 1 if any
                                      # query breaches the gate
Env:
    SPARK_GRAFT_SF_DIR   fixture dir (default /root/testdata/sf0.1)
    KSS_SWEEP_OUT        explicit output path (default SWEEP_r{N}.json,
                         N = newest CORRECTNESS round + 1)

Timing, the derived-build resample, the dirty-window predicate and the
teardown come from bench.py, the one measurement core; this file owns
the min-of-history gate and the SWEEP_r*.json schema.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GATE = 2.0
# Sub-second queries swing 2-3x on pure scheduler jitter; the absolute
# slack keeps the gate meaningful (a 0.2 s query at 0.5 s is noise; a
# 5 s query at 11 s is a regression).
SLACK = 0.75
BASELINE_PATH = os.path.join(REPO, "SWEEP_BASELINE.json")
# Dirty-window re-run rule (VERDICT r21 #7): the r21 seal published
# from a window whose pre-confirm canary factor hit the 3.0 clamp —
# the gates were near-blind exactly when scrutiny mattered.  If the
# pre-confirm canary factor exceeds bench.DIRTY_FACTOR, the whole
# timing loop re-runs (up to DIRTY_RETRIES extra attempts) and the
# aborted window is RECORDED in the artifact rather than gated on; a
# final window still dirty after retries publishes with
# window_dirty: true so a reader can never mistake it for a seal.
DIRTY_RETRIES = 1

import bench  # noqa: E402  — repo root is on sys.path above; the shared
# measurement core (pass loop, resample, host_factor/CANARIES, teardown)


def _round_number() -> int:
    done = bench.rounds(r"CORRECTNESS_r(\d+)\.json")
    return (done[0][0] if done else 0) + 1


def _slowest_first(timings: dict[str, float]) -> dict[str, float]:
    return dict(sorted(timings.items(), key=lambda kv: -kv[1]))


def sweep_host_factor(
    timings: dict[str, float], baseline: dict[str, dict]
) -> float:
    """Canary drift of THIS sweep window vs the min-of-history
    baseline — bench.host_factor's policy (median over the pure-JVM
    canaries q1/q6/q18, clamped to [1,3]) applied to the sweep's
    baseline shape.  VERDICT r18 #4 (re-proven by the spurious r19
    q11 flag at 2.03x on untouched code, cleared only by a manual
    isolation re-time): the sweep gate compares a loaded window
    against best-EVER seconds, so co-tenant CPU steal alone walks
    slow-window ratios toward the gate; dividing by the canary factor
    makes the gate measure the CODE."""
    best = {n: e.get("min_sec") for n, e in baseline.items()}
    return bench.host_factor(timings, best)


def gate_flags(
    timings: dict[str, float],
    baseline: dict[str, dict],
    gate: float = GATE,
    slack: float = SLACK,
    errors: dict | set | tuple = (),
    host: float = 1.0,
) -> list[dict]:
    """Queries breaching gate×best-ever + absolute slack, after
    dividing this window's seconds by the canary ``host`` factor
    (1.0 = raw, the pre-r20 behavior; callers pass
    sweep_host_factor(...)).  Raw seconds are what the flag records —
    ``norm_sec``/``host`` make the normalization auditable.  Pure
    function so the policy is unit-testable without Spark.  A query
    that ERRORED this run is excluded: its recorded timing is a
    partial pass (pass 1 before pass 2 raised) and already fails the
    sweep via rc 1 — a duplicate flag on an untrustworthy number is
    noise (ADVICE r11)."""
    out = []
    for name, sec in timings.items():
        base = baseline.get(name, {}).get("min_sec")
        if name in errors or base is None or base <= 0:
            continue
        norm = sec / host
        if norm > gate * base and norm > base + slack:
            out.append(
                {
                    "query": name,
                    "sec": sec,
                    "best_sec": base,
                    "ratio": round(sec / base, 2),
                    "norm_sec": round(norm, 3),
                    "norm_ratio": round(norm / base, 2),
                    "host": round(host, 3),
                }
            )
    return sorted(out, key=lambda r: -r["norm_ratio"])


def merged_baseline(
    baseline: dict[str, dict],
    timings: dict[str, float],
    round_tag: str,
    errors: dict | set | tuple = (),
) -> dict[str, dict]:
    """Min-only merge: entries tighten or stay; new queries auto-enroll.

    Queries that errored this run never touch the baseline (ADVICE
    r11): a pass-1 timing whose pass 2 raised — or a bogusly fast time
    from a degenerate plan that then failed — would otherwise lower
    the floor PERMANENTLY (baselines only move down) and make every
    subsequent healthy run flag."""
    out = dict(baseline)
    for name, sec in timings.items():
        prev = out.get(name)
        if name not in errors and (prev is None or sec < prev["min_sec"]):
            out[name] = {"min_sec": sec, "round": round_tag}
    return dict(sorted(out.items()))


def final_flags(
    timings: dict[str, float],
    baseline: dict[str, dict],
    errors: dict | set | tuple = (),
    gate: float = GATE,
    slack: float = SLACK,
) -> tuple[list[dict], float]:
    """Post-confirm gate: the host factor is re-derived from the SAME
    timings dict the flags judge (VERDICT r20 #2 — the r20 sweep
    divided post-confirm settled seconds by the PRE-confirm window's
    factor, so a regression that settled at 2.3x under a stale loaded
    factor of 2.5 cleared `flagged` while raw_flagged caught it).
    Callers must have settled the canaries alongside the suspects in
    the confirm pass, so the factor describes the window that produced
    the gated numbers.  Pure so the policy is unit-testable."""
    host = sweep_host_factor(timings, baseline)
    return gate_flags(timings, baseline, gate, slack, errors, host), host


def confirm_pass(
    flags: list[dict],
    timings: dict[str, float],
    retime,
) -> dict[str, str]:
    """Re-time each would-be flag once via `retime(name) -> sec`; the
    min is kept so a one-sample spike clears while a genuine regression
    survives. Pure seam so the failure policy is unit-testable: a
    retime failure must NOT poison the query's valid main-loop timing
    (ADVICE r12 — writing it into the main errors dict dropped the
    min-of-2 from gate_flags AND the baseline merge, suppressing the
    very flag that triggered the confirm). Failures are returned in a
    separate dict and the pre-confirm timing stands."""
    confirm_errors: dict[str, str] = {}
    for f in flags:
        name = f["query"]
        try:
            dt = retime(name)
            timings[name] = min(timings[name], dt)
        except Exception as exc:  # noqa: BLE001 — confirm is best-effort
            confirm_errors[name] = f"{type(exc).__name__}: {exc}"[:300]
    return confirm_errors


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rnd = _round_number()
    out_path = os.environ.get(
        "KSS_SWEEP_OUT", os.path.join(REPO, f"SWEEP_r{rnd:02d}.json")
    )

    from kafka_spark_streaming_spark.operators import QUERIES
    from kafka_spark_streaming_spark.session import get_spark

    timer = bench.Timer(get_spark(app_name="kss-sweep"))
    baseline = bench.read_json(BASELINE_PATH).get("queries", {})

    def time_all() -> tuple[dict[str, float], dict[str, str]]:
        # query-major: batch entries get 2 consecutive passes (pass 1
        # may pay the derived build + codegen, min reports the warm
        # plan), s_* entries one (their cost is the drain floor)
        timings: dict[str, float] = {}
        errors: dict[str, str] = {}
        for i, (name, fn) in enumerate(QUERIES.items(), 1):
            timer.time_queries(
                {name: fn}, sf_dir, 1 if name.startswith("s_") else 2,
                timings=timings, errors=errors,
            )
            done = timings.get(name, "ERR")
            print(f"[{i}/{len(QUERIES)}] {name}: {done}", file=sys.stderr)
        return timings, errors

    t_sweep = time.perf_counter()
    aborted_windows: list[dict] = []
    for attempt in range(DIRTY_RETRIES + 1):
        timings, errors = time_all()
        host_window = sweep_host_factor(timings, baseline)
        if not bench.should_rerun_window(host_window, attempt, DIRTY_RETRIES):
            break
        # Dirty window (VERDICT r21 #7): record it, never gate on it.
        aborted_windows.append(
            {
                "host_factor_window": round(host_window, 3),
                "total_warm_sec": round(sum(timings.values()), 3),
                "n_timed": len(timings),
                "errors": errors,
                "queries": _slowest_first(timings),
            }
        )
        print(
            f"[dirty-window] pre-confirm canary factor {host_window:.2f}"
            f" > {bench.DIRTY_FACTOR} — re-running the timing loop "
            f"(attempt {attempt + 2}/{DIRTY_RETRIES + 1})",
            file=sys.stderr,
        )
    # Confirm pass (r12): a flag from a single noisy sample is not a
    # regression. s_* entries get ONE timed pass by design, and even
    # batch min-of-2 can catch a co-tenant spike on this shared host —
    # the r12 sweep flagged s_incremental_daily_rollup at 4.65 s whose
    # settled isolated min-of-3 was 2.3 s (inside the gate). So every
    # would-be flag is re-timed once, settled, and the min kept; only a
    # breach that SURVIVES the confirm pass is reported. A genuine
    # regression (the 13x d_simhash_pairs class) survives trivially.

    def retime(name: str) -> float:
        t, e = timer.time_queries({name: QUERIES[name]}, sf_dir, 1)
        if e:
            raise RuntimeError(e[name])
        print(f"[confirm] {name}: {t[name]}", file=sys.stderr)
        return t[name]

    # canary-normalized gate (VERDICT r18 #4): suspects are gathered
    # with the PRE-confirm window's factor (that window produced the
    # suspect numbers).  The confirm pass re-times the UNION of
    # normalized and RAW flags (code-review r20): a raw breach the
    # normalization would clear still deserves its settled isolated
    # re-time — the min lands in the artifact and in raw_flagged, so
    # a real drain regression riding host drift cannot hide behind
    # the canary factor with only a one-sample number on record.
    # When anything needs confirming, the CANARIES are re-timed in the
    # same settled window (VERDICT r20 #2): the final flags divide
    # post-confirm seconds, so they must be normalized by a factor
    # from those same post-confirm timings — dividing settled seconds
    # by a stale loaded-window factor under-reported real regressions
    # that settle above the gate (they only surfaced in raw_flagged).
    suspects = dict.fromkeys(
        f["query"]
        for f in gate_flags(timings, baseline, errors=errors)
        + gate_flags(timings, baseline, errors=errors, host=host_window)
    )
    if suspects:
        suspects.update(
            dict.fromkeys(c for c in bench.CANARIES if c not in errors)
        )
    confirm_errors = confirm_pass(
        [{"query": n} for n in suspects if n in timings], timings, retime
    )
    wall = round(time.perf_counter() - t_sweep, 1)

    flagged, host = final_flags(timings, baseline, errors=errors)
    # exclude errored queries: merged_baseline refuses to enroll them,
    # so listing them here would claim an enrollment that never happened
    new_queries = sorted(set(timings) - set(baseline) - set(errors))
    round_tag = f"r{rnd:02d}"
    updated = merged_baseline(baseline, timings, round_tag, errors=errors)

    # Second build per derived artifact (r14, the bench/sf1 protocol):
    # during the main loop every artifact builds exactly once, inside
    # whichever query first touches it, so derived_build_sec would be a
    # one-shot sample on a host whose throughput swings 1.5-4x —
    # SWEEP_r14's first run recorded pq_codebook at 4.03 s whose
    # settled min-of-2 is 1.4 s.  The resample replays exactly the
    # queries observed building an artifact; one whose replay raised
    # leaves its artifacts one-shot, and they are NAMED in
    # derived_one_shot so the record never silently claims a protocol
    # it didn't run.  A replay failure means the query regressed into
    # breakage AFTER its timed pass (ADVICE r14): resample_errors.
    resample_failed, one_shot = timer.resample(sf_dir)
    derived = bench.derived_build_sec(sf_dir)
    doc = {
        "metric": "full_registry_sweep",
        "round": round_tag,
        "sf_dir": sf_dir,
        "gate_ratio": GATE,
        "abs_slack_sec": SLACK,
        "n_queries": len(QUERIES),
        "n_timed": len(timings),
        "wall_sec": wall,
        "total_warm_sec": round(sum(timings.values()), 3),
        "host_factor": round(host, 3),
        "host_factor_window": round(host_window, 3),
        # VERDICT r21 #7: a published artifact self-describes whether
        # its pre-confirm window exceeded the dirty threshold even
        # after the re-run budget (never silently seal from a clamped
        # window), and keeps every aborted window's raw numbers.
        "window_dirty": host_window > bench.DIRTY_FACTOR,
        "dirty_factor": bench.DIRTY_FACTOR,
        "aborted_windows": aborted_windows,
        "flagged": flagged,
        "raw_flagged": gate_flags(timings, baseline, errors=errors),
        "errors": errors,
        "confirm_errors": confirm_errors,
        "new_in_baseline": new_queries,
        "derived_build_sec": derived,
        "resample_errors": [
            {"query": n, "err": e} for n, e in resample_failed.items()
        ],
        "derived_one_shot": one_shot,
        "queries": _slowest_first(timings),
        "notes": {
            "protocol": (
                "batch = min of 2 consecutive noop-forced passes; s_* = 1 "
                "pass (drain floor), settled before and after; each "
                "would-be flag (normalized or raw) gets one settled "
                "confirm pass with the canaries, min kept; gate = ratio + "
                "abs slack vs the min-of-history SWEEP_BASELINE.json "
                "(merged from raw seconds, only tightens) after dividing "
                "by the canary host_factor of the post-confirm timings "
                "(host_factor_window: pre-confirm); raw view in `queries` "
                "and raw_flagged; a pre-confirm factor above dirty_factor "
                "re-runs the loop once (aborted_windows), a still-dirty "
                "window publishes window_dirty: true; derived builds = min "
                "of the first build and one cleared-cache replay of the "
                "queries observed building them"
            ),
        },
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    with open(BASELINE_PATH, "w") as f:
        json.dump(
            {
                "comment": (
                    "min warm seconds ever observed per registered query "
                    "at sf0.1 (tools/sweep.py); entries only move down"
                ),
                "queries": updated,
            },
            f,
            indent=1,
        )
    line = json.dumps(
        {
            "sweep": out_path,
            "n_timed": len(timings),
            "errors": len(errors),
            "flagged": flagged,
            "slowest": dict(list(doc["queries"].items())[:10]),
            "wall_sec": wall,
        }
    )
    timer.emit(line)
    return 1 if (flagged or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
