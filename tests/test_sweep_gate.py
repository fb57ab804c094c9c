"""Unit tests for the full-registry sweep gate policy (tools/sweep.py).

The gate functions are pure (no Spark) by design so the policy itself
is pinned: min-of-history baselines only tighten, the ratio gate is
dampened by an absolute slack for sub-second jitter, and new queries
auto-enroll. A drifting host (the r10 uniform ~1.3x) must never loosen
the gate; a genuine regression (the pre-r9 d_simhash_pairs 13x) must
always trip it.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from tools.sweep import gate_flags, merged_baseline  # noqa: E402


def test_regression_beyond_gate_and_slack_flags():
    base = {"d_simhash_pairs": {"min_sec": 2.8, "round": "r11"}}
    flags = gate_flags({"d_simhash_pairs": 36.0}, base, gate=2.0, slack=0.75)
    assert len(flags) == 1
    assert flags[0]["query"] == "d_simhash_pairs"
    assert flags[0]["ratio"] == round(36.0 / 2.8, 2)


def test_subsecond_jitter_inside_slack_does_not_flag():
    # 0.2 s -> 0.55 s is 2.75x but only +0.35 s — scheduler jitter on a
    # shared host, not a regression worth a round item.
    base = {"t_quality_score": {"min_sec": 0.2, "round": "r11"}}
    assert gate_flags({"t_quality_score": 0.55}, base, gate=2.0, slack=0.75) == []


def test_host_drift_under_ratio_does_not_flag():
    # Uniform 1.3x drift (the r10 bench episode) stays under a 2x gate.
    base = {"q18": {"min_sec": 1.0, "round": "r10"}}
    assert gate_flags({"q18": 1.3}, base, gate=2.0, slack=0.75) == []


def test_unknown_query_is_not_flagged():
    assert gate_flags({"brand_new": 9.9}, {}, gate=2.0, slack=0.75) == []


def test_flags_sorted_worst_first():
    base = {
        "a": {"min_sec": 1.0, "round": "r11"},
        "b": {"min_sec": 1.0, "round": "r11"},
    }
    flags = gate_flags({"a": 3.0, "b": 5.0}, base, gate=2.0, slack=0.75)
    assert [f["query"] for f in flags] == ["b", "a"]


def test_baseline_only_tightens():
    base = {"q1": {"min_sec": 1.0, "round": "r10"}}
    out = merged_baseline(base, {"q1": 1.4}, "r11")
    assert out["q1"] == {"min_sec": 1.0, "round": "r10"}  # slower: unchanged
    out = merged_baseline(base, {"q1": 0.8}, "r11")
    assert out["q1"] == {"min_sec": 0.8, "round": "r11"}  # faster: tightens


def test_new_queries_auto_enroll():
    out = merged_baseline({}, {"fresh": 2.5}, "r11")
    assert out["fresh"] == {"min_sec": 2.5, "round": "r11"}


def test_errored_query_never_tightens_baseline():
    # ADVICE r11: a pass-1 timing recorded before pass 2 errored (or a
    # bogusly fast degenerate-plan time) must not lower the permanent
    # min-of-history floor.
    base = {"q1": {"min_sec": 1.0, "round": "r10"}}
    out = merged_baseline(
        base, {"q1": 0.1, "q2": 0.2}, "r12", errors={"q1": "boom", "q2": "boom"}
    )
    assert out["q1"] == {"min_sec": 1.0, "round": "r10"}  # no tighten
    assert "q2" not in out  # no enroll from an errored run


def test_errored_query_is_not_double_flagged():
    # rc 1 already reports the error; a gate flag on the partial
    # timing is noise.
    base = {"q1": {"min_sec": 1.0, "round": "r10"}}
    flags = gate_flags(
        {"q1": 9.0}, base, gate=2.0, slack=0.75, errors={"q1": "boom"}
    )
    assert flags == []


def test_merge_does_not_mutate_input():
    base = {"q1": {"min_sec": 1.0, "round": "r10"}}
    merged_baseline(base, {"q1": 0.5, "q2": 1.0}, "r11")
    assert base == {"q1": {"min_sec": 1.0, "round": "r10"}}


def test_confirm_failure_keeps_flag_and_timing():
    """ADVICE r12: a confirm-pass hiccup must not suppress the flag it
    was vetting — the valid main-loop timing stays eligible and the
    failure is reported separately, never in the main errors dict."""
    from tools.sweep import confirm_pass

    baseline = {"q1": {"min_sec": 1.0, "round": "r10"}}
    timings = {"q1": 13.0}
    flags = gate_flags(timings, baseline)
    assert [f["query"] for f in flags] == ["q1"]

    def retime(name):
        raise RuntimeError("transient confirm hiccup")

    confirm_errors = confirm_pass(flags, timings, retime)
    assert timings == {"q1": 13.0}  # pre-confirm timing untouched
    assert "q1" in confirm_errors
    # the flag SURVIVES: q1 is not in the main errors dict, so the
    # recomputed gate still reports the breach
    assert [f["query"] for f in gate_flags(timings, baseline)] == ["q1"]
    # and the baseline merge still sees the (slow) timing as valid —
    # min-only, so it does not tighten, but it is not excluded either
    merged = merged_baseline(baseline, timings, "r13")
    assert merged["q1"]["min_sec"] == 1.0


def test_confirm_retime_clears_one_sample_spike():
    from tools.sweep import confirm_pass

    baseline = {"q1": {"min_sec": 1.0, "round": "r10"}}
    timings = {"q1": 4.6}  # noisy sample breaching the gate
    flags = gate_flags(timings, baseline)
    assert flags
    confirm_errors = confirm_pass(flags, timings, lambda n: 1.1)
    assert confirm_errors == {}
    assert timings["q1"] == 1.1  # min kept
    assert gate_flags(timings, baseline) == []  # spike vetted away


# --- sf1 canary-normalized gating (r18, VERDICT r17 #3) -------------------


def test_sf1_host_factor_forgives_uniform_drift_only():
    """Pure host drift (canaries and workload slower by the same
    factor) must not flag; a per-query regression on a quiet host
    must; and a per-query regression RIDING host drift must still
    poke above the normalized gate."""
    from bench import regressions
    from bench import host_factor

    prev = {
        "q1_pricing_summary": 1.0,
        "q18_large_volume_customers": 2.0,
        "s_stateful_user_stats": 4.0,
    }
    # uniform 1.6x drift: raw gate would flag the stateful slot
    drifted = {
        "q1_pricing_summary": 1.6,
        "q18_large_volume_customers": 3.2,
        "s_stateful_user_stats": 6.4,
    }
    hf = host_factor(drifted, prev)
    assert abs(hf - 1.6) < 1e-9
    assert regressions({k: v / hf for k, v in drifted.items()}, prev) == []
    assert regressions(drifted, prev) != []  # the raw view still shows it
    # quiet host, real 2x regression: still flags
    quiet = dict(prev, s_stateful_user_stats=8.0)
    hf = host_factor(quiet, prev)
    assert hf == 1.0
    assert [r["query"] for r in regressions(quiet, prev)] == [
        "s_stateful_user_stats"
    ]
    # 1.5x drift AND a 2.5x-on-top regression: normalized ratio ~2.5
    both = {
        "q1_pricing_summary": 1.5,
        "q18_large_volume_customers": 3.0,
        "s_stateful_user_stats": 15.0,
    }
    hf = host_factor(both, prev)
    flags = regressions({k: v / hf for k, v in both.items()}, prev)
    assert [r["query"] for r in flags] == ["s_stateful_user_stats"]


def test_sf1_host_factor_clamps():
    """A faster host must not loosen the gate (floor 1.0) and a canary
    collapse beyond the drift band must not forgive the board (cap 3)."""
    from bench import host_factor

    prev = {"q1_pricing_summary": 1.0, "q18_large_volume_customers": 1.0}
    assert host_factor(
        {"q1_pricing_summary": 0.5, "q18_large_volume_customers": 0.6}, prev
    ) == 1.0
    assert host_factor(
        {"q1_pricing_summary": 9.0, "q18_large_volume_customers": 8.0}, prev
    ) == 3.0
    assert host_factor({}, prev) == 1.0  # no canaries timed -> raw gate


# --- canary-normalized gating (VERDICT r18 #4, landed r20) -----------------


def _base(d):
    return {k: {"min_sec": v, "round": "r18"} for k, v in d.items()}


def test_loaded_window_on_unchanged_code_does_not_flag():
    """The r19 incident, synthetically: untouched code on a loaded
    window drifts every slot ~2.5x over its best-ever — raw gating
    flags it (q11 at 2.03x was exactly this), normalized gating does
    not, and the raw view stays in the artifact via raw_flagged."""
    from tools.sweep import gate_flags, sweep_host_factor

    best = {
        "q1_pricing_summary": 1.0,
        "q6_forecast_revenue": 0.3,
        "q18_large_volume_customers": 1.2,
        "q11_important_stock": 1.0,
    }
    loaded = {k: v * 2.5 for k, v in best.items()}
    host = sweep_host_factor(loaded, _base(best))
    assert abs(host - 2.5) < 1e-9
    assert gate_flags(loaded, _base(best), gate=2.0, slack=0.75) != (
        []
    ), "precondition: the raw gate DOES flag this window"
    assert (
        gate_flags(loaded, _base(best), gate=2.0, slack=0.75, host=host)
        == []
    ), "normalized gate must clear pure host drift"


def test_injected_regression_still_flags_on_quiet_window():
    """Normalization must not eat real regressions: canaries at their
    best (host=1.0), one query genuinely 3x slower -> flags."""
    from tools.sweep import gate_flags, sweep_host_factor

    best = {
        "q1_pricing_summary": 1.0,
        "q6_forecast_revenue": 0.3,
        "q18_large_volume_customers": 1.2,
        "d_simhash_pairs": 2.0,
    }
    cur = dict(best, d_simhash_pairs=6.0)
    host = sweep_host_factor(cur, _base(best))
    assert host == 1.0
    flags = gate_flags(cur, _base(best), gate=2.0, slack=0.75, host=host)
    assert [f["query"] for f in flags] == ["d_simhash_pairs"]
    assert flags[0]["norm_ratio"] == 3.0


def test_regression_riding_host_drift_still_flags():
    """A genuine 2.5x regression UNDER 2x host drift: the victim's raw
    ratio is 5x, the canaries say 2x, normalized 2.5x > gate."""
    from tools.sweep import gate_flags, sweep_host_factor

    best = {
        "q1_pricing_summary": 1.0,
        "q6_forecast_revenue": 0.3,
        "q18_large_volume_customers": 1.2,
        "victim": 2.0,
    }
    cur = {k: v * 2.0 for k, v in best.items()}
    cur["victim"] = 2.0 * 5.0
    host = sweep_host_factor(cur, _base(best))
    assert abs(host - 2.0) < 1e-9
    flags = gate_flags(cur, _base(best), gate=2.0, slack=0.75, host=host)
    assert [f["query"] for f in flags] == ["victim"]
    assert flags[0]["norm_ratio"] == 2.5
    assert flags[0]["sec"] == 10.0, "flag records RAW seconds"


def test_one_regressed_canary_is_outvoted_and_flags_itself():
    """Median-of-3: a real regression IN a canary must not inflate the
    factor (the other two outvote it) and must itself flag."""
    from tools.sweep import gate_flags, sweep_host_factor

    best = {
        "q1_pricing_summary": 1.0,
        "q6_forecast_revenue": 1.0,
        "q18_large_volume_customers": 1.0,
    }
    cur = dict(best, q6_forecast_revenue=4.0)
    host = sweep_host_factor(cur, _base(best))
    assert host == 1.0
    flags = gate_flags(cur, _base(best), gate=2.0, slack=0.75, host=host)
    assert [f["query"] for f in flags] == ["q6_forecast_revenue"]


def test_bench_gate_normalizes_like_the_judge_asked():
    """The exact r18 #4 'done' criterion at the BENCH gate (ratio
    1.5x vs previous round): a loaded window on unchanged code prints
    regressions: [] while an injected real 1.5x+ single-query
    regression still flags."""
    from bench import host_factor, regressions

    prev = {
        "q1_pricing_summary": 1.0,
        "q6_forecast_revenue": 0.25,
        "q18_large_volume_customers": 0.9,
        "w_top3_parts_per_brand": 1.3,
    }
    # loaded window, unchanged code: uniform 1.8x
    loaded = {k: v * 1.8 for k, v in prev.items()}
    hf = host_factor(loaded, prev)
    assert abs(hf - 1.8) < 1e-9
    assert regressions(loaded, prev, host=hf) == []
    assert regressions(loaded, prev) != []  # raw view keeps the truth
    # quiet window, injected 1.6x single-query regression
    quiet = dict(prev, w_top3_parts_per_brand=1.3 * 1.6)
    hf = host_factor(quiet, prev)
    assert hf == 1.0
    flags = regressions(quiet, prev, host=hf)
    assert [r["query"] for r in flags] == ["w_top3_parts_per_brand"]
    # flags record RAW seconds (the sweep-side convention, r20)
    assert flags[0]["sec"] == quiet["w_top3_parts_per_brand"]


def test_sweep_host_factor_without_canaries_is_raw():
    from tools.sweep import sweep_host_factor

    assert sweep_host_factor({"x": 9.0}, _base({"x": 1.0})) == 1.0


def test_settled_regression_under_stale_loaded_factor_still_flags():
    """VERDICT r20 #2's exact 'done' criterion: the main loop runs on a
    loaded window (canaries 2.5x), a REAL regression settles at 2.3x in
    the confirm pass.  Pre-r21, the final `flagged` divided the settled
    2.3x by the stale 2.5 factor (norm 0.92x — cleared); with the
    canaries settled in the same confirm window and the factor
    re-derived from the post-confirm timings (final_flags), the 2.3x
    breach flags in `flagged`, not just raw_flagged."""
    from tools.sweep import (
        confirm_pass,
        final_flags,
        gate_flags,
        sweep_host_factor,
    )

    best = {
        "q1_pricing_summary": 1.0,
        "q6_forecast_revenue": 0.3,
        "q18_large_volume_customers": 1.2,
        "victim": 2.0,
    }
    # loaded main-loop window: everything 2.5x, victim ALSO regressed
    # (its true settled cost is 2.3x best; the window adds drift on top)
    timings = {k: v * 2.5 for k, v in best.items()}
    timings["victim"] = 2.0 * 2.3 * 2.5
    host_window = sweep_host_factor(timings, _base(best))
    assert abs(host_window - 2.5) < 1e-9
    suspects = gate_flags(
        timings, _base(best), gate=2.0, slack=0.75, host=host_window
    )
    assert [f["query"] for f in suspects] == ["victim"]
    # the pre-r21 bug, pinned: gating post-confirm settled seconds by
    # the stale loaded factor clears the real breach
    settled = {"victim": 2.0 * 2.3}  # regression survives settling
    settled.update({c: best[c] for c in best if c != "victim"})
    confirm_targets = suspects + [
        {"query": c} for c in settled if c != "victim"
    ]
    confirm_pass(confirm_targets, timings, lambda n: settled[n])
    assert timings["victim"] == 2.0 * 2.3  # min kept
    assert (
        gate_flags(
            timings, _base(best), gate=2.0, slack=0.75, host=host_window
        )
        == []
    ), "precondition: the stale factor hides the settled breach"
    # the r21 fix: factor and flags from the same post-confirm timings
    flagged, host = final_flags(timings, _base(best))
    assert host == 1.0
    assert [f["query"] for f in flagged] == ["victim"]
    assert flagged[0]["norm_ratio"] == 2.3


def test_bench_line_guard_never_drops_the_queries_map():
    """VERDICT r21 #1 'done' criterion: even on a loaded window whose
    regression arrays bloat the printed line past the tail budget, the
    per-query map the driver's comparator reads survives intact; the
    flag arrays are what get capped (top-3 + an honest total)."""
    import json

    from bench import compact_line

    queries = {f"q{i:02d}_some_longish_query_name": 1.234 for i in range(27)}
    derived = {f"artifact_{i}": 2.345 for i in range(8)}
    flags = [
        {
            "query": f"q{i:02d}_some_longish_query_name",
            "sec": 2.5,
            "prev_sec": 1.0,
            "ratio": round(2.5 - i * 0.01, 2),
            "norm_sec": 1.55,
            "norm_ratio": 1.55,
            "host": 1.611,
        }
        for i in range(21)
    ]
    raw = [{k: e[k] for k in ("query", "sec", "prev_sec", "ratio")} for e in flags]
    doc = {
        "metric": "headline_queries_total_sec",
        "value": 39.186,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "derived_build_sec": derived,
        "host_factor": 1.611,
        "regressions": flags,
        "raw_regressions": raw,
    }
    line = compact_line(doc)
    assert len(line) <= 1900
    parsed = json.loads(line)
    # the driver's contract: full numeric per-query map, always
    assert parsed["queries"] == queries
    # the arrays are what get capped (worst flags kept, total honest)
    assert 0 < len(parsed["regressions"]) <= 3
    assert 0 < len(parsed["raw_regressions"]) <= 3
    assert parsed["regressions_n"] == 21
    assert parsed["raw_regressions_n"] == 21
    assert parsed["regressions"][0]["ratio"] == 2.5
    # a quiet-window doc (no flags) passes through verbatim
    quiet = dict(doc, regressions=[], raw_regressions=[])
    assert json.loads(compact_line(quiet)) == quiet


def test_dirty_window_rerun_policy():
    """VERDICT r21 #7: a pre-confirm canary factor above the dirty
    threshold re-runs the timing loop while attempts remain; a clean
    window never re-runs; the retry budget bounds the loop."""
    from bench import should_rerun_window

    assert should_rerun_window(2.5, attempt=0, retries=1, threshold=2.0)
    assert not should_rerun_window(1.4, attempt=0, retries=1, threshold=2.0)
    # threshold is exclusive: exactly-at-threshold publishes
    assert not should_rerun_window(2.0, attempt=0, retries=1, threshold=2.0)
    # budget exhausted: publish (with window_dirty recorded), don't loop
    assert not should_rerun_window(3.0, attempt=1, retries=1, threshold=2.0)
    assert should_rerun_window(3.0, attempt=1, retries=2, threshold=2.0)


def test_prev_bench_rejects_slim_queries_map():
    """The r21 slim line (`queries: {"_see": ..., "n": 27}`) must never
    be adopted as a gate baseline — it has no usable timings, and its
    truthiness silently blinded both regression gates on the first r22
    bench run (host_factor fell back to 1.0 with zero canary matches)."""
    from bench import _usable_queries

    assert _usable_queries({"queries": {"_see": "BENCH_FULL_LAST.json", "n": 27}}) == {}
    assert _usable_queries({"queries": {"q1": 1.2, "junk": "str"}}) == {"q1": 1.2}
    assert _usable_queries({}) == {}


def test_prev_bench_rejects_pointer_derived_map(tmp_path, monkeypatch):
    """The derived-build map gets the same sanitizer as the per-query
    map: a pointer-shaped `derived_build_sec` (the r21 slim line) must
    never become the derived-build gate's baseline, and non-numeric
    entries are dropped — while the round's real per-query timings are
    still adopted."""
    import json

    import bench

    key = "derived_build_sec"
    assert bench._usable_queries(
        {key: {"_see": "BENCH_FULL_LAST.json", "n": 8}}, key
    ) == {}
    assert bench._usable_queries(
        {key: {"minhash_sig": 2.5, "junk": "str"}}, key
    ) == {"minhash_sig": 2.5}
    assert bench._usable_queries({key: "pointer"}, key) == {}

    doc = {
        "parsed": {
            "queries": {"q1_pricing_summary": 1.2},
            "derived_build_sec": {"_see": "BENCH_FULL_LAST.json", "n": 8},
        }
    }
    (tmp_path / "BENCH_r90.json").write_text(json.dumps(doc))
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    assert bench._prev_bench() == ({"q1_pricing_summary": 1.2}, {})


def test_table_plan_memo_misses_on_fixture_regeneration(tmp_path):
    """r22 plan-handle memo: table() returns the SAME unexecuted frame
    for repeated calls (no per-call footer re-read), a regenerated
    fixture at the same path is a cache miss (the r5 stale-cache
    lesson), and no rows are ever materialized by the memo itself."""
    import shutil

    from kafka_spark_streaming_spark import tables as tbl
    from kafka_spark_streaming_spark.session import get_spark

    spark = get_spark(cpus=2)
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path)
    for name in ("documents", "events"):
        shutil.copy(f"{src}/{name}.parquet", f"{sf}/{name}.parquet")

    d1 = tbl.table(spark, sf, "documents")
    d2 = tbl.table(spark, sf, "documents")
    assert d1 is d2  # plan handle reused, zero extra reads

    # regeneration at the same path: new mtime/size -> miss
    shutil.copy(f"{src}/events.parquet", f"{sf}/documents.parquet")
    import os
    os.utime(f"{sf}/documents.parquet")
    d3_key_changed = tbl.fixture_fingerprint(sf, "documents")
    assert any(k[3] != d3_key_changed for k in tbl._TABLE_CACHE if k[1] == sf)
    # the stale handle is evicted and the fresh file actually read
    # (events schema fails the documents contract -> loud error, which
    # is exactly the drift-fails-loudly behavior the loader promises)
    import pytest as _pytest
    with _pytest.raises(Exception):
        tbl.table(spark, sf, "documents")


def test_compact_line_warns_loudly_when_over_budget(capsys):
    """A per-query map too large for the budget even after every flag
    array is capped and derived_build_sec collapsed: the line is still
    returned whole (queries are never dropped), and stderr says how far
    over the budget it is."""
    import json

    from bench import compact_line

    queries = {f"q{i:03d}_a_rather_long_query_name": 1.234 for i in range(80)}
    doc = {
        "metric": "headline_queries_total_sec",
        "queries": queries,
        "derived_build_sec": {"artifact": 2.0},
        "regressions": [],
        "raw_regressions": [],
    }
    line = compact_line(doc)
    assert len(line) > 1900
    assert json.loads(line)["queries"] == queries
    err = capsys.readouterr().err
    assert "WARNING" in err
    assert f"{len(line)} bytes" in err and "1900-byte budget" in err
    # a line that fits stays silent
    compact_line({"queries": {"q1": 1.0}})
    assert capsys.readouterr().err == ""


_REAL = {"queries": {"q1_pricing_summary": 1.0}, "derived_build_sec": {"a": 2.0}}


@pytest.mark.parametrize(
    "files, suffix, expected",
    [
        pytest.param(
            {
                "BENCH_r20.json": {"parsed": _REAL},
                "BENCH_r21.json": {
                    "parsed": {
                        "queries": {"q1_pricing_summary": 1.5, "junk": "x"},
                        "derived_build_sec": {"a": 2.5},
                    }
                },
                "BENCH_r22_sf1.json": _REAL,
                "BENCH_r22_c8.json": {"parsed": _REAL},
            },
            "",
            ({"q1_pricing_summary": 1.5}, {"a": 2.5}),
            id="bench-round",
        ),
        pytest.param(
            {
                "BENCH_r20_sf1.json": _REAL,
                "BENCH_r21_sf1.json": {
                    "queries": {
                        "q1_pricing_summary": {"sec": 2.0, "rows": 4},
                        "q18_large_volume_customers": {"error": "boom"},
                        "late": {"sec": 3.0, "error": "boom"},
                    },
                    "derived_build_sec": {"a": 1.0},
                },
                "BENCH_r22.json": {"parsed": _REAL},
            },
            "_sf1",
            ({"q1_pricing_summary": 2.0}, {"a": 1.0}),
            id="sf1-round",
        ),
        pytest.param(
            {
                "BENCH_r20.json": {"parsed": _REAL},
                "BENCH_r21.json": {"n": 21, "rc": 1, "parsed": None},
            },
            "",
            ({"q1_pricing_summary": 1.0}, {"a": 2.0}),
            id="crashed-round",
        ),
        pytest.param(
            {
                "BENCH_r20.json": {"parsed": _REAL},
                "BENCH_r21.json": {
                    "parsed": {
                        "queries": {"_see": "BENCH_FULL_LAST.json", "n": 27},
                        "derived_build_sec": {"a": 9.0},
                    }
                },
            },
            "",
            ({"q1_pricing_summary": 1.0}, {"a": 2.0}),
            id="pointer-queries",
        ),
        pytest.param(
            {
                "BENCH_r20_sf1.json": _REAL,
                "BENCH_r21_sf1.json": {
                    "queries": {"q1_pricing_summary": {"sec": 1.1}},
                    "derived_build_sec": {"_see": "BENCH_FULL_LAST.json"},
                },
            },
            "_sf1",
            ({"q1_pricing_summary": 1.1}, {}),
            id="pointer-derived",
        ),
    ],
)
def test_baseline_reader_takes_newest_real_round(
    tmp_path, monkeypatch, files, suffix, expected
):
    """One reader serves the bench (BENCH_r*.json, wrapped in
    `parsed`) and the sf1 smoke (BENCH_r*_sf1.json, bare docs with
    {"sec", "rows"} entries): the newest round with real per-query
    numbers wins, and every timing map it returns has passed the one
    sanitizer — no pointers, errors or non-numeric values."""
    import json

    import bench

    for name, doc in files.items():
        (tmp_path / name).write_text(json.dumps(doc))
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    assert bench._prev_bench(suffix) == expected


def test_streaming_rule_matches_the_registry():
    """The core treats an entry as streaming iff its name starts with
    s_ (settle before/after, quiesce at teardown).  That holds only if
    every query registered from streaming_queries has an s_ name and
    no other module registers one."""
    from kafka_spark_streaming_spark.operators import QUERIES

    mod = "kafka_spark_streaming_spark.operators.streaming_queries"
    assert any(fn.__module__ == mod for fn in QUERIES.values())
    for name, fn in QUERIES.items():
        assert name.startswith("s_") == (fn.__module__ == mod), name


def test_resample_replays_exactly_the_observed_builders(monkeypatch):
    """The derived-build resample set is observed, not hand-kept: only
    queries whose first timed pass added a derived_build_sec key for
    this sf_dir are replayed, once per rebuild; a replay that raises is
    reported with the artifacts it left one-shot.  A query that raises
    in a timed pass is recorded and skipped by later passes."""
    import bench
    from kafka_spark_streaming_spark import tables

    monkeypatch.setattr(tables, "DERIVED_BUILD_SEC", {})
    monkeypatch.setattr(tables, "reset_derived_cache", lambda: None)
    calls: list[str] = []

    def builds(spark, sf_dir):
        calls.append("builds")
        tables.DERIVED_BUILD_SEC.setdefault(f"art:{sf_dir}", 1.0)

    def elsewhere(spark, sf_dir):
        calls.append("elsewhere")
        tables.DERIVED_BUILD_SEC.setdefault("other:/another/sf", 1.0)

    def breaks_on_replay(spark, sf_dir):
        calls.append("flaky")
        if f"idx:{sf_dir}" in tables.DERIVED_BUILD_SEC:
            raise RuntimeError("replay broke")
        tables.DERIVED_BUILD_SEC[f"idx:{sf_dir}"] = 2.0

    def boom(spark, sf_dir):
        calls.append("boom")
        raise RuntimeError("nope")

    fns = {
        "builds": builds,
        "elsewhere": elsewhere,
        "flaky": breaks_on_replay,
        "boom": boom,
    }
    timer = bench.Timer(spark=None)  # no s_* entry: no session needed
    timings, errors = timer.time_queries(fns, "/sf", 1, lambda df: 0)
    assert set(timings) == {"builds", "elsewhere", "flaky"}
    assert errors == {"boom": "RuntimeError: nope"}
    timer.time_queries(fns, "/sf", 1, timings=timings, errors=errors)
    assert calls.count("boom") == 1  # skipped after it raised
    calls.clear()

    failed, one_shot = timer.resample("/sf", 2, lambda df: 0)
    assert calls == ["builds", "flaky", "builds"]
    assert failed == {"flaky": "RuntimeError: replay broke"}
    assert one_shot == ["idx"]
    assert bench.derived_build_sec("/sf") == {"art": 1.0, "idx": 2.0}
