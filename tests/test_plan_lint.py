"""Registry-wide physical-plan lint — the 100 TB posture as a global
invariant, not a per-query spot check.

Every registered BATCH query's plan is screened for the two patterns
that kill a 1000-executor run regardless of data layout:

- ``CartesianProduct`` — an all-pairs shuffle join. Any operator that
  needs pairwise semantics must get there via equi-join blocking
  (bands, buckets, prefixes) or an explicit small-side broadcast
  (``BroadcastNestedLoopJoin`` against a bounded side is acceptable
  and separately allow-listed).
- ``BatchEvalPython`` / ``PythonUDF`` outside Arrow — row-at-a-time
  Python in the hot path. All Python must be Arrow-batched
  (``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``).

Streaming-backed queries (``s_*``) are excluded: calling them executes
a real stream drain, and their stateful plans are asserted in
test_streaming.py instead.
"""

from __future__ import annotations

import pytest

from kafka_spark_streaming_spark.operators import QUERIES

# queries whose BroadcastNestedLoopJoin is a deliberate bounded-side
# broadcast (tiny query/count/cutoff frames), reviewed individually
_BNLJ_OK = {
    "sim_topk_bruteforce",   # query side: 5 rows, broadcast by design
    "sim_topk_blocked",      # same query side feeding the GEMM variant
    "sim_ann_lsh",           # broadcast hyperplane/query tables
    "sim_ann_ivf",           # broadcast centroids/queries
    # (r8: the brute d_embedding_near_dup / d_semantic_only_pairs pair
    # generators were DEREGISTERED — test-only oracle machinery now,
    # like _jaccard_pairs — so no registered query carries an all-pairs
    # BNLJ anymore; remaining entries are bounded-side broadcasts only)
    "t_tfidf_top_terms",     # 1-row corpus count broadcast
    "t_unigram_logprob",     # 1-row token total broadcast
    "pipe_quality_filter",   # 1-row percentile cutoffs broadcast
    "smp_mixture_rebalance", # 1-row corpus totals broadcast
    "g_pagerank_trade",      # 1-row node count broadcast
    "r_batch_summary",       # 1-row distinct-count agg join
    "q20_red_part_suppliers",   # 1-row qty-total broadcast (tpch2.py:375)
    "q22_inactive_rich_customers",  # 1-row avg-acctbal broadcast
    "sk_heavy_hitter_tokens",   # 1-row corpus-count threshold broadcast
    "time_gapfill_daily",       # broadcast day-spine bounds (1 row)
    "w_revenue_deciles",        # 1-row decile-cutpoints broadcast
    "p_incremental_dedup_bloom",  # 1-row dense-bloom-bitset broadcast
    "g_triangle_trade",      # 1-row mean-edge-weight cut broadcast
    "q_key_skew_profile",    # 1-row per-column totals broadcast
    "p_corpus_end_to_end",   # 1-row token-total + percentile-cutoff
                             # broadcasts (the pipe_quality_filter /
                             # t_unigram_logprob pattern, composed)
}


# Queries whose plan contains a GLOBAL (unpartitioned) window, each
# individually reviewed: the window's input frame is bounded by design
# (per-partition counts, one row per day, per-chunk offsets) — O(32) or
# O(days), never O(data). A global window over data rows is the one
# window shape that cannot scale (WindowExec moves everything to a
# single partition); any new entry here needs the same bounded-frame
# argument in its docstring.
_GLOBAL_WINDOW_OK = {
    "w_revenue_deciles",          # 32-row per-partition-count offsets table
    "time_new_vs_returning_users", # running sum over one row per day
    "time_rolling_corr",          # rolling stats over the daily series
    "w_trailing_7d_revenue",      # trailing window over the daily rollup
    "p_pack_sequences",           # prefix sum over per-chunk offsets
    "p_corpus_end_to_end",        # the same two-phase prefix-sum
                                  # offsets table (~32 rows), composed
    "t_vocab_encode",             # row_number over the 256-row vocab
    "q_key_skew_profile",         # rank over a LIMIT-5 frame per column
}

# Queries allowed to read EVERY column of a fixture table: the operator
# genuinely emits whole rows (a cleaning pipeline returns cleaned
# documents). Everything else must column-prune its scans.
_FULL_SCAN_OK = {("pipe_corpus_clean", "documents")}

# Full column counts of the fixture tables a scan could fail to prune.
_TABLE_WIDTHS = {
    "lineitem": 11,
    "orders": 6,
    "events": 6,
    "part": 6,
    "documents": 5,
    "customer": 5,
}


def _batch_names() -> list[str]:
    return sorted(n for n in QUERIES if not n.startswith("s_"))


def _global_window_count(df) -> int:
    """Window nodes with an empty partitionSpec in the optimized logical
    plan (the physical tree hides behind AdaptiveSparkPlan until
    execution, so lint the logical one)."""

    def walk(node) -> int:
        n = 0
        if node.nodeName() == "Window" and node.partitionSpec().size() == 0:
            n += 1
        for i in range(node.children().size()):
            n += walk(node.children().apply(i))
        return n

    return walk(df._jdf.queryExecution().optimizedPlan())


def _unpruned_scans(name: str, plan: str) -> list[tuple[str, int]]:
    """(table, n_cols) for each parquet scan that reads a fixture
    table's FULL width — at 100 TB that is the difference between
    scanning the needed columns and scanning everything."""
    import re

    def _top_level_fields(schema: str) -> int:
        # commas inside nested types (array<...>, struct<...>) are not
        # field separators — count only depth-0 commas
        if not schema.strip():
            return 0
        depth, n = 0, 1
        for ch in schema:
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif ch == "," and depth == 0:
                n += 1
        return n

    out = []
    for m in re.finditer(
        r"Location:[^\n]*?/(\w+)\.parquet.*?ReadSchema: struct<(.*?)>\n",
        plan,
        re.S,
    ):
        tbl, schema = m.group(1), m.group(2)
        ncols = _top_level_fields(schema)
        width = _TABLE_WIDTHS.get(tbl)
        if width and ncols >= width and (name, tbl) not in _FULL_SCAN_OK:
            out.append((tbl, ncols))
    return out


@pytest.mark.parametrize("name", _batch_names())
def test_no_cartesian_no_row_python(spark, sf_smoke, name):
    df = QUERIES[name](spark, sf_smoke)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unreviewed nested-loop join — if the non-equi side "
            "is bounded by design, add it to _BNLJ_OK with a reason"
        )
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"
    unpruned = _unpruned_scans(name, plan)
    assert not unpruned, (
        f"{name}: scan reads the full width of {unpruned} — project the "
        "needed columns so Catalyst prunes the parquet read, or add to "
        "_FULL_SCAN_OK with a reason"
    )
    if name not in _GLOBAL_WINDOW_OK:
        assert _global_window_count(df) == 0, (
            f"{name}: unpartitioned window over an unreviewed frame — "
            "WindowExec single-partitions its input; restructure (local "
            "rank + bounded offsets) or add to _GLOBAL_WINDOW_OK with a "
            "bounded-frame argument"
        )


# Filter pushdown reaching the parquet scan — spot-checked on the
# filter-heavy headline queries: (query, substring that must appear in
# a PushedFilters/PartitionFilters list). If a refactor reroutes a
# predicate through a derived column, it falls out of the scan and the
# query silently re-reads everything at 100 TB; this makes that loud.
_PUSHDOWN_EXPECT = [
    ("q6_forecast_revenue", "PushedFilters", "GreaterThanOrEqual(l_shipdate"),
    ("q3_shipping_priority", "PushedFilters", "EqualTo(c_mktsegment,BUILDING)"),
    ("q19_bracket_revenue", "PushedFilters", "GreaterThanOrEqual(p_size,1)"),
    ("q14_promo_revenue", "PushedFilters", "l_shipdate"),
    # partition pruning (event_date is a directory column): the scan
    # must touch 1/30th of the files, not filter post-read
    ("p_pruned_daily_type_counts", "PartitionFilters", "event_date"),
]


@pytest.mark.parametrize("name,section,needle", _PUSHDOWN_EXPECT)
def test_filter_reaches_scan(spark, sf_smoke, name, section, needle):
    import re

    df = QUERIES[name](spark, sf_smoke)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    lists = re.findall(rf"{section}: \[[^\]]*\]", plan)
    assert any(needle in x for x in lists), (
        f"{name}: expected {needle!r} in a {section} list; got {lists}"
    )


# Every forced broadcast in the package: (module, top-level function) ->
# one size bound per F.broadcast( call in it.  AQE broadcasts any side
# under autoBroadcastJoinThreshold from runtime sizes, so a hint stays
# only where the executed plan changes without it (PERF_NOTES "Forced
# broadcasts"), and each one states what bounds its broadcast side.
_FORCED_BROADCAST_OK = {
    ("operators.analytic", "w_revenue_deciles"): (
        "32 rows (one offset per range partition)",
    ),
    ("operators.analytic", "time_zscore_anomalies"): (
        "one row per event_type",
    ),
    ("operators.graph", "g_pagerank_trade"): (
        "≤ 25 rows (one rank per nation)",
        "≤ 25 rows (one in-mass per nation)",
    ),
    ("operators.llm_pipeline", "exclusive_prefix_sum"): (
        "n_parts rows (one offset per range partition)",
    ),
    ("operators.quality", "smp_mixture_rebalance"): (
        "one row per source",
    ),
    ("operators.relational_tpch2", "q11_supplier_concentration"): (
        "≤ 25 rows (one total per nation)",
    ),
    ("operators.similarity", "sim_ann_lsh"): (
        "≤ N_QUERIES × _LSH_TABLES rows (query buckets)",
    ),
    ("operators.similarity", "sim_ann_ivf"): (
        "≤ N_QUERIES × n_probe rows (query cells)",
    ),
    ("operators.similarity", "sim_pq_adc_topk"): (
        "≤ N_QUERIES × _PQ_M × _PQ_K rows (query ADC table)",
    ),
    ("operators.similarity", "_km_dists"): (
        "_KM_K × dim rows (centroid coordinates)",
    ),
    ("operators.text", "vocab_broadcast"): (
        "only when the source table is ≤ _VOCAB_HINT_SOURCE_BYTES on disk",
    ),
    ("operators.streaming_queries", "s_incremental_ann_ivf"): (
        "≤ N_QUERIES × n_probe rows (query cells)",
    ),
    ("operators.store_maintenance", "_rebalance_body"): (
        "≤ n_cells rows (one seed position per cell)",
    ),
}


def _forced_broadcast_sites() -> dict[tuple[str, str], int]:
    """(module, top-level function or class) -> number of
    ``F.broadcast(`` calls in it, over every module of the package."""
    import ast
    import collections
    import pathlib

    import kafka_spark_streaming_spark

    pkg = pathlib.Path(kafka_spark_streaming_spark.__file__).parent
    found: collections.Counter = collections.Counter()
    for path in sorted(pkg.rglob("*.py")):
        module = ".".join(path.relative_to(pkg).with_suffix("").parts)
        for top in ast.parse(path.read_text(), str(path)).body:
            scope = getattr(top, "name", "<module>")
            for call in ast.walk(top):
                if (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "broadcast"
                    and isinstance(call.func.value, ast.Name)
                    and call.func.value.id == "F"
                ):
                    found[(module, scope)] += 1
    return dict(found)


def test_forced_broadcasts_state_their_bound():
    found = _forced_broadcast_sites()
    unlisted = sorted(set(found) - set(_FORCED_BROADCAST_OK))
    assert not unlisted, (
        f"forced broadcasts with no stated bound: {unlisted} — drop the "
        "hint if the executed plan is the same without it, else add the "
        "site to _FORCED_BROADCAST_OK with its size bound"
    )
    stale = sorted(set(_FORCED_BROADCAST_OK) - set(found))
    assert not stale, f"_FORCED_BROADCAST_OK entries with no hint: {stale}"
    miscounted = {
        k: (n, len(_FORCED_BROADCAST_OK[k]))
        for k, n in found.items()
        if n != len(_FORCED_BROADCAST_OK[k])
    }
    assert not miscounted, (
        f"(hints found, bounds listed) differ: {miscounted} — state one "
        "bound per F.broadcast( call"
    )
    blank = [k for k, bounds in _FORCED_BROADCAST_OK.items() if not all(
        b.strip() for b in bounds
    )]
    assert not blank, f"empty bound for {blank}"


# store-marker operations and file names that only manifest.ManifestStore
# may use: every store keeps its writer token and layout marker inside
# its own dir, placed by that one class.  config.py is where the layout
# helpers are defined, so their calls to each other there are the
# mechanism itself, not a second caller.
_MARKER_CALLS = {"persisted_layout", "commit_layout", "read_layout"}
_MARKER_NAMES = ("_WRITER_EPOCH", "_BUCKETS", ".epoch", ".layout")


def _store_marker_sites() -> list[tuple[str, int, str]]:
    """(module path, line, what) for every fence acquire, layout-helper
    call or string spelling a store marker outside manifest.py.
    Docstrings are prose (they may name ``ManifestStore.layout``), so
    only code strings count."""
    import ast
    import pathlib

    import kafka_spark_streaming_spark

    pkg = pathlib.Path(kafka_spark_streaming_spark.__file__).parent
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "manifest.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        docstrings = {
            id(scope.body[0].value)
            for scope in ast.walk(tree)
            if isinstance(
                scope,
                (ast.Module, ast.ClassDef, ast.FunctionDef,
                 ast.AsyncFunctionDef),
            )
            and ast.get_docstring(scope, clean=False) is not None
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                func = node.func
                name = getattr(func, "attr", getattr(func, "id", None))
                owner = getattr(func, "value", None)
                # `WriterFence.acquire` and `fencing.WriterFence.acquire`
                owner_name = getattr(owner, "id", getattr(owner, "attr", None))
                if name == "acquire" and owner_name == "WriterFence":
                    sites.append((rel, node.lineno, "WriterFence.acquire"))
                elif name in _MARKER_CALLS and rel != "config.py":
                    sites.append((rel, node.lineno, name))
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
            ):
                sites.extend(
                    (rel, node.lineno, repr(marker))
                    for marker in _MARKER_NAMES
                    if marker in node.value
                )
    return sites


def test_only_manifest_places_store_markers():
    sites = _store_marker_sites()
    assert not sites, (
        f"store-marker handling outside manifest.py: {sites} — go "
        "through ManifestStore.acquire / live_writer / layout instead"
    )
