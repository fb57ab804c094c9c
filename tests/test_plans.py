"""Physical-plan assertions — the 100 TB posture, checked in CI.

A query that silently loses its filter pushdown, reads extra columns,
or degrades a broadcast join into a cartesian product would still pass
the value oracle; these tests pin the *plan* properties that make the
same logical query survive a 1000-executor, 100 TB run.
"""

from __future__ import annotations

import pytest

from kafka_spark_streaming_spark.operators import QUERIES


def plan_of(spark, name: str, sf_dir: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q1_pushdown_and_pruning(spark, sf_smoke):
    plan = plan_of(spark, "q1_pricing_summary", sf_smoke)
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate filter not pushed"
    # column pruning: join keys not needed by q1 must not be read
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_partkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q6_all_filters_pushed(spark, sf_smoke):
    plan = plan_of(spark, "q6_forecast_revenue", sf_smoke)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for frag in ["l_shipdate", "l_discount", "l_quantity"]:
        assert frag in pushed, f"{frag} filter not pushed to the scan"


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q5_local_supplier_volume", "q10_returned_items"],
)
def test_dim_joins_broadcast_no_cartesian(spark, sf_smoke, name):
    plan = plan_of(spark, name, sf_smoke)
    assert "BroadcastHashJoin" in plan, "dimension join did not broadcast"
    assert "CartesianProduct" not in plan


def test_topk_is_take_ordered_not_global_sort(spark, sf_smoke):
    plan = plan_of(spark, "q3_shipping_priority", sf_smoke)
    assert "TakeOrderedAndProject" in plan, (
        "limit+orderBy should compile to TakeOrderedAndProject "
        "(per-partition heap), not a global Sort"
    )


def test_semi_join_stays_semi(spark, sf_smoke):
    plan = plan_of(spark, "q4_order_priority", sf_smoke)
    assert "LeftSemi" in plan


def test_bruteforce_sim_broadcasts_queries(spark, sf_smoke):
    plan = plan_of(spark, "sim_topk_bruteforce", sf_smoke)
    # inequality join against the tiny query side must be a broadcast
    # nested loop, never a shuffle cartesian
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_band_join_is_equi(spark, sf_smoke):
    plan = plan_of(spark, "d_minhash_lsh_pairs", sf_smoke)
    # the band-bucket join must be hash-joinable (equi keys), not a
    # nested loop over all pairs
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["d_embedding_near_dup_lsh"])
def test_dedup_collapse_is_a_plan_property(spark, sf_smoke, name):
    """The r13 exact-duplicate collapse must be visible in the physical
    plan, not just in the output: candidates are generated from a
    rep-filtered input (a LeftSemi join against the rep ids) and the
    result is the member expansion (a Union of cross-cluster and
    same-cluster branches). The equivalence tests pin correctness, but
    a refactor that silently dropped the collapse would still pass
    them — and only resurface as the quadratic candidate floor at the
    next dup-heavy corpus (the r12 lesson: 'verify runs on survivors
    only' is a PLAN property; so is 'candidates are per distinct
    input')."""
    plan = plan_of(spark, name, sf_smoke)
    assert "LeftSemi" in plan, f"{name}: rep semi-filter missing"
    assert "Union" in plan, f"{name}: member expansion missing"
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "d_ngram_jaccard_pairs",
        "d_containment_pairs",
        # r14 late: the minhash/simhash signature artifacts went
        # rep-level too (session_rep_profile / session_rep_simhash),
        # so their semi-filters also live in the artifact builds now
        "d_minhash_lsh_pairs",
        "d_simhash_pairs",
    ],
)
def test_prefix_collapse_is_a_plan_property(spark, sf_smoke, name):
    """The r14 collapses live in the memoized ARTIFACT builds (the
    query plans show only the artifact scans plus the expansion
    Union), so the pin is split: the registered query's plan must
    carry the member expansion, and the named PRODUCTION build
    function must carry the rep semi-filter.  Same rationale as
    test_dedup_collapse_is_a_plan_property — output-equality tests
    can't catch a refactor that silently drops the collapse; the
    quadratic candidate floor would only resurface on the next
    dup-heavy corpus (sf1 measured 118×/103× fewer candidates)."""
    from kafka_spark_streaming_spark.operators.dedup import (
        _build_containment_candidates,
        _build_prefix_candidates,
        _build_rep_profile,
        _build_rep_simhash,
    )

    plan = plan_of(spark, name, sf_smoke)
    assert "Union" in plan, f"{name}: member expansion missing"
    assert "CartesianProduct" not in plan
    build = {
        "d_ngram_jaccard_pairs": _build_prefix_candidates,
        "d_containment_pairs": _build_containment_candidates,
        "d_minhash_lsh_pairs": _build_rep_profile,
        "d_simhash_pairs": _build_rep_simhash,
    }[name]
    bplan = (
        build(spark, sf_smoke)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "LeftSemi" in bplan, f"{name}: rep semi-filter missing in build"


def test_reps_build_is_skew_safe(spark, sf_smoke):
    """The rep artifacts' build must keep the ADVICE-r13 shape: map-
    side partial aggregation (replicas collapse BEFORE the shuffle)
    and NO window over the raw key (a window gets no partial combine
    and buffers each duplicate cluster whole in one task — the
    K-million-member OOM the sf1 stress corpus at K=10 cannot
    surface).  Output equality can't pin this; only the plan can."""
    from kafka_spark_streaming_spark.operators.dedup import _build_reps
    from kafka_spark_streaming_spark.tables import table

    for tbl, id_col, key_col in [
        ("documents", "doc_id", "text"),
        ("embeddings", "vec_id", "embedding"),
    ]:
        df = _build_reps(table(spark, sf_smoke, tbl), id_col, key_col)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Window" not in plan, f"{tbl}: window build is back"
        # the PARTIAL aggregate functions are the map-side combine —
        # "HashAggregate" alone would also match a combine-less plan
        # (code-review r14 second pass)
        assert "partial_min" in plan and "partial_count" in plan, (
            f"{tbl}: no map-side partial aggregation in the build plan"
        )


def test_rep_artifacts_have_grounded_stats(spark, sf_smoke):
    """The rep artifacts' propagated size estimate must stay near the
    REAL artifact size (r14): their skew-safe groupBy+join-back build
    has a no-CBO join estimate of children-sizes PRODUCT, and a plain
    localCheckpoint inherits it — measured 496 GB stamped on a 120 KB
    table, silently un-broadcasting every downstream rep_ids semi-join
    (2× warm across the dedup family, Arrow verify kernel collapsed to
    one partition).  The parquet round-trip in session_checkpoint
    grounds stats in file bytes; this pins that property so a storage
    or build refactor can't re-poison the estimates unnoticed.  The
    bound is generous (10 MB vs the ~tens-of-KB truth at this SF) —
    it exists to catch the multiplicative blowup class, not to pin an
    exact size."""
    from kafka_spark_streaming_spark.operators.dedup import (
        session_doc_reps,
        session_emb_reps,
    )

    for fn in (session_doc_reps, session_emb_reps):
        df = fn(spark, sf_smoke)
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        assert 0 < size < 10 * 1024 * 1024, (
            f"{fn.__name__}: propagated sizeInBytes {size} — the "
            "broadcast-poisoning join estimate is back"
        )


def test_all_derived_artifacts_have_grounded_stats(spark, sf_smoke):
    """Sweep form of the check above: touch the artifact-bearing query
    families once at the smoke SF, then assert EVERY memoized artifact
    carries a sane propagated size estimate.  r14 found six poisoned
    artifacts this way (minhash_pairs 256 rows estimated at 2e31 bytes,
    trade_edges 625 rows at 1.3e27, pq_codebook 512 rows at 6e16,
    pq_dists, prefix_candidates and containment_candidates at 1.3e10)
    — every downstream join against one silently refused to broadcast.
    r15: session_checkpoint now auto-grounds any default-storage build
    whose optimized plan contains a Join (_build_plan_has_join), so
    this sweep is the belt-and-braces end check, not the only line of
    defense."""
    from kafka_spark_streaming_spark import tables as T
    from kafka_spark_streaming_spark.operators import QUERIES

    for name in [
        "d_minhash_lsh_pairs",
        "d_simhash_pairs",
        "d_embedding_near_dup_lsh",
        "d_semantic_only_pairs_lsh",
        "d_ngram_jaccard_pairs",
        "d_containment_pairs",
        "sim_ann_ivf",
        "sim_pq_adc_topk",
        "g_pagerank_trade",
        "p_decontaminate_ngram",
        "d_dup_clusters",
    ]:
        QUERIES[name](spark, sf_smoke).write.format("noop").mode(
            "overwrite"
        ).save()
    offenders = {}
    for (_, key), df in T._DERIVED_CACHE.items():
        # restrict to artifacts of THIS test's corpus: earlier tests
        # legitimately memoize artifacts on other corpora (sf0.01,
        # crafted tmp dirs), and sweeping those would make the
        # assertion depend on test order (code-review r14)
        if sf_smoke not in key:
            continue
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        if not 0 < size < 50 * 1024 * 1024:
            offenders[key.split("@")[0]] = size
    assert not offenders, f"poisoned artifact stats: {offenders}"


def test_whole_stage_codegen_on_scan_agg(spark, sf_smoke):
    # AQE shows codegen spans only in the *executed* plan — run it first
    df = QUERIES["q1_pricing_summary"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators print with a "*(stageId)" prefix
    assert "*(1)" in plan, "scan+partial-agg stage not whole-stage-codegen'd"


def test_asof_join_single_hash_shuffle(spark, sf_smoke):
    plan = plan_of(spark, "aj_purchase_last_click", sf_smoke)
    # the whole as-of join must cost ONE keyed shuffle (the window's
    # hashpartitioning on user_id); the final orderBy adds a range
    # exchange but no further hash exchanges are acceptable
    assert plan.count("hashpartitioning(") == 1
    assert "CartesianProduct" not in plan


def test_bucketed_range_join_is_equi(spark, sf_smoke):
    plan = plan_of(spark, "rj_error_burst_pairs", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_join_shuffle(spark, sf_smoke):
    plan = plan_of(spark, "j_bucketed_priority_revenue", sf_smoke)
    assert "SortMergeJoin" in plan
    # bucketed layout: both join inputs arrive pre-partitioned; the only
    # hash exchange in the plan belongs to the final groupBy aggregate
    assert plan.count("hashpartitioning(") == 1


def test_partitioned_scan_prunes(spark, sf_smoke):
    plan = plan_of(spark, "p_pruned_daily_type_counts", sf_smoke)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "event_date" in pf[0], "date filter not pruning partitions"


@pytest.mark.parametrize(
    "name",
    ["q8_market_share", "q9_profit_by_nation_year", "q2_min_cost_supplier"],
)
def test_tpch2_dims_broadcast(spark, sf_smoke, name):
    plan = plan_of(spark, name, sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q21_single_fact_shuffle_topology(spark, sf_smoke):
    # the double-EXISTS rewrite must not self-join lineitem three ways:
    # no more than the groupBy + semi-join exchanges, and no cartesian
    plan = plan_of(spark, "q21_sole_return_supplier", sf_smoke)
    assert "CartesianProduct" not in plan
    # formatted mode prints each scan node twice (tree + detail);
    # <=5 real scans = lineitem×2, orders×2, supplier — the naive
    # double-EXISTS form would need 3 lineitem self-joins on top
    assert plan.count("Scan parquet") <= 10


def test_pruned_scan_reads_single_partition(spark, sf_smoke):
    df = QUERIES["p_pruned_daily_type_counts"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition pruning happened if the scan's selected partition count
    # is 1 of ~30 (one day of a one-month table)
    assert "event_date" in plan


def test_tfidf_small_sides_broadcast(spark, sf_smoke):
    # df table (vocab-sized) and the 1-row corpus count must broadcast
    # into the scoring join — a shuffle join on term here would move
    # the whole tf table twice at corpus scale
    plan = plan_of(spark, "t_tfidf_top_terms", sf_smoke)
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan or plan.count(
        "BroadcastHashJoin"
    ) >= 2
    assert "CartesianProduct" not in plan


def test_full_outer_preaggregates_before_join(spark, sf_smoke):
    # both sides reduce to per-user counts BEFORE the full-outer join:
    # two partial+final aggregates must appear below the join
    plan = plan_of(spark, "j_full_outer_user_activity", sf_smoke)
    assert "FullOuter" in plan
    join_pos = plan.find("SortMergeJoin")
    if join_pos == -1:
        join_pos = plan.find("ShuffledHashJoin")
    assert join_pos != -1
    assert plan.count("HashAggregate") >= 4, "aggregation not below the join"


def test_capped_sampler_single_shuffle_no_global_sort(spark, sf_smoke):
    # per-stratum top-K must be one exchange on the stratum key and a
    # per-partition sort — a global Sort node would serialize the corpus
    plan = plan_of(spark, "smp_capped_per_source", sf_smoke)
    # formatted explain prints each node twice (tree + detail), so
    # count tree entries only
    assert plan.count("+- Exchange") == 1
    assert "rangepartitioning" not in plan.lower().replace(" ", "")
    # map-side partial top-K before the shuffle (WindowGroupLimit):
    # only ≤K rows per stratum per input partition reach the exchange
    assert "WindowGroupLimit" in plan


def test_revenue_deciles_no_global_window_over_data(spark, sf_smoke):
    # exact NTILE via distributed rank: every window over the DATA must
    # be partitioned (by pid); the only unpartitioned window may run on
    # the ~32-row per-partition-counts table. An unpartitioned
    # row_number/ntile over customers would be the classic
    # single-partition scale killer.
    plan = plan_of(spark, "w_revenue_deciles", sf_smoke)
    assert "rangepartitioning" in plan.lower(), "range repartition missing"
    assert "ntile" not in plan.lower(), "global NTILE leaked into the plan"
    for ln in plan.splitlines():
        if "row_number()" in ln:
            assert "pid" in ln, f"data window not partitioned: {ln.strip()}"


def test_centroid_doc_join_broadcasts(spark, sf_smoke):
    # the documents(lang) side is dimension-sized — must broadcast, and
    # the explode must sit above the join, not force a shuffle join
    plan = plan_of(spark, "sim_lang_centroid_dims", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_eval_side(spark, sf_smoke, monkeypatch):
    # the eval/benchmark shingle set is tiny vs the corpus — it must
    # broadcast; a shuffle join keyed on shingle over the corpus side
    # would move the whole corpus at 100 TB
    from kafka_spark_streaming_spark.operators import text as text_mod

    plan = plan_of(spark, "p_decontaminate_ngram", sf_smoke)
    assert "BroadcastHashJoin" in plan, "eval shingles not broadcast"
    assert "CartesianProduct" not in plan

    # the forced hint has a stated size bound (the documents source,
    # via vocab_broadcast): past it the semi join is AQE's to decide
    def semi_join_lines() -> list[str]:
        opt = (
            QUERIES["p_decontaminate_ngram"](spark, sf_smoke)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        return [ln for ln in opt.splitlines() if "Join LeftSemi" in ln]

    assert any("strategy=broadcast" in ln for ln in semi_join_lines())
    monkeypatch.setattr(text_mod, "_VOCAB_HINT_SOURCE_BYTES", 0)
    joins = semi_join_lines()
    assert joins and all("strategy=broadcast" not in ln for ln in joins)


def test_pack_sequences_no_global_window_over_docs(spark, sf_smoke):
    # global prefix sum = two-phase: range repartition + per-partition
    # window (partitioned by pid) + offsets; any unpartitioned window
    # must not run over the document rows. The ranked frame is
    # localCheckpointed (pid assignments must be pinned, not dependent
    # on exchange reuse), so the downstream plan shows the checkpoint
    # scan instead of the RangePartitioning exchange — assert the
    # range repartition on the PRODUCTION pre-checkpoint stage
    # (range_ranked is exactly what exclusive_prefix_sum checkpoints,
    # so dropping repartitionByRange from the helper fails here).
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.operators.llm_pipeline import (
        range_ranked,
    )
    from kafka_spark_streaming_spark.tables import table as _table

    d = _table(spark, sf_smoke, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n")
    )
    pre = range_ranked(d, "doc_id", 8)
    assert (
        "rangepartitioning" in pre._jdf.queryExecution().toString().lower()
    ), "range repartition missing from the pre-checkpoint stage"

    plan = plan_of(spark, "p_pack_sequences", sf_smoke)
    for ln in plan.splitlines():
        if "windowspecdefinition(doc_id" in ln.lower():
            assert "pid" in ln, f"doc window not partitioned: {ln.strip()}"


def test_heavy_hitters_never_repartitions_token_stream(spark, sf_smoke):
    # the MG fold is parallelized by spreading the narrow DOCUMENT rows
    # before the explode; a Repartition whose subtree contains the
    # Generate would shuffle every token of the corpus (r6 perf flag)
    from kafka_spark_streaming_spark.operators.sketches import (
        sk_heavy_hitter_tokens,
    )

    df = sk_heavy_hitter_tokens(spark, sf_smoke)

    def subtree_has_generate(node) -> bool:
        if "Generate" in node.nodeName():
            return True
        return any(
            subtree_has_generate(node.children().apply(i))
            for i in range(node.children().size())
        )

    def check(node) -> None:
        if "Repartition" in node.nodeName():
            assert not subtree_has_generate(node), (
                "repartition sits ABOVE the explode — it shuffles the "
                "token stream instead of the document rows"
            )
        for i in range(node.children().size()):
            check(node.children().apply(i))

    check(df._jdf.queryExecution().optimizedPlan())


def test_heavy_hitter_doc_spread_is_conditional(spark, sf_smoke):
    # VERDICT r7 next-round #6: the doc-spread Exchange may appear ONLY
    # when the scan arrives under-partitioned. A well-partitioned
    # corpus (the real multi-file case) must explode with NO
    # Repartition anywhere in the plan; an under-partitioned one gets
    # exactly the narrow pre-explode spread.
    from kafka_spark_streaming_spark.operators.sketches import (
        _spread_tokens,
    )
    from kafka_spark_streaming_spark.tables import table as _table

    docs = _table(spark, sf_smoke, "documents").select("text")
    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("spread is definitionally a no-op on a 1-core session")

    # r22 (same fix as test_spread_scan_is_conditional / ADVICE r21
    # #3): probe the passthrough branch with par=1 on the BARE
    # single-split scan — a .repartition()/.coalesce() frame now
    # raises in spread_scan's structural bare-scan assertion (and used
    # to run a real job at construction time).
    spread = _spread_tokens(docs, 1)
    well = spread._jdf.queryExecution().optimizedPlan().toString()
    # the fixture scan is 1 split, which is not under-partitioned at
    # par=1: the helper must add NO Repartition
    assert "Repartition" not in well, well

    narrow = _spread_tokens(docs, par)
    plan = narrow._jdf.queryExecution().optimizedPlan().toString()
    assert f"Repartition {par}, true" in plan, (
        f"under-partitioned input not spread:\n{plan}"
    )


def test_pq_codebook_joins_broadcast(spark, sf_smoke):
    # the 512-row codebook must broadcast into the exploded subvector
    # stream (a shuffle join keyed on (m, pos) would repartition the
    # corpus x 64 to apply a constant-size table), and the ADC LUT join
    # likewise; argmin windows are per-(vector, subspace) — no global
    plan = plan_of(spark, "sim_pq_adc_topk", sf_smoke)
    assert "BroadcastHashJoin" in plan, "codebook/LUT not broadcast"
    assert "CartesianProduct" not in plan


def test_bloom_dedup_broadcasts_filter_and_stays_anti_join(spark, sf_smoke):
    # the bloom bitset rides a 1-row broadcast; survivors still go
    # through the exact LeftAnti join — both halves of the design must
    # be visible in the plan
    plan = plan_of(spark, "p_incremental_dedup_bloom", sf_smoke)
    assert "BroadcastNestedLoopJoin" in plan, "bloom row not broadcast"
    assert "LeftAnti" in plan, "exact anti-join verification missing"
    assert "CartesianProduct" not in plan


def test_prune_stale_age_threshold_and_legacy_names(tmp_path, monkeypatch):
    # stale-layout pruning must (a) spare dirs younger than the age
    # threshold — a concurrent process may be mid-query over its
    # pre-regeneration layout — and (b) finally match legacy
    # unfingerprinted dirs, which used to leak forever (ADVICE r6
    # physical.py:46)
    import os
    import tempfile as _tf
    import time

    from kafka_spark_streaming_spark.operators import physical

    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path))
    keep = "sf0_01_abcdefabcdef"
    fresh_old_fp = tmp_path / "kss_bucketed_sf0_01_111111111111"
    aged_old_fp = tmp_path / "kss_bucketed_sf0_01_222222222222"
    legacy = tmp_path / "kss_bucketed_sf0_01"
    current = tmp_path / f"kss_bucketed_{keep}"
    for d in (fresh_old_fp, aged_old_fp, legacy, current):
        d.mkdir()
    # past the 2h default (r8: raised because layout READERS advance no
    # mtime, so the gate must out-wait the longest plausible read)
    import inspect

    threshold = inspect.signature(
        physical._prune_stale
    ).parameters["min_age_s"].default
    old = time.time() - threshold - 60
    os.utime(aged_old_fp, (old, old))
    os.utime(legacy, (old, old))
    physical._prune_stale("kss_bucketed", keep)
    assert current.exists()
    assert fresh_old_fp.exists(), "young sibling pruned under a live run"
    assert not aged_old_fp.exists(), "aged stale fingerprint kept"
    assert not legacy.exists(), "legacy unfingerprinted dir still leaks"


def test_incremental_dedup_is_anti_join(spark, sf_smoke):
    plan = plan_of(spark, "p_incremental_dedup", sf_smoke)
    assert "LeftAnti" in plan, "existing-fp filter must be an anti join"
    assert "CartesianProduct" not in plan


def test_repetition_signals_is_pure_scan(spark, sf_smoke):
    # per-doc repetition metrics are a row-local map: no aggregation,
    # join or window exchange anywhere. Since r21 the plan may carry AT
    # MOST the one conditional narrow-row spread (tables.spread_scan —
    # round-robin, pre-map, only when the scan arrives
    # under-partitioned; test_spread_scan_is_conditional pins the
    # conditions), so the assertion is "nothing but the spread", not
    # "no exchange at all".
    plan = plan_of(spark, "t_repetition_signals", sf_smoke)
    assert plan.count("+- Exchange") <= 1, "only the conditional spread"
    assert "RoundRobinPartitioning" in plan or "+- Exchange" not in plan, (
        "any exchange present must be the round-robin spread, never a "
        "hash/range shuffle of the corpus"
    )
    for node in ("HashAggregate", "SortMergeJoin", "Window"):
        assert node not in plan, f"row-local map must not plan a {node}"
    assert "BatchEvalPython" not in plan, "must stay JVM-side"


def test_mixture_rebalance_broadcasts_rates(spark, sf_smoke):
    # per-source rates (cardinality = #sources) join back onto the
    # corpus as a broadcast; a shuffle join on source would repartition
    # the whole corpus to apply a ~10-row rate table
    plan = plan_of(spark, "smp_mixture_rebalance", sf_smoke)
    assert "BroadcastHashJoin" in plan, "rate table not broadcast"
    assert "CartesianProduct" not in plan


def test_edit_distance_block_join_is_equi(spark, sf_smoke):
    # the (lang, prefix) block key must make the self-join hash-joinable;
    # the levenshtein verify runs above the join on candidates only
    plan = plan_of(spark, "d_edit_distance_pairs", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r12: the O(L²) DP must stay INSIDE the when()-guard so it
    # short-circuits on the cheap doc_a<doc_b / |Δlen| predicates
    # wherever Catalyst pushes it. As a bare post-join filter, Catalyst
    # pushed the levenshtein into the join condition AHEAD of the cheap
    # residuals and every (lang, prefix) equi-match — including all n
    # self-pairs — paid the full DP: 5.8 s warm at sf0.1 for 79 real
    # candidates vs 0.5 s guarded (VERDICT r11 #7 audit).
    import re

    assert re.search(r"CASE WHEN \(\(doc_a#\d+L? < doc_b#\d+L?\).*levenshtein", plan), (
        "levenshtein verify escaped its when()-guard — the cheap "
        "residuals no longer short-circuit the DP"
    )
    # exact-dup pairs (the dominant case in a near-dup corpus; 225k of
    # 233k at the sf1 replica stress) must resolve by O(L) equality,
    # never the DP: 21.8 s -> 1.9 s at sf1
    assert re.search(r"CASE WHEN \(text_a#\d+ = text_b#\d+\)", plan), (
        "equality short-circuit ahead of the DP dropped"
    )
    assert "Some(16)" in plan, "bounded (threshold-16) levenshtein dropped"


def test_zscore_moments_broadcast(spark, sf_smoke):
    # per-type moments (cardinality = #event types) broadcast back onto
    # the daily frame
    plan = plan_of(spark, "time_zscore_anomalies", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cohort_retention_no_cartesian(spark, sf_smoke):
    # cohort join is keyed on user_id — both sides share the key
    plan = plan_of(spark, "time_cohort_retention", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_windows_partitioned_by_user(spark, sf_smoke):
    # every window must be keyed on user_id; an unpartitioned window
    # here would sort the whole event log on one executor
    plan = plan_of(spark, "scd2_user_state", sf_smoke)
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln.lower():
            assert "user_id" in ln, f"unpartitioned window: {ln.strip()}"


def test_cdc_diff_is_single_full_outer(spark, sf_smoke):
    plan = plan_of(spark, "cdc_snapshot_diff", sf_smoke)
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_iterations_broadcast(spark, sf_smoke):
    # after edge extraction the graph is nation-sized: every iteration
    # join must broadcast, and only the relational pass may shuffle
    plan = plan_of(spark, "g_pagerank_trade", sf_smoke)
    assert plan.count("BroadcastHashJoin") >= 6
    assert "CartesianProduct" not in plan


def test_unigram_logprob_broadcasts_vocab(spark, sf_smoke):
    # unigram table is vocabulary-sized — must broadcast into the
    # scoring join; a shuffle join on token would move every token
    # occurrence in the corpus twice
    plan = plan_of(spark, "t_unigram_logprob", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_rollup_no_cartesian(spark, sf_smoke):
    plan = plan_of(spark, "sk_hll_daily_rollup", sf_smoke)
    assert "hll_union_agg" in plan.lower() or "HllUnionAgg" in plan
    assert "CartesianProduct" not in plan


def test_quality_filter_broadcasts_vocab_and_cuts(spark, sf_smoke):
    # vocab join broadcast; the 1-row percentile cutoffs ride a
    # broadcast nested loop (fine — 1 row), never a shuffle cartesian
    plan = plan_of(spark, "pipe_quality_filter", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rolling_corr_windows_over_days_only(spark, sf_smoke):
    # the unpartitioned window must sit ABOVE the daily pre-aggregate:
    # exactly one aggregate below the window node, corpus never sorted
    plan = plan_of(spark, "time_rolling_corr", sf_smoke)
    assert "Window" in plan
    win_pos = plan.find("Window")
    agg_pos = plan.find("HashAggregate", win_pos)
    assert agg_pos != -1, "window must run over the day-level aggregate"


def test_kmeans_centroids_broadcast_and_windows_keyed(spark, sf_smoke):
    # same contract as the PQ test: the k·D centroid table must
    # broadcast into the exploded coordinate stream (shuffling the
    # corpus ×D to apply a 512-row table is the anti-pattern), and the
    # argmin windows must stay keyed per vector — never global.
    plan = plan_of(spark, "sim_kmeans_clusters", sf_smoke)
    assert "BroadcastHashJoin" in plan, "centroid table not broadcast"
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln.lower():
            assert "vec_id" in ln, f"argmin window not vector-keyed: {ln}"


def test_containment_join_is_equi_on_shingle_key(spark, sf_smoke):
    # candidate generation must be an equi-join on the (df, hash)
    # shingle key — a theta/cartesian fallback would be the all-pairs
    # plan the prefix filter exists to avoid; verification joins ride
    # doc ids.
    plan = plan_of(spark, "d_containment_pairs", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("builder", ["prefix", "containment"])
def test_candidate_joins_carry_ppjoin_residuals(spark, sf_smoke, builder):
    # r9 perf pin: the length filter (Arasu VLDB'06) and PPJoin
    # positional filter must ride the shingle-key equi-join as JOIN
    # residuals — dropped candidates never reach the pair-distinct
    # shuffle (measured 8× candidate cut at sf1). A refactor that
    # re-expresses them as a post-join Filter, or loses them entirely,
    # silently restores the 12M-candidate plan while every value
    # oracle stays green.
    from kafka_spark_streaming_spark.operators.dedup import (
        containment_candidates,
        prefix_candidates,
        shingles,
        shingles_of,
    )
    from kafka_spark_streaming_spark.tables import table

    sh = shingles_of(table(spark, sf_smoke, "documents"), 8)
    df = (
        prefix_candidates(sh, 0.8)
        if builder == "prefix"
        else containment_candidates(sh, 0.8)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_lines = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln and "least(" in ln
    ]
    assert join_lines, (
        f"{builder}: no join carries the positional-filter residual "
        "(least(...) overlap cap) — candidate pruning lost:\n" + plan
    )
    # the same join line must also hold the doc-id pairing residual
    # (x < y for jaccard; x != y for the symmetric containment join,
    # canonicalized by least/greatest afterwards) — i.e. the prunes
    # are residuals of the candidate join itself
    pairing = "<" if builder == "prefix" else "NOT"
    assert any(pairing in ln for ln in join_lines), join_lines
    if builder == "prefix":
        # both directions of the length filter (n_x >= tau*n_y and
        # vice versa) appear as two multiplications by the threshold
        assert join_lines[0].count("* 0.79") >= 2, join_lines[0]


@pytest.mark.parametrize(
    "name", ["t_bigram_logprob", "p_doc_chunks", "t_repetition_signals"]
)
def test_token_array_materialized_before_lambdas(spark, sf_smoke, name):
    # r8 perf fix pin: a higher-order-fn lambda that closes over the
    # raw split() re-evaluates the split PER ELEMENT (O(L²)/doc,
    # measured 8×). The token array must be materialized as a column
    # first — the optimized plan then contains exactly ONE split of
    # the text per scan branch.
    df = QUERIES[name](spark, sf_smoke)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_branches = plan.count("Relation") or 1
    assert plan.count("split(text") <= n_branches, (
        f"{name}: split(text) appears {plan.count('split(text')}× for "
        f"{n_branches} scan branch(es) — a lambda is re-splitting per "
        "element; materialize the token array before the lambda"
    )


def test_shingles_split_text_once(spark, sf_smoke):
    # same pin for the shingle builder that feeds every dedup derived
    # artifact (the fix halved the minhash/shingles8 build times)
    from kafka_spark_streaming_spark.operators.dedup import shingles

    sh = shingles(spark, sf_smoke)
    plan = sh._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(text") == 1, plan


def test_bucketed_band_store_join_is_colocated(spark, sf_smoke, tmp_path):
    """Executable form of the incremental near-dedup 100 TB lever (its
    docstring: 'the store would be bucketed by band hash so a batch's
    candidate lookup is a co-located index probe instead of the
    full-history band scan').  Persist the band index bucketed on bh;
    a batch's candidate join then reads the stored side AS BUCKETS —
    'Bucketed: true' on the scan, no Exchange above it — and only the
    (small) incoming side shuffles.  At 100 TB that is the difference
    between shuffling the full history every batch and shipping one
    batch to its matching buckets.  Broadcast is disabled for the
    probe because at this smoke scale the planner would (correctly)
    broadcast the batch instead — the bucketed path is what remains
    when neither side is broadcastable."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.operators.dedup import (
        band_buckets,
        session_profile,
    )

    bands = band_buckets(session_profile(spark, sf_smoke))
    table_name = "kss_test_band_store"
    (
        bands.write.bucketBy(8, "bh")
        .sortBy("bh")
        .option("path", str(tmp_path / "band_store"))
        .mode("overwrite")
        .saveAsTable(table_name)
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        stored = spark.table(table_name)
        incoming = bands.filter(F.col("doc_id") < 25)
        j = stored.alias("x").join(
            incoming.alias("y"),
            (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        j.write.format("noop").mode("overwrite").save()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, "stored side not read as buckets"
        assert "SortMergeJoin" in plan
        # exactly one keyed shuffle: the incoming batch; the history
        # side rides its bucket layout
        assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")


def _combined_dedup_store(spark, tmp_path, n_rows=500):
    """A miniature of the r16 combined incremental-dedup store: band
    rows (kind=b, pk=pmod(bh, band buckets)) and profile rows
    (kind=p, pk=pmod(doc_id, profile buckets)) in ONE (kind, pk)-
    partitioned manifest version, written the way the batch body
    writes it (unionByName with allowMissingColumns)."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.config import (
        BAND_STORE_BUCKETS_DEFAULT,
        PROFILE_STORE_BUCKETS_DEFAULT,
    )

    bands = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("doc_id"),
            F.xxhash64(F.col("id")).alias("bh"),
        )
        .withColumn(
            "pk", F.pmod(F.col("bh"), F.lit(BAND_STORE_BUCKETS_DEFAULT))
        )
        .withColumn("kind", F.lit("b"))
    )
    profiles = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("doc_id"),
            F.array(F.xxhash64(F.col("id"))).alias("hs"),
            F.lit(1).alias("n"),
            (F.col("id") % 2 == 0).alias("kept"),
        )
        .withColumn(
            "pk",
            F.pmod(F.col("doc_id"), F.lit(PROFILE_STORE_BUCKETS_DEFAULT)),
        )
        .withColumn("kind", F.lit("p"))
    )
    from kafka_spark_streaming_spark.manifest import ManifestStore

    d = str(tmp_path / "store")
    ManifestStore(d)._commit(
        0,
        lambda vname, leaves: {leaf: [vname] for leaf in leaves},
        lambda tmp: bands.unionByName(profiles, allowMissingColumns=True)
        .write.partitionBy("kind", "pk")
        .parquet(tmp),
    )
    return d, bands, profiles


def _partition_filter_lines(spark, df):
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    return [ln for ln in plan.splitlines() if "PartitionFilters" in ln], plan


def test_band_store_probe_prunes_partitions(spark, tmp_path):
    """The r15 production form of the incremental-dedup lever (r16:
    now the kind=b slice of the combined store): band rows are WRITTEN
    partitioned by (kind, pk = pmod(bh, buckets)) and a micro-batch's
    candidate lookup reads them through _bucketed_band_probe, which
    must show PartitionFilters on the scan (directory pruning, not a
    filter over a full listing).  Exactness: pk is a function of the
    join key bh, so pruned rows cannot collide with any incoming band
    — asserted by comparing against the unpruned filter."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _BAND_STORE_BUCKETS,
        _bucketed_band_probe,
    )

    d, bands, _ = _combined_dedup_store(spark, tmp_path)

    probe = _bucketed_band_probe(spark, d, [1, 3])
    pf, plan = _partition_filter_lines(spark, probe)
    assert pf and "pk" in pf[0] and "kind" in pf[0], (
        f"band probe not partition-pruned:\n{plan}"
    )
    # the pruned read returns exactly the band rows whose pk is probed
    # (and no profile rows — the kind filter is partition-level too)
    expected = bands.filter(F.col("pk").isin([1, 3])).count()
    assert probe.count() == expected and expected > 0
    # probing every bucket returns the full band slice (nothing
    # silently lost)
    all_pbs = list(range(_BAND_STORE_BUCKETS))
    assert _bucketed_band_probe(spark, d, all_pbs).count() == 500


def test_profile_store_probe_prunes_partitions(spark, tmp_path):
    """The r16 verify-side lever: profile rows live in the combined
    store under (kind=p, pk = pmod(doc_id, buckets)) and the verify
    join's out-of-batch profile lookup reads them through
    _bucketed_profile_probe, which must show PartitionFilters on the
    scan (directory pruning — this was the engine's last per-batch
    full-store read).  Exactness: pk is a function of the verify join
    key doc_id, so pruned rows cannot match any candidate doc_a."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.config import (
        PROFILE_STORE_BUCKETS_DEFAULT,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _bucketed_profile_probe,
    )

    d, _, profiles = _combined_dedup_store(spark, tmp_path)

    probe = _bucketed_profile_probe(spark, d, [0, 5, 9])
    pf, plan = _partition_filter_lines(spark, probe)
    assert pf and "pk" in pf[0] and "kind" in pf[0], (
        f"profile probe not pruned:\n{plan}"
    )
    # probe drops exactly the layout/verdict columns (kind, pk, kept)
    # plus the band-only bh: what remains is the in-batch profile
    # shape, so the batch body's unionByName with prof lines up
    # (production rows also carry the h0..h31 signature columns —
    # untouched by the drop)
    assert set(probe.columns) == {"doc_id", "hs", "n"}
    expected = profiles.filter(F.col("pk").isin([0, 5, 9])).count()
    assert probe.count() == expected and expected > 0
    all_pds = list(range(PROFILE_STORE_BUCKETS_DEFAULT))
    assert _bucketed_profile_probe(spark, d, all_pds).count() == 500


def test_upsert_merge_prunes_state_partitions(spark, tmp_path):
    """VERDICT r15 #3: the KeyedUpsertSink state is partitioned by
    rb = pmod(xxhash64(rowkey), buckets) and a batch's LWW merge must
    read ONLY the rb partitions its rowkeys touch — PartitionFilters
    on the prior-state scan (the per-batch one-shuffle-of-|state| is
    gone; untouched partitions carry forward as manifest entries).  Also pins
    that the carried-forward partitions keep their cells verbatim and
    current() hides the layout column."""
    import os

    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    cells0 = spark.createDataFrame(
        [(f"k{i}", "cf1", "q", f"v{i}") for i in range(40)],
        "rowkey string, cf string, qualifier string, value string",
    )
    sink.write_batch(cells0, 0)
    head0 = sink._versions()[-1]
    assert any(
        d.startswith("rb=")
        for d in os.listdir(os.path.join(sink.path, head0))
    ), "state version lost its rb= partition layout"

    # batch 1 touches ONE rowkey → ≤1 rb partition enters the merge
    one = spark.createDataFrame(
        [("k3", "cf1", "q", "v3-new")],
        "rowkey string, cf string, qualifier string, value string",
    )
    stamped = (
        one.select("rowkey", "cf", "qualifier", "value")
        .withColumn("batch_id", F.lit(1).cast("long"))
        .withColumn("rb", sink._rb(F.col("rowkey")))
    )
    rbs = [r[0] for r in stamped.select("rb").distinct().collect()]
    assert len(rbs) == 1
    pf, plan = _partition_filter_lines(
        spark, sink._merged_state(stamped, 1, rbs)
    )
    assert pf and "rb" in pf[0], f"upsert merge not pruned:\n{plan}"

    # end-to-end: the write carries untouched partitions forward intact
    sink.write_batch(one, 1)
    state = {
        r["rowkey"]: r["value"] for r in sink.current().collect()
    }
    assert state["k3"] == "v3-new"
    assert len(state) == 40 and state["k7"] == "v7"
    assert "rb" not in sink.current().columns


def test_upsert_manifest_compaction_bounds_read_fanout(spark, tmp_path):
    """spark.kss.sink.upsertCompactVersions caps how many distinct
    versions a manifest may reference: a long run of single-key
    batches would otherwise scatter live partitions over one version
    per batch (unbounded union fan-out at read).  With the knob at 3,
    every committed manifest references <= 3 versions, compaction
    folds everything into one version when the cap would be exceeded,
    and prune deletes version dirs no kept manifest references."""
    import json
    import os

    from kafka_spark_streaming_spark.config import (
        UPSERT_COMPACT_VERSIONS_KEY,
    )
    from kafka_spark_streaming_spark.manifest import MANIFEST_NAME
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    try:
        spark.conf.set(UPSERT_COMPACT_VERSIONS_KEY, "3")
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
        assert sink.compact_versions == 3
        model = {}
        for i in range(8):
            # k{i} spread over rb buckets; one new key per batch
            df = spark.createDataFrame(
                [(f"k{i}", "cf1", "q", f"v{i}-b{i}")],
                "rowkey string, cf string, qualifier string, value string",
            )
            sink.write_batch(df, i)
            model[f"k{i}"] = f"v{i}-b{i}"
            head = sink._versions()[-1]
            with open(os.path.join(sink.path, head, MANIFEST_NAME)) as fh:
                owners = set().union(*json.load(fh).values())
            assert len(owners) <= 3, f"batch {i}: fan-out {len(owners)}"
        # every on-disk version is either a kept head or referenced
        live = set(sink._versions()[-2:])
        for v in list(live):
            live.update(*sink._manifest(v).values())
        assert set(sink._versions()) == live
        got = {r["rowkey"]: r["value"] for r in sink.current().collect()}
        assert got == model
    finally:
        spark.conf.unset(UPSERT_COMPACT_VERSIONS_KEY)


def test_upsert_manifest_read_fanout_is_a_plan_property(spark, tmp_path):
    """The compaction bound must show up in the READ PLAN, not just in
    the on-disk manifests: current() unions one pruned parquet scan
    per referenced version, so after a long scattered-write run the
    plan must contain <= upsertCompactVersions scan nodes — and each
    scan must still prune on rb when the merge filters (the
    single-owner pruning pin alone wouldn't catch a refactor that
    collapses the per-owner basePath reads into one unpruned listing
    of every version dir)."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.config import (
        UPSERT_COMPACT_VERSIONS_KEY,
    )
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    try:
        spark.conf.set(UPSERT_COMPACT_VERSIONS_KEY, "3")
        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
        for i in range(8):
            sink.write_batch(
                spark.createDataFrame(
                    [(f"k{i}", "cf1", "q", f"v{i}")],
                    "rowkey string, cf string, qualifier string,"
                    " value string",
                ),
                i,
            )
        plan = (
            sink._current_raw()
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
        )
        import re

        # formatted mode prints each scan twice (tree + detail block);
        # count the numbered detail headers only
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        assert 1 <= n_scans <= 3, f"read fan-out {n_scans} scans:\n{plan}"
        # and the pruned merge read keeps PartitionFilters per scan
        rb = sink._rb(F.lit("k3"))
        probe = sink._current_raw().filter(F.col("rb") == rb)
        pf, pplan = _partition_filter_lines(spark, probe)
        assert pf and all("rb" in ln for ln in pf), (
            f"rb filter not pushed to every owner scan:\n{pplan}"
        )
    finally:
        spark.conf.unset(UPSERT_COMPACT_VERSIONS_KEY)


def test_upsert_sink_empty_batch_corners(spark, tmp_path):
    """A 0-row batch must not write a schema-less version dir (a 0-row
    partitionBy write emits no files): over an empty store it skips
    the version entirely; over a populated store it carries every
    partition forward and the state survives a read."""
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    empty = spark.createDataFrame(
        [],
        "rowkey string, cf string, qualifier string, value string",
    )
    sink.write_batch(empty, 0)
    assert sink._versions() == []
    assert sink.current().count() == 0

    cells = spark.createDataFrame(
        [("k1", "cf1", "q", "v1"), ("k2", "cf1", "q", "v2")],
        "rowkey string, cf string, qualifier string, value string",
    )
    sink.write_batch(cells, 1)
    sink.write_batch(empty, 2)
    assert sink._versions()[-1] == "v_000000000002"
    state = {r["rowkey"]: r["value"] for r in sink.current().collect()}
    assert state == {"k1": "v1", "k2": "v2"}


def _python_rdd_scan(df) -> str | None:
    """The executed plan when it scans a Python RDD (what
    spark.createDataFrame over local data compiles to in classic
    PySpark: one Python-worker task per default-parallelism slice in
    every job that reads it), else None."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan if "Scan ExistingRDD" in plan else None


def test_one_row_frames_and_empty_state_are_jvm_plans(spark, tmp_path):
    """The per-batch write path's one-row frames and the upsert sink's
    empty-state read are JVM literal frames, never a Python-RDD scan:
    the summary cell (single_cell), the summary log row and Kafka
    record shapes (literal_frame), and both empty states — a store
    with no version and a committed EMPTY manifest.  Names and types
    are the ones the old createDataFrame construction declared."""
    import json
    import os

    from kafka_spark_streaming_spark.functions import literal_frame
    from kafka_spark_streaming_spark.manifest import MANIFEST_NAME
    from kafka_spark_streaming_spark.sinks.upsert import (
        KeyedUpsertSink,
        single_cell,
    )

    cell = single_cell(spark, "1700000000", "messages", "summary")
    row = literal_frame(
        spark,
        "batch_id long, n_messages long, n_distinct long,"
        " batch_date string, summary string",
        (3, 10, 7, "2023/11/14 22:13", "summary"),
    )
    record = literal_frame(spark, "value string", ("summary",))
    assert cell.dtypes == [
        ("rowkey", "string"), ("cf", "string"),
        ("qualifier", "string"), ("value", "string"),
    ]
    assert row.dtypes == [
        ("batch_id", "bigint"), ("n_messages", "bigint"),
        ("n_distinct", "bigint"), ("batch_date", "string"),
        ("summary", "string"),
    ]
    assert cell.collect()[0].asDict() == {
        "rowkey": "1700000000", "cf": "cf1",
        "qualifier": "messages", "value": "summary",
    }
    assert tuple(row.collect()[0]) == (
        3, 10, 7, "2023/11/14 22:13", "summary"
    )
    assert record.collect()[0].value == "summary"

    sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
    no_version = sink._current_raw()
    os.makedirs(os.path.join(sink.path, "v_000000000000"))
    with open(
        os.path.join(sink.path, "v_000000000000", MANIFEST_NAME), "w"
    ) as fh:
        json.dump({}, fh)
    empty_manifest = sink._current_raw()
    for empty in (no_version, empty_manifest):
        assert empty.count() == 0
        assert empty.dtypes == [
            ("rowkey", "string"), ("cf", "string"),
            ("qualifier", "string"), ("value", "string"),
            ("batch_id", "bigint"), ("rb", "int"),
        ]
    for name, df in [
        ("single_cell", cell), ("summary row", row),
        ("kafka record", record), ("empty state", no_version),
        ("empty manifest state", empty_manifest),
    ]:
        plan = _python_rdd_scan(df)
        assert plan is None, f"{name} scans a Python RDD:\n{plan}"


def test_pipeline_batch_body_builds_no_python_rdd(spark, tmp_path, monkeypatch):
    """Every frame StreamerPipeline.process_batch writes — the sink's
    merged cells (summary cell included), the summary_path log row and
    the Kafka summary record — is a JVM plan: a batch body that scans
    a Python RDD starts Python workers on every micro-batch."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from kafka_spark_streaming_spark.streaming import pipeline as pl

    written = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        written.append((f"parquet {path}", self._df))
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(
        pl, "write_batch_to_kafka",
        lambda df, brokers, topic: written.append(("kafka", df)),
    )
    pipe = pl.StreamerPipeline(
        spark,
        pl.StreamerConfig(
            table_path=str(tmp_path / "cells"),
            bulk=True,
            output_topic="summaries",
            brokers="localhost:9092",
            summary_path=str(tmp_path / "summary"),
            clock=lambda: 1700000000,
        ),
    )
    batch = spark.range(12).select(
        F.when(F.col("id") % 5 == 0, F.lit(None).cast("string"))
        .otherwise((F.col("id") % 4).cast("string"))
        .alias("key"),
        (F.col("id") % 3).cast("string").alias("value"),
    )
    pipe.process_batch(batch, 0)
    kinds = [k.split(" ")[0] for k, _ in written]
    # the summary row, the sink's merged state and the kafka record
    assert kinds.count("parquet") == 2 and kinds.count("kafka") == 1
    for what, df in written:
        plan = _python_rdd_scan(df)
        assert plan is None, f"{what} scans a Python RDD:\n{plan}"


@pytest.mark.parametrize(
    "name",
    [
        "s_stateful_user_stats",
        "s_incremental_daily_rollup",
        "s_stream_topk_tokens",
        "s_stream_hll_users",
    ],
)
def test_stateful_user_stats_state_stays_on_the_jvm(
    spark, sf_smoke, monkeypatch, name
):
    """The update-mode aggregate drains fold their keyed state with
    Catalyst's own streaming aggregate: STATS_SCHEMA's names and types
    for the per-user stats, no Python node and no foreachBatch sink in
    the executed micro-batch plan (every batch would otherwise ship its
    keys through an Arrow hop into Python state workers, or write and
    commit partial files beside the state), and the shared state-store
    count in the stream's progress."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from kafka_spark_streaming_spark.operators import streaming_queries
    from kafka_spark_streaming_spark.streaming.stateful import (
        STATS_SCHEMA,
        multi_batch_events_stream,
        user_lifetime_stats,
    )

    kwargs = {}
    if name == "s_stateful_user_stats":
        kwargs = {"n_batches": 1}
        out = user_lifetime_stats(multi_batch_events_stream(spark, sf_smoke, 1))
        assert [(f.name, f.dataType) for f in out.schema] == [
            (f.name, f.dataType) for f in STATS_SCHEMA
        ]

    started = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        started.append(real_start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", start)
    drain = getattr(streaming_queries, name)
    assert drain(spark, sf_smoke, **kwargs).count() > 0
    (q,) = started
    plan = q._jsq.explainInternal(True)
    for node in (
        "FlatMapGroupsInPandasWithState",
        "ArrowEvalPython",
        "BatchEvalPython",
        "PythonUDF",
        "MapInPandas",
        "MapInArrow",
        "ForeachBatchSink",
    ):
        assert node not in plan, f"{node} in the micro-batch plan:\n{plan}"
    assert "StateStoreSave" in plan, plan
    # the store count the registered drains scope
    # (streaming_queries._AGGREGATE_DRAIN_STORES; A/B in PERF_NOTES,
    # "s_stateful_user_stats on the JVM")
    (op,) = q.lastProgress["stateOperators"]
    assert op["numStateStoreInstances"] == 2


def test_store_bucket_configs_steer_layout(spark, tmp_path, sf_smoke):
    """VERDICT r15 #4 'config plumbed': the spark.kss.* bucket knobs
    must actually steer the on-disk layouts — the incremental-dedup
    store's kind=b/kind=p pk fan-out and the upsert sink's rb fan-out
    all follow the session conf, not the module defaults."""
    import os

    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.config import (
        BAND_STORE_BUCKETS_KEY,
        PROFILE_STORE_BUCKETS_KEY,
        UPSERT_STATE_BUCKETS_KEY,
        band_store_buckets,
    )
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink
    from kafka_spark_streaming_spark.tables import table

    from kafka_spark_streaming_spark.manifest import ManifestStore

    def pk_values(store, kind):
        return sorted(
            int(leaf.rsplit("=", 1)[1])
            for leaf in ManifestStore(store)._head()[1]
            if leaf.startswith(f"kind={kind}/pk=")
        )

    assert band_store_buckets(spark) == 16  # default when unset
    keys = (
        (BAND_STORE_BUCKETS_KEY, "4"),
        (PROFILE_STORE_BUCKETS_KEY, "2"),
        (UPSERT_STATE_BUCKETS_KEY, "3"),
    )
    try:
        for k, v in keys:
            spark.conf.set(k, v)
        store = str(tmp_path / "store")
        docs = table(spark, sf_smoke, "documents").filter(
            F.col("doc_id") < 100
        )
        _incremental_dedup_batch(docs, store, 0)
        assert set(pk_values(store, "b")) <= set(
            range(4)
        ) and len(pk_values(store, "b")) == 4
        assert pk_values(store, "p") == [0, 1]

        sink = KeyedUpsertSink(spark, str(tmp_path / "cells"))
        assert sink.buckets == 3
        cells = spark.createDataFrame(
            [(f"k{i}", "cf1", "q", f"v{i}") for i in range(30)],
            "rowkey string, cf string, qualifier string, value string",
        )
        sink.write_batch(cells, 0)
        head = os.path.join(sink.path, sink._versions()[-1])
        rbs = sorted(
            int(p[3:]) for p in os.listdir(head) if p.startswith("rb=")
        )
        assert rbs == [0, 1, 2]

        # layout is a property of the STORE, not the session
        # (code-review r16): reopening either store under a different
        # conf must keep the persisted counts, or pruned probes would
        # pmod against the wrong directory fan-out
        spark.conf.set(UPSERT_STATE_BUCKETS_KEY, "7")
        assert KeyedUpsertSink(spark, sink.path).buckets == 3
        spark.conf.set(BAND_STORE_BUCKETS_KEY, "9")
        from kafka_spark_streaming_spark.operators.streaming_queries import (
            _store_layout,
        )

        assert _store_layout(spark, store) == (4, 2)
    finally:
        for k, _ in keys:
            spark.conf.unset(k)


def test_drain_adaptive_knob_steers_scoped_confs(spark):
    """spark.kss.drain.adaptiveEnabled must steer the AQE setting the
    small-batch drain scopes apply (r17): default off (the measured
    local optimum), flippable per session for deployments whose
    per-batch volumes benefit from AQE — no engine edit."""
    from kafka_spark_streaming_spark.config import DRAIN_ADAPTIVE_KEY
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _small_batch_drain_confs,
    )

    confs = _small_batch_drain_confs(spark, 8)
    assert confs["spark.sql.adaptive.enabled"] == "false"
    assert confs["spark.sql.shuffle.partitions"] == "8"
    try:
        spark.conf.set(DRAIN_ADAPTIVE_KEY, "true")
        assert (
            _small_batch_drain_confs(spark, 16)["spark.sql.adaptive.enabled"]
            == "true"
        )
    finally:
        spark.conf.unset(DRAIN_ADAPTIVE_KEY)


def test_layout_marker_atomic_and_validated(tmp_path):
    """ADVICE r16 config.py:105: the layout marker must be written
    atomically (tmp + os.replace) and VALIDATED on read — a truncated
    '1' left by a crash mid-write of '16' parses cleanly to a wrong
    bucket count, which is exactly the silent corruption the marker
    exists to prevent.  Wrong arity, non-int, empty, and < 1 markers
    must all raise a pointed error instead."""
    import os

    import pytest

    from kafka_spark_streaming_spark.config import (
        commit_layout,
        persisted_layout,
        read_layout,
    )

    marker = str(tmp_path / "_BUCKETS")
    assert read_layout(marker, arity=2) is None
    assert persisted_layout(marker, lambda: (16, 8), arity=2) == (16, 8)
    # no stray tmp left behind, and the persisted value reads back
    assert not os.path.exists(marker + ".tmp")
    assert read_layout(marker, arity=2) == (16, 8)
    # re-seed attempts keep the existing marker (first writer wins)
    assert commit_layout(marker, (9, 9)) == (16, 8)
    assert persisted_layout(marker, lambda: (9, 9), arity=2) == (16, 8)

    for bad in ("1", "", "16 0", "16 8 4", "sixteen 8"):
        with open(marker, "w") as fh:
            fh.write(bad)
        with pytest.raises(ValueError, match="layout marker"):
            read_layout(marker, arity=2)
        with pytest.raises(ValueError, match="layout marker"):
            persisted_layout(marker, lambda: (16, 8), arity=2)


def test_incremental_dedup_skips_empty_batch(spark, tmp_path, sf_smoke):
    """A 0-row micro-batch must not create a store dir holding only
    _SUCCESS (it would break schema inference on the next batch's
    probe) — same guard class as the upsert sink's empty-batch
    corner."""
    import os

    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _incremental_dedup_batch,
    )
    from kafka_spark_streaming_spark.tables import table

    store = str(tmp_path / "store")
    docs = table(spark, sf_smoke, "documents")
    _incremental_dedup_batch(docs.filter(F.col("doc_id") < 0), store, 0)
    assert not os.path.exists(store)
    # ADVICE r16: the 0-row batch must not pin the layout marker either
    # — a conf retune BEFORE the first real data batch is still honored
    assert not os.path.exists(os.path.join(store, "_BUCKETS"))
    from kafka_spark_streaming_spark.config import BAND_STORE_BUCKETS_KEY

    try:
        spark.conf.set(BAND_STORE_BUCKETS_KEY, "5")
        # and a later real batch starts the store normally
        _incremental_dedup_batch(docs.filter(F.col("doc_id") < 50), store, 1)
        from kafka_spark_streaming_spark.operators.streaming_queries import (
            _store_layout,
        )

        assert _store_layout(spark, store)[0] == 5
    finally:
        spark.conf.unset(BAND_STORE_BUCKETS_KEY)
    from kafka_spark_streaming_spark.operators.store_maintenance import (
        pinned_store_read,
    )

    kept = (
        pinned_store_read(spark, store)
        .filter((F.col("kind") == "p") & F.col("kept"))
        .count()
    )
    assert kept > 0


def test_incremental_ann_probe_prunes_cell_partitions(spark, sf_smoke):
    """The streaming IVF index's probe (r18): the store read behind
    the returned top-k must carry PartitionFilters on `cell` — the
    inverted-list lookup is DIRECTORY pruning of the probed cells,
    never a full-store scan — and the query-side join must broadcast
    (the probe table is N_QUERIES x n_probe rows)."""
    from kafka_spark_streaming_spark.operators.streaming_queries import (
        s_incremental_ann_ivf,
    )

    df = s_incremental_ann_ivf(spark, sf_smoke)
    lines, plan = _partition_filter_lines(spark, df)
    cell_pf = [
        ln for ln in lines if "cell" in ln and ("IN" in ln or "in(" in ln)
    ]
    assert cell_pf, f"no cell PartitionFilters on the store scan:\n{plan}"
    assert "BroadcastNestedLoop" not in plan, "probe join must not be NL"
    assert "BroadcastHashJoin" in plan, "probe join must broadcast"


def test_vocab_broadcast_hint_is_size_guarded(spark, sf_smoke, monkeypatch):
    """VERDICT r20 #1: vocabulary tables (unigram counts / document
    frequencies / bigram contexts) are corpus-growth aggregates, so
    their broadcast hint must be conditional on source size — a forced
    hint at the 100 TB posture hard-fails past 8 GB where AQE would
    have picked a shuffle join. Below the guard the hint (and the
    pre-r21 plan) is preserved; past it the join is left to AQE."""
    from kafka_spark_streaming_spark.operators import text as text_mod

    # tiny fixture: hint fires -> static plan broadcasts the vocab side
    plan = plan_of(spark, "t_unigram_logprob", sf_smoke)
    assert "BroadcastHashJoin" in plan

    # ... and the guard (not a planner estimate) is what carries it:
    # the optimized logical join holds an explicit broadcast hint
    opt = (
        QUERIES["t_unigram_logprob"](spark, sf_smoke)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "strategy=broadcast" in opt

    # simulate a 100 TB corpus: guard off -> the FORCED hint is gone
    # from the vocab join; the strategy is the planner/AQE's to decide
    # from (runtime) stats.  Only the bounded 1-row total keeps a hint.
    monkeypatch.setattr(text_mod, "_VOCAB_HINT_SOURCE_BYTES", 0)
    opt_big = (
        QUERIES["t_unigram_logprob"](spark, sf_smoke)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    joins = [ln for ln in opt_big.splitlines() if "Join Inner" in ln]
    assert joins and all("strategy=broadcast" not in ln for ln in joins)


def test_spread_scan_is_conditional(spark, sf_smoke):
    """tables.spread_scan (r21, the generalized doc-spread): an
    under-partitioned scan gets exactly one round-robin spread to
    defaultParallelism; an already-well-partitioned frame passes
    through untouched (the multi-file 100 TB case adds no exchange).
    Consumer: t_repetition_signals (A/B: 0.77 s -> 0.52 s at sf0.1).

    r22 (ADVICE r21 #3): the passthrough branch is probed with par=1 on
    the bare single-split scan — NOT a .repartition(par) frame, which
    violated spread_scan's own bare-scan restriction and ran a real job
    at construction time under AQE."""
    from kafka_spark_streaming_spark.tables import spread_scan, table

    docs = table(spark, sf_smoke, "documents")
    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("spread is definitionally a no-op on a 1-core session")

    # fixture scan = 1 split; at par=1 it is NOT under-partitioned, so
    # the passthrough branch returns the frame with no exchange added
    well = spread_scan(docs, spark, par=1)
    plan = well._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan, plan

    narrow = spread_scan(docs, spark)
    plan = narrow._jdf.queryExecution().optimizedPlan().toString()
    assert f"Repartition {par}, true" in plan, plan

    # and the registered consumer carries the spread on this fixture
    rep = QUERIES["t_repetition_signals"](spark, sf_smoke)
    plan = rep._jdf.queryExecution().optimizedPlan().toString()
    assert f"Repartition {par}, true" in plan, plan


def test_spread_scan_rejects_non_scan_plans(spark, sf_smoke):
    """VERDICT r21 #6: the bare-scan restriction is structural — a
    shuffle/join/aggregate-bearing frame raises BEFORE the RDD
    partition probe can execute its upstream stages; projected/filtered
    scans (the documented allowed shapes) still pass."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.tables import spread_scan, table

    docs = table(spark, sf_smoke, "documents")
    for bad in (
        docs.repartition(4),
        docs.groupBy("doc_id").count(),
        docs.join(docs.select("doc_id"), "doc_id"),
        docs.select(F.explode(F.split("text", " ")).alias("tok")),
        docs.orderBy("doc_id"),
    ):
        with pytest.raises(ValueError, match="bare/projected file scan"):
            spread_scan(bad, spark)
    # node-NAME matching, not substring: expression text containing
    # 'sort_array'/'join' must not trip the guard on a legal projection
    ok = docs.where(F.col("lang") != "join").select(
        "doc_id", F.sort_array(F.split("text", " ")).alias("s")
    )
    spread_scan(ok, spark, par=1)  # must not raise


def test_spread_scan_guard_fails_closed(spark, sf_smoke):
    """The bare-scan guard is an allow-list over the analyzed plan
    (VERDICT r22 #3): node types a block-list never named — Python
    maps and an offset — are refused too, not waved through."""
    from kafka_spark_streaming_spark.tables import spread_scan, table

    docs = table(spark, sf_smoke, "documents")
    for bad in (
        docs.mapInPandas(lambda it: it, docs.schema),
        docs.mapInArrow(lambda it: it, docs.schema),
        docs.offset(5),
    ):
        with pytest.raises(ValueError, match="bare/projected file scan"):
            spread_scan(bad, spark)


def test_emb_verify_gather_is_size_guarded(spark, sf_smoke, monkeypatch):
    """r22 verify-join rework (guide §8): while the embeddings source
    is under the gather guard, the Arrow verify consumes ID PAIRS only
    (no attach joins below the Python node — vectors come from a
    broadcast matrix); past the guard (simulated 100 TB corpus) the
    r13 attach-join shape returns, and BOTH paths yield bit-identical
    cosine rows."""
    from kafka_spark_streaming_spark.operators import dedup as dd

    # guard on (fixture scale): no Join below the Arrow node
    opt = (
        dd._emb_pair_cos(spark, sf_smoke)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "MapInArrow" in opt or "mapInArrow" in opt.lower()
    gather_rows = {
        (r.vec_a, r.vec_b): r.cos
        for r in dd._emb_pair_cos(spark, sf_smoke).collect()
    }

    # guard off: the attach-join fallback is the plan (two joins feed
    # the Arrow node) and the cosines are bit-identical
    monkeypatch.setattr(dd, "_GATHER_SOURCE_BYTES", 0)
    fallback = dd._emb_pair_cos(spark, sf_smoke)
    opt_big = fallback._jdf.queryExecution().optimizedPlan().toString()
    # the candidates subtree carries joins on BOTH paths; what the
    # guard controls is whether the Arrow node's input rows carry the
    # attached vector payload (qa/qb) or just the id pair
    assert "qa" in opt_big and "qb" in opt_big, opt_big
    assert "qa" not in opt and "qb" not in opt, opt
    attach_rows = {
        (r.vec_a, r.vec_b): r.cos for r in fallback.collect()
    }
    assert attach_rows == gather_rows
