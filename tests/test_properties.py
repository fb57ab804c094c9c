"""Property-based checks (hypothesis) for the distributed patterns
whose correctness is easy to break silently: the two-phase global
prefix sum must equal the naive single-partition window for EVERY
input and partition count, not just the fixture."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kafka_spark_streaming_spark.operators.llm_pipeline import (
    exclusive_prefix_sum,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(st.integers(min_value=0, max_value=5000), max_size=60),
    n_parts=st.integers(min_value=1, max_value=7),
)
def test_two_phase_prefix_sum_equals_global_window(spark, values, n_parts):
    rows = [(i, v) for i, v in enumerate(values)]
    d = spark.createDataFrame(rows, "doc_id long, n long")
    got = {
        r.doc_id: r.c
        for r in exclusive_prefix_sum(d, "doc_id", "n", n_parts).collect()
    }
    wref = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    want = {
        r.doc_id: r.c
        for r in d.withColumn(
            "c", F.coalesce(F.sum("n").over(wref), F.lit(0))
        ).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    toks=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=3), min_size=1, max_size=30
    ),
    n=st.integers(min_value=2, max_value=4),
)
def test_ngrams_equal_python_reference(spark, toks, n):
    from kafka_spark_streaming_spark.operators.text import _ngrams

    d = spark.createDataFrame([(toks,)], "toks array<string>")
    got = d.select(_ngrams(F.col("toks"), n).alias("g")).head().g
    want = [
        " ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))
    ]
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e", "boil"]),
            min_size=3,
            max_size=12,
        ),
        min_size=2,
        max_size=12,
    )
)
def test_prefix_filter_candidates_cover_every_true_pair(spark, docs):
    """The prefix-filter NO-FALSE-NEGATIVES guarantee, on arbitrary
    corpora: every pair reaching the Jaccard threshold via the naive
    all-shingle self-join must survive prefix-filtered candidate
    generation. (The proof is in prefix_candidates' docstring; this
    hunts for counterexamples the fixture can't produce — heavy shingle
    skew via the 'boil' token, tiny docs at the ceil boundary.)"""
    from kafka_spark_streaming_spark.operators.dedup import (
        _jaccard_pairs,
        prefix_candidates,
        shingles_of,
    )

    d = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    sh = shingles_of(d)
    true_pairs = {
        (r.doc_a, r.doc_b) for r in _jaccard_pairs(sh).collect()
    }
    cand = {
        (r.doc_a, r.doc_b) for r in prefix_candidates(sh).collect()
    }
    assert true_pairs <= cand, (
        f"prefix filter missed true pairs: {true_pairs - cand}"
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e", "boil"]),
            min_size=3,
            max_size=12,
        ),
        min_size=2,
        max_size=12,
    )
)
def test_containment_candidates_cover_every_true_pair(spark, docs):
    """The one-sided (prefix-vs-full) pigeonhole guarantee for the
    containment join: every pair with |A∩B| / min(|A|,|B|) >= t under
    the brute shingle self-join must survive containment_candidates —
    including the asymmetric small-doc-inside-big-doc pairs whose
    Jaccard is far below the prefix_candidates threshold."""
    from kafka_spark_streaming_spark.operators.dedup import (
        CONTAINMENT_T,
        containment_candidates,
        shingles_of,
    )

    d = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    sets = {
        i: {
            " ".join(toks[j : j + 3])
            for j in range(len(toks) - 2)
        }
        for i, toks in enumerate(docs)
    }
    true_pairs = {
        (a, b)
        for a in sets
        for b in sets
        if a < b and sets[a] and sets[b]
        and len(sets[a] & sets[b]) / min(len(sets[a]), len(sets[b]))
        >= CONTAINMENT_T
    }
    cand = {
        (r.doc_a, r.doc_b)
        for r in containment_candidates(shingles_of(d)).collect()
    }
    assert true_pairs <= cand, (
        f"containment filter missed true pairs: {true_pairs - cand}"
    )


def test_exact_boundary_pairs_survive_residual_filters(spark):
    """Deterministic exact-threshold corpora for the r9 length /
    positional join residuals (hypothesis rarely lands EXACTLY on the
    boundary): a pair whose similarity equals the threshold double
    bit-for-bit must be a true pair AND survive candidate generation —
    this is precisely the case the one-ulp-down nudge in
    prefix_candidates / containment_candidates protects. Jaccard: two
    11-token docs differing in the last token share 8 of their 9
    3-shingles each -> J = 8/10, and float(8/10) == float(0.8) == the
    threshold literal. Containment: 12-token docs sharing 9 of 10
    shingles -> 9/10 == float(0.9) == CONTAINMENT_T."""
    from kafka_spark_streaming_spark.operators.dedup import (
        CONTAINMENT_T,
        JACCARD_THRESHOLD,
        _jaccard_pairs,
        containment_candidates,
        prefix_candidates,
        shingles_of,
    )

    assert 8 / 10 == JACCARD_THRESHOLD  # the corpus sits ON the literal
    assert 9 / 10 == CONTAINMENT_T

    toks = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11".split()
    jac_docs = spark.createDataFrame(
        [(0, " ".join(toks[:11])), (1, " ".join(toks[:10] + ["X"]))],
        "doc_id long, text string",
    )
    sh = shingles_of(jac_docs)
    assert {(r.doc_a, r.doc_b, float(r.jaccard))
            for r in _jaccard_pairs(sh).collect()} == {(0, 1, 0.8)}
    assert {(r.doc_a, r.doc_b)
            for r in prefix_candidates(sh).collect()} == {(0, 1)}

    cont_docs = spark.createDataFrame(
        [(0, " ".join(toks)), (1, " ".join(toks[:11] + ["X"]))],
        "doc_id long, text string",
    )
    assert {
        (r.doc_a, r.doc_b)
        for r in containment_candidates(shingles_of(cont_docs)).collect()
    } == {(0, 1)}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_equal_union_find(spark, edges):
    """Large-star/small-star labels == driver union-find ground truth on
    arbitrary graphs (self-loops, parallel edges, multiple components,
    stars, chains — shapes the fixture's shallow dup clusters never
    exercise)."""
    from kafka_spark_streaming_spark.operators.dedup import (
        connected_components,
    )

    clean = [(u, v) for u, v in edges if u != v]
    if not clean:
        return
    d = spark.createDataFrame(clean, "u long, v long")
    labels, _rounds = connected_components(d)
    got = {r.id: r.label for r in labels.collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in clean:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comps: dict[int, list[int]] = {}
    nodes = {x for e in clean for x in e}
    for x in nodes:
        comps.setdefault(find(x), []).append(x)
    want = {x: min(mem) for mem in comps.values() for x in mem}
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.text(alphabet="abcdef0123456789", min_size=1, max_size=12),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
def test_bloom_filter_never_false_negative(spark, keys):
    """The property the shuffle-skip rests on: EVERY key inserted into
    the dense bloom bitset must probe positive, for arbitrary key sets
    (hypothesis explores hash-position collisions the fixture's 250
    fps cannot)."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.operators.llm_pipeline import (
        bloom_build,
        bloom_might_contain,
    )

    d = spark.createDataFrame([(k,) for k in keys], "fp string")
    bloom = bloom_build(d, "fp")
    misses = (
        d.crossJoin(F.broadcast(bloom))
        .filter(~bloom_might_contain(F.col("fp"), F.col("bloom")))
        .count()
    )
    assert misses == 0


def test_scratch_dir_prunes_only_aged_transients(tmp_path, monkeypatch):
    """_scratch_dir must reclaim aged transient dirs, spare young ones
    (possibly a live drain), and never touch persistent caches."""
    import os
    import tempfile as _tf
    import time

    from kafka_spark_streaming_spark.operators.streaming_queries import (
        _scratch_dir,
    )

    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path))
    aged = tmp_path / "kss_s5_old"
    young = tmp_path / "kss_s5_fresh"
    live = tmp_path / "kss_ckpt_live_drain"
    cache = tmp_path / "kss_split_sf0.01_4_abcdefabcdef"
    for d in (aged, young, cache, live):
        d.mkdir()
    # ADVICE r7 streaming_queries.py:79: a LIVE streaming drain's
    # top-level checkpoint dir mtime freezes at start (offsets/ and
    # commits/ are created once), while each micro-batch writes INSIDE
    # those children — the age gate must key off the newest shallow
    # mtime, so this dir survives even though its top mtime is ancient
    (live / "offsets").mkdir()
    (live / "offsets" / "3").write_text("batch")
    old = time.time() - 3600
    os.utime(aged, (old, old))
    os.utime(cache, (old, old))
    os.utime(live, (old, old))  # frozen top mtime; offsets/ stays fresh
    new_dir = _scratch_dir("kss_s5_")
    assert not aged.exists(), "aged transient dir not reclaimed"
    assert young.exists(), "young transient dir must survive"
    assert live.exists(), (
        "live drain (frozen top mtime, fresh child) was reclaimed — "
        "the age gate is not reading the shallow walk"
    )
    assert cache.exists(), "persistent split cache must never be touched"
    assert os.path.isdir(new_dir)


def test_timer_reclaims_aged_scratch_before_timing(tmp_path, monkeypatch):
    """bench.Timer reclaims aged drain scratch when it is built, before
    any timed window, so no timed drain pays for deleting it."""
    import os
    import tempfile as _tf
    import time

    import bench

    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path))
    aged = tmp_path / "kss_ckpt_old"
    young = tmp_path / "kss_ckpt_fresh"
    for d in (aged, young):
        d.mkdir()
    old = time.time() - 3600
    os.utime(aged, (old, old))
    bench.Timer(spark=None)
    assert not aged.exists(), "aged checkpoint dir not reclaimed by Timer"
    assert young.exists(), "young checkpoint dir must survive"


def test_pagerank_mass_conserved(spark, sf_smoke):
    # every rank in (0,1); total mass ≤ 1 (dangling-node mass may leak
    # by design) and ≥ the pure-teleport floor (1-d) = 0.15
    from kafka_spark_streaming_spark.operators import QUERIES

    rows = QUERIES["g_pagerank_trade"](spark, sf_smoke).collect()
    total = sum(r.pagerank for r in rows)
    assert all(0.0 < r.pagerank < 1.0 for r in rows)
    assert 0.15 <= total <= 1.000001


def test_edit_distance_pairs_all_within_threshold(spark, sf_smoke):
    from kafka_spark_streaming_spark.operators import QUERIES

    rows = QUERIES["d_edit_distance_pairs"](spark, sf_smoke).collect()
    assert all(r.edit_dist <= 16 for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_edit_distance_guard_boundaries(spark, tmp_path):
    """Pin the three boundaries of the guarded verify on a crafted
    block (all docs share lang + the 24-char prefix): the equality
    short-circuit (distance 0), the threshold boundary (16 kept, 17
    dropped by the bounded DP's -1), and the |Δlen| guard boundary
    (16 reaches the DP, 17 is pruned before it — sound, since
    distance >= |Δlen|)."""
    from kafka_spark_streaming_spark.operators.dedup import (
        d_edit_distance_pairs,
    )

    P = "p" * 24
    texts = [
        P + "a" * 100,             # 0: base                (len 124)
        P + "a" * 100,             # 1: exact dup of 0      (dist 0)
        P + "a" * 84 + "b" * 16,   # 2: 16 subs from 0      (dist 16)
        P + "a" * 83 + "b" * 17,   # 3: 17 subs from 0      (dist 17)
        P + "a" * 116,             # 4: 16 inserts, Δlen 16 (dist 16)
        P + "a" * 117,             # 5: Δlen 17 from 0-3 — guard-pruned
    ]
    spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in d_edit_distance_pairs(spark, str(tmp_path)).collect()
    }
    assert got == {
        (0, 1): 0,    # equality branch
        (0, 2): 16,   # at the threshold: kept
        (1, 2): 16,
        (2, 3): 1,    # b16 vs b17 tails differ by one substitution
        (0, 4): 16,   # Δlen exactly 16 still reaches the DP
        (1, 4): 16,
        (4, 5): 1,
        # absent: (0,3)/(1,3) dist 17 > threshold; (2,4)/(3,4) > 16;
        # (x,5) for x<4: |Δlen| 17 pruned before the DP
    }


def test_mixture_rebalance_rates_and_counts_consistent(spark, sf_smoke):
    from kafka_spark_streaming_spark.operators import QUERIES

    rows = QUERIES["smp_mixture_rebalance"](spark, sf_smoke).collect()
    for r in rows:
        assert 0.0 < r.rate <= 1.0
        assert 0 <= r.n_kept <= r.n_docs
        if r.rate == 1.0:  # no-downsample sources keep everything
            assert r.n_kept == r.n_docs


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_tokens=st.lists(
        st.integers(min_value=1, max_value=200), min_size=1, max_size=6
    )
)
def test_doc_chunks_tile_every_document(spark, tmp_path_factory, n_tokens):
    """Chunking invariants for arbitrary document lengths: starts are
    the exact stride grid, every token is covered, consecutive chunks
    overlap by exactly len-stride (except a short tail), and chunk
    lengths are min(CHUNK_LEN, remaining)."""
    from kafka_spark_streaming_spark.operators.llm_pipeline import (
        _CHUNK_LEN,
        _CHUNK_STRIDE,
        p_doc_chunks,
    )

    tmp = tmp_path_factory.mktemp("chunks")
    docs = [
        (i, " ".join(f"w{i}_{j}" for j in range(n)))
        for i, n in enumerate(n_tokens)
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string"
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars",
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    rows = p_doc_chunks(spark, str(tmp)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, n in enumerate(n_tokens):
        chunks = sorted(by_doc[doc_id], key=lambda r: r.chunk_ix)
        starts = [r.start_tok for r in chunks]
        want_starts = list(range(1, n + 1, _CHUNK_STRIDE))
        assert starts == want_starts
        for r in chunks:
            assert r.n_tokens == min(_CHUNK_LEN, n - r.start_tok + 1)
        covered = max(r.start_tok + r.n_tokens - 1 for r in chunks)
        assert covered == n, "tail tokens dropped"


def _winnow_ref(tokens: list[str], k: int, w: int) -> set[tuple[int, str]]:
    """Pure-Python plain winnowing (Schleimer et al. SIGMOD'03 fig. 5):
    md5 every k-gram, slide a w-window over the hash sequence, select
    the window min with the RIGHTMOST tie-break, dedup (pos, hash).
    Positions are 1-based gram indices, matching the operator."""
    import hashlib

    grams = [
        " ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)
    ]
    hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
    out = set()
    for i in range(len(hs) - w + 1):
        sub = hs[i : i + w]
        m = min(sub)
        j = max(p for p, h in enumerate(sub) if h == m)  # rightmost
        out.add((i + j + 1, m))
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            # tiny alphabet forces repeated grams → rightmost tie-breaks
            st.sampled_from(["a", "b", "c"]),
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_winnow_fingerprints_match_python_reference(spark, tmp_path_factory, docs):
    """The Spark higher-order-function program and the DuckDB oracle
    both implement plain winnowing; this pins them to an independent
    sequential reference on adversarial inputs — heavy gram repetition
    (3-token alphabet) exercising the rightmost tie-break, and docs
    shorter than one gram/window, which must vanish."""
    from kafka_spark_streaming_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        t_winnow_fingerprints,
    )

    tmp = tmp_path_factory.mktemp("winnow")
    spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars",
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    got = {
        (r.doc_id, r.pos, r.fp)
        for r in t_winnow_fingerprints(spark, str(tmp)).collect()
    }
    want = {
        (i, pos, fp)
        for i, toks in enumerate(docs)
        # note: " ".join then split means empty docs tokenize to [""]
        # just like the operator's split(text, ' ') sees them
        for pos, fp in _winnow_ref(" ".join(toks).split(" "), WINNOW_K, WINNOW_W)
    }
    assert got == want


def test_winnow_shared_run_guarantee(spark, tmp_path_factory):
    """The MOSS coverage theorem: any shared token run of length >=
    K + W - 1 between two documents yields at least one shared
    fingerprint HASH — with the run placed at different offsets and
    embedded in otherwise-disjoint text (positions differ; hashes must
    still intersect)."""
    from kafka_spark_streaming_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        t_winnow_fingerprints,
    )

    run = [f"shared{i}" for i in range(WINNOW_K + WINNOW_W - 1)]
    doc0 = ["x%d" % i for i in range(11)] + run + ["y%d" % i for i in range(7)]
    doc1 = ["p%d" % i for i in range(3)] + run + ["q%d" % i for i in range(13)]
    tmp = tmp_path_factory.mktemp("winnow_run")
    spark.createDataFrame(
        [(0, " ".join(doc0)), (1, " ".join(doc1))],
        "doc_id long, text string",
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars",
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    rows = t_winnow_fingerprints(spark, str(tmp)).collect()
    fps = {0: set(), 1: set()}
    for r in rows:
        fps[r.doc_id].add(r.fp)
    assert fps[0] & fps[1], "shared run produced no shared fingerprint"


def test_ngram_novelty_extremes(spark, tmp_path_factory):
    """Duplicated docs score novelty 0 (every shingle has df >= 2); a
    doc with fully original text scores 1.0; counts are per-doc distinct
    shingles."""
    from kafka_spark_streaming_spark.operators.dedup import t_ngram_novelty

    dup = "alpha beta gamma delta epsilon"
    orig = "one two three four five six"
    tmp = tmp_path_factory.mktemp("novelty")
    spark.createDataFrame(
        [(0, dup), (1, dup), (2, orig)], "doc_id long, text string"
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "'src' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars",
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    rows = {r.doc_id: r for r in t_ngram_novelty(spark, str(tmp)).collect()}
    assert rows[0].novelty == 0.0 and rows[1].novelty == 0.0
    assert rows[2].novelty == 1.0
    assert rows[2].n_shingles == 4 and rows[2].n_unique == 4


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.one_of(st.none(), st.sampled_from(["a", "b", "c", "dd", ""])),
        min_size=1,
        max_size=25,
    )
)
def test_build_reps_properties(spark, keys):
    """_build_reps (the shared skew-safe rep-artifact build, r14) on
    arbitrary duplicate/NULL/empty key multisets:
    - TOTAL: exactly one output row per input row (the null-safe
      join-back keeps NULL-keyed rows; code-review r14);
    - rep_id = min id among rows sharing the key, with all NULLs one
      group (SQL grouping semantics, matching the window it replaced);
    - n_members = the key's multiplicity."""
    from collections import Counter

    from kafka_spark_streaming_spark.operators.dedup import _build_reps

    rows = [(i, k) for i, k in enumerate(keys)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.rep_id, r.n_members)
        for r in _build_reps(d, "doc_id", "text").collect()
    }
    assert len(got) == len(rows), "build must be total over the input"
    counts = Counter(keys)
    mins: dict = {}
    for i, k in enumerate(keys):
        if k not in mins:
            mins[k] = i
    for i, k in enumerate(keys):
        assert got[i] == (mins[k], counts[k]), (i, k, got[i])


def test_drain_restores_conf_on_error(spark, sf_smoke):
    """A failing stream re-raises out of streaming_queries._drain, and
    the drain's scoped shuffle width and AQE flag are restored to the
    session's values (a leaked width would silently reshape every later
    batch query's shuffles); a failed memory drain leaves no view."""
    import os

    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from kafka_spark_streaming_spark.operators.streaming_queries import _drain
    from kafka_spark_streaming_spark.sources.files import file_stream_messages

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    prev = {k: spark.conf.get(k) for k in keys}
    msgs = file_stream_messages(
        spark, os.path.join(sf_smoke, "events.parquet")
    )
    seen = []

    def boom(batch_df, batch_id):
        seen.append(tuple(spark.conf.get(k) for k in keys))
        raise RuntimeError("boom")

    with _pytest.raises(StreamingQueryException, match="boom"):
        _drain(spark, msgs.writeStream.foreachBatch(boom), 3)
    assert seen == [("3", "false")]
    assert {k: spark.conf.get(k) for k in keys} == prev

    failing = msgs.select(F.raise_error(F.lit("boom")).cast("string"))
    with _pytest.raises(StreamingQueryException, match="boom"):
        _drain(spark, failing.writeStream.format("memory"), 3)
    assert {k: spark.conf.get(k) for k in keys} == prev
    assert not [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("kss_drain_")
    ]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.sampled_from(["k0", "k1", "k2", "k3", "k4", "k5"]),
                st.sampled_from([f"v{i}" for i in range(10)]),
            ),
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    ),
    compact=st.integers(min_value=1, max_value=4),
    usurp_after=st.one_of(st.none(), st.integers(min_value=1, max_value=3)),
    snap_after=st.one_of(st.none(), st.integers(min_value=1, max_value=4)),
)
def test_upsert_sink_equals_lww_model(
    spark, batches, compact, usurp_after, snap_after
):
    """Model-based check of the r16 rb-partitioned KeyedUpsertSink: a
    random sequence of batches (small key/value alphabets force both
    within-batch collisions and cross-batch overwrites, exercising
    pruned merges AND manifest-carried untouched partitions), plus a
    replay of the final batch, must leave current() equal to the
    obvious driver-side LWW dict — latest batch wins per cell,
    max(value) breaks within-batch ties.  The drawn compaction
    threshold (r17) makes some examples fold every live partition into
    one version mid-sequence and others scatter partitions across the
    manifest — both must be invisible to current().

    The drawn CONCURRENT-ATTACH point (r18, VERDICT r17 #1): after
    `usurp_after` committed writes a second sink attaches to the same
    path (failover shape) and takes over the remaining batches; once
    it has committed, the old writer's next write must raise
    StaleWriterError and mutate NOTHING — the model only ever sees
    the usurper's timeline.

    The drawn SNAPSHOT point (r18, VERDICT r17 #6): after
    `snap_after` committed writes a snapshot() is taken and the model
    state at that instant recorded; at the END — after every later
    write, compaction fold, prune, replay, and possibly a failover to
    a different sink object — the snapshot must still read exactly
    that recorded state (pins are process-level, so the usurper's
    prunes honor the predecessor's snapshot)."""
    import shutil
    import tempfile

    import pytest

    from kafka_spark_streaming_spark.config import (
        UPSERT_COMPACT_VERSIONS_KEY,
    )
    from kafka_spark_streaming_spark.fencing import StaleWriterError
    from kafka_spark_streaming_spark.sinks.upsert import KeyedUpsertSink

    d = tempfile.mkdtemp(prefix="kss_upsert_prop_")
    spark.conf.set(UPSERT_COMPACT_VERSIONS_KEY, str(compact))
    try:
        sink = KeyedUpsertSink(spark, d)
        old_writer = None  # the fenced-out original, once usurped
        snap = snap_model = None  # the drawn snapshot + its expected state
        model: dict[str, str] = {}
        writes = 0
        for i, batch in enumerate(batches):
            if batch:  # 0-row batches skip version creation by design
                sink.write_batch(
                    spark.createDataFrame(
                        [(k, "cf1", "q", v) for k, v in batch],
                        "rowkey string, cf string, qualifier string,"
                        " value string",
                    ),
                    i,
                )
                writes += 1
                for k in {k for k, _ in batch}:
                    model[k] = max(v for kk, v in batch if kk == k)
            if snap_after is not None and writes == snap_after:
                snap, snap_model = sink.snapshot(), dict(model)
                snap_after = None  # snapshot once
            if usurp_after is not None and writes == usurp_after:
                old_writer, sink = sink, KeyedUpsertSink(spark, d)
                usurp_after = None  # usurp once
        # replay the last non-empty batch (foreachBatch retry shape):
        # state must be unchanged
        last = max(
            (i for i, b in enumerate(batches) if b), default=None
        )
        if last is not None:
            sink.write_batch(
                spark.createDataFrame(
                    [(k, "cf1", "q", v) for k, v in batches[last]],
                    "rowkey string, cf string, qualifier string,"
                    " value string",
                ),
                last,
            )
        if old_writer is not None and sink._fence is not None:
            # the usurper has committed at least once, so the fenced
            # loser must raise instead of corrupting...
            with pytest.raises(StaleWriterError):
                old_writer.write_batch(
                    spark.createDataFrame(
                        [("k0", "cf1", "q", "ZOMBIE")],
                        "rowkey string, cf string, qualifier string,"
                        " value string",
                    ),
                    len(batches) + 1,
                )
        got = {
            r["rowkey"]: r["value"] for r in sink.current().collect()
        }
        assert got == model
        if snap is not None:
            frozen = {
                r["rowkey"]: r["value"] for r in snap.collect()
            }
            assert frozen == snap_model
    finally:
        spark.conf.unset(UPSERT_COMPACT_VERSIONS_KEY)
        shutil.rmtree(d, ignore_errors=True)
