"""LLM-training-corpus pipeline operators (north star, BASELINE.json:6).

The ops a corpus builder runs between "raw crawl" and "tokenizer":
deterministic train/val/test split, benchmark decontamination,
sequence packing (concat-and-chunk), incremental snapshot dedup,
text normalization, and PII redaction.  All are Catalyst built-ins —
regexp / hash / window / join — with an exact DuckDB oracle each.

Scale design notes
------------------
- Split + normalize + redact are pure per-row maps: pipeline with the
  scan, no shuffle, trivially 100 TB-safe.
- Decontamination broadcasts the EVAL side (benchmarks are ~MBs even
  when the corpus is 100 TB); the corpus side streams through one
  shingle explode + broadcast-hash semi-join + per-doc count.  No
  corpus self-join anywhere.
- Sequence packing needs a global prefix sum; the single-partition
  window that implies is replaced by the same two-phase plan as
  w_revenue_deciles (range-repartition -> per-partition sum ->
  ~#partitions-row offset table broadcast back).
- Incremental dedup anti-joins incoming fingerprints against the
  existing corpus' fingerprint table; at 100 TB you put a bloom filter
  of existing fps in front of the anti-join to skip the shuffle for
  the ~never-seen majority.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kafka_spark_streaming_spark.operators.dedup import (
    _JACCARD_PAIRS_SQL,
    shingles,
)
from kafka_spark_streaming_spark.operators.registry import register
from kafka_spark_streaming_spark.tables import session_checkpoint, table

PACK_BUDGET = 2048  # tokens per packed training sequence
_HEX = "0123456789abcdef"


# --- deterministic train/val/test split ----------------------------------
# Hash-based assignment (md5 of the doc id) so the split is stable
# across runs, engines, and re-shards — the property that lets a 100 TB
# corpus be re-processed incrementally without leaking val docs into
# train. Buckets: 0..255 from the first two hex chars; <230 train
# (~90%), <243 val (~5%), rest test (~5%).
@register(
    "p_train_val_split",
    f"""
    WITH b AS (
      SELECT doc_id,
             (strpos('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + strpos('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1
               AS bucket,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents)
    SELECT CASE WHEN bucket < 230 THEN 'train'
                WHEN bucket < 243 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM b GROUP BY 1
    """,
)
def p_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint")
    split = (
        F.when(bucket < 230, "train")
        .when(bucket < 243, "val")
        .otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint")).alias(
            "total_tokens"
        ),
    )


def _ngram_sql(n: int) -> str:
    """DuckDB distinct word n-gram shingles (mirrors shingles(n))."""
    terms = " || ' ' || ".join(f"t.toks[i.i+{j}]" for j in range(n))
    # spine driven by each doc's token count — no silent truncation of
    # longer future fixtures (len-(n-1) <= 0 yields an empty series)
    return f"""
      SELECT DISTINCT doc_id, s FROM (
        SELECT t.doc_id, {terms} AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents) t,
             unnest(generate_series(1, len(t.toks) - {n - 1})) AS i(i))
    """


# --- benchmark decontamination -------------------------------------------
# Docs whose 8-gram overlap with the held-out eval set exceeds 50% —
# the standard n-gram decontamination pass a corpus runs before
# training so the model is not graded on memorized training text.
# Eval set here: every 50th doc (the fixture's stand-in for a
# benchmark suite).
@register(
    "p_decontaminate_ngram",
    f"""
    WITH sh AS ({_ngram_sql(8)}),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
    train AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
    card AS (SELECT doc_id, COUNT(*) AS n FROM train GROUP BY doc_id),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_overlap
      FROM train t JOIN ev ON t.s = ev.s GROUP BY t.doc_id)
    SELECT h.doc_id, CAST(h.n_overlap AS BIGINT) AS n_overlap,
           CAST(c.n AS BIGINT) AS n_shingles,
           round(h.n_overlap * 1.0 / c.n, 6) AS overlap_frac
    FROM hits h JOIN card c USING (doc_id)
    WHERE h.n_overlap * 1.0 / c.n >= 0.5
    """,
)
def p_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_spark_streaming_spark.operators.text import vocab_broadcast

    # one shingle pass, materialized: ev / card / hits all consume it —
    # without the checkpoint the corpus-wide 8-gram construction runs
    # once per consumer.  Memoized per (session, corpus): the 8-gram
    # index is a persisted derived table in a production pipeline
    # (built when the corpus lands, probed by every decontamination /
    # overlap query), same pattern as dedup.session_profile.
    sh = session_checkpoint(
        spark,
        f"shingles8:{sf_dir}",
        lambda: shingles(spark, sf_dir, n=8),
        sf_dir=sf_dir,
    )
    ev = sh.filter(F.col("doc_id") % 50 == 0).select("s")
    train = sh.filter(F.col("doc_id") % 50 != 0)
    card = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        # eval shingles are benchmark-sized -> broadcast, bounded by
        # the documents source (ev is ~1/50 of the corpus' shingles,
        # so the vocabulary guard's source bound covers it); the corpus
        # side is a streaming semi-probe, never shuffled on shingle.
        # LEFT SEMI since r22: the old inner join needed a .distinct()
        # on ev (duplicate eval shingles would multiply matches), and
        # that distinct's exchange + second agg stage was the query's
        # single biggest term (isolated: ev filter-only 0.16 s,
        # +distinct 0.52 s).  A semi join keeps each train row at most
        # once regardless of eval-side duplicates, and train rows are
        # per-doc-distinct by shingles_of construction, so n_overlap =
        # |{doc shingles} ∩ {eval set}| exactly as before — verified
        # row-identical at sf0.1; interleaved 5-round A/B median
        # 0.93 -> 0.53 s, min 0.83 -> 0.37 s.
        train.join(
            vocab_broadcast(ev, sf_dir, source="documents"), "s", "semi"
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    frac = F.col("n_overlap") / F.col("n_shingles")
    return (
        hits.join(card, "doc_id")
        .filter(frac >= 0.5)
        .select(
            "doc_id",
            "n_overlap",
            "n_shingles",
            F.round(frac, 6).alias("overlap_frac"),
        )
    )


def range_ranked(d: DataFrame, order_col: str, n_parts: int) -> DataFrame:
    """Pre-checkpoint stage of exclusive_prefix_sum: the range-
    repartitioned frame with its partition id pinned as `pid`.
    Factored out so tests assert RangePartitioning on the PRODUCTION
    plan (the checkpoint in exclusive_prefix_sum hides the exchange
    from the downstream plan — ADVICE r6 test_plans.py:227)."""
    return d.repartitionByRange(n_parts, F.asc(order_col)).withColumn(
        "pid", F.spark_partition_id()
    )


def exclusive_prefix_sum(
    d: DataFrame, order_col: str, value_col: str, n_parts: int
) -> DataFrame:
    """Distributed exclusive prefix sum of value_col in order_col
    order, added as column `c` — the two-phase plan: range-repartition
    on the order key, per-partition running sum (window partitioned by
    pid — never global over the data), then per-partition totals
    (~n_parts rows) cumulated and broadcast back as offsets."""
    # localCheckpoint pins pid assignments: both consumers below must
    # see the SAME range partitioning, and range bounds come from
    # sampling seeded per physical exchange — without materialization,
    # correctness would hinge on exchange-reuse deduplicating the two
    # branches (an optimizer rule, not a contract)
    ranked = range_ranked(d, order_col, n_parts).localCheckpoint(eager=True)
    wloc = (
        W.partitionBy("pid")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = ranked.withColumn(
        "c_loc",
        F.coalesce(F.sum(value_col).over(wloc), F.lit(0).cast("bigint")),
    )
    counts = ranked.groupBy("pid").agg(F.sum(value_col).alias("tot"))
    wcum = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "pid",
        F.coalesce(F.sum("tot").over(wcum), F.lit(0).cast("bigint")).alias(
            "off"
        ),
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("c", F.col("off") + F.col("c_loc"))
        .drop("pid", "c_loc", "off")
    )


# --- sequence packing (concat-and-chunk) ---------------------------------
# Concatenate docs in deterministic doc_id order and cut the stream
# into PACK_BUDGET-token training sequences; a doc belongs to the
# sequence where its first token lands. The global prefix sum uses the
# two-phase plan (range-repartition + per-partition running sum +
# broadcast offsets) — the only unpartitioned window runs over the
# ~32-row per-partition-count table, never over the corpus.
@register(
    "p_pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
    cum AS (
      SELECT doc_id, n,
             COALESCE(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      FROM toks)
    SELECT CAST(c // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS seq_tokens
    FROM cum GROUP BY 1
    """,
)
def p_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n")
    )
    par = spark.sparkContext.defaultParallelism
    cum = exclusive_prefix_sum(d, "doc_id", "n", par)
    return cum.groupBy(
        F.floor(F.col("c") / PACK_BUDGET).alias("seq_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("seq_tokens"),
    )


# --- incremental snapshot dedup ------------------------------------------
# The recurring-crawl shape: a new batch (doc_id >= 250) lands next to
# the existing corpus (doc_id < 250); keep only incoming docs whose
# content fingerprint is unseen, collapsing intra-batch copies to the
# smallest doc_id. Anti-join on the fingerprint — one shuffle; at
# 100 TB a bloom filter of existing fps pre-filters the probe side.
@register(
    "p_incremental_dedup",
    """
    WITH existing AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 250),
    inc AS (
      SELECT md5(text) AS fp, doc_id FROM documents WHERE doc_id >= 250)
    SELECT i.fp, CAST(MIN(i.doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM inc i
    WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = i.fp)
    GROUP BY i.fp
    """,
)
def p_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.encode("text", "UTF-8")).alias("fp")
    )
    existing = d.filter(F.col("doc_id") < 250).select("fp").distinct()
    inc = d.filter(F.col("doc_id") >= 250)
    return (
        inc.join(existing, "fp", "left_anti")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --- bloom-guarded incremental dedup -------------------------------------
# p_incremental_dedup's docstring promises "at 100 TB a bloom filter of
# existing fps pre-filters the probe side"; this operator makes that
# posture real, entirely in Catalyst (Spark's bloom_filter_agg is not
# in the public function registry). The filter is a DENSE bitset
# packed into 64-bit words via bit_or aggregation, shipped as ONE
# broadcast row holding (map<word_ix, word>, m). m is sized from the
# key count at ~10 bits/key (k = 3 seeded xxhash64 probes → ε ≈ 1.7%),
# rounded up to a power of two and clamped to
# [_BLOOM_MIN_BITS, _BLOOM_MAX_BITS]. The ceiling keeps the broadcast
# bounded (2^27 bits → ≤2M map words ≈ 32 MB serialized, comfortably
# under Spark's broadcast comfort zone); beyond ~13M distinct keys the
# clamp makes ε degrade gracefully — output stays bit-identical (the
# exact anti-join still backstops every possible-hit), only the
# shuffle-skip fraction shrinks. The probe reads m from the broadcast
# row itself, so build and probe can never disagree on the modulus.
#
# Correctness by construction: might_contain == false ⇒ the key is
# DEFINITELY unseen (a bloom filter has no false negatives), so those
# rows skip the anti-join shuffle entirely; possible-hits (true
# matches + ~eps false positives) still go through the exact anti-join.
# The final result is therefore bit-identical to p_incremental_dedup —
# same oracle SQL, and tests assert frame equality + zero false
# negatives on the fixture + bounded ε at 10× fixture keys.
_BLOOM_MIN_BITS = 1 << 13  # 1 KiB of bits — spreads tiny key sets
_BLOOM_MAX_BITS = 1 << 27  # broadcast ceiling; ε degrades past ~13M keys
_BLOOM_BITS_PER_KEY = 10
_BLOOM_K = 3


def _bloom_size_bits(n_keys: int) -> int:
    """Power-of-two m for n keys at ~10 bits/key, clamped to the
    documented [min, max] broadcast envelope."""
    want = max(1, n_keys) * _BLOOM_BITS_PER_KEY
    m = _BLOOM_MIN_BITS
    while m < want and m < _BLOOM_MAX_BITS:
        m <<= 1
    return m


def _bloom_positions(key, m_bits):  # k seeded hash positions in [0, m)
    m = F.lit(m_bits) if isinstance(m_bits, int) else m_bits
    return F.array(
        *[F.pmod(F.xxhash64(F.lit(i), key), m) for i in range(_BLOOM_K)]
    )


def bloom_build(
    keys: DataFrame, key_col: str, n_keys: int | None = None
) -> DataFrame:
    """1-row frame (bloom: map<word_ix, word>, m: long) — the dense
    bitset plus the modulus it was built with.

    n_keys sizes the filter; when omitted it is computed with one
    count() job over `keys` (at scale the snapshot's key count is
    usually already known — pass it to skip the extra job).
    """
    if n_keys is None:
        n_keys = keys.count()
    m_bits = _bloom_size_bits(n_keys)
    pos = keys.select(
        F.explode(_bloom_positions(F.col(key_col), m_bits)).alias("p")
    )
    words = (
        pos.select(
            F.floor(F.col("p") / 64).alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod("p", F.lit(64)).cast("int"),
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias(
            "bloom"
        ),
        F.lit(m_bits).cast("long").alias("m"),
    )


def bloom_might_contain(key, bloom, m=None):
    """Column predicate: every probe bit of `key` is set in `bloom`.

    `m` is the modulus column carried in the bloom row (defaults to
    F.col("m"), the name bloom_build emits) — reading it from the
    broadcast row keeps probe and build in lockstep by construction.
    """
    if m is None:
        m = F.col("m")
    return F.forall(
        _bloom_positions(key, m),
        lambda p: F.coalesce(
            F.element_at(bloom, F.floor(p / 64)), F.lit(0).cast("long")
        ).bitwiseAND(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(p, F.lit(64)).cast("int"),
            )
        )
        != 0,
    )


@register(
    "p_incremental_dedup_bloom",
    """
    WITH existing AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 250),
    inc AS (
      SELECT md5(text) AS fp, doc_id FROM documents WHERE doc_id >= 250)
    SELECT i.fp, CAST(MIN(i.doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM inc i
    WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = i.fp)
    GROUP BY i.fp
    """,
)
def p_incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.encode("text", "UTF-8")).alias("fp")
    )
    existing = d.filter(F.col("doc_id") < 250).select("fp").distinct()
    inc = d.filter(F.col("doc_id") >= 250)
    bloom = bloom_build(existing, "fp")
    probed = inc.crossJoin(bloom).withColumn(
        "maybe_seen", bloom_might_contain(F.col("fp"), F.col("bloom"))
    )
    definite_new = probed.filter(~F.col("maybe_seen")).select("doc_id", "fp")
    survivors = (
        probed.filter(F.col("maybe_seen"))
        .select("doc_id", "fp")
        .join(existing, "fp", "left_anti")
    )
    return (
        definite_new.unionByName(survivors)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --- text normalization --------------------------------------------------
# The canonicalization pass run before fingerprinting/dedup: lowercase,
# strip non-alphanumerics, collapse whitespace. Emitting the cleaned
# fingerprint (not the cleaned text) keeps the output narrow; the op is
# a pure per-row map that pipelines with the scan.
@register(
    "t_normalize_clean",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_raw,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g'))) AS BIGINT) AS n_clean,
           md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g'))) AS clean_fp
    FROM documents
    """,
)
def t_normalize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            "  +",
            " ",
        )
    )
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_raw"),
        F.length(clean).cast("bigint").alias("n_clean"),
        F.md5(F.encode(clean, "UTF-8")).alias("clean_fp"),
    )


# --- PII redaction -------------------------------------------------------
# Numeric identifiers scrubbed from semi-structured payloads before
# they can enter a training corpus — the shape of redacting telemetry
# JSON (events.props carries embedded numeric ids exactly like real
# event payloads carry user/account numbers). A pure per-row map.
# Patterns are RE2-safe (no backrefs) so Spark's Java regex and
# DuckDB's RE2 agree byte-for-byte.
_DIGITS = "[0-9]+"


@register(
    "p_pii_redact",
    f"""
    WITH r AS (
      SELECT event_type,
             len(regexp_extract_all(props, '{_DIGITS}')) AS n_num,
             length(regexp_replace(props, '{_DIGITS}', '[NUM]', 'g'))
               AS red_len
      FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_num) AS BIGINT) AS num_hits,
           CAST(SUM(red_len) AS BIGINT) AS total_redacted_len
    FROM r GROUP BY event_type
    """,
)
def p_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.size(
                F.regexp_extract_all("props", F.lit(_DIGITS), F.lit(0))
            ).alias("n_num"),
            F.length(F.regexp_replace("props", _DIGITS, "[NUM]")).alias(
                "red_len"
            ),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_num").cast("bigint").alias("num_hits"),
            F.sum("red_len").cast("bigint").alias("total_redacted_len"),
        )
    )


# --- composed quality-filter gate ----------------------------------------
# The full curation decision in one plan: per-doc signals (type-token
# ratio, duplicate-bigram fraction, corpus-unigram log-prob) feed
# data-derived cutoffs — drop the bottom logprob decile and the top
# repetition decile, require ttr ≥ 0.5 — and the output is the
# per-source keep audit a corpus builder reviews before training.
# Percentile cutoffs are computed ONCE globally (two 1-row aggs,
# broadcast) — comparisons against an interpolated percentile are
# engine-safe because every data value lies strictly on one side of an
# interpolated threshold regardless of last-ulp differences. Signals
# are pure scan-side maps except the unigram join (vocabulary-sized —
# hint size-guarded via vocab_broadcast, AQE decides past the guard);
# nothing shuffles the corpus twice.
@register(
    "pipe_quality_filter",
    """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
    uni AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT SUM(c) AS total FROM uni),
    lp AS (
      SELECT t.doc_id, AVG(ln(u.c * 1.0 / tot.total)) AS avg_logprob
      FROM tok t JOIN uni u USING (token), tot GROUP BY t.doc_id),
    sig AS (
      SELECT k.doc_id, k.source,
             len(list_distinct(k.t)) * 1.0 / len(k.t) AS ttr,
             CASE WHEN len(k.t) - 1 <= 0 THEN 0.0
                  ELSE 1.0 - len(list_distinct(
                         [array_to_string(k.t[i + 1:i + 2], ' ')
                          FOR i IN range(0, len(k.t) - 1)])) * 1.0
                       / (len(k.t) - 1)
             END AS dup2,
             lp.avg_logprob
      FROM toks k JOIN lp USING (doc_id)),
    cuts AS (
      SELECT quantile_cont(avg_logprob, 0.1) AS lp_cut,
             quantile_cont(dup2, 0.9) AS dup_cut
      FROM sig)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN avg_logprob > cuts.lp_cut
                          AND dup2 < cuts.dup_cut
                          AND ttr >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM sig, cuts GROUP BY source
    """,
)
def pipe_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_spark_streaming_spark.operators.text import (
        _dup_frac_raw,
        _toks,
        vocab_broadcast,
    )

    d = table(spark, sf_dir, "documents")
    toks = _toks()
    tok = d.select("doc_id", F.explode(toks).alias("token"))
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # identical integer to SUM(c) over uni, in one scan with no
    # explode/shuffle (see t_unigram_logprob); uni's broadcast hint is
    # size-guarded — vocabulary tables are corpus-growth aggregates
    tot = d.agg(F.sum(F.size(toks)).alias("total"))
    lp = (
        tok.join(vocab_broadcast(uni, sf_dir, source="documents"), "token")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(F.avg(F.log(F.col("c") * 1.0 / F.col("total"))).alias("avg_logprob"))
    )
    sig = d.select(
        "doc_id",
        "source",
        (F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)).alias("ttr"),
        _dup_frac_raw(toks, 2).alias("dup2"),
    ).join(lp, "doc_id")
    cuts = sig.agg(
        F.expr("percentile(avg_logprob, 0.1)").alias("lp_cut"),
        F.expr("percentile(dup2, 0.9)").alias("dup_cut"),
    )
    return (
        sig.crossJoin(cuts)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("avg_logprob") > F.col("lp_cut"))
                    & (F.col("dup2") < F.col("dup_cut"))
                    & (F.col("ttr") >= 0.5),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_kept"),
        )
    )


# --- dataset manifest (the "dataset card" aggregate) ---------------------
# The per-(lang, source) summary table a training-data release ships:
# document/token/char volumes plus exact median length. One wide
# groupBy over a narrow projection — partial-aggregated map-side, the
# single shuffle carries (langs × sources) groups; the exact median
# (percentile == DuckDB quantile_cont, linear interpolation) is
# computed inside the same aggregation, so at 100 TB this is one pass
# over the corpus manifest columns.
@register(
    "p_dataset_manifest",
    """
    WITH m AS (
      SELECT lang, source, n_chars,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents)
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           round(AVG(n_tokens * 1.0), 6) AS avg_tokens,
           round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens
    FROM m GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def p_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact `percentile` buffers each group's values — fine for the
    # manifest cardinality here and required for the exact oracle; on a
    # corpus where one (lang, source) group holds billions of docs,
    # swap in percentile_approx (GK sketch, bounded memory) exactly as
    # sk_value_quantiles demonstrates side-by-side
    d = table(spark, sf_dir, "documents")
    m = d.select(
        "lang",
        "source",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    return (
        m.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(F.avg(F.col("n_tokens") * 1.0), 6).alias("avg_tokens"),
            F.round(
                F.expr("percentile(n_tokens, 0.5)"), 6
            ).alias("p50_tokens"),
        )
        .orderBy("lang", "source")
    )


# --- overlapping document chunking (the RAG/embedding prep step) ---------
# The splitting counterpart of p_pack_sequences: slice every document
# into fixed-size token windows with overlap (64-token chunks, stride
# 48 → 16-token overlap), emitting per-chunk offsets and a content
# fingerprint — the unit an embedding/RAG pipeline indexes. Pure
# per-row array math (sequence → slice → explode): pipelines with the
# scan, zero shuffle, embarrassingly parallel at any scale; all
# offsets are exact integers and the fingerprint is md5 of the joined
# slice, so both engines agree bit-for-bit.
_CHUNK_LEN = 64
_CHUNK_STRIDE = 48


@register(
    "p_doc_chunks",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    chunks AS (
      SELECT doc_id,
             CAST((gs.i - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_ix,
             CAST(gs.i AS BIGINT) AS start_tok,
             toks[gs.i : least(gs.i + {_CHUNK_LEN - 1}, len(toks))] AS ctoks
      FROM t, unnest(generate_series(1, len(toks), {_CHUNK_STRIDE}))
             AS gs(i))
    SELECT doc_id, chunk_ix, start_tok,
           CAST(len(ctoks) AS BIGINT) AS n_tokens,
           md5(array_to_string(ctoks, ' ')) AS chunk_fp
    FROM chunks
    """,
)
def p_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # token array materialized before the lambda slices it (the
    # shingles_of trap: a closure over raw split() re-splits per chunk)
    tokd = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    toks = F.col("toks")
    starts = F.sequence(
        F.lit(1), F.size(toks), F.lit(_CHUNK_STRIDE)
    )
    chunks = tokd.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.struct(
                    s.cast("bigint").alias("start_tok"),
                    F.slice(toks, s, _CHUNK_LEN).alias("ctoks"),
                ),
            )
        ).alias("chunk_ix", "c"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_ix").cast("bigint").alias("chunk_ix"),
        F.col("c.start_tok").alias("start_tok"),
        F.size("c.ctoks").cast("bigint").alias("n_tokens"),
        F.md5(F.encode(F.array_join("c.ctoks", " "), "UTF-8")).alias(
            "chunk_fp"
        ),
    )


# --- the whole corpus build as ONE plan -----------------------------------
# VERDICT r19 #4: every stage above is individually oracled, but a real
# corpus builder runs them as one chained job — clean (length gate +
# exact dedup + near-dup drop, pipe_corpus_clean's stage) → normalize →
# decontaminate (8-gram overlap vs the held-out eval docs) → quality
# gate (data-derived ttr/repetition/logprob cutoffs) → deterministic
# hash split → sequence packing of the train split.  Chaining is the
# only way cross-stage plan problems show up (a lost pushdown, a
# repeated scan, a shuffle barrier between stages), and the composition
# changes stage SEMANTICS on purpose: the quality cutoffs are
# percentiles of the SURVIVING corpus, not of the raw one, and packing
# sees only documents every earlier gate kept.
#
# Plan shape at 100 TB: the near-dup pair set is the memoized LSH
# artifact (linear-ish, session_minhash_pairs); the eval shingle side
# is broadcast; the unigram vocabulary is broadcast; the percentile
# cutoffs are one broadcast row; packing's global prefix sum is the
# two-phase range-repartition plan.  The multi-consumer stage frames
# (cleaned corpus, quality signals) are locally checkpointed so the
# dedup chain and the signal computation run ONCE each instead of once
# per downstream consumer — the in-query analogue of materializing
# stage outputs between pipeline jobs.
_TERMS8 = " || ' ' || ".join(f"c.toks[i.i+{j}]" for j in range(8))


@register(
    "p_corpus_end_to_end",
    f"""
    WITH pairs AS ({_JACCARD_PAIRS_SQL}),
    kept AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents WHERE n_chars >= 100
      GROUP BY md5(text)),
    cleaned AS (
      SELECT doc_id, toks FROM (
        SELECT d.doc_id,
               string_split(trim(regexp_replace(regexp_replace(
                 lower(d.text), '[^a-z0-9 ]', '', 'g'),
                 '  +', ' ', 'g')), ' ') AS toks,
               trim(regexp_replace(regexp_replace(lower(d.text),
                 '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS clean
        FROM documents d JOIN kept USING (doc_id)
        WHERE d.doc_id NOT IN (SELECT doc_b FROM pairs))
      WHERE clean <> ''),
    sh8 AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT c.doc_id, {_TERMS8} AS s
        FROM cleaned c,
             unnest(generate_series(1, len(c.toks) - 7)) AS i(i))),
    ev AS (SELECT DISTINCT s FROM sh8 WHERE doc_id % 50 = 0),
    tr_sh AS (SELECT * FROM sh8 WHERE doc_id % 50 <> 0),
    card AS (SELECT doc_id, COUNT(*) AS n_sh FROM tr_sh GROUP BY doc_id),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_overlap
      FROM tr_sh t JOIN ev USING (s) GROUP BY t.doc_id),
    contaminated AS (
      SELECT h.doc_id FROM hits h JOIN card c USING (doc_id)
      WHERE h.n_overlap * 1.0 / c.n_sh >= 0.5),
    corpus AS (
      SELECT * FROM cleaned
      WHERE doc_id % 50 <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM corpus),
    uni AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT SUM(c) AS total FROM uni),
    lp AS (
      SELECT t.doc_id, AVG(ln(u.c * 1.0 / tot.total)) AS avg_logprob
      FROM tok t JOIN uni u USING (token), tot GROUP BY t.doc_id),
    sig AS (
      SELECT k.doc_id, len(k.toks) AS n,
             len(list_distinct(k.toks)) * 1.0 / len(k.toks) AS ttr,
             CASE WHEN len(k.toks) - 1 <= 0 THEN 0.0
                  ELSE 1.0 - len(list_distinct(
                         [array_to_string(k.toks[i + 1:i + 2], ' ')
                          FOR i IN range(0, len(k.toks) - 1)])) * 1.0
                       / (len(k.toks) - 1)
             END AS dup2,
             lp.avg_logprob
      FROM corpus k JOIN lp USING (doc_id)),
    cuts AS (
      SELECT quantile_cont(avg_logprob, 0.1) AS lp_cut,
             quantile_cont(dup2, 0.9) AS dup_cut FROM sig),
    passed AS (
      SELECT sig.doc_id, sig.n FROM sig, cuts
      WHERE avg_logprob > cuts.lp_cut AND dup2 < cuts.dup_cut
        AND ttr >= 0.5),
    splits AS (
      SELECT doc_id, n,
             CASE WHEN bucket < 230 THEN 'train'
                  WHEN bucket < 243 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT p.*,
              (strpos('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1
                AS bucket
            FROM passed p)),
    cum AS (
      SELECT doc_id, n,
             COALESCE(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      FROM splits WHERE split = 'train')
    SELECT 'train' AS split, CAST(c // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS seq_tokens
    FROM cum GROUP BY 2
    UNION ALL
    SELECT split, CAST(-1 AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS seq_tokens
    FROM splits WHERE split <> 'train' GROUP BY 1
    """,
)
def p_corpus_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_spark_streaming_spark.operators.dedup import (
        session_minhash_pairs,
        shingles_of,
    )
    from kafka_spark_streaming_spark.operators.text import (
        _dup_frac_raw,
        vocab_broadcast,
    )

    d = table(spark, sf_dir, "documents")
    # stage 1-2: pipe_corpus_clean's survivors (length gate, exact
    # dedup keep-min-doc_id, near-dup doc_b drop via the memoized LSH
    # pair artifact), then normalized; empty-after-clean docs leave
    clean_expr = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            "  +",
            " ",
        )
    )
    kept = (
        d.filter(F.col("n_chars") >= 100)
        .groupBy(F.md5(F.encode("text", "UTF-8")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    near_dups = (
        session_minhash_pairs(spark, sf_dir).select("doc_b").distinct()
    )
    cleaned = (
        d.join(kept, "doc_id", "left_semi")
        .join(near_dups, d["doc_id"] == near_dups["doc_b"], "left_anti")
        .select("doc_id", clean_expr.alias("text"))
        .filter(F.col("text") != "")
        .withColumn("toks", F.split(F.col("text"), " "))
        .withColumn("n", F.size("toks").cast("bigint"))
        # stage output materialized once: sh8/lp/sig all consume it
        .localCheckpoint(eager=False)
    )
    # stage 3: decontaminate — 8-gram shingles of the CLEAN text; the
    # %50 docs are the held-out benchmark (excluded from the corpus),
    # eval shingles broadcast, train docs with >=50% overlap dropped
    sh = shingles_of(cleaned.select("doc_id", "text"), n=8)
    ev = sh.filter(F.col("doc_id") % 50 == 0).select("s")
    tr_sh = sh.filter(F.col("doc_id") % 50 != 0)
    card = tr_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        # LEFT SEMI probe (r22, same rewrite as p_decontaminate_ngram):
        # no distinct needed on the broadcast eval side — a semi join
        # cannot multiply the per-doc-distinct train shingles, so
        # n_overlap is unchanged while the eval subtree loses its
        # exchange + second aggregate stage.
        tr_sh.join(ev, "s", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    contaminated = (
        hits.join(card, "doc_id")
        .filter(F.col("n_overlap") / F.col("n_sh") >= 0.5)
        .select("doc_id")
    )
    corpus = cleaned.filter(F.col("doc_id") % 50 != 0).join(
        contaminated, "doc_id", "left_anti"
    )
    # stage 4: quality gate — cutoffs are percentiles of the SURVIVING
    # corpus (two 1-row broadcast aggs), unigram model broadcast
    tok = corpus.select("doc_id", F.explode("toks").alias("token"))
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # SUM(c) over uni == SUM(n) over the surviving corpus (n is the
    # per-doc token count carried from stage 2) — one localCheckpoint
    # read instead of a second explode→groupBy→sum of every token;
    # uni's broadcast hint is size-guarded (corpus-growth aggregate)
    tot = corpus.agg(F.sum("n").alias("total"))
    lp = (
        tok.join(vocab_broadcast(uni, sf_dir, source="documents"), "token")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(
            F.avg(F.log(F.col("c") * 1.0 / F.col("total"))).alias(
                "avg_logprob"
            )
        )
    )
    toks = F.col("toks")
    sig = (
        corpus.select(
            "doc_id",
            "n",
            (F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)).alias(
                "ttr"
            ),
            _dup_frac_raw(toks, 2).alias("dup2"),
        )
        .join(lp, "doc_id")
        .localCheckpoint(eager=False)  # consumed by cuts AND passed
    )
    cuts = sig.agg(
        F.expr("percentile(avg_logprob, 0.1)").alias("lp_cut"),
        F.expr("percentile(dup2, 0.9)").alias("dup_cut"),
    )
    passed = (
        sig.crossJoin(cuts)
        .filter(
            (F.col("avg_logprob") > F.col("lp_cut"))
            & (F.col("dup2") < F.col("dup_cut"))
            & (F.col("ttr") >= 0.5)
        )
        .select("doc_id", "n")
    )
    # stage 5: deterministic hash split (p_train_val_split's buckets)
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint")
    splits = passed.withColumn(
        "split",
        F.when(bucket < 230, "train")
        .when(bucket < 243, "val")
        .otherwise("test"),
    )
    # stage 6: pack the train split (two-phase prefix sum — the only
    # unpartitioned window runs over the per-partition-count table)
    par = spark.sparkContext.defaultParallelism
    train = splits.filter(F.col("split") == "train").select("doc_id", "n")
    cum = exclusive_prefix_sum(train, "doc_id", "n", par)
    packed = (
        cum.groupBy(
            F.floor(F.col("c") / PACK_BUDGET).cast("bigint").alias("seq_id")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("seq_tokens"),
        )
        .select(
            F.lit("train").alias("split"), "seq_id", "n_docs", "seq_tokens"
        )
    )
    others = (
        splits.filter(F.col("split") != "train")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("seq_tokens"),
        )
        .select(
            "split",
            F.lit(-1).cast("bigint").alias("seq_id"),
            "n_docs",
            "seq_tokens",
        )
    )
    return packed.unionByName(others).orderBy("split", "seq_id")
