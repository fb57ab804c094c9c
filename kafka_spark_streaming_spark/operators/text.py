"""Text-analysis operators over the documents table (north star:
language-ID heuristic, quality scoring, token counting, fingerprinting
— BASELINE.json:6).

All hot-path expressions are Catalyst built-ins (split / higher-order
array functions / regexp) — JVM-side, codegen'd, no Python. At 100 TB
these are embarrassingly parallel scans; the only shuffle is the final
group-by in corpus-level stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.operators.registry import register
from kafka_spark_streaming_spark.tables import table

# deterministic marker vocabularies for the dialect classifier
STREAMY = ["stream", "batch", "window", "spark", "dup"]
QUERYY = ["scan", "join", "hash", "sort", "merge"]


def _toks(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


# Size guard for broadcast hints on VOCABULARY-sized aggregates
# (unigram counts, document frequencies, bigram contexts).  These
# tables grow with the corpus (Heaps' law — unbounded, unlike a k·D
# centroid table), so a FORCED F.broadcast hint bypasses AQE's size
# decision and at the 100 TB posture means a hard >8 GB broadcast
# failure instead of a graceful shuffle join (VERDICT r20 #1).  The
# guard is a metadata check, not a job: hint only while the SOURCE
# corpus parquet is small enough that even a degenerate all-unique
# vocabulary stays comfortably broadcastable; past it, return the
# frame unhinted and let AQE promote to broadcast from runtime stats
# when the aggregate is actually small.
_VOCAB_HINT_SOURCE_BYTES = 64 * 1024 * 1024


def _source_bytes(sf_dir: str, name: str = "documents") -> int:
    import os

    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(p):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(p)
                for f in files
            )
        return os.path.getsize(p)
    except OSError:
        # unknown size: behave as "too big" — the unhinted plan is the
        # safe one at every scale (AQE still broadcasts small sides)
        return _VOCAB_HINT_SOURCE_BYTES + 1


def vocab_broadcast(
    df: DataFrame, sf_dir: str, source: str = "documents"
) -> DataFrame:
    """Size-guarded broadcast hint for corpus-growth vocabulary tables.

    ``source`` names the fixture table whose bytes bound the vocabulary
    (ADVICE r21 #2: the guard used to hardcode 'documents', so a future
    caller guarding a vocab built from another table would silently
    size the wrong source).  Every current caller's vocab does derive
    from documents; a new call site must declare its own source.
    """
    if _source_bytes(sf_dir, source) <= _VOCAB_HINT_SOURCE_BYTES:
        return F.broadcast(df)
    return df


# --- token counting ------------------------------------------------------
@register(
    "t_token_stats",
    """
    SELECT doc_id, n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
           CAST(list_sum(list_transform(string_split(text, ' '),
               t -> len(t))) AS BIGINT) AS sum_token_len,
           len(string_split(text, ' ')) - len(list_distinct(
               string_split(text, ' '))) AS n_repeats
    FROM documents
    """,
)
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = _toks()
    return d.select(
        "doc_id",
        "n_chars",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_token_len"),
        (F.size(toks) - F.size(F.array_distinct(toks)))
        .cast("bigint")
        .alias("n_repeats"),
    )


# --- quality scoring -----------------------------------------------------
# length-normalized + type-token-ratio composite; all integer math until
# the final double divisions (deterministic across engines).
@register(
    "t_quality_score",
    """
    SELECT doc_id, lang, source,
           CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
             / len(string_split(text,' ')) AS ttr,
           CAST(least(len(string_split(text,' ')), 50) AS DOUBLE) / 50.0
               AS len_score,
           0.5 * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                  / len(string_split(text,' ')))
           + 0.5 * (CAST(least(len(string_split(text,' ')), 50) AS DOUBLE)
                    / 50.0) AS quality
    FROM documents
    """,
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = _toks()
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    ttr = uniq.cast("double") / n
    len_score = F.least(n, F.lit(50)).cast("double") / F.lit(50.0)
    return d.select(
        "doc_id",
        "lang",
        "source",
        ttr.alias("ttr"),
        len_score.alias("len_score"),
        (F.lit(0.5) * ttr + F.lit(0.5) * len_score).alias("quality"),
    )


# --- language/dialect ID heuristic ---------------------------------------
# n-gram/marker-count heuristic: score = token frequency against small
# marker vocabularies, argmax with deterministic tie-break. (The real
# thing would use char n-gram profiles; the structure — per-doc map-only
# scoring against broadcast profiles — is identical at scale.)
@register(
    "t_lang_id",
    f"""
    SELECT doc_id, lang,
           CASE
             WHEN len(list_filter(string_split(text,' '),
                      t -> t IN ({', '.join(repr(t) for t in STREAMY)})))
                > len(list_filter(string_split(text,' '),
                      t -> t IN ({', '.join(repr(t) for t in QUERYY)})))
               THEN 'streamish'
             WHEN len(list_filter(string_split(text,' '),
                      t -> t IN ({', '.join(repr(t) for t in QUERYY)})))
                > len(list_filter(string_split(text,' '),
                      t -> t IN ({', '.join(repr(t) for t in STREAMY)})))
               THEN 'queryish'
             ELSE 'mixed' END AS pred_dialect,
           len(list_filter(string_split(text,' '),
               t -> t IN ({', '.join(repr(t) for t in STREAMY)})))
               AS streamy_hits,
           len(list_filter(string_split(text,' '),
               t -> t IN ({', '.join(repr(t) for t in QUERYY)})))
               AS queryy_hits
    FROM documents
    """,
)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = _toks()

    def hits(vocab: list[str]) -> F.Column:
        arr = F.array(*[F.lit(v) for v in vocab])
        return F.size(
            F.filter(toks, lambda t: F.array_contains(arr, t))
        ).cast("bigint")

    s, q = hits(STREAMY), hits(QUERYY)
    return d.select(
        "doc_id",
        "lang",
        F.when(s > q, "streamish")
        .when(q > s, "queryish")
        .otherwise("mixed")
        .alias("pred_dialect"),
        s.alias("streamy_hits"),
        q.alias("queryy_hits"),
    )


# --- document fingerprinting ---------------------------------------------
@register(
    "t_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))) AS fp,
           substr(md5(lower(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))),
                  1, 8) AS fp_short
    FROM documents
    """,
)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # explicit class, not \s: Java regex counts \x0B as whitespace,
    # DuckDB's RE2 does not — a vertical tab would fingerprint
    # differently per engine
    norm = F.lower(F.regexp_replace("text", r"[ \t\n\f\r]+", " "))
    fp = F.md5(F.encode(norm, "UTF-8"))
    return d.select(
        "doc_id", fp.alias("fp"), F.substring(fp, 1, 8).alias("fp_short")
    )


# --- winnowing fingerprints (MOSS scheme) ---------------------------------
# Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
# Fingerprinting" (SIGMOD'03) — the rolling-fingerprint selection the
# flat t_fingerprint digest can't provide: per doc, hash every word
# K-gram, slide a window of W hashes, keep the window minimum with the
# RIGHTMOST tie-break, dedup the (position, hash) selections. Guarantees
# any shared run of >= K+W-1 tokens between two docs shares at least one
# selected fingerprint — the partial-overlap detector (plagiarism /
# quote-inclusion) that whole-doc hashing misses.
#
# 100 TB posture: pure per-row higher-order array work (transform /
# slice / array_min over a ~50-element array) — JVM codegen, zero
# shuffles until the final distinct, embarrassingly parallel. Window
# subarrays are bound as the two-arg transform's ELEMENT argument, so
# nothing re-evaluates per reference (the r8 closure trap).
WINNOW_K = 4  # tokens per gram
WINNOW_W = 4  # gram hashes per window

# Gram token lists are GENERATED from WINNOW_K in both engines (ADVICE
# r9): a hardcoded 4-token expression next to K-derived series bounds
# would silently fingerprint wrong if K ever changed.
_SQL_GRAM = " || ' ' || ".join(f"toks[u.i+{d}]" for d in range(WINNOW_K))

_WINNOW_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    g AS (
      SELECT doc_id, u.i AS i,
             md5({_SQL_GRAM}) AS h
      FROM t, unnest(generate_series(1, len(toks) - {WINNOW_K - 1})) AS u(i)),
    arr AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM g GROUP BY doc_id),
    win AS (
      SELECT doc_id, u.i AS i, hs[u.i:u.i+{WINNOW_W - 1}] AS sub
      FROM arr,
           unnest(generate_series(1, len(hs) - {WINNOW_W - 1})) AS u(i)),
    sel AS (
      SELECT doc_id,
             CAST(i + {WINNOW_W} - list_position(list_reverse(sub),
                    list_aggregate(sub, 'min')) AS BIGINT) AS pos,
             list_aggregate(sub, 'min') AS fp
      FROM win)
    SELECT DISTINCT doc_id, pos, fp FROM sel
"""


@register("t_winnow_fingerprints", _WINNOW_SQL)
def t_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_spark_streaming_spark.tables import spread_scan

    # ~50 MD5s + windowed array mins PER ROW, all scan-side until the
    # final distinct: the t_repetition_signals class (A/B r21:
    # 1.31 s -> 0.83 s at sf0.1 with the conditional narrow spread;
    # no-op on a well-partitioned corpus)
    d = spread_scan(table(spark, sf_dir, "documents"), spark)
    k, w = WINNOW_K, WINNOW_W
    # materialize the token array BEFORE any lambda references it
    # (higher-order closure trap, PERF_NOTES r8)
    toked = d.select("doc_id", _toks().alias("toks")).filter(
        # a doc needs >= K+W-1 tokens for one window; shorter docs emit
        # nothing (and would make the sequence() bounds negative)
        F.size("toks") >= k + w - 1
    )
    # 1-based sequence index i → 0-based array accesses i-1 .. i-2+K,
    # generated from WINNOW_K like the oracle's gram (ADVICE r9)
    gram = ", ".join(f"toks[i-1+{d}]" for d in range(k))
    hashed = toked.select(
        "doc_id",
        F.expr(
            f"""transform(sequence(1, size(toks) - {k - 1}), i ->
                  md5(concat_ws(' ', {gram})))"""
        ).alias("hs"),
    )
    # two-step: bind each window subarray as an element first, so the
    # min/reverse/position references hit a materialized 4-array
    sel = F.expr(
        f"""transform(
              transform(sequence(1, size(hs) - {w - 1}),
                        i -> slice(hs, i, {w})),
              (sub, j) -> named_struct(
                -- j is the 0-BASED element index; window start (1-based
                -- gram pos, matching the oracle) is j+1, so the
                -- rightmost-argmin position is j+1 + W - position-in-
                -- reversed-window
                'pos', CAST(j + {w + 1} - array_position(reverse(sub),
                             array_min(sub)) AS BIGINT),
                'fp', array_min(sub)))"""
    )
    return (
        hashed.select("doc_id", F.explode(sel).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
        .distinct()
    )


# --- corpus-level term frequencies (explode → count → top-k) -------------
@register(
    "t_top_tokens",
    """
    SELECT tok, n FROM (
      SELECT tok, COUNT(*) AS n,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rn
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ) WHERE rn <= 20
    """,
)
def t_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_toks()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
        .select("tok", "n")
    )


# --- per-source/lang corpus stats ----------------------------------------
@register(
    "t_source_lang_stats",
    """
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents GROUP BY source, lang
    """,
)
def t_source_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(_toks()).cast("bigint")).alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


# --- BPE-ish regex token counting ----------------------------------------
# The GPT-2-style pre-tokenizer shape: words-with-leading-space,
# numbers, punctuation runs — as one regexp_extract_all, JVM-side.
# (A real BPE merge table is model-specific; counting pre-tokens is the
# pipeline-relevant cost/length signal.)
# explicit whitespace class, not \s: Java vs RE2 disagree on \x0B
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]+"


@register(
    "t_bpe_token_count",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens
    FROM documents ORDER BY doc_id
    """,
)
def t_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias(
            "n_bpe_tokens"
        ),
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
    ).orderBy("doc_id")


# --- TF-IDF top terms per document ---------------------------------------
# Corpus-relative term weighting: tf(doc, term) * ln(N / df(term)),
# top 3 terms per doc. Two shuffles total — one groupBy (doc, term)
# for tf (the df counts reuse that aggregate, grouping again by term
# only), one window per doc for the top-k. The corpus size N joins in
# as a broadcast of a 1-row aggregate, never a driver collect. The df
# table is vocabulary-sized (corpus-growth, Heaps' law) — its
# broadcast hint is size-guarded (vocab_broadcast), so at the 100 TB
# posture AQE owns the join-strategy decision.
@register(
    "t_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf
           FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             -- floor-quantized before ranking: tf*ln(N/df) can be
             -- mathematically equal for different (tf, df) pairs, and
             -- each engine's libm may round the two expressions apart
             -- by an ulp — the 'term ASC' tie-break only fires on
             -- exact equality
             floor(tf.tf * ln(n.n * 1.0 / dfreq.df) * 1e9 + 0.5) / 1e9
               AS score
      FROM tf JOIN dfreq USING (term), n)
    SELECT doc_id, term, round(score, 6) AS tfidf, rn
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def t_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        # df table is vocabulary-sized (corpus-growth aggregate) — the
        # broadcast hint is size-guarded, AQE decides past the guard
        tf.join(vocab_broadcast(dfreq, sf_dir, source="documents"), "term")
        .crossJoin(n)
        .select(
            "doc_id",
            "term",
            # floor-quantize before rank (see oracle comment)
            (
                F.floor(
                    F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df")) * 1e9
                    + F.lit(0.5)
                )
                / 1e9
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", F.round("score", 6).alias("tfidf"), "rn")
    )


# --- repetition signals (Gopher-style quality filters) -------------------
# The repetition family from the Gopher/MassiveText filtering rules:
# fraction of duplicate n-grams and the share of tokens taken by the
# single most frequent token. High values flag boilerplate / spam /
# degenerate generations before training. Everything is a per-row map
# over Catalyst higher-order array functions — no shuffle, no Python;
# at 100 TB this runs entirely inside the parquet scan stage.
def _ngrams(toks: F.Column, n: int) -> F.Column:
    # ["a","b","c","d"], n=2 -> ["a b","b c","c d"]
    # Built from n shifted O(L) slices folded with zip_with — total
    # O(n·L) element ops. The obvious transform(sequence(...),
    # i -> array_join(slice(toks, i+1, n))) form is O(L) slice copies
    # PER ELEMENT under interpreted higher-order eval and measured
    # ~6× slower on the corpus scan.
    m = F.greatest(F.size(toks) - n + 1, F.lit(0))
    grams = F.slice(toks, 1, m)
    for i in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, i + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return grams


def _dup_frac_raw(toks: F.Column, n: int) -> F.Column:
    # 1 - distinct/total, 0.0 for degenerate short docs. The gram
    # TOTAL is just len(toks)-n+1 — only the distinct count needs the
    # built gram array, so the (priciest) construction runs once.
    total = F.size(toks) - n + 1
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(_ngrams(toks, n))) / total
    )


def _dup_frac(toks: F.Column, n: int) -> F.Column:
    return F.round(_dup_frac_raw(toks, n), 6)


_REP_GRAM = (
    "[array_to_string(toks[i + 1:i + {n}], ' ') "
    "FOR i IN range(0, len(toks) - {n} + 1)]"
)


@register(
    "t_repetition_signals",
    f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    grams AS (
      SELECT doc_id, toks,
             {_REP_GRAM.format(n=2)} AS g2,
             {_REP_GRAM.format(n=3)} AS g3
      FROM tok)
    SELECT doc_id,
           CASE WHEN len(g2) <= 0 THEN 0.0
                ELSE round(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 6)
           END AS dup_bigram_frac,
           CASE WHEN len(g3) <= 0 THEN 0.0
                ELSE round(1.0 - len(list_distinct(g3)) * 1.0 / len(g3), 6)
           END AS dup_trigram_frac,
           round(list_max([len(list_filter(toks, x -> x = t))
                           FOR t IN list_distinct(toks)]) * 1.0
                 / len(toks), 6) AS top_token_frac
    FROM grams
    """,
)
def t_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_spark_streaming_spark.tables import spread_scan

    # the per-row HOF work below is the heaviest pure map in the text
    # family; a single-file corpus arrives as ONE split and ran it all
    # on one core (A/B r21: 0.77 s -> 0.52 s at sf0.1 with the spread;
    # the only text query where the per-row work repays the narrow
    # exchange — the family-wide A/B showed every OTHER candidate
    # 1.2-4x slower spread, so they stay single-exchange) — conditional
    # spread, a no-op on a well-partitioned scan
    d = spread_scan(table(spark, sf_dir, "documents"), spark)
    toks = _toks()
    # mode-within-array without exploding: sort the tokens, then one
    # aggregate() traversal tracks the longest equal-run — O(n log n)
    # per row vs O(u·n) for the nested distinct×filter formulation
    # (measured 2.3× faster at sf0.1), and still a pure map (cheaper
    # than explode+groupBy+join back, which would shuffle every token
    # in the corpus).
    def top_cnt_of(toks):
        return F.aggregate(
            F.array_sort(toks),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                        F.lit(1)
                    ),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
    # materialize the token array once: every signal references it
    # several times, and each reference to the raw split() expression
    # re-splits the text (~8 O(L) passes per row otherwise)
    tokd = d.select("doc_id", toks.alias("toks"))
    toks = F.col("toks")
    top_cnt = top_cnt_of(toks)
    return tokd.select(
        "doc_id",
        _dup_frac(toks, 2).alias("dup_bigram_frac"),
        _dup_frac(toks, 3).alias("dup_trigram_frac"),
        F.round(top_cnt * 1.0 / F.size(toks), 6).alias("top_token_frac"),
    )


# --- corpus-LM log-probability scoring (perplexity proxy) ----------------
# Score each document by the average log-probability of its tokens
# under the corpus's own unigram distribution — the cheap statistical
# stand-in for model-based perplexity filtering (rare-token-heavy docs
# score low). Two corpus passes: one token-keyed agg builds the
# unigram table (Zipf-bounded — vocabulary, not corpus, sized) whose
# join hint is size-guarded (vocab_broadcast); the 1-row token total
# is a plain scan-side sum (always broadcast). No Python anywhere.
@register(
    "t_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    uni AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT SUM(c) AS total FROM uni)
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(AVG(ln(u.c * 1.0 / tot.total)), 6) AS avg_logprob
    FROM tok t JOIN uni u USING (token), tot
    GROUP BY t.doc_id
    """,
)
def t_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_toks()).alias("token"))
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # total token count == SUM(c) over the unigram table, but summing
    # the per-row token-array size computes the identical integer in
    # ONE corpus scan with no explode/shuffle — the r21 plan drops the
    # whole second explode→groupBy→sum chain (ops 11-18 of the before
    # plan) the uni-derived aggregate re-ran
    tot = d.agg(F.sum(F.size(_toks())).alias("total"))
    return (
        tok.join(vocab_broadcast(uni, sf_dir, source="documents"), "token")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("c") * 1.0 / F.col("total"))), 6
            ).alias("avg_logprob"),
        )
    )


# --- vocabulary build + document id-encoding -----------------------------
# The tokenization-prep step of a training pipeline: build a top-V
# vocabulary over the corpus, then encode every document as the
# sequence of token ids (0 = UNK). Scale shape, stage by stage:
# corpus counts = one wide groupBy; top-V = TakeOrdered (no global
# sort of the data); id assignment = a window over the V-row vocab
# (bounded — V=256 regardless of corpus size); encoding = broadcast
# hash join of the V-row vocab against the exploded tokens; per-doc
# fold = one groupBy(doc_id). Nothing global ever touches data rows.
# The encoded sequence is verified via exact integer aggregates
# (count / UNK count / position-weighted checksum) rather than a giant
# array column, so the DuckDB oracle compares exactly.
_VOCAB_V = 256


@register(
    "t_vocab_encode",
    f"""
    WITH flat AS (
      -- position spine driven by each doc's own token count (no
      -- hard-coded cap that a longer future fixture could overflow)
      SELECT t.doc_id, t.toks[u.i] AS tok, u.i AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents) t,
           unnest(generate_series(1, len(t.toks))) AS u(i)
    ),
    vocab AS (
      SELECT tok,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS id
      FROM flat GROUP BY tok
      ORDER BY COUNT(*) DESC, tok ASC LIMIT {_VOCAB_V}
    )
    SELECT f.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unk,
           CAST(SUM(f.pos * COALESCE(v.id, 0)) AS BIGINT) AS ids_checksum
    FROM flat f LEFT JOIN vocab v USING (tok)
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
)
def t_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # TakeOrdered top-V, then rank WITHIN the V-row frame (bounded
    # global window — see test_plan_lint._GLOBAL_WINDOW_OK)
    vocab = (
        counts.orderBy(F.desc("n"), F.asc("tok"))
        .limit(_VOCAB_V)
        .withColumn(
            "id",
            F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok"))),
        )
        .select("tok", "id")
    )
    enc = tok.join(vocab, "tok", "left")
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("id").isNull(), 1).otherwise(0).cast("bigint")
            ).alias("n_unk"),
            F.sum(
                (F.col("pos") + 1) * F.coalesce(F.col("id"), F.lit(0))
            ).cast("bigint").alias("ids_checksum"),
        )
        .orderBy("doc_id")
    )


# --- boilerplate prefix detection ----------------------------------------
# Documents sharing an identical leading token run are the signature of
# boilerplate (scraped headers, license banners, template intros) — a
# standard cleaning step before near-dedup. One groupBy on the 4-token
# prefix (map-side partial agg, one shuffle of |distinct prefixes|);
# embarrassingly parallel at any corpus size.
@register(
    "t_boilerplate_prefixes",
    """
    WITH pre AS (
      SELECT doc_id,
             array_to_string(string_split(text, ' ')[1:4], ' ') AS prefix
      FROM documents
      WHERE len(string_split(text, ' ')) >= 4)
    SELECT prefix, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
    FROM pre GROUP BY prefix
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, prefix
    """,
)
def t_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = _toks()
    pre = d.filter(F.size(toks) >= 4).select(
        "doc_id", F.array_join(F.slice(toks, 1, 4), " ").alias("prefix")
    )
    return (
        pre.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("prefix"))
    )


# --- bigram language-model scoring ---------------------------------------
# The conditional-probability upgrade of t_unigram_logprob: score every
# document by the average ln p(w2|w1) under the corpus's own bigram
# counts — the perplexity-proxy quality signal a training pipeline uses
# to rank fluency. Scale shape: bigram extraction is a per-doc array
# zip (no shuffle), the count tables are one groupBy each, and the
# probability lookup is a broadcast hash join of the (vocabulary²-
# bounded) bigram table against the exploded stream — identical
# topology to the unigram path, which partial-aggregates map-side.
@register(
    "t_bigram_logprob",
    """
    WITH bg AS (
      SELECT t.doc_id, t.toks[u.i] AS w1, t.toks[u.i + 1] AS w2
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
           unnest(generate_series(1, len(t.toks) - 1)) AS u(i)),
    cnt AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
    ctx AS (SELECT w1, SUM(c2) AS c1 FROM cnt GROUP BY w1)
    SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(AVG(ln(cnt.c2 * 1.0 / ctx.c1)), 6) AS avg_logprob
    FROM bg b JOIN cnt ON cnt.w1 = b.w1 AND cnt.w2 = b.w2
    JOIN ctx ON ctx.w1 = b.w1
    GROUP BY b.doc_id
    """,
)
def t_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # token array materialized before the lambda references it — a
    # closure over the raw split() re-evaluates the split per element
    # (~8× slower, the shingles_of/_ngrams trap)
    tokd = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    toks = F.col("toks")
    # adjacent-pair zip, guarded like shingles_of: a sub-2-token doc
    # yields zero bigrams (sequence(1, 0) would descend under ANSI)
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = tokd.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ctx = cnt.groupBy("w1").agg(F.sum("c2").alias("c1"))
    # no broadcast hint on the BIGRAM table: vocab² can outgrow any
    # broadcast budget on an open-vocabulary corpus — AQE promotes the
    # join to broadcast at runtime whenever the built side is actually
    # small (it is, on every fixture), and falls back to a hash join
    # keyed on (w1, w2) when it is not. The unigram context table's
    # hint is size-guarded (vocab_broadcast): it too is a corpus-growth
    # aggregate, just one power lower.
    #
    # r22: c1 is attached to the COUNT table (vocab²-row ⋈ vocab-row),
    # not to the exploded stream — the corpus-sized bg stream then
    # passes through ONE join instead of two.  At fixture scale both
    # joins broadcast and the A/B is noise (median 1.18 → 1.12 s, min
    # ~equal); the term this buys is the 100 TB posture, where the
    # unbroadcastable case previously shuffled the full stream twice
    # (once on (w1,w2), again on w1) and now shuffles it once, with
    # the second shuffle demoted to the distinct-bigram table.
    # Verified row-identical at sf0.1 before landing (same c2/c1
    # attached to the same rows; the avg aggregates the same multiset
    # through the same grouping shuffle).
    cnt2 = cnt.join(vocab_broadcast(ctx, sf_dir, source="documents"), "w1")
    return (
        bg.join(cnt2, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("c2") * 1.0 / F.col("c1"))), 6
            ).alias("avg_logprob"),
        )
    )


# --- sequence-length histogram (dataset-card style) ----------------------
# Token-length distribution per language in fixed 64-token-wide bins —
# the length histogram every dataset card reports, and the input to
# choosing p_pack_sequences' max_len. Integer bucket math (floor
# division) keeps both engines bit-identical; one groupBy, partial-
# aggregated map-side, output cardinality = langs × buckets.
@register(
    "t_seq_len_histogram",
    """
    WITH lens AS (
      SELECT lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents)
    SELECT lang, CAST(n_tokens // 64 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM lens GROUP BY lang, bucket
    ORDER BY lang, bucket
    """,
)
def t_seq_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    lens = d.select("lang", F.size(_toks()).alias("n_tokens"))
    return (
        lens.select(
            "lang",
            "n_tokens",
            F.floor(F.col("n_tokens") / 64).cast("bigint").alias("bucket"),
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
        .orderBy("lang", "bucket")
    )
