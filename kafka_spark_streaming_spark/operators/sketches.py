"""Sketch-backed operators: heavy hitters, HLL distinct, quantiles.

The reference computes its per-batch distinct/frequency numbers exactly
and only at toy scale (Streamer.scala:123-124, and those are dead code
— SURVEY.md §2.2 T2/T3).  At 100 TB, exact global frequency needs a
full shuffle of every token; the operators here are the sketch-shaped
versions a real pipeline uses:

- sk_heavy_hitter_tokens — the two-pass exact heavy-hitter algorithm:
  pass 1 runs Misra-Gries with O(1/phi) counters *per partition*
  (mapInPandas, bounded memory, no shuffle), whose output is a small
  candidate superset of every token with frequency >= phi; pass 2
  semi-joins the corpus against the broadcast candidates and recounts
  exactly.  The result is EXACT (and DuckDB-oracle-checked) while the
  full-shuffle cost is replaced by a candidate-only aggregation — the
  shuffle carries |candidates| per partition, not |distinct tokens|.
- sk_hll_distinct_users / sk_value_quantiles — Spark's built-in HLL++
  and GK-quantile aggregates.  Approximate by construction, so no SQL
  oracle; tests/test_northstar.py asserts error bounds against exact.
"""

from __future__ import annotations

import heapq
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from kafka_spark_streaming_spark.operators.registry import register
from kafka_spark_streaming_spark.tables import table

# heavy-hitter threshold phi = 1/200 (0.5 % of all tokens)
_PHI_INV = 200
# MG counters per partition: 2/phi, so the batched-decrement bound
# n_p/(k+1) sits strictly below phi·n_p and recall is guaranteed.
_MG_K = 2 * _PHI_INV

_CAND_SCHEMA = StructType([StructField("tok", StringType())])


def _mg_candidates(pdfs: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition Misra-Gries: fold Arrow batches through at most
    _MG_K counters (batched decrement), yield surviving tokens."""
    counters: dict[str, int] = {}
    for pdf in pdfs:
        for tok, cnt in pdf["tok"].value_counts().items():
            counters[tok] = counters.get(tok, 0) + int(cnt)
        if len(counters) > _MG_K:
            # decrement all by the (k+1)-th largest count in ONE pass:
            # everything <= it drops out, so <= k counters survive, and
            # every decrement unit still hits > k tokens — the standard
            # MG bound (total decrement <= n_p/(k+1)) holds with a
            # linear eviction instead of the repeated min-evict loop
            d = heapq.nlargest(_MG_K + 1, counters.values())[-1]
            counters = {t: c - d for t, c in counters.items() if c > d}
    yield pd.DataFrame({"tok": list(counters.keys())})


def _spread_tokens(d: DataFrame, par: int) -> DataFrame:
    """Explode text → tokens, spreading the narrow DOCUMENT rows first
    iff the input arrives under-partitioned (plan shape pinned by
    tests/test_plans.py::test_heavy_hitter_doc_spread_is_conditional).
    Delegates to tables.spread_scan (r21) so the conditional-spread
    policy exists exactly once."""
    from kafka_spark_streaming_spark.tables import spread_scan

    d = spread_scan(d, d.sparkSession, par=par)
    return d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded token stream, parallelized by spreading the DOCUMENTS.

    The MG candidate fold needs every core working, but the fixture is
    one parquet file = one input partition. Repartitioning the exploded
    tokens would shuffle every token just to spread the fold (the r6
    perf flag: at 100 TB that is a full-corpus exchange); instead the
    narrow document rows are spread BEFORE the explode — |docs| rows
    moved, not |tokens| — and only when the scan actually arrives
    under-partitioned. A real multi-file corpus skips the exchange
    entirely (MG is valid under any partitioning; pass 2 recounts
    candidates exactly)."""
    d = table(spark, sf_dir, "documents").select("text")
    return _spread_tokens(d, spark.sparkContext.defaultParallelism)


@register(
    "sk_heavy_hitter_tokens",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM toks)
    SELECT tok, COUNT(*) AS n
    FROM toks CROSS JOIN tot
    GROUP BY tok, n_total
    HAVING COUNT(*) * {_PHI_INV} >= n_total
    ORDER BY n DESC, tok
    """,
)
def sk_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    candidates = toks.mapInPandas(_mg_candidates, _CAND_SCHEMA).distinct()
    # corpus token total WITHOUT a third explode of the token stream:
    # count tokens per document at the scan (size of the split array)
    # and sum — same number, one narrow pass over the documents
    total = (
        table(spark, sf_dir, "documents")
        .select(F.size(F.split(F.col("text"), " ")).alias("nt"))
        .agg(F.sum("nt").alias("n_total"))
    )
    return (
        toks.join(candidates, "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(total)
        .filter(F.col("n") * _PHI_INV >= F.col("n_total"))
        .select("tok", "n")
        .orderBy(F.desc("n"), F.asc("tok"))
    )


# --- HLL++ distinct users per event type ---------------------------------
# The HLL estimate itself is engine-specific (no SQL oracle can exist
# for the raw number), so the checkable contract is: the exact count —
# fully SQL-verified — plus the sketch's error-bound predicate, which
# is deterministic given the fixed rsd and data. The sketch genuinely
# runs; the boolean fails if its estimate ever drifts past the bound.
@register(
    "sk_hll_distinct_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def sk_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++, rsd 1 %) checked against
    the exact count.  At 100 TB the exact variant needs a shuffle of
    every distinct key; HLL is a constant-size mergeable sketch
    computed map-side.

    Plan shape: the pairs are deduped FIRST, then both aggregates run
    over the distinct set. Mixing countDistinct with a non-distinct
    HLL in one agg makes Spark plan the expand/multi-stage
    distinct-aggregate shape, which re-evaluates the wide-register
    (rsd 1 % → 2^14 registers) HLL buffer through the distinct
    pipeline — measured 2.5 s warm at sf0.1 vs 0.34 s + 0.74 s for the
    aggregates run separately (SWEEP_r11). HLL insertion is idempotent
    (a duplicate sets the same register to the same max), so the
    sketch over the deduped pairs is bit-identical to the raw-stream
    sketch — verified value-identical — and the exact count is just
    count(user_id) of the deduped pairs (NOT count(*): a NULL user_id
    row must stay out, matching the oracle — ADVICE r11); the shuffle
    still carries
    |distinct pairs| partial-combined map-side, same as countDistinct
    planned anyway."""
    ev = table(spark, sf_dir, "events")
    dd = ev.select("event_type", "user_id").distinct()
    return (
        dd.groupBy("event_type")
        .agg(
            # count(user_id), not count(*): a NULL user_id survives the
            # pair-dedup as its own row, but the oracle's
            # COUNT(DISTINCT user_id) and approx_count_distinct both
            # ignore NULLs — count(*) would diverge on null-bearing
            # data (ADVICE r11)
            F.count("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


# --- approximate quantiles of event value --------------------------------
# Same contract shape: exact interpolated percentiles (oracled against
# DuckDB's quantile_cont) plus a rank-error predicate on the GK sketch
# value — |cdf(approx_q) - q| within tolerance, computed against the
# data itself.
@register(
    "sk_value_quantiles",
    """
    SELECT event_type, CAST(0.5 AS DOUBLE) AS q,
           round(quantile_cont(value, 0.5), 6) AS exact_q,
           TRUE AS approx_rank_ok
    FROM events GROUP BY event_type
    UNION ALL
    SELECT event_type, CAST(0.9 AS DOUBLE) AS q,
           round(quantile_cont(value, 0.9), 6) AS exact_q,
           TRUE AS approx_rank_ok
    FROM events GROUP BY event_type
    UNION ALL
    SELECT event_type, CAST(0.99 AS DOUBLE) AS q,
           round(quantile_cont(value, 0.99), 6) AS exact_q,
           TRUE AS approx_rank_ok
    FROM events GROUP BY event_type
    ORDER BY event_type, q
    """,
)
def sk_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna, accuracy 10000) per event
    type — single-pass, mergeable, bounded memory — rank-checked
    against the data; exact percentiles alongside for the oracle."""
    ev = table(spark, sf_dir, "events")
    qs = [0.5, 0.9, 0.99]
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", qs, 10000).alias("aq"),
        F.expr(f"percentile(value, array({', '.join(map(str, qs))}))").alias(
            "eq"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    per_q = agg.select(
        "event_type",
        "n",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in qs]).alias("q"),
                F.col("aq").alias("av"),
                F.col("eq").alias("ev"),
            )
        ).alias("z"),
    ).select(
        "event_type",
        "n",
        F.col("z.q").alias("q"),
        F.col("z.av").alias("av"),
        F.col("z.ev").alias("ev"),
    )
    # rank check: share of values <= approx-quantile must sit within
    # q ± (1/accuracy + one rank step)
    vals = ev.select(F.col("event_type").alias("et"), "value")
    # tie-safe rank check: the returned value's rank is the whole
    # interval [count(< v)+1, count(<= v)] (duplicates widen it); the GK
    # guarantee is that SOME rank in that interval is within eps*n of
    # the target, so test interval overlap — a tolerance on the upper
    # cdf alone flips false on a tied value at the error edge
    cdf = (
        per_q.join(vals, per_q.event_type == vals.et)
        .groupBy("event_type", "q", "av", "ev", "n")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("av"), 1).otherwise(0)).alias(
                "r_hi"
            ),
            F.sum(F.when(F.col("value") < F.col("av"), 1).otherwise(0)).alias(
                "r_lo_m1"
            ),
        )
    )
    eps_n = (F.lit(1.0 / 10000) + 1.0 / F.col("n")) * F.col("n")
    target = F.col("q") * F.col("n")
    ok = (target >= F.col("r_lo_m1") + 1 - eps_n) & (
        target <= F.col("r_hi") + eps_n
    )
    return cdf.select(
        "event_type",
        "q",
        F.round("ev", 6).alias("exact_q"),
        ok.alias("approx_rank_ok"),
    ).orderBy("event_type", "q")


# --- mergeable HLL sketch rollup (Datasketches) --------------------------
# The warehouse pattern behind "distinct users over ANY date range
# without rescanning": materialize one constant-size HLL sketch per
# (event_type, day) — the granularity you'd persist at 100 TB — then
# answer the per-type question by UNIONING sketches, never touching raw
# data again. Spark 4 ships Apache DataSketches HLL natively
# (hll_sketch_agg / hll_union_agg / hll_sketch_estimate), all JVM-side
# and map-side mergeable. The estimate is engine-specific, so the
# checkable contract is the sk_hll pattern: exact count (SQL-oracled)
# + a deterministic error-bound boolean on the sketch estimate.
@register(
    "sk_hll_daily_rollup",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS union_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def sk_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    day_sketches = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        day_sketches.groupBy("event_type")
        .agg(
            # count(day), not count(*): a NULL ts would form its own
            # day-group here, but the oracle's COUNT(DISTINCT CAST(ts
            # AS DATE)) ignores NULLs — same cross-engine NULL contract
            # as sk_hll_distinct_users (ADVICE r11 class, found by the
            # r12 self-audit)
            F.count("day").cast("bigint").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        )
        .join(
            ev.groupBy("event_type").agg(
                F.countDistinct("user_id").alias("exact_users")
            ),
            "event_type",
        )
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("union_within_5pct"),
        )
        .orderBy("event_type")
    )
