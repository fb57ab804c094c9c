"""sf1 smoke harness (VERDICT r6 next-round #7; timed + gated since r8,
VERDICT r7 next-round #5): run the heavy headline queries at ~10x the
bench scale to surface anything that only bites past sf0.1 — LSH
candidate-set growth, state-store growth, prefix-sum/window behavior —
before a real cluster does. Per-query time = min of 3 timed passes
(same shared-host noise rationale as bench.py's min-of-3); each query
is gated at 1.5x vs the latest committed BENCH_r*_sf1.json, so an
sf1-only regression (e.g. candidate blow-up) surfaces the round it
happens.

No sf1 fixture exists in /root/testdata (TESTDATA.md ships sf0.001 /
0.01 / 0.1), so the smoke DERIVES one by replicating sf0.1 K times
with key-column offsets (foreign keys preserved: o_custkey etc. stay
in the original dim ranges). This is a SCALE STRESS, not a
correctness fixture: replicated documents are exact duplicates, which
deliberately floods the near-dup path with K-sized duplicate clusters
(every replica pair is a true Jaccard-1.0 pair) — the adversarial
load for candidate generation and verification.

Timing, the derived-build resample, the baseline reader, the gate and
the teardown come from bench.py, the one measurement core; this file
owns the replicated fixture, the query set and the sf1 JSON schema.

Usage:  python sf1_smoke.py          # one JSON line; commit as BENCH_r{N}_sf1.json
Env:    SPARK_GRAFT_SF_DIR (source fixture, default sf0.1)
"""

from __future__ import annotations

import functools
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402

K = 10
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(
    tempfile.gettempdir(), f"kss_sf1_{K}x_{os.path.basename(os.path.normpath(SRC))}"
)

# tables replicated with per-replica key offsets; offset bases are
# computed per KEY DOMAIN (one shared base for every column in the
# domain), because l_orderkey and o_orderkey must shift by the SAME
# amount or replica i's lineitems join the wrong/no orders — at sf0.1
# thousands of orders have no lineitems, so max(l_orderkey) and
# max(o_orderkey) coinciding is luck, not an invariant. Everything
# else copied as-is.
OFFSETS = {
    "lineitem": [("l_orderkey", "orderkey")],
    "orders": [("o_orderkey", "orderkey")],
    "events": [("event_id", "event_id"), ("user_id", "user_id")],
    "documents": [("doc_id", "doc_id")],
    "embeddings": [("vec_id", "vec_id")],
}
COPY = ["region", "nation", "customer", "supplier", "part"]

# the heavy hitters of the headline set: scan-agg, 3-way join w/ HAVING,
# LSH dedup, GEMM top-k, sketch, text agg, distributed prefix sum,
# stateful streaming
SMOKE = [
    "q1_pricing_summary",
    "q18_large_volume_customers",
    "d_minhash_lsh_pairs",
    "sim_topk_blocked",
    "sk_heavy_hitter_tokens",
    "t_token_stats",
    "p_pack_sequences",
    "s_stateful_user_stats",
    # r8 additions: the two heaviest new operators — containment rides
    # the prefix-vs-full candidate join (the exact-duplicate replicas
    # are its adversarial load, same as minhash), k-means re-scans the
    # exploded coordinate stream three times
    "d_containment_pairs",
    "sim_kmeans_clusters",
    # r9 additions: the jaccard pass now shares the df-ordered key
    # index with containment (VERDICT r8 next #2) — running both here
    # proves the amortization at the adversarial corpus; winnowing is
    # the heavier of the two r9 queries (per-doc window scan over every
    # replica)
    "d_ngram_jaccard_pairs",
    "t_winnow_fingerprints",
    # r12: the when()-guarded bounded-levenshtein verify (VERDICT r11
    # #7 fix) — exact-duplicate replicas make every (lang, prefix-24)
    # block K deep, so the candidate count here is ~K²/2 per cluster:
    # exactly the load that would re-expose an escaped O(L²) verify
    "d_edit_distance_pairs",
    # r12: the three memoized-index ANN probes (r11 rewrite) at 10x
    # corpus — index BUILD cost lands in derived_build_sec; the gated
    # number is the warm probe, which must stay ~flat vs sf0.1 (the
    # whole point of the index).
    "sim_ann_ivf",
    "sim_ann_lsh",
    "sim_pq_adc_topk",
    # r13: gateable at last — the exact-duplicate text collapse makes
    # the n²/32 banding floor scale with DISTINCT texts (5k here, same
    # as sf0.1), not the 50k replicas that kept this query excluded at
    # 11-16 s through r12; measured 0.46 s warm post-collapse.
    "d_simhash_pairs",
    # r13: the embedding near-dup primary at 10x corpus — the verify
    # pair-join now carries int32 micro-unit vectors from the memoized
    # quant_embeddings artifact (build cost lands in derived_build_sec;
    # the gated number is the candidate join + Arrow verify).
    "d_embedding_near_dup_lsh",
    # r15: the bucketed-band-store streaming dedup at 10x corpus —
    # per-batch work must scale with batch bands + probed partitions +
    # collisions, never the full history, so the 10x corpus should
    # cost ~flat-ish per batch (measured 10.5 s vs ~7.9 s at sf0.1 =
    # 1.3x at 10x data; the replicas all collapse to rejected, kept
    # set identical to sf0.1's 4756).
    "s_incremental_near_dedup",
    # r18: the streaming IVF index at 10x corpus — per-batch cost must
    # stay one matmul + one cell-partitioned append (history never
    # rescanned, quantizer frozen from batch 0), and the probe must
    # stay ~flat (it reads n_probe cell directories, not the corpus).
    "s_incremental_ann_ivf",
    # r16: the retuned stream-stream join (8 -> 4 state-store
    # partitions) at 10x events — the r16 A/B showed per-partition
    # commit overhead dominates at BOTH scales (4.15 s at 10x vs
    # 5.65 s at 8 partitions); gating it here keeps the choice honest
    # if corpus growth ever flips the optimum back toward more
    # partitions.
    "s_stream_stream_join",
]


def build(spark) -> None:
    if os.path.exists(os.path.join(OUT, "_DONE")):
        return
    t0 = time.perf_counter()
    for name in COPY:
        spark.read.parquet(f"{SRC}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{OUT}/{name}.parquet")
    # pass 1: one shared offset base per key DOMAIN = max over every
    # column mapped to that domain, across all its tables, + 1
    domain_base: dict[str, int] = {}
    for name, keys in OFFSETS.items():
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        for col, domain in keys:
            mx = int(df.agg(F.max(F.col(col)).cast("long")).collect()[0][0])
            domain_base[domain] = max(domain_base.get(domain, 0), mx + 1)
    # pass 2: replicate with the shared bases
    for name, keys in OFFSETS.items():
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        dtypes = dict(df.dtypes)
        reps = []
        for i in range(K):
            p = df
            for col, domain in keys:
                p = p.withColumn(
                    col,
                    (F.col(col) + F.lit(i * domain_base[domain])).cast(
                        dtypes[col]
                    ),
                )
            reps.append(p)
        functools.reduce(DataFrame.unionByName, reps).write.mode(
            "overwrite"
        ).parquet(f"{OUT}/{name}.parquet")
    with open(os.path.join(OUT, "_DONE"), "w"):
        pass
    print(f"# built {OUT} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)


# JVM-side canary slots for host-drift normalization (VERDICT r17 #3):
# pure whole-stage-codegen scan/join queries with no Python workers and
# no streaming state — their round-over-round ratio measures the HOST,
# not the code (r17's committed records show them drifting 1.5-3x
# between shared-host windows while same-session A/Bs were flat).
CANARIES = ("q1_pricing_summary", "q18_large_volume_customers")


def main() -> None:
    from kafka_spark_streaming_spark.operators import QUERIES
    from kafka_spark_streaming_spark.session import get_spark

    timer = bench.Timer(get_spark(app_name="kss-sf1-smoke"))
    build(timer.spark)
    # bench's overrides (the 2-batch stateful drain): the timing should
    # reflect the operator + state growth, not the forced batch count
    fns = {n: bench.OVERRIDES.get(n, QUERIES[n]) for n in SMOKE}
    # min-of-3 (was min-of-2 through r9's first sidecar): back-to-back
    # full-smoke runs on this host showed single queries swinging
    # 1.5-2.2x between 2-pass mins (d_minhash 3.2 vs 7.2, containment
    # 1.9 vs 3.5) — the same co-tenant noise bench.py absorbs with
    # min-of-3, so match its protocol.  count() instead of the noop
    # write: the record carries each query's row count.
    timings, errors = timer.time_queries(fns, OUT, 3, lambda df: df.count())
    # two cleared-cache rebuilds per artifact (r9: containment's
    # single-shot sample read 8.1 s vs a 3.7 s min-of-2); best-effort:
    # the sf1 record has no field for a replay failure
    timer.resample(OUT, rebuilds=2, action=lambda df: df.count())
    derived = bench.derived_build_sec(OUT)
    results = {
        n: {"error": errors[n]}
        if n in errors
        else {"sec": timings[n], "rows": timer.outputs[n]}
        for n in SMOKE
    }
    timings = {n: r["sec"] for n, r in results.items() if "sec" in r}
    prev_q, prev_d = bench._prev_bench("_sf1")
    line = json.dumps(
        {
            "metric": "sf1_smoke",
            "factor": K,
            "source_sf": SRC,
            "derived_dir": OUT,
            "queries": results,
            "derived_build_sec": derived,
            **bench.gate(
                timings, derived, prev_q, prev_d, canaries=CANARIES
            ),
            "note": (
                "scale stress on a K-replicated sf0.1 (exact-duplicate "
                "documents = adversarial near-dup load); per-query sec = "
                "min of 3 passes, derived builds min of 3; both gated at "
                "1.5x vs the latest committed BENCH_r*_sf1.json AFTER "
                "dividing by host_factor (median JVM-canary slowdown, "
                "clamped to [1,3] — r18, VERDICT r17 #3); "
                "raw_regressions keeps the unnormalized view"
            ),
        }
    )
    timer.emit(line)


if __name__ == "__main__":
    main()
