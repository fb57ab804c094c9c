"""Graph operators over relationally-derived edge lists.

The reference engine has no graph surface; this family covers the
iterative-algorithm shape the north star calls out (the companion to
the label-propagation connected components in dedup.py). The pattern
for 100 TB: ONE heavy relational pass distills the corpus into an edge
list keyed by small entities (here: nation→nation trade flows — the
q7-style 5-table join), after which the iterative phase runs on a
graph whose size is the entity cardinality, not the data volume. The
iteration count is FIXED (power iteration, 3 steps), which makes the
whole thing a static DAG Catalyst can plan — no driver-side
convergence loop, and an exact unrolled-CTE oracle in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_spark_streaming_spark.operators.registry import register
from kafka_spark_streaming_spark.tables import session_checkpoint, table

_D = 0.85  # damping
_ITERS = 3


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cust_nation → supp_nation edge list with lineitem counts.

    The one data-volume-proportional stage: lineitem joins orders on
    orderkey (co-partitioned shuffle) while customer/supplier/nation
    broadcast — the same topology as q7_nation_volume. Output
    cardinality is nations², i.e. ~625 rows from any input size.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(
            n.select(
                F.col("n_nationkey").alias("ck"),
                F.col("n_name").alias("src"),
            ),
            F.col("c_nationkey") == F.col("ck"),
        )
        .join(
            n.select(
                F.col("n_nationkey").alias("sk"),
                F.col("n_name").alias("dst"),
            ),
            F.col("s_nationkey") == F.col("sk"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )


_EDGES_SQL = """
    SELECT cn.n_name AS src, sn.n_name AS dst,
           CAST(COUNT(*) AS DOUBLE) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name
"""

# one power-iteration step, parameterized on the previous rank CTE.
# Nodes with no in-edges keep the teleport term via the LEFT join.
_STEP_SQL = """
    r{k} AS (
      SELECT nodes.n_name,
             (1 - 0.85) / nodes.n_nodes
             + 0.85 * coalesce(SUM(p.pr * t.frac), 0.0) AS pr
      FROM nodes
      LEFT JOIN trans t ON t.dst = nodes.n_name
      LEFT JOIN r{prev} p ON p.n_name = t.src
      GROUP BY nodes.n_name, nodes.n_nodes)
"""


def _pagerank_sql() -> str:
    steps = ",\n".join(
        _STEP_SQL.format(k=k, prev=k - 1) for k in range(1, _ITERS + 1)
    )
    return f"""
    WITH edges AS ({_EDGES_SQL}),
    nodes AS (
      SELECT n_name, (SELECT COUNT(*) FROM nation) AS n_nodes FROM nation),
    outw AS (SELECT src, SUM(w) AS total FROM edges GROUP BY src),
    trans AS (
      SELECT e.src, e.dst, e.w / o.total AS frac
      FROM edges e JOIN outw o ON e.src = o.src),
    r0 AS (SELECT n_name, 1.0 / n_nodes AS pr FROM nodes),
    {steps}
    SELECT n_name, round(pr, 6) AS pagerank FROM r{_ITERS}
    """


@register("g_pagerank_trade", _pagerank_sql())
def g_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step PageRank over the nation trade graph.

    The rank frame is nation-cardinality — every per-iteration join
    broadcasts, so the unrolled loop adds three map-side stages on a
    625-row table regardless of corpus size. Keeping the iteration in
    the DAG (instead of collect-and-loop on the driver) means one
    action executes edge extraction + all three steps.
    """
    n = table(spark, sf_dir, "nation").select("n_name")
    n_nodes = n.agg(F.count(F.lit(1)).alias("n_nodes"))
    nodes = n.crossJoin(n_nodes)

    # Materialize the (nations²-sized) edge list once per session: the
    # distilled edge list is the persisted derived table of a real
    # graph pipeline; without it each unrolled iteration re-executes
    # the 5-table relational pass — 3× the corpus scan for identical
    # 625 rows.
    edges = session_checkpoint(
        spark,
        f"trade_edges:{sf_dir}",
        lambda: _trade_edges(spark, sf_dir),
        sf_dir=sf_dir,
        # join-bearing build: parquet storage grounds the stats (the
        # r14 broadcast-poisoning class, see session_checkpoint)
        storage="parquet",
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("total"))
    trans = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("total")).alias("frac")
    )

    ranks = nodes.select("n_name", (1.0 / F.col("n_nodes")).alias("pr"))
    for _ in range(_ITERS):
        contribs = trans.join(
            F.broadcast(ranks.withColumnRenamed("n_name", "src")), "src"
        ).select("dst", (F.col("pr") * F.col("frac")).alias("contrib"))
        ranks = (
            nodes.join(
                F.broadcast(
                    contribs.groupBy("dst").agg(
                        F.sum("contrib").alias("in_mass")
                    )
                ),
                nodes.n_name == F.col("dst"),
                "left",
            )
            .select(
                "n_name",
                (
                    (1 - _D) / F.col("n_nodes")
                    + _D * F.coalesce("in_mass", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return ranks.select("n_name", F.round("pr", 6).alias("pagerank"))


# --- triangle enumeration over the trade graph ---------------------------
# The second classic distributed-graph primitive (after the fixed-point
# iteration above): enumerate triangles in the undirected
# above-average-trade graph. Same two-phase 100 TB posture as
# PageRank: ONE corpus-proportional relational pass distills the edge
# list (reused via the session-checkpointed artifact), then the
# triangle join runs on the entity-sized graph. The canonical
# orientation trick (join only a<b edges) keeps each triangle counted
# once and caps the self-join fan-out; the mean-weight cut makes the
# graph sparse enough that the two-hop join is bounded by the heavy
# subgraph, not nations².
@register(
    "g_triangle_trade",
    f"""
    WITH edges AS ({_EDGES_SQL}),
    cut AS (SELECT AVG(w) AS mean_w FROM edges),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges, cut
      WHERE src <> dst AND w >= cut.mean_w),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT a, b, c FROM tri ORDER BY a, b, c
    """,
)
def g_triangle_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = session_checkpoint(
        spark,
        f"trade_edges:{sf_dir}",
        lambda: _trade_edges(spark, sf_dir),
        sf_dir=sf_dir,
        storage="parquet",
    )
    # mean over exact integer counts stored as doubles: both engines
    # sum <2^53 integers exactly, so the >= cut is bit-identical
    cut = edges.agg(F.avg("w").alias("mean_w"))
    und = (
        edges.crossJoin(cut)
        .filter((F.col("src") != F.col("dst")) & (F.col("w") >= F.col("mean_w")))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    e1 = und.alias("e1")
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    return (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
        .orderBy("a", "b", "c")
    )
