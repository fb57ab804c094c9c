"""Column-expression helpers shared by operators, and the JVM-side
literal-frame builder of the per-batch write path.

Oracle-determinism policy (the driver hash-compares Spark output against
DuckDB output, CORRECTNESS gate):

- Money/measure doubles in the fixtures are exact 2-decimal values, so we
  SUM them as DECIMAL (exact, order-independent) and cast the final
  aggregate to DOUBLE — bit-identical across engines regardless of
  partitioning / shuffle order. A plain SUM(double) would differ in the
  last ulps between engines and between runs (fp addition is not
  associative), which a value-hash comparison would flag.
- Averages are exact-decimal-sum / count in double division (single
  IEEE op, deterministic).
- Float-native math (cosine similarity) rounds to 6 decimals on both
  sides; accumulated error ~1e-15 « 5e-7 boundary window.

All helpers are built-in Catalyst expressions — JVM-side, codegen'd,
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MONEY = "decimal(12,2)"
FACTOR = "decimal(8,4)"


def literal_frame(
    spark: SparkSession,
    schema: T.StructType | str,
    row: tuple | None = None,
) -> DataFrame:
    """`row` as a one-row frame of `schema` (a StructType or a DDL
    string), or a zero-row frame when `row` is None — built on the JVM.

    spark.createDataFrame over local data is a parallelized Python RDD
    in classic PySpark: every job that reads such a frame runs one
    Python-worker task per default-parallelism slice just to unpickle
    its row.  A one-partition range projected to typed literals is a
    plain JVM plan (Project over Range, whole-stage codegen'd).  Column
    names and types follow `schema`; literal columns report non-null,
    and the zero-row frame's columns are nullable."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    values = (None,) * len(schema.fields) if row is None else row
    return spark.range(0, 0 if row is None else 1, 1, 1).select(
        *[
            F.lit(v).cast(f.dataType).alias(f.name)
            for f, v in zip(schema.fields, values, strict=True)
        ]
    )


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec_sum(col: Column | str, dectype: str = MONEY) -> Column:
    """Exact, order-independent sum of a 2-decimal double → double."""
    return F.sum(_c(col).cast(dectype)).cast("double")


def dec_avg(col: Column | str, dectype: str = MONEY) -> Column:
    """Exact-sum / count → one deterministic double division."""
    c = _c(col)
    return F.sum(c.cast(dectype)).cast("double") / F.count(c)


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal arithmetic."""
    factor = (F.lit(1.0) - F.col("l_discount")).cast(FACTOR)
    return F.col("l_extendedprice").cast(MONEY) * factor


def charge() -> Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax), exact decimal."""
    factor = (
        (F.lit(1.0) - F.col("l_discount")) * (F.lit(1.0) + F.col("l_tax"))
    ).cast(FACTOR)
    return F.col("l_extendedprice").cast(MONEY) * factor


# DuckDB-side equivalents (kept adjacent so both dialects stay in sync).
SQL_DEC_SUM = "CAST(SUM(CAST({col} AS DECIMAL(12,2))) AS DOUBLE)"
SQL_DEC_AVG = "CAST(SUM(CAST({col} AS DECIMAL(12,2))) AS DOUBLE) / COUNT({col})"
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * CAST((1.0 - l_discount) AS DECIMAL(8,4))"
)
SQL_CHARGE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * CAST((1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(8,4))"
)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns, JVM-side.

    Higher-order functions (zip_with + aggregate) keep this in the JVM
    — no Python, no UDF, scales with the scan. (They are interpreted
    per element, not codegen'd: a verify join over many PAIRS should
    hoist the norms per vector via vector_norm and divide dot_product
    by the carried norms — 3× less element work, bit-identical result.)
    """
    return dot_product(a, b) / (vector_norm(a) * vector_norm(b))


def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two array<float|double> columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vector_norm(a: Column) -> Column:
    """L2 norm of an array<float|double> column — THE norm expression
    cosine_similarity uses, exposed so a pair join can compute each
    side's norm once per VECTOR instead of once per PAIR (higher-order
    aggregates are interpreted per element, so hoisting the two norm
    passes out of an N-pair verify join cuts its element work 3×; the
    float result is bit-identical because it is the same expression,
    just evaluated at a different node of the plan)."""
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
