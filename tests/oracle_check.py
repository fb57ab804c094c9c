"""Local replica of the driver's correctness gate (BASELINE.json:2).

Runs a registered Spark query and its DuckDB oracle SQL on the same
parquet tables, then compares row count, column names, and
order-insensitive values. Strict equality on values: the numeric policy
in kafka_spark_streaming_spark/functions/__init__.py makes both engines
produce bit-identical numbers, so any diff here is a real bug.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import tempfile
from decimal import Decimal

import duckdb

from kafka_spark_streaming_spark.tables import TABLES


# DuckDB defaults to 80% of physical RAM and spills into `.tmp` under
# the working directory. The oracle runs beside a Spark JVM, so it gets
# an explicit limit, and it spills under the system temp dir instead
# of into the checkout.
ORACLE_MEMORY_LIMIT = "8GB"


def _connect() -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB connection with an explicit memory limit and
    a spill directory under the system temp dir."""
    return duckdb.connect(
        config={
            "memory_limit": ORACLE_MEMORY_LIMIT,
            "temp_directory": os.path.join(
                tempfile.gettempdir(), f"duckdb_oracle_spill_{os.getpid()}"
            ),
        }
    )


def run_oracle(sql: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    con = _connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        return cols, rows
    finally:
        con.close()


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def compare(spark_cols, spark_rows, ora_cols, ora_rows) -> list[str]:
    """Return a list of human-readable diffs (empty = match)."""
    problems: list[str] = []
    if sorted(spark_cols) != sorted(ora_cols):
        problems.append(f"columns differ: spark={sorted(spark_cols)} oracle={sorted(ora_cols)}")
        return problems
    if len(spark_rows) != len(ora_rows):
        problems.append(f"row count differs: spark={len(spark_rows)} oracle={len(ora_rows)}")
    a = _canon(spark_cols, spark_rows)
    b = _canon(ora_cols, ora_rows)
    for i, (ra, rb) in enumerate(zip(a, b)):
        if ra != rb:
            problems.append(f"first value diff at sorted row {i}:\n  spark  = {ra}\n  oracle = {rb}")
            break
    return problems


def _dtype_kind(series) -> str:
    """Collapse a pandas dtype to the kind the driver's hash canon
    distinguishes.

    Evidence from CORRECTNESS_r01: the driver tolerates int32-vs-int64
    (scalar_date_funcs green) and date-object-vs-datetime64
    (time_bucket_daily_events green) but rejects every int-vs-float kind
    mismatch (the 4 hash-fails all had one). So: i/u → "int", f → "float",
    b → "bool", M → "time", object-of-dates → "time", object-of-Decimal →
    "decimal" (always a bug: cast to double/bigint at the query level).
    """
    import datetime as dt
    from decimal import Decimal as _D

    kind = series.dtype.kind
    if kind in "iu":
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind == "M":
        return "time"
    nonnull = series.dropna()
    if len(nonnull):
        v = nonnull.iloc[0]
        if isinstance(v, _D):
            return "decimal"
        if isinstance(v, (dt.date, dt.datetime)):
            return "time"
        if isinstance(v, bool):
            return "bool"
    return "object"


def compare_dtypes(spark_pdf, ora_pdf) -> list[str]:
    """Dtype-kind diffs between the two pandas frames (driver-hash proxy)."""
    problems: list[str] = []
    for c in spark_pdf.columns:
        if c not in ora_pdf.columns:
            continue
        sk, ok = _dtype_kind(spark_pdf[c]), _dtype_kind(ora_pdf[c])
        if sk != ok:
            problems.append(
                f"dtype kind mismatch on {c!r}: spark={spark_pdf[c].dtype}({sk}) "
                f"oracle={ora_pdf[c].dtype}({ok})"
            )
        elif sk == "decimal":
            problems.append(
                f"column {c!r} is Decimal-typed on both sides — cast to "
                "double/bigint at the query level (driver canon policy)"
            )
    return problems


def run_oracle_df(sql: str, sf_dir: str):
    con = _connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return con.execute(sql).df()
    finally:
        con.close()


def assert_matches_oracle(spark, name: str, sf_dir: str) -> None:
    from kafka_spark_streaming_spark.operators import ORACLES, QUERIES

    df = QUERIES[name](spark, sf_dir)
    spark_rows = [tuple(r) for r in df.collect()]
    spark_cols = df.columns
    ora_cols, ora_rows = run_oracle(ORACLES[name], sf_dir)
    problems = compare(spark_cols, spark_rows, ora_cols, ora_rows)
    if not problems:
        # value-level match — now mirror the driver's dtype-sensitive hash
        # (faithful engine dtypes: spark via Arrow, oracle via .df())
        spark_pdf = df.toPandas()
        ora_pdf = run_oracle_df(ORACLES[name], sf_dir)
        problems = compare_dtypes(spark_pdf, ora_pdf)
    assert not problems, f"{name} @ {sf_dir}:\n" + "\n".join(problems)
