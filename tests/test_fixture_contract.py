"""Executable fixture contract (VERDICT r5 item 2).

Round 5's fixtures were regenerated with `events.ts` re-encoded from
INT64 TIMESTAMP(NANOS) to timestamp[us]; the repo's hard-coded schema
kept "working" and silently collapsed every event time into January
1970. These tests make the data contract executable: any future
re-encoding either flows through tables.normalize_ts or fails loudly,
naming the drifted column.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_spark import tables

SF_DIRS = [
    d
    for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    if os.path.isdir(d)
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", tables.TABLES)
def test_fixture_honors_contract(spark, sf_dir, name):
    # table() raises ValueError naming the drifted column on violation.
    df = tables.table(spark, sf_dir, name)
    assert dict(df.dtypes) | tables.EXPECTED_DTYPES[name] == dict(df.dtypes)


def test_events_ts_is_sane_not_1970(spark):
    """The exact round-5 failure shape: a mis-decoded ts lands in 1970."""
    ev = tables.table(spark, tables.DEFAULT_SF_DIR, "events")
    years = ev.select(F.year("ts").alias("y")).agg(
        F.min("y").alias("lo"), F.max("y").alias("hi")
    ).first()
    assert years.lo >= 2000, f"ts decoded into {years.lo} — encoding drift"


def test_normalize_ts_accepts_all_three_encodings(spark):
    base = spark.range(1).select(
        F.lit(1704067200_123456789).alias("ns"),  # 2024-01-01 00:00:00.123456789
    )
    # legacy INT64-nanos surfaced as bigint
    nanos = base.select(F.col("ns").alias("ts"))
    out = tables.normalize_ts(nanos)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert str(out.first().ts) == "2024-01-01 00:00:00.123456"
    # timestamp_ntz
    ntz = base.select(
        F.expr("timestamp_micros(ns div 1000)").cast("timestamp_ntz").alias("ts")
    )
    out = tables.normalize_ts(ntz)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert str(out.first().ts) == "2024-01-01 00:00:00.123456"
    # plain timestamp: pass-through
    plain = base.select(F.expr("timestamp_micros(ns div 1000)").alias("ts"))
    assert tables.normalize_ts(plain) is plain


def test_normalize_ts_rejects_unknown_encoding(spark):
    weird = spark.range(1).select(F.lit("2024-01-01").alias("ts"))
    with pytest.raises(ValueError, match="fixture drift.*'ts'.*string"):
        tables.normalize_ts(weird)


def test_check_contract_names_drifted_column():
    with pytest.raises(ValueError, match="'ts': expected 'timestamp', got 'bigint'"):
        tables.check_contract(
            "events",
            [
                ("event_id", "bigint"),
                ("ts", "bigint"),
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("value", "double"),
                ("props", "string"),
            ],
        )
    with pytest.raises(ValueError, match="'r_name'.*MISSING"):
        tables.check_contract("region", [("r_regionkey", "int")])


def test_session_checkpoint_invalidates_on_fixture_rewrite(spark, tmp_path):
    """VERDICT r5 item 7: a regenerated fixture must miss the derived-
    table memo instead of serving stale data (the round-5 drift class,
    in-session edition)."""
    sf_dir = str(tmp_path)
    src = os.path.join(tables.DEFAULT_SF_DIR, "documents.parquet")
    dst = os.path.join(sf_dir, "documents.parquet")
    shutil.copyfile(src, dst)

    calls = []

    def build():
        calls.append(1)
        return spark.range(len(calls))

    a = tables.session_checkpoint(spark, f"probe:{sf_dir}", build, sf_dir=sf_dir)
    b = tables.session_checkpoint(spark, f"probe:{sf_dir}", build, sf_dir=sf_dir)
    assert a is b and len(calls) == 1  # memo hit while fixture unchanged

    # "regenerate" the fixture: same path, new mtime
    os.utime(dst, None)
    c = tables.session_checkpoint(spark, f"probe:{sf_dir}", build, sf_dir=sf_dir)
    assert len(calls) == 2 and c is not a


def test_session_checkpoint_sidecar_rides_same_entry(spark, tmp_path):
    """VERDICT r11 #4 / ADVICE r11: the IVF centroid matrix used to
    live in a per-module side-channel dict — never evicted, and an
    unguarded KeyError on any cache hit without a matching entry. Now
    the sidecar rides the SAME memo key: same hit, same regeneration
    eviction, and an orphaned sidecar (module reload) rebuilds instead
    of raising."""
    sf_dir = str(tmp_path)
    src = os.path.join(tables.DEFAULT_SF_DIR, "documents.parquet")
    dst = os.path.join(sf_dir, "documents.parquet")
    shutil.copyfile(src, dst)

    calls = []

    def build():
        calls.append(1)
        return spark.range(len(calls)), {"gen": len(calls)}

    key = f"probe_sc:{sf_dir}"
    a, sa = tables.session_checkpoint(
        spark, key, build, sf_dir=sf_dir, with_sidecar=True
    )
    b, sb = tables.session_checkpoint(
        spark, key, build, sf_dir=sf_dir, with_sidecar=True
    )
    assert a is b and sa is sb and len(calls) == 1

    # regeneration: BOTH halves must be evicted together
    os.utime(dst, None)
    c, sc = tables.session_checkpoint(
        spark, key, build, sf_dir=sf_dir, with_sidecar=True
    )
    assert len(calls) == 2 and c is not a and sc == {"gen": 2}
    fp = tables.fixture_fingerprint(sf_dir)
    stale = [
        k
        for k in list(tables._DERIVED_CACHE) + list(tables._DERIVED_SIDECAR)
        if k[1].startswith("probe_sc:") and not k[1].endswith(fp)
    ]
    assert stale == []

    # orphaned sidecar (the module-reload case): hit without a sidecar
    # entry must rebuild both, not KeyError
    appid = spark.sparkContext.applicationId
    del tables._DERIVED_SIDECAR[(appid, f"{key}@{fp}")]
    d, sd = tables.session_checkpoint(
        spark, key, build, sf_dir=sf_dir, with_sidecar=True
    )
    assert len(calls) == 3 and sd == {"gen": 3}

    # reset_derived_cache (the external cold-rebuild entry point) must
    # clear BOTH halves — a cache-only clear would strand sidecars with
    # no DataFrame twin (r12 review finding)
    tables.reset_derived_cache()
    assert tables._DERIVED_CACHE == {} and tables._DERIVED_SIDECAR == {}


def test_session_checkpoint_eviction_unpersists_sidecar_broadcasts(
    spark, tmp_path
):
    """ADVICE r22 (tables.py eviction): an evicted entry's sidecar
    Broadcasts are unpersisted with it — on fixture regeneration and on
    reset_derived_cache — and a broadcast whose unpersist raises (its
    context already gone) does not break the eviction."""
    sf_dir = str(tmp_path)
    shutil.copyfile(
        os.path.join(tables.DEFAULT_SF_DIR, "documents.parquet"),
        os.path.join(sf_dir, "documents.parquet"),
    )
    released = []

    def build():
        bc = spark.sparkContext.broadcast(("ids", "matrix"))
        broken = spark.sparkContext.broadcast(("stale",))
        real = bc.unpersist

        def unpersist(blocking=False):
            released.append(bc)
            real(blocking)

        def fail(blocking=False):
            raise RuntimeError("context already stopped")

        bc.unpersist = unpersist
        broken.unpersist = fail
        return spark.range(1), ("ids", broken, bc)

    key = f"probe_bc:{sf_dir}"
    _, (_, _, first) = tables.session_checkpoint(
        spark, key, build, sf_dir=sf_dir, with_sidecar=True
    )
    assert released == []
    os.utime(os.path.join(sf_dir, "documents.parquet"), None)
    _, (_, _, second) = tables.session_checkpoint(
        spark, key, build, sf_dir=sf_dir, with_sidecar=True
    )
    assert released == [first]  # evicted with its entry, not the new one
    tables.reset_derived_cache()
    assert released == [first, second]


def test_engine_confs_pinned_on_foreign_session(spark):
    """The correctness driver builds its own SparkSession without the
    engine's configuration. ensure_engine_confs (called from every
    table()/file_stream_events() load) must pin UTC + parquet encoding
    confs on whatever session arrives, so timestamp semantics match the
    DuckDB oracle regardless of the caller's environment. Simulate the
    hostile case by flipping the confs on the shared session."""
    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.session.timeZone",
            "spark.sql.parquet.inferTimestampNTZ.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        ev = tables.table(spark, tables.DEFAULT_SF_DIR, "events")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # the instant must be the UTC one, not a shifted wall clock
        lo = ev.agg(F.min(F.unix_micros("ts")).alias("m")).first().m
        import duckdb

        want = duckdb.sql(
            f"SELECT CAST(epoch_us(MIN(ts)) AS BIGINT) FROM "
            f"read_parquet('{tables.DEFAULT_SF_DIR}/events.parquet')"
        ).fetchone()[0]
        assert lo == want
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_session_checkpoint_autogrounds_join_builds(spark):
    """A join-bearing build with DEFAULT storage must auto-ground
    (r15 — the grounding rule is enforced in session_checkpoint, not
    left to call-site opt-in): the memoized artifact's propagated
    sizeInBytes must be the real cached bytes (materialized persist
    over the checkpoint), not the product-of-children join estimate,
    so downstream joins against the artifact still broadcast.  A
    join-free build keeps the plain-localCheckpoint fast path (no
    InMemoryRelation)."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark import tables

    def join_build():
        a = spark.range(2000).select(
            F.col("id").alias("k"), F.lit("x").alias("pad")
        )
        b = spark.range(2000).select(F.col("id").alias("k"))
        return a.join(b, "k")

    df = tables.session_checkpoint(spark, "probe_autoground_join", join_build)
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        size = int(str(plan.stats().sizeInBytes()))
        assert 0 < size < 1024 * 1024, (
            f"join build not stats-grounded: sizeInBytes={size}"
        )
        assert "InMemoryRelation" in plan.toString(), (
            "join build not grounded through a materialized persist"
        )
        assert df.count() == 2000

        def scan_build():
            return (
                spark.range(100)
                .groupBy((F.col("id") % 10).alias("g"))
                .count()
            )

        df2 = tables.session_checkpoint(
            spark, "probe_autoground_scan", scan_build
        )
        assert "InMemoryRelation" not in (
            df2._jdf.queryExecution().optimizedPlan().toString()
        )
        assert df2.count() == 10
    finally:
        # evict the probe entries WITH the unpersist: leaving the
        # unpersisted df memoized would plant exactly the ungrounded
        # cache-hit the feature guards against (code-review r15)
        df.unpersist()
        app = spark.sparkContext.applicationId
        for probe_key in ("probe_autoground_join", "probe_autoground_scan"):
            tables._DERIVED_CACHE.pop((app, probe_key), None)


def test_artifact_heartbeat_advances_mtime(spark, tmp_path):
    """ADVICE r14 (medium): reads never advance mtime, so a foreign
    session's 24 h scrub could rmtree a live session's parquet
    artifacts.  The fix is an owner-side heartbeat: any
    session_checkpoint or table() call advances mtime on every dir in
    _OWN_ARTIFACT_DIRS (10-min throttle).  Pin it: age a registered
    dir artificially, reset the throttle, enter session_checkpoint,
    and assert the mtime is fresh again — and that a vanished dir is
    dropped from the registry instead of erroring."""
    import os
    import time

    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark import tables

    d = tmp_path / "fake_artifact"
    d.mkdir()
    old = time.time() - 90000  # ~25 h ago: past the 24 h scrub bound
    os.utime(d, (old, old))
    gone = str(tmp_path / "never_existed")
    tables._OWN_ARTIFACT_DIRS.add(str(d))
    tables._OWN_ARTIFACT_DIRS.add(gone)
    tables._LAST_HEARTBEAT[0] = 0.0  # defeat the 10-min throttle
    try:
        tables.session_checkpoint(
            spark,
            "probe_heartbeat",
            lambda: spark.range(3).select(F.col("id")),
        )
        assert time.time() - os.path.getmtime(d) < 3600, (
            "heartbeat did not advance the artifact dir's mtime"
        )
        assert gone not in tables._OWN_ARTIFACT_DIRS, (
            "vanished dir should be dropped from the heartbeat registry"
        )
    finally:
        tables._OWN_ARTIFACT_DIRS.discard(str(d))
        tables._OWN_ARTIFACT_DIRS.discard(gone)
        tables._DERIVED_CACHE.pop(
            (spark.sparkContext.applicationId, "probe_heartbeat"), None
        )


def test_build_plan_join_detection_sees_exists_rewrite(spark):
    """_build_plan_has_join's docstring claims an EXISTS-style filter
    still surfaces as a Join on the optimizedPlan (Catalyst rewrites
    it to a semi join) — pin the claim, plus the cross-join and
    no-join-under-union cases."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_spark.tables import _build_plan_has_join

    a = spark.range(50).select(F.col("id").alias("k"))
    b = spark.range(10).select(F.col("id").alias("k"))
    a.createOrReplaceTempView("probe_join_a")
    b.createOrReplaceTempView("probe_join_b")
    try:
        exists = spark.sql(
            "SELECT k FROM probe_join_a x WHERE EXISTS "
            "(SELECT 1 FROM probe_join_b y WHERE y.k = x.k)"
        )
        assert _build_plan_has_join(exists), "EXISTS rewrite not detected"
        assert _build_plan_has_join(
            a.crossJoin(b.withColumnRenamed("k", "k2"))
        )
        assert not _build_plan_has_join(
            a.unionByName(b).groupBy("k").count()
        )
    finally:
        # the spark fixture is session-scoped: leaked views would make
        # later tests' name resolution order-dependent
        spark.catalog.dropTempView("probe_join_a")
        spark.catalog.dropTempView("probe_join_b")
