"""Test-fixture table loaders (TESTDATA.md / FIXTURES.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under a scale-factor dir.

Also defines the canonical `messages` projection: the reference consumes
opaque Kafka (key, value) string pairs (Streamer.scala:120,
KafkaStreamerToHbase.scala:83). For broker-free deterministic tests we
project `events` into that shape — including NULL keys (exercised by the
bulk sink's sentinel routing, HbaseWriter.scala:54-66) and ≥2 topics
(csv multi-topic subscribe, Streamer.scala:109).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def fixture_fingerprint(sf_dir: str, name: str | None = None) -> str:
    """Cheap content fingerprint (mtime ns + size) of fixture parquet.

    Any cache derived from fixture data must key on this — round 5
    shipped into regenerated fixtures and every (sf, params)-keyed cache
    silently served stale data while the DuckDB oracle read fresh.
    """
    import os as _os

    names = [name] if name else TABLES
    parts = []
    for n in names:
        p = f"{sf_dir}/{n}.parquet"
        try:
            st = _os.stat(p)
            parts.append(f"{st.st_mtime_ns}_{st.st_size}")
        except FileNotFoundError:
            parts.append("absent")
    import hashlib

    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to plain TIMESTAMP (µs, UTC session).

    The fixtures have shipped `events.ts` under three parquet encodings
    over time; all three must land on the identical instant so every
    event-time operator (watermarks, unix_micros, windows) works and the
    DuckDB oracle agrees:

    - INT64 TIMESTAMP(NANOS), surfaced as `bigint` under
      spark.sql.legacy.parquet.nanosAsLong=true → integer-div to µs
      (integer `div`, not `/`: 1.7e18 ns exceeds double's mantissa);
      exactly DuckDB's ns→µs cast.
    - timestamp[us] without tz annotation, surfaced as `timestamp_ntz`
      when spark.sql.parquet.inferTimestampNTZ.enabled=true → cast to
      TIMESTAMP (session tz is UTC, so the instant is unchanged).
    - plain `timestamp` → pass through.

    Any other dtype is a fixture-contract violation and raises loudly —
    round 5 proved a silent mis-read corrupts every session/window
    boundary (timestamps collapsed into January 1970).
    """
    dt = dict(df.dtypes).get(col)
    if dt is None:
        return df
    if dt == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if dt == "timestamp":
        return df
    raise ValueError(
        f"fixture drift: column {col!r} read as {dt!r}; expected one of "
        "bigint (legacy nanos), timestamp_ntz, or timestamp. Extend "
        "tables.normalize_ts with a branch for the new encoding."
    )


# Executable fixture contract (FIXTURES.md): dtypes each table must
# surface AFTER table()'s normalization, regardless of which parquet
# encoding a fixture regeneration shipped. Round 5 proved the cost of
# leaving this implicit: `events.ts` flipped INT64-nanos → timestamp[us]
# and the engine silently computed January-1970 sessions. Extra columns
# in a future fixture are tolerated (they can't corrupt existing
# queries); a missing column or a changed dtype fails loudly, naming
# the drifted column.
EXPECTED_DTYPES: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>", "label": "int"},
}

# Timestamp-family columns: the raw parquet may ship any encoding that
# normalize_ts accepts; everything else must match EXPECTED_DTYPES as
# stored.
_TS_COLUMNS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def check_contract(name: str, dtypes: list[tuple[str, str]]) -> None:
    """Assert a loaded table honors EXPECTED_DTYPES; raise naming the
    drifted column. Schema-only — triggers no Spark job."""
    expected = EXPECTED_DTYPES.get(name)
    if expected is None:
        return
    actual = dict(dtypes)
    problems = [
        f"column {col!r}: expected {want!r}, "
        + (f"got {actual[col]!r}" if col in actual else "MISSING")
        for col, want in expected.items()
        if actual.get(col) != want
    ]
    if problems:
        raise ValueError(
            f"fixture contract violation in table {name!r} "
            f"(FIXTURES.md / tables.EXPECTED_DTYPES):\n  "
            + "\n  ".join(problems)
            + "\nA fixture regeneration likely changed an encoding; extend "
            "tables.normalize_ts / EXPECTED_DTYPES deliberately instead of "
            "letting queries mis-read it."
        )


def ensure_engine_confs(spark: SparkSession) -> None:
    """Pin the runtime confs timestamp determinism depends on, on
    WHATEVER session the caller hands us (the correctness driver builds
    its own, without get_spark's configuration):

    - UTC session tz: epoch functions and the DuckDB oracle (naive
      timestamps) agree on the instant;
    - NTZ inference off + legacy nanos-as-long: both non-timestamp
      fixture encodings surface in the shapes normalize_ts handles;
    - ANSI on (the Spark 4 default, pinned against sessions that
      disabled it): the engine's fail-fast contracts — strict casts,
      arithmetic-overflow errors — assume ANSI semantics.  The int64
      dedup folds are additionally overflow-safe BY CONSTRUCTION
      (dedup._EMB_CEIL), so this pin is defense in depth, not the
      load-bearing guard (ADVICE r13).

    All are runtime-settable SQLConfs; every query path loads via
    table()/file_stream_events(), which call this first.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "true")


# Plan-handle memo for table(): (applicationId, sf_dir, name,
# fixture_fingerprint) -> the UNEXECUTED DataFrame.  This caches plan
# construction only — schema resolution (a parquet footer read + py4j
# round trips, measured ~125 ms per call) plus the ts-normalization
# projection and the contract check.  It is NOT result caching: no
# rows are materialized, every action on the handle re-scans the
# parquet exactly as before (a DataFrame is an immutable logical
# plan), and the fingerprint key makes a regenerated fixture — even
# mid-session, even at the same path — a cache miss (the r5 lesson).
# Production analogue: an application constructs its table frames
# once / resolves schemas from a catalog; re-reading footers on every
# query-function invocation is a harness artifact of re-invoking the
# constructors, and at ~2-6 table() calls per registered query it was
# 10-35% of sub-second query times (measured r22).
_TABLE_CACHE: dict[tuple[str, str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/projections into it.

    Timestamp-family columns go through normalize_ts (the fixtures have
    shipped ts as INT64-nanos, timestamp[us]/NTZ, and plain timestamp
    across regenerations); every load is then checked against the
    executable fixture contract so silent drift fails loudly.
    Memoized per (session, corpus, table, fingerprint) — see
    _TABLE_CACHE above; the heartbeat still runs on every call.
    """
    ensure_engine_confs(spark)
    # heartbeat here as well as in session_checkpoint (code-review
    # r15): a session doing hours of non-artifact work still passes
    # through table() constantly, so its parquet artifacts keep fresh
    # mtimes against peer sessions' age scrubs.  Deliberately BEFORE
    # the memo hit so cache hits keep heartbeating.
    _touch_own_artifacts()
    k = (
        spark.sparkContext.applicationId,
        sf_dir,
        name,
        fixture_fingerprint(sf_dir, name),
    )
    hit = _TABLE_CACHE.get(k)
    if hit is not None:
        return hit
    # evict dead sessions' handles and superseded fingerprints of this
    # same (sf_dir, name) — the same eviction discipline as
    # _DERIVED_CACHE, minus the unpersist (nothing is materialized)
    for stale in [
        s
        for s in _TABLE_CACHE
        if s[0] != k[0] or (s[1], s[2]) == (sf_dir, name)
    ]:
        del _TABLE_CACHE[stale]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _TS_COLUMNS.get(name, []):
        df = normalize_ts(df, col)
    check_contract(name, df.dtypes)
    _TABLE_CACHE[k] = df
    return df


def spread_scan(
    df: DataFrame, spark: SparkSession, par: int | None = None
) -> DataFrame:
    """Conditional round-robin spread of an under-partitioned scan
    (guide §2.5 input skew / §6 split sizing; sketches._spread_tokens
    delegates here since r21, so there is ONE copy of the policy).

    A single small parquet file arrives as ONE input split, so every
    row-heavy downstream stage — higher-order array functions, explode
    + partial aggregation, Arrow/pandas workers — runs on one core no
    matter how many the session has.  Spreading the NARROW source rows
    once (round-robin, before any explode multiplies them) unlocks the
    full task width for the per-row work.  Conditional on the scan
    actually arriving under defaultParallelism partitions: a real
    multi-file 100 TB corpus skips the exchange entirely, so this is
    scale-adaptive, not a local[32] constant.  Use ONLY where the
    downstream per-row work dominates the one narrow exchange.

    RESTRICTION: pass a BARE (or filtered/projected) file scan only.
    The partition-count probe converts the plan to an RDD, and under
    AQE that materializes any upstream shuffle/broadcast stages AT
    CONSTRUCTION TIME — on a scan it is just a plan compile against
    the (cached) file listing, but on a shuffle-bearing frame it would
    silently run real jobs before any action.  The restriction is
    STRUCTURAL since r22 (VERDICT r21 #6): the analyzed logical plan
    is walked (analysis only — no job) and any shuffle/join/aggregate-
    bearing node raises before the probe can execute anything.
    """
    _assert_scan_only(df)
    if par is None:
        par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# The analyzed-plan nodes spread_scan accepts: a relation under
# projections, filters and aliases.  An ALLOW-list, so the guard fails
# closed (VERDICT r22 #3): any other node — an exchange, a join, an
# aggregate, a Python map (MapInPandas/MapInArrow), a limit or offset,
# a sample — is refused, including node types added by a future Spark.
_SCAN_ONLY_NODES = frozenset(
    {
        "LogicalRelation",
        "LocalRelation",
        "LogicalRDD",
        "Project",
        "Filter",
        "SubqueryAlias",
    }
)


def _assert_scan_only(df: DataFrame) -> None:
    """Reject non-scan plans before spread_scan's RDD probe (which
    would silently RUN their upstream stages at construction time).
    Walks the analyzed plan tree (analysis only — no job) by node
    name, never by plan-string matching."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() not in _SCAN_ONLY_NODES:
            raise ValueError(
                "spread_scan requires a bare/projected file scan; got a "
                f"plan containing {node.nodeName()} — its RDD partition "
                "probe could execute upstream stages at construction "
                "time:\n" + df._jdf.queryExecution().analyzed().toString()
            )
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


# Derived-table memo: a production pipeline PERSISTS expensive derived
# artifacts (signature profiles, distilled edge lists) next to the
# corpus and probes them from every query; rebuilding one per query
# *call* is purely a harness artifact (each bench pass / correctness
# row invokes the query function afresh).  session_checkpoint() is the
# in-session stand-in: build once per (session, key), eagerly
# localCheckpoint so downstream queries scan materialized blocks, and
# drop entries of dead sessions so their blocks can be reclaimed.
_DERIVED_CACHE: dict[tuple[str, str], DataFrame] = {}

# Auxiliary driver-side object (e.g. a numpy centroid matrix) attached
# to a session_checkpoint entry: SAME memo key, populated in the same
# build call, evicted in the same loop — so it can never go stale or
# leak independently of its DataFrame (VERDICT r11 #4 / ADVICE r11:
# the old per-module side-channel dict could diverge on a cache hit
# without a matching entry and was never evicted).
_DERIVED_SIDECAR: dict[tuple[str, str], object] = {}

# Wall-clock cost of each derived artifact's one-time build, keyed by
# the caller's memo key (pre-fingerprint). The memo means min-of-N bench
# passes never observe this cost; bench.py surfaces it as
# derived_build_sec so a build-time regression can't hide behind the
# cache (ADVICE r4 #2).
DERIVED_BUILD_SEC: dict[str, float] = {}
# base_key -> full memo key its recorded min was measured under
_DERIVED_BUILD_ID: dict[str, str] = {}


def prune_stale_siblings(
    prefix: str, keep_tag: str, min_age_s: float = 7200
) -> None:
    """Remove /tmp cache dirs named `{prefix}_{base}[_...]` whose
    fingerprint differs from keep_tag's — every fixture regeneration
    (or derived-input rebuild) would otherwise strand a full data copy
    per cache. Only dirs older than min_age_s go — and because a
    concurrent READER of a pre-regeneration layout advances no mtime
    (ADVICE r7: a long read is invisible to any activity probe), the
    threshold is sized as a hard upper bound on the longest observed
    end-to-end read (sf1 smoke's heaviest full pass is minutes; 2 h is
    ~20× that), trading prompt reclamation for never deleting under a
    live reader. Legacy unfingerprinted names (`{prefix}_{base}`, no
    trailing `_<hex12>`) are matched too. keep_tag must end with the
    12-hex fingerprint."""
    import glob as _glob
    import re as _re
    import shutil as _shutil
    import tempfile as _tempfile
    import time as _time

    base = _re.sub(r"_[0-9a-f]{12}$", "", keep_tag)
    tmp = _tempfile.gettempdir()
    candidates = _glob.glob(
        os.path.join(tmp, f"{prefix}_{base}_*")
    ) + _glob.glob(os.path.join(tmp, f"{prefix}_{base}"))
    now = _time.time()
    for d in candidates:
        if d.endswith(keep_tag):
            continue
        try:
            age = now - os.path.getmtime(d)
        except OSError:
            continue
        if age >= min_age_s:
            _shutil.rmtree(d, ignore_errors=True)


def reset_derived_cache() -> None:
    """Drop every memoized derived artifact AND its sidecar together.
    External callers (bench.py / sf1_smoke.py cold-rebuild sampling)
    must use this instead of clearing _DERIVED_CACHE directly — a
    cache-only clear would leave sidecars alive with no DataFrame twin,
    breaking the paired-eviction invariant the two dicts share.
    Auto-grounded artifacts (persist() over the checkpoint) are
    unpersisted so dropped entries release their columnar cache and
    CacheManager slots instead of pinning them for the session."""
    for df in _DERIVED_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # a dead session's handle: nothing to release
    _DERIVED_CACHE.clear()
    for sidecar in _DERIVED_SIDECAR.values():
        _release_sidecar(sidecar)
    _DERIVED_SIDECAR.clear()


def _release_sidecar(sidecar: object) -> None:
    """Unpersist every Broadcast an evicted sidecar holds (the sidecar
    itself or a member of its tuple/list), so the executors' and the
    block manager's copies go with the memo entry instead of lingering
    until the handle is garbage-collected.  Each release is
    best-effort: a broadcast of a stopped context is already gone."""
    from pyspark import Broadcast

    members = sidecar if isinstance(sidecar, (tuple, list)) else (sidecar,)
    for m in members:
        if isinstance(m, Broadcast):
            try:
                m.unpersist()
            except Exception:
                pass


def _artifact_parquet_roundtrip(spark, key: str, built: DataFrame) -> DataFrame:
    """Materialize a derived artifact as scratch parquet and return the
    re-read scan — the stats-grounding storage for builds whose plan
    poisons the checkpoint's inherited estimate (see session_checkpoint
    docstring).  Dir name is kss_artifact_<appTag>_<keyTag>: rebuilds
    of the same artifact overwrite in place, a regenerated fixture
    changes the fingerprint (hence the key tag), no two sessions ever
    race on one directory — and the app tag makes OWNERSHIP visible to
    the scrub, so a session can never delete its own still-live
    artifacts no matter how long it runs (reads advance no mtime, so
    an age test alone cannot distinguish a dead session's leftovers
    from a 25-hour session's working set; code-review r14).  Dirs of
    OTHER apps age out at 24 h — and since r15 every session
    HEARTBEATS its own dirs (_touch_own_artifacts, ≤10 min cadence on
    any session_checkpoint or table() call), so a live peer running
    past 24 h keeps fresh mtimes and the age test only catches
    sessions that stopped doing work a full day ago (ADVICE r14:
    reads alone advance no mtime).  The dirs are kilobytes; the disk
    cost of the loose bound is nil."""
    import glob as _glob
    import hashlib as _hashlib
    import shutil as _shutil
    import tempfile as _tempfile
    import time as _time

    tmp = _tempfile.gettempdir()
    app_tag = _hashlib.md5(
        spark.sparkContext.applicationId.encode()
    ).hexdigest()[:10]
    key_tag = _hashlib.md5(key.encode()).hexdigest()[:16]
    path = os.path.join(tmp, f"kss_artifact_{app_tag}_{key_tag}")
    now = _time.time()
    own_prefix = os.path.join(tmp, f"kss_artifact_{app_tag}_")
    for d in _glob.glob(os.path.join(tmp, "kss_artifact_*")):
        if d.startswith(own_prefix):
            continue  # never scrub this session's own artifacts
        try:
            if now - os.path.getmtime(d) >= 86400:
                _shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass
    built.write.mode("overwrite").parquet(path)
    _OWN_ARTIFACT_DIRS.add(path)
    return spark.read.parquet(path)


# Parquet artifact dirs this session owns — heartbeat targets for
# _touch_own_artifacts (ADVICE r14: reads never advance mtime, so
# without a heartbeat a FOREIGN session's 24 h scrub could rmtree a
# >24 h-old but still-live artifact out from under this session's
# memoized scan).
_OWN_ARTIFACT_DIRS: set[str] = set()
_LAST_HEARTBEAT = [0.0]


def _touch_own_artifacts() -> None:
    """Advance mtime on this session's live parquet artifacts so peer
    sessions' age-based scrubs never classify them as dead.  Called on
    every session_checkpoint entry (hit or build) AND on every table()
    read — the path every registry query passes through, so even a
    session doing hours of artifact-free work keeps heartbeating
    (code-review r15) — throttled to one pass per 10 min; the scrub
    bound is 24 h, so any session still executing queries stays ~144
    heartbeats ahead of deletion.  A session idle for >24 h can still
    lose dirs to a peer's scrub — its next session_checkpoint would
    serve a missing-file scan — but an idle-for-a-day local session
    is a dead one in every workflow this repo runs."""
    import time as _time

    now = _time.time()
    if now - _LAST_HEARTBEAT[0] < 600:
        return
    _LAST_HEARTBEAT[0] = now
    for p in list(_OWN_ARTIFACT_DIRS):
        try:
            os.utime(p, (now, now))
        except OSError:
            _OWN_ARTIFACT_DIRS.discard(p)  # gone (evicted/overwritten)


def _build_plan_has_join(built: DataFrame) -> bool:
    """True when the build's optimized logical plan contains a Join
    node — the exact condition under which a localCheckpoint inherits
    a product-of-children size estimate (see session_checkpoint).
    Detected on the optimizedPlan (post-rewrite: a semi/anti written
    as EXISTS still surfaces as Join) via toJSON class names, so a
    column literally named 'Join' can't false-positive a string
    match."""
    plan_json = built._jdf.queryExecution().optimizedPlan().toJSON()
    return '"class":"org.apache.spark.sql.catalyst.plans.logical.Join"' in (
        plan_json
    )


def session_checkpoint(
    spark,
    key: str,
    build,
    sf_dir: str | None = None,
    with_sidecar: bool = False,
    storage: str = "memory",
) -> "DataFrame | tuple[DataFrame, object]":
    """Build-once-per-(session, key) eagerly checkpointed DataFrame.

    Pass sf_dir when the build derives from fixture tables: the memo key
    then includes fixture_fingerprint(sf_dir), so a regenerated fixture
    (even mid-session) misses the cache instead of serving stale data.

    with_sidecar=True: build returns (df, sidecar) and the call returns
    (df, sidecar); the sidecar (a driver-side Python object, e.g. a
    centroid matrix) is stored under the SAME memo key and evicted in
    the same loop. A cache hit whose sidecar is missing (module reload,
    partial population) is treated as a miss and rebuilt — never an
    unguarded KeyError.

    storage="parquet": materialize via a scratch-parquet round-trip
    instead of localCheckpoint.  A checkpoint's LogicalRDD INHERITS the
    build plan's estimated statistics, and without CBO column stats
    Catalyst estimates a join's output size as the PRODUCT of its
    children's — so any build containing a join (e.g. the skew-safe
    groupBy+join-back in session_doc_reps) stamps the artifact with an
    absurd size (measured: 496 GB for a 120 KB reps table), silently
    flipping every downstream broadcast of the artifact or its
    projections into a sort-merge join + exchanges (measured 2× warm
    regression across the embedding dedup family).  A parquet scan's
    stats are the actual file bytes, immune to the build plan's
    estimate — and persisted-next-to-the-corpus is exactly how a
    production pipeline stores these artifacts anyway.  r15: the
    grounding rule is ENFORCED here, not opt-in — every
    default-storage build is checked for a Join node in its optimized
    plan (_build_plan_has_join) and auto-grounded via a materialized
    persist() over the checkpoint (accurate InMemoryRelation bytes, no
    per-read parquet tax); pass storage="parquet" for the heavyweight
    join-bearing artifacts where file-backed stats plus
    spill-to-disk-by-construction is the production posture.
    localCheckpoint alone stays the fast path for pure
    scan/agg/window builds (stats inherit fine)."""
    base_key = key
    if sf_dir is not None:
        key = f"{key}@{fixture_fingerprint(sf_dir)}"
    k = (spark.sparkContext.applicationId, key)
    _touch_own_artifacts()
    hit = _DERIVED_CACHE.get(k)
    if hit is not None:
        if not with_sidecar:
            return hit
        if k in _DERIVED_SIDECAR:
            return hit, _DERIVED_SIDECAR[k]
        del _DERIVED_CACHE[k]  # orphaned entry: rebuild both together
    for stale in [
        s
        for s in _DERIVED_CACHE
        if s[0] != k[0]
        # same app, same artifact, older fingerprint: the regeneration
        # case — drop it so its checkpoint blocks can be reclaimed
        or (s[1].startswith(f"{base_key}@") and s[1] != key)
    ]:
        try:
            _DERIVED_CACHE[stale].unpersist()
        except Exception:
            pass  # other app's handle or already released
        del _DERIVED_CACHE[stale]
        _release_sidecar(_DERIVED_SIDECAR.pop(stale, None))
    import time

    t0 = time.perf_counter()
    built = build()
    sidecar = None
    if with_sidecar:
        built, sidecar = built
    if storage == "parquet":
        df = _artifact_parquet_roundtrip(spark, key, built)
    elif _build_plan_has_join(built):
        # auto-grounding (r15, VERDICT r14 #4): the grounding rule used
        # to be opt-in, policed only by the artifact families the
        # grounded-stats sweep test happens to touch — a NEW
        # join-bearing build would silently reintroduce the
        # 496 GB-estimate class.  Now every default-storage build is
        # checked for a Join and grounded IN MEMORY: a materialized
        # persist() over the checkpoint makes the InMemoryRelation
        # report its real cached bytes (measured: 96 MB product
        # estimate → 112 KB actual; downstream joins and projections
        # broadcast again), with none of the per-read parquet tax that
        # a blanket parquet flip was measured to cost warm consumers
        # (d_simhash_pairs 0.95 → 1.83 s when session_rep_simhash's
        # semi-join build briefly round-tripped through parquet).
        # Cache eviction would only revert stats to the estimate until
        # re-materialization — at these artifact sizes (KB–MB) against
        # the local heap that window is theoretical; at cluster scale
        # the big join-bearing artifacts pass storage="parquet"
        # explicitly, which is also the production posture.
        df = built.localCheckpoint(eager=True).persist()
        df.count()
    else:
        df = built.localCheckpoint(eager=True)
    dt = round(time.perf_counter() - t0, 3)
    # keep the MIN across rebuilds of the same artifact: the shared-host
    # VM swings whole-run throughput 1.5-4x, and a one-shot build sample
    # would report the noise, not the plan (bench.py deliberately
    # rebuilds once more after its timed passes to get a second sample).
    # Identity is the FULL memo key (fingerprint included): a mid-session
    # fixture regeneration is different data, so its min starts fresh
    # instead of inheriting the old fixture's faster sample.
    prev = (
        DERIVED_BUILD_SEC.get(base_key)
        if _DERIVED_BUILD_ID.get(base_key) == key
        else None
    )
    _DERIVED_BUILD_ID[base_key] = key
    DERIVED_BUILD_SEC[base_key] = dt if prev is None else min(prev, dt)
    _DERIVED_CACHE[k] = df
    if with_sidecar:
        _DERIVED_SIDECAR[k] = sidecar
        return df, sidecar
    return df


def messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → reference-shaped stream input (key, value, topic, ts).

    Deterministic integer arithmetic only, so the DuckDB oracle can
    reproduce it exactly (see MESSAGES_ORACLE_SQL).
    """
    ev = table(spark, sf_dir, "events")
    return ev.select(
        F.when(F.col("user_id") % 19 == 0, F.lit(None).cast("string"))
        .otherwise((F.col("user_id") % 50).cast("string"))
        .alias("key"),
        F.col("event_type").alias("value"),
        F.when(F.col("event_id") % 3 == 0, F.lit("page_visits"))
        .otherwise(F.lit("page_edits"))
        .alias("topic"),
        F.col("ts"),
    )


# Same projection in DuckDB's dialect, used as a CTE by oracle SQL.
MESSAGES_ORACLE_SQL = """
SELECT
  CASE WHEN user_id % 19 = 0 THEN NULL
       ELSE CAST(user_id % 50 AS VARCHAR) END AS key,
  event_type AS value,
  CASE WHEN event_id % 3 = 0 THEN 'page_visits' ELSE 'page_edits' END AS topic,
  ts
FROM events
"""
