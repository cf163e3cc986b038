"""Table loading + canonicalization helpers (SURVEY §1.3, §5.3).

All fixtures are driver-generated parquet under ``{sf_dir}/{name}.parquet``
(TESTDATA.md). Readers stay fully declarative so Catalyst pushes filters
and prunes columns into the parquet scan.
"""

from __future__ import annotations

import hashlib
import os
import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.session import SMALL_INPUT_BYTES

TABLES = (
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
)

# DOUBLE-typed money columns cast to DECIMAL(18,2) before aggregation in
# every hash-checked query (SURVEY §5.3: double summation is order
# dependent; decimal sums are exact in both engines).
MONEY = "decimal(18,2)"


# Natural clustering key per table: the re-layout below sorts on
# it so every output file carries tight min/max zone maps (range
# predicates prune files; equi-join keys arrive clustered).
_CLUSTER_KEY = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# Only re-layout tables big enough for decode parallelism to matter.
# Below this a single task decodes the whole file faster than the extra
# scheduling/scan-setup of a fan-out costs (measured at sf0.1: events
# 100k rows re-laid-out REGRESSED q_join_asof 0.42→0.91 s — two scans ×
# 32 tasks of overhead for ~0.15 s of decode; lineitem 600k rows
# improved TPC-H Q1 1.45→0.41 s).
_RELAYOUT_MIN_ROWS = 300_000

# Tables whose downstream operators are compute-bound PER ROW (text
# tokenization / rolling-hash over `documents`, timestamp bucketing and
# sessionization over `events`): for their zero-/one-shuffle pipelines
# the scan splits ARE the compute parallelism, so they get a minimum
# fan-out even below _RELAYOUT_MIN_ROWS — the lakehouse practice of
# sizing files for the workload, not just the scan. Measured at sf0.1
# (local[32], AQE off): q_text_fingerprint 200→92 ms and tumbling-agg
# over events 125→90 ms with 8 files; grouped-top-k over orders
# 242→123 ms and the rank family 162→106 ms with 4 files (orders'
# per-row work is lighter, so fewer/larger splits win there). Tiny
# fixtures skip the floor — a 500-row table gains nothing from 8 task
# launches.
_RELAYOUT_MIN_FILES = {"documents": 8, "events": 8, "orders": 4}
_RELAYOUT_FLOOR_MIN_ROWS = 4_000

# Target rows per re-laid-out file: enough that each task's decode time
# dominates its launch overhead, small enough to use available cores.
# Measured on lineitem sf0.1 (600k rows, local[32], AQE off): 24 files
# → Q6 106 ms / Q1 149 ms; 12 → 99/116; 8 → 72/96; 4 → 86/132. Eight
# ~75k-row tasks amortize launch (~4 ms each) over ~10 ms of decode
# while still feeding 8 cores — the round-6 sweet spot.
_RELAYOUT_ROWS_PER_FILE = 75_000

# File-count cap independent of the BUILDING session's core count: the
# artifact is shared across sessions (its name is content+params keyed,
# not session keyed), so a layout built by a 4-core test session must
# not cap a 32-core bench session's scan parallelism. Same guard
# constant gates whether a multi-row-group source needs re-laying at
# all.
_RELAYOUT_MAX_FILES = 32

# Bump when what a re-layout writes changes (rows, types or files): a
# published layout is never rewritten, so a new output needs a new name.
_RELAYOUT_RECIPE = "v3"


def source_fingerprint(*paths: str) -> str:
    """Identity of source files without reading them: md5 over each
    file's name, size and mtime (a directory counts as every file under
    it; a missing path contributes nothing). The one source identity of
    the engine: artifact names (sources/files.artifact), the load memo
    and plan_memo keys all use it, so a regenerated fixture under the
    same path is a new source everywhere at once."""
    parts = []
    for p in paths:
        if os.path.isdir(p):
            files = sorted(
                os.path.join(r, f)
                for r, _, fs in os.walk(p)
                for f in fs
            )
        elif os.path.exists(p):
            files = [p]
        else:
            files = []
        for f in files:
            st = os.stat(f)
            parts.append(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def _relayout(job: tuple) -> None:
    """The whole re-layout of one single-file table, run as ONE Spark
    task: read the source with pyarrow, stable-sort it on the cluster
    key, and write ``ceil(rows / n)``-row slices as
    ``part-%05d.parquet``, one row group each, snappy; an empty slice
    writes no file. Self-contained (its imports are its own, it
    reads no module global), so the by-value copy below runs on workers
    that cannot import this package."""
    import math
    import os
    import pyarrow.parquet as pq

    src, out, n, key = job
    table = pq.read_table(src)
    if key:
        table = table.sort_by(key)
    step = max(1, math.ceil(table.num_rows / n))
    os.makedirs(out)
    for i in range(n):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(
                part,
                os.path.join(out, "part-%05d.parquet" % i),
                row_group_size=part.num_rows,
                compression="snappy",
            )


def _by_value(fn):
    """``fn`` rebuilt with no module and no file name, which makes
    cloudpickle ship its code by value instead of as a reference to
    this module (a worker then needs pyarrow, not this package)."""
    import builtins
    import types

    code = fn.__code__.replace(co_filename=f"<{fn.__name__}>")
    return types.FunctionType(code, {"__builtins__": builtins}, fn.__name__)


_RELAYOUT_TASK = _by_value(_relayout)


def _scan_path(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Path to scan for a table: the raw fixture parquet, or a compacted
    multi-file re-layout when the raw layout caps scan parallelism.

    The driver fixtures are written as ONE parquet file with ONE row
    group — a parquet reader cannot split inside a row group, so every
    scan (decode + partial agg) runs in a single task no matter how many
    cores the session has (measured: TPC-H Q1 at sf0.1 is 1.45 s raw vs
    0.41 s after re-layout on local[32]). This is the batch twin of what
    Delta/Iceberg ``OPTIMIZE`` does: ingest-time layout management, done
    once per source fingerprint, sorted on the table's natural key so
    file-level min/max zone maps stay selective. On a real 100 TB lake
    the inputs already arrive as many row groups and this path is a
    no-op (the row-group-count guard below).

    The re-layout is one Spark task running ``_relayout`` (pyarrow):
    the source is a single file, so a range shuffle would cost a
    sampling job, a shuffle and a cold parquet writer to move a few MB
    (perfbench's first load and scan of its mix tables in a fresh JVM,
    less a repeat, fell from 9.6 to 4.8 s on a 4-vCPU VM, local[3]; the
    pyarrow work itself is ~0.9 s of it). The task runs on an
    executor's Python worker, so the table never reaches the driver,
    and the first ``load`` of a session that builds a layout starts the
    Python worker daemon. The layout holds the source's rows and schema
    unchanged; ``load`` normalizes it through ``_read_raw`` exactly like
    the raw file.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
    except Exception:
        return path
    floor = (
        _RELAYOUT_MIN_FILES.get(name, 0)
        if meta.num_rows >= _RELAYOUT_FLOOR_MIN_ROWS
        else 0
    )
    if (
        meta.num_rows < _RELAYOUT_MIN_ROWS and not floor
    ) or meta.num_row_groups >= max(4, _RELAYOUT_MAX_FILES // 2):
        return path
    from tile_etl_spark.sources.files import artifact

    # EVERY layout param is part of the artifact identity — rows/file,
    # the fan-out floor, the (session-independent) file count, the
    # cluster key and the layout recipe: changing any names a new
    # layout instead of reusing an old one.
    n = max(
        1,
        floor,
        min(_RELAYOUT_MAX_FILES, meta.num_rows // _RELAYOUT_ROWS_PER_FILE),
    )
    key = _CLUSTER_KEY.get(name)

    def write(tmp: str) -> None:
        spark.sparkContext.parallelize([(path, tmp, n, key)], 1).foreach(
            _RELAYOUT_TASK
        )

    return artifact(
        f"scan_layout_{name}",
        [path],
        f"r{_RELAYOUT_ROWS_PER_FILE}_f{floor}_n{n}_k{key}_{_RELAYOUT_RECIPE}",
        write,
    )


def _read_raw(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Read a fixture table, raw file or re-laid dir, normalized.

    ``events.ts`` has been TIMESTAMP(NANOS) in some fixture
    generations, which Spark's vectorized reader refuses outright
    ([PARQUET_TYPE_ILLEGAL]); with ``nanosAsLong`` the nanos arrive as
    int64 and are floor-truncated to microseconds — exactly what
    DuckDB's µs-native TIMESTAMP does, so both engines see identical
    values (SURVEY §5.3). Newer fixture generations store µs directly
    (ts reads back as a timestamp), so the conversion is applied only
    when the column actually lands as a long. The re-layout keeps the
    source's types, so the same normalization serves both paths."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        # µs fixtures read back as TIMESTAMP_NTZ; downstream code (and
        # every driver-green run) expects TIMESTAMP. Session TZ is UTC,
        # so the cast is value-identity.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Plain parquet scan — predicate pushdown,
    column pruning and row-group skipping all apply downstream; big
    single-row-group fixtures are served from the compacted re-layout
    (see _scan_path), read through the same ``_read_raw`` as the raw
    file."""
    memo = _memo_for(spark)
    src = os.path.join(sf_dir, f"{name}.parquet")
    key = (sf_dir, name, source_fingerprint(src))
    hit = memo.get(key)
    if hit is not None:
        return hit
    df = _read_raw(spark, _scan_path(spark, sf_dir, name), name)
    memo[key] = df
    return df


def plan_memo(*tables: str):
    """Memoize a PURE query builder's DataFrame per (session, sf_dir,
    source fingerprints) — the engine's prepared-plan cache.

    Eligible builders are pure functions of (spark, sf_dir) with no
    internal persist/scope state: re-running them re-derives the exact
    same plan (and, for probe-broadcast builders like cosine_topk,
    re-runs a driver-side probe-collect job) for nothing. The memo key
    includes the declared source tables' source_fingerprint so a
    regenerated fixture rebuilds the plan. NOT applicable to builders
    that persist scoped intermediates (their scope lifecycle must
    re-run per call) or that have build-time side effects."""

    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            memo = _memo_for(spark)
            fp = source_fingerprint(
                *(os.path.join(sf_dir, f"{t}.parquet") for t in tables)
            )
            key = ("__plan__", fn.__name__, sf_dir, fp)
            hit = memo.get(key)
            if hit is None:
                hit = fn(spark, sf_dir)
                memo[key] = hit
            return hit

        return wrapper

    return deco


def table_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Register (once) and return a temp-view name for a fixture table.

    Latency-critical builders issue ONE ``spark.sql(...)`` over these
    views instead of a chain of DataFrame transformations: every
    DataFrame step is eagerly analyzed through its own Py4J round trip
    (measured 40-110 ms of pure plan-construction per floor-dominated
    qid), while a single SQL string parses+analyzes in one JVM call
    (~5-10 ms). The view wraps the SAME memoized ``load`` DataFrame, so
    the resolved logical plan — pushdown, pruning, the events µs
    normalization — is identical either way. Re-registered only when
    the memoized frame changes (fixture regeneration)."""
    df = load(spark, sf_dir, name)
    memo = _memo_for(spark)
    vkey = ("__view__", sf_dir, name)
    hit = memo.get(vkey)
    if hit is not None and hit[0] is df:
        return hit[1]
    vname = f"tv_{name}_{abs(hash((sf_dir, id(df)))) % 10**8}"
    df.createOrReplaceTempView(vname)
    memo[vkey] = (df, vname)
    return vname


def source_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a fixture table — file or directory. Missing or
    unreadable sources report as 'infinitely large' so every size gate
    below fails CLOSED (no hint, no pinned cache) rather than treating
    an unknown input as small."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return st.st_size
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.stat(os.path.join(root, f)).st_size
        return total
    except OSError:
        return 1 << 62


def input_bytes(sf_dir: str) -> int:
    """Source bytes of the fixture tables present in ``sf_dir``: the
    size session.conf_for sizes a job by. An absent table adds nothing,
    since no query can read it; the per-table gates below still read a
    missing table as huge (``source_bytes``)."""
    return sum(source_bytes(sf_dir, t) for t in TABLES
               if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")))


# SMALL_INPUT_BYTES is also the per-table gate under which a relation
# may carry a forced BROADCAST hint (scaled_broadcast_hint) or be pinned
# in the columnar cache (cached_dim_view). 32 MB compressed is
# comfortably inside the session's 64 MB autoBroadcastJoinThreshold
# after decode expansion of the 1-4 projected columns; above it the
# planner/AQE must decide from its own runtime stats (guide §3.1: a
# forced broadcast of a relation that only LOOKS small is the canonical
# driver/executor OOM at scale).


def scaled_broadcast_hint(
    sf_dir: str, always: tuple[str, ...] = (), **alias_to_table: str
) -> str:
    """``/*+ BROADCAST(a), ... */`` for the aliases whose GOVERNING
    source table is under the small-source gate; empty string when none
    qualify (the statement then plans hint-free and AQE/threshold pick
    the strategy — VERDICT r13 #3: a broadcast hint on a fact-scaled or
    SF-scaled relation bypasses autoBroadcastJoinThreshold and risks
    OOM at 100 TB).

    The governing table is the SOURCE the aliased relation derives
    from, even when the alias names a filtered/aggregated subquery
    (e.g. Q18's HAVING key set governs on lineitem): gating on the raw
    input is conservative — the hint disappears no later than the input
    outgrowing the gate — and needs no cardinality estimate of the
    derived relation. ``always`` lists aliases hinted unconditionally —
    1-row scalar aggregates (Q15's max, Q11's total, Q22's average),
    bounded by construction at any scale. At the bench SFs every
    fixture source is under the gate, so plans are byte-identical to
    the r13 forms."""
    keep = list(always) + [
        a
        for a, t in alias_to_table.items()
        if source_bytes(sf_dir, t) <= SMALL_INPUT_BYTES
    ]
    if not keep:
        return ""
    return "/*+ " + ", ".join(f"BROADCAST({a})" for a in keep) + " */"


# Tables cached_dim_view may pin: the TPC-H dimension tables only.
# nation/region are constant-size by construction; customer, supplier
# and part GROW ~linearly with scale factor (ADVICE r13 — the previous
# docstring's "dims don't grow with fact data" was wrong for them),
# which is why the size gate below exists on top of the allowlist.
_DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})

# Per-view build walls (table, cols, view, sec), drained by bench.py
# after each qid's cold run so BENCH_FULL.json attributes dim-cache
# population cost to the qid that paid it (VERDICT r13 #5).
DIM_CACHE_BUILDS: list[dict] = []


def cached_dim_view(spark: SparkSession, sf_dir: str, name: str,
                    cols: tuple[str, ...]) -> str:
    """Register (once) and return a temp-view name over a PROJECTED,
    MEMORY-CACHED copy of a dimension table — the warm-cluster serving
    path for broadcast-build sides.

    A BroadcastHashJoin's build job re-executes per action (Spark does
    not reuse broadcast exchanges across actions), so every action over
    a dim join re-scans + re-decodes the dim parquet. Pinning just the
    join columns in the columnar cache makes that rebuild an in-memory
    read, exactly what a long-lived cluster does with its hot
    dimensions. Interleaved A/B on q_join_broadcast (r13, same JVM,
    alternating arms, values bit-identical): sf0.1 median 0.409 s →
    0.319 (−22%); sf1 0.717 → 0.693 (wash — the build is a constant
    that amortizes), so the win is the per-action constant, kept
    because the 100 TB serving path wants the dim pinned anyway.

    GUARDED two ways (VERDICT r13 #5 / ADVICE r13): only the TPC-H
    dimension tables are pinnable at all (_DIM_TABLES — a fact table
    here raises, so the lever can never silently creep onto data-scaled
    inputs), and because customer/supplier/part grow ~linearly with
    scale factor, a dim whose source exceeds the small-source gate
    falls back to the UNCACHED table_view — same rows, same plan
    semantics, no pinned memory that could thrash at high SF.

    The cache is populated EAGERLY (one noop write at registration) so
    its build wall is measurable: each build is appended to
    DIM_CACHE_BUILDS and bench.py attributes it to the qid whose cold
    run paid it. Memoized per (sf_dir, name, cols, fixture
    fingerprint); a regenerated fixture unpersists the stale cache and
    rebuilds."""
    if name not in _DIM_TABLES:
        raise ValueError(
            f"cached_dim_view({name!r}): only dimension tables "
            f"{sorted(_DIM_TABLES)} may be pinned in the columnar "
            "cache — fact/corpus tables scale with the data and must "
            "go through table_view/load"
        )
    if source_bytes(sf_dir, name) > SMALL_INPUT_BYTES:
        return table_view(spark, sf_dir, name)
    df = load(spark, sf_dir, name)
    memo = _memo_for(spark)
    vkey = ("__dimcache__", sf_dir, name, cols)
    hit = memo.get(vkey)
    if hit is not None and hit[0] is df:
        return hit[2]
    if hit is not None:
        hit[1].unpersist()  # fixture regenerated under the same key
    proj = df.select(*cols).cache()
    vname = (
        f"dim_{name}_{abs(hash((sf_dir, cols, id(df)))) % 10**8}"
    )
    proj.createOrReplaceTempView(vname)
    import time as _time

    t0 = _time.perf_counter()
    proj.write.format("noop").mode("overwrite").save()
    DIM_CACHE_BUILDS.append(
        {
            "table": name,
            "cols": list(cols),
            "view": vname,
            "sec": round(_time.perf_counter() - t0, 4),
        }
    )
    memo[vkey] = (df, proj, vname)
    return vname


# DataFrames are immutable; memoizing per (session, sf_dir, table)
# saves re-listing files + re-reading parquet footers + re-analysis on
# every one of the ~100 qids a driver sweep builds. Keyed on the source
# file's source_fingerprint so a regenerated fixture invalidates the entry,
# and held per session in a WeakKeyDictionary (a SparkSession hashes by
# identity), so a new session never sees another session's frames. The
# frames hold their session, so an entry lives as long as the process.
_LOAD_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _memo_for(spark: SparkSession) -> dict:
    return _LOAD_MEMO.setdefault(spark, {})


def source_memo(memo: dict, spark: SparkSession, sf_dir: str, fpr: str,
                build, replay):
    """Bounded per-source build memo shared by q_dedup_near and
    q_text_tfidf (llm/dedup.py, llm/text.py): builders whose
    scope/persist side effects must re-run per call can't use
    plan_memo, but their ~40-300 ms of Py4J plan construction is pure
    given the same source. One entry per sf_dir, replaced when the
    session or source fingerprint changes; ``build()`` returns the
    payload tuple, ``replay(payload)`` re-enters persists on a hit.
    Cold builds stay visible as the qid's cold_queries entry in
    BENCH_FULL.json.

    The stored payload frames DELIBERATELY hold a strong reference to
    their session until replaced: that reference is what makes the
    ``id(spark)`` equality below safe (CPython cannot reuse the
    address of an object that is still alive). If you weaken the
    payload, key on the session itself instead, as _memo_for does."""
    hit = memo.get(sf_dir)
    if hit is not None and hit[0] == id(spark) and hit[1] == fpr:
        payload = hit[2]
        replay(payload)
        return payload
    payload = build()
    memo[sf_dir] = (id(spark), fpr, payload)
    return payload


def free_local_checkpoint(df: DataFrame) -> None:
    """Release a SUPERSEDED localCheckpoint's storage blocks.

    Spark only frees checkpoint RDD blocks when driver GC +
    ContextCleaner eventually collect the plan — nondeterministic and
    typically not mid-loop — so an iterative algorithm otherwise
    accumulates O(rounds) full-graph snapshots in executor storage
    (label rounds in connected_components, rank rounds in PageRank).
    The frame is UNUSABLE afterwards (its blocks are gone and the
    lineage was truncated): only call on round k-1's frame after round
    k's checkpoint has materialized and nothing else references it.

    Spark logs a WARN per freed checkpoint ('lineage has been
    truncated and cannot be recomputed after unpersisting') — that is
    precisely this helper's documented contract, not an anomaly. The
    suppression is SCOPED: the emitting logger's effective level is
    captured, raised to ERROR around the unpersist call only (the WARN
    is emitted synchronously on the driver inside RDD.unpersist), and
    restored afterwards — a genuine unexpected WARN from that logger
    elsewhere in the session stays visible."""
    logger_name = "org.apache.spark.rdd.MapPartitionsRDD"
    jvm = None
    prior = None
    was_explicit = False
    try:
        jvm = df.sparkSession.sparkContext._jvm
        log4j = jvm.org.apache.logging.log4j
        # getLevel() returns the EFFECTIVE level; restoring it blindly
        # would pin an explicit per-logger level where the logger
        # previously just inherited from root (a later root-level change
        # would no longer propagate to it). Record whether the logger
        # had its OWN LoggerConfig; if not, remove the one setLevel
        # creates instead of restoring a level.
        ctx = log4j.LogManager.getContext(False)
        was_explicit = (
            ctx.getConfiguration().getLoggerConfig(logger_name).getName()
            == logger_name
        )
        prior = log4j.LogManager.getLogger(logger_name).getLevel()
        log4j.core.config.Configurator.setLevel(
            logger_name, log4j.Level.ERROR
        )
    except Exception:
        jvm = None  # non-log4j2 logging backend: the WARN stays, harmless
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass  # not a checkpointed plan, or already freed
    finally:
        if jvm is not None:
            try:
                log4j = jvm.org.apache.logging.log4j
                if was_explicit and prior is not None:
                    log4j.core.config.Configurator.setLevel(
                        logger_name, prior
                    )
                else:
                    ctx = log4j.LogManager.getContext(False)
                    conf = ctx.getConfiguration()
                    conf.removeLogger(logger_name)
                    ctx.updateLoggers()
            except Exception:
                pass


def register_once(spark: SparkSession, kind: str, name: str, register) -> None:
    """Idempotent per-session registration for Python UDTFs, Python
    data sources, and SQL temp functions: Spark logs a '... replaced a
    previously registered ...' WARN on every re-registration, which
    pollutes driver/bench tails when builders re-run (best-of-N, driver
    retries). ``register`` is a thunk performing the actual
    registration; the registered object must be call-invariant
    (constant captures only — asserted by the call sites' derivations,
    e.g. the tile sources' fixed level-5..10 bounds)."""
    memo = _memo_for(spark)
    key = ("__reg__", kind, name)
    if key not in memo:
        register()
        memo[key] = True


def dec(col: str | Column) -> Column:
    """Money double → exact DECIMAL(18,2) (both engines round the same
    2-decimal-valued doubles to the same decimals)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def as_double(c: Column) -> Column:
    """Final-output cast: exact decimal aggregate → DOUBLE, so Spark and
    DuckDB emit bit-identical doubles and identical output schemas."""
    return c.cast("double")


def money_sum(col: str | Column) -> Column:
    """sum over exact decimals, emitted as double."""
    return as_double(F.sum(dec(col)))


def money_avg(col: str | Column) -> Column:
    """avg = exact decimal sum / count, divided in double space so both
    engines perform the identical double division."""
    c = F.col(col) if isinstance(col, str) else col
    return as_double(F.sum(dec(c))) / F.count(c)
