"""Regression tests for the shared-infra fixes (round-4 advice #1-#4).

Each test pins the behavior the fix introduced so later edits to
session.py / io.py / cache.py / llm/similarity.py can't silently
reintroduce the latent failure mode.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests._compare import assert_query_matches_oracle
from tile_etl_spark import cache as cache_mod
from tile_etl_spark import io as io_mod
from tile_etl_spark import registry
from tile_etl_spark.session import ensure_session_determinism

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _FixedConf:
    """Conf facade of a build where spark.sql.ansi.enabled is pinned on:
    set() is accepted (or ignored) but the value never changes."""

    def set(self, key, value):
        pass  # silently ignored, as a cluster-pinned conf would be

    def get(self, key, default=None):
        if key == "spark.sql.ansi.enabled":
            return "true"
        return default


class _FixedConfSession:
    conf = _FixedConf()


def test_ansi_pin_fails_fast_on_immutable_conf():
    """ensure_session_determinism must RAISE when the ANSI conf cannot
    actually be flipped off — the MinHash multiply-shift family depends
    on non-ANSI int64 wraparound and would otherwise throw
    ARITHMETIC_OVERFLOW deep inside a task."""
    with pytest.raises(RuntimeError, match="ansi"):
        ensure_session_determinism(_FixedConfSession())


def test_ansi_pin_passes_on_normal_session(spark):
    assert ensure_session_determinism(spark) is spark
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"


def test_registry_pins_a_foreign_session(spark, duck, sf_dir):
    """A driver's session need not come from get_spark: Spark 4 starts
    with ANSI on, and its time zone is the host's. Every registry call
    pins both before the builder runs, so MinHash's int64 wraparound
    (q_dedup_near) and UTC window bounds (q_window_tumbling) still match
    their oracles, and the confs read back pinned afterwards."""
    registry.load_all()
    try:
        for qid in ("q_dedup_near", "q_window_tumbling"):
            spark.conf.set("spark.sql.ansi.enabled", "true")
            spark.conf.set("spark.sql.session.timeZone", "America/Denver")
            assert_query_matches_oracle(
                registry.QUERIES[qid], registry.ORACLES[qid], spark, duck,
                sf_dir, qid=qid,
            )
            assert spark.conf.get("spark.sql.ansi.enabled") == "false"
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_only_the_registry_pins_the_session():
    """registry.query pins every query's session; a builder or helper
    that pins it again restates that decision."""
    pkg = os.path.join(REPO, "tile_etl_spark")
    callers = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        for node in ast.walk(ast.parse(open(path).read())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            if name == "ensure_session_determinism":
                callers.append(os.path.relpath(path, pkg))
    assert sorted(callers) == ["registry.py"]


def test_driver_order_is_stalest_first():
    """__spark_entry__ lists every registered qid once, ordered by the
    newest CORRECTNESS_rN.json round holding a row for it (0 if none),
    ties by qid; oracle_sql() keeps the same relative order."""
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    newest = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            for q in json.load(open(path)):
                newest[q] = max(newest.get(q, 0), int(m.group(1)))
    assert newest, "no CORRECTNESS_rN.json beside __spark_entry__.py"
    order = list(entry.queries())
    assert sorted(order) == sorted(registry.QUERIES)
    assert order == sorted(order, key=lambda q: (newest.get(q, 0), q))
    assert list(entry.oracle_sql()) == [q for q in order if q in registry.ORACLES]


def test_load_memo_reloads_regenerated_fixture(spark, tmp_path):
    """Regenerating a fixture mid-session must invalidate the memo entry
    (keyed on size+mtime), not serve the stale DataFrame/listing."""
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "region.parquet")

    def write(keys):
        t = pa.table(
            {
                "r_regionkey": pa.array(keys, pa.int64()),
                "r_name": pa.array([f"R{k}" for k in keys]),
                "r_comment": pa.array(["x"] * len(keys)),
            }
        )
        pq.write_table(t, path)

    write([0, 1, 2])
    df1 = io_mod.load(spark, sf_dir, "region")
    assert df1.count() == 3
    # memo hit while the file is unchanged: identical object back
    assert io_mod.load(spark, sf_dir, "region") is df1

    write([0, 1, 2, 3, 4])  # regenerate: new size ⇒ new fingerprint
    df2 = io_mod.load(spark, sf_dir, "region")
    assert df2 is not df1
    assert df2.count() == 5
    shutil.rmtree(sf_dir, ignore_errors=True)


def test_load_memo_is_per_session(spark):
    """The load memo keys on the live session: a new session gets its
    own memo (so register_once registers again there), and clear(), the
    isolation reset tests/test_properties.py uses, empties it."""
    memo = io_mod._memo_for(spark)
    assert io_mod._memo_for(spark) is memo  # stable for the live session
    other = spark.newSession()
    assert io_mod._memo_for(other) is not memo

    calls = []
    for s, tag in ((spark, "a"), (spark, "b"), (other, "c")):
        io_mod.register_once(
            s, "probe", "memo-test", lambda t=tag: calls.append(t)
        )
    assert calls == ["a", "c"]

    saved = dict(io_mod._LOAD_MEMO)
    io_mod._LOAD_MEMO.clear()
    try:
        assert len(io_mod._LOAD_MEMO) == 0
        assert io_mod._memo_for(spark) == {}
    finally:
        io_mod._LOAD_MEMO.clear()
        io_mod._LOAD_MEMO.update(saved)


def test_cache_scope_context_restores_previous_tag(spark, sf_dir):
    """Interleaving: a helper that persists AFTER a `with scope(...)`
    block must register under the OUTER tag, not the inner one."""
    df = spark.range(10)
    cache_mod.scope("outer_q")
    with cache_mod.scope("inner_helper"):
        cache_mod.persist_scoped(df.selectExpr("id * 2 AS x"))
        assert cache_mod._SCOPE[0] == "inner_helper"
    assert cache_mod._SCOPE[0] == "outer_q"
    outer_df = cache_mod.persist_scoped(df.selectExpr("id + 1 AS y"))
    tags = [t for t, _, _ in cache_mod._CACHED]
    assert tags[-1] == "outer_q"
    # entering another scope releases both older tags' handles
    cache_mod.scope("next_q")
    assert all(t == "next_q" for t, _, _ in cache_mod._CACHED)
    assert outer_df.storageLevel.useMemory is False
    cache_mod.release_cached()


def test_kmeans_empty_corpus_raises_cleanly(spark):
    """An empty corpus must fail with the explicit ValueError, not an
    IndexError from rows[0] — callers (IVF build) surface the message."""
    from tile_etl_spark.llm.similarity import kmeans_centroids

    empty = spark.createDataFrame(
        [], "vec_id bigint, e array<double>"
    )
    with pytest.raises(ValueError, match="empty corpus"):
        kmeans_centroids(empty, n_cells=4, iters=1)


def test_persist_scoped_dedupes_identical_plans(spark):
    """Round-6: re-persisting a semantically identical plan under the
    same tag returns the EXISTING handle (no CacheManager 'already
    cached' WARN storm on bench best-of-N reruns); a different tag or a
    different plan still gets its own persist."""
    cache_mod.scope("dedupe_q")
    a = cache_mod.persist_scoped(spark.range(10).selectExpr("id * 2 AS x"))
    b = cache_mod.persist_scoped(spark.range(10).selectExpr("id * 2 AS x"))
    assert a is b
    c = cache_mod.persist_scoped(spark.range(10).selectExpr("id * 3 AS x"))
    assert c is not a
    cache_mod.scope("other")  # release
    cache_mod.release_cached()


def test_table_view_is_memoized_and_plan_identical(spark, sf_dir):
    """table_view returns a stable name per (session, sf_dir, table) and
    the view resolves to the SAME memoized scan plan load() serves —
    the single-spark.sql builders see identical logical plans."""
    v1 = io_mod.table_view(spark, sf_dir, "orders")
    v2 = io_mod.table_view(spark, sf_dir, "orders")
    assert v1 == v2
    via_view = spark.sql(f"SELECT * FROM {v1}")
    direct = io_mod.load(spark, sf_dir, "orders")
    assert via_view.schema == direct.schema
    assert via_view.count() == direct.count()


def test_relayout_floor_fans_out_compute_bound_tables(spark):
    """Round-6 layout policy: events (100k rows at sf0.1, but already
    >=4k at sf0.01) gets the 8-file fan-out floor; tiny sf0.001 tables
    stay raw single-file (8 task launches buy nothing at 1k rows)."""
    import glob

    p01 = io_mod._scan_path(spark, "/root/testdata/sf0.01", "events")
    assert p01 != "/root/testdata/sf0.01/events.parquet"
    n_files = len(glob.glob(os.path.join(p01, "part-*")))
    assert n_files == 8, n_files
    p001 = io_mod._scan_path(spark, "/root/testdata/sf0.001", "events")
    assert p001 == "/root/testdata/sf0.001/events.parquet"


def test_median_refinement_loop_bounds_the_collected_window(
    spark, sf_dir, duck, monkeypatch
):
    """r11: q_agg_approx's exact-median verification leg must never let
    one aggregation state hold more than MEDIAN_WINDOW_MAX values — at
    a fixed window FRACTION the r10 form collected ~2e-3*n values,
    which is billions at 100 TB. Shrinking the cap below the fixture's
    worst-case bound forces the distributed refinement pass(es) on the
    small fixture; the result must still hash-match the oracle (an
    ok_median=false or a bracket raise_error would break the compare),
    and the refined bracket must agree with DuckDB's exact median."""
    from tile_etl_spark import registry
    from tile_etl_spark.operators import aggregates as agg_mod

    registry.load_all()
    # sf0.001 lineitem: n ~6000 -> worst-case bound ~29; cap 20 forces
    # at least one refinement pass, and the post-pass bound (~16) exits
    n = duck.execute(
        "SELECT count(l_extendedprice) FROM lineitem"
    ).fetchone()[0]
    # direct path first (cap far above the fixture's worst-case bound)
    direct = (
        registry.QUERIES["q_agg_approx"](spark, sf_dir)
        .collect()[0]
        .asDict()
    )
    # force the refinement: the worst-case bound must exceed the cap,
    # so the loop NECESSARILY runs (a broken refinement would misplace
    # the bracket -> raise_error fires or ok_median goes NULL/false)
    monkeypatch.setattr(agg_mod, "MEDIAN_WINDOW_MAX", 20)
    bound = int(2 * (agg_mod.MEDIAN_EPS + 1e-4) * n) + 16
    assert bound > 20, "fixture too small to force the loop"
    refined = (
        registry.QUERIES["q_agg_approx"](spark, sf_dir)
        .collect()[0]
        .asDict()
    )
    assert refined["ok_median"] is True and refined["ok_distinct"] is True
    assert refined == direct  # loop path == direct path, field for field
    assert refined["n_rows"] >= n


def test_cpu_probe_separates_own_tree_from_external_load():
    """r11: bench's contamination gate rests on _cpu_sample attributing
    CPU to our process tree vs foreign processes. Pin both directions:
    (a) CPU burned by THIS process (and a child) counts as own, not
    external; (b) CPU burned by an ORPHANED process (double-fork, so it
    reparents away from us) shows up as external.

    r14: direction (a)'s upper bound on external CPU assumes a quiet
    box — genuinely-foreign ambient load (this box bursts 4-9 cores,
    BASELINE.md) lands in `ext` BY DESIGN and failed the suite's -x run
    at loadavg ~3.7. A control window now measures the ambient foreign
    level first; when the box is already noisy the (a) upper bound is
    skipped (the probe cannot distinguish ambient from misattribution
    there), while (a)'s lower bound and all of (b) — where ambient only
    adds signal — still run."""
    import os
    import subprocess
    import sys
    import time

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from bench import _CLK_TCK, _cpu_sample

    burn = (
        "import time,sys\n"
        "t0=time.perf_counter()\n"
        "x=0\n"
        "while time.perf_counter()-t0 < float(sys.argv[1]): x+=1\n"
    )

    # control window: ambient foreign CPU with nothing of ours running
    b0, o0 = _cpu_sample()
    t0 = time.perf_counter()
    time.sleep(0.3)
    dt = time.perf_counter() - t0
    b1, o1 = _cpu_sample()
    ambient = max(0, (b1 - b0) - (o1 - o0)) / (dt * _CLK_TCK)

    # (a) own tree: a direct child burning ~0.5 s must be attributed
    b0, o0 = _cpu_sample()
    t0 = time.perf_counter()
    subprocess.run([sys.executable, "-c", burn, "0.5"], check=True)
    dt = time.perf_counter() - t0
    b1, o1 = _cpu_sample()
    own = (o1 - o0) / (dt * _CLK_TCK)
    ext = max(0, (b1 - b0) - (o1 - o0)) / (dt * _CLK_TCK)
    assert own > 0.5, f"child CPU not attributed to own tree: {own}"
    if ambient < 0.4:
        assert ext < 0.9, f"own child misread as external: {ext}"

    # (b) external: double-fork an orphan burner (reparents to init,
    # leaves our tree), wait for it to finish by wall clock
    dur = 0.6
    pid = os.fork()
    if pid == 0:
        if os.fork() == 0:
            os.execv(sys.executable, [sys.executable, "-c", burn,
                                      str(dur)])
        os._exit(0)
    os.waitpid(pid, 0)  # reap the intermediate; burner is orphaned
    time.sleep(0.05)  # let the orphan reparent + start burning
    b0, o0 = _cpu_sample()
    t0 = time.perf_counter()
    time.sleep(dur * 0.7)  # sample window fully inside the burn
    dt = time.perf_counter() - t0
    b1, o1 = _cpu_sample()
    ext = max(0, (b1 - b0) - (o1 - o0)) / (dt * _CLK_TCK)
    time.sleep(dur)  # let the orphan exit before the test returns
    # ambient noise exists on this box; the orphan burns a full core,
    # so anything clearly above half a core proves attribution
    assert ext > 0.5, f"orphan burner not seen as external: {ext}"


def test_median_tie_blocks_do_not_inflate_the_collected_window(
    spark, tmp_path, monkeypatch
):
    """r12 (ADVICE r11 medium): the rank-span bound does not bound the
    VALUE predicate (v>=lo)&(v<=hi) — a tie block at a bracket endpoint
    puts every duplicate inside the window regardless of rank span, so
    the r11 form's collect could hold ~|tie block| values while
    claiming MEDIAN_WINDOW_MAX. The r12 reconstruction collects only
    the strict interior and counts the tie blocks; verify correctness
    on three adversarial shapes (endpoint tie block, median inside a
    tie block with and without a forced refinement loop) against a
    numpy exact median, and verify the interior stays bounded."""
    import numpy as np
    import pandas as pd

    from tile_etl_spark import registry
    from tile_etl_spark.operators import aggregates as agg_mod

    registry.load_all()

    case = [0]

    def run(values, cap=None):
        case[0] += 1
        d = tmp_path / f"tie_{case[0]}"
        d.mkdir()
        pd.DataFrame(
            {
                "l_partkey": np.arange(len(values)) % 200,
                "l_extendedprice": np.asarray(values, dtype="float64"),
            }
        ).to_parquet(d / "lineitem.parquet", index=False)
        if cap is not None:
            monkeypatch.setattr(agg_mod, "MEDIAN_WINDOW_MAX", cap)
        else:
            monkeypatch.setattr(agg_mod, "MEDIAN_WINDOW_MAX", 200_000)
        row = (
            registry.QUERIES["q_agg_approx"](spark, str(d))
            .collect()[0]
            .asDict()
        )
        assert row["ok_median"] is True, (values[:3], row)
        assert row["n_rows"] == len(values)
        # bit-exact check of the reconstruction itself (the ok_median
        # boolean alone has 5% slack an off-by-one rank could hide in)
        li = spark.read.parquet(str(d / "lineitem.parquet"))
        frame, _, _, _ = agg_mod._exact_median_frame(
            li, "l_extendedprice"
        )
        got = frame.collect()[0]["exact_median"]
        want = float(np.percentile(values, 50, method="linear"))
        assert got == want, (got, want)

    rng = np.random.default_rng(7)
    # (a) 2900-copy tie block at the LOW endpoint, median ranks just
    # above it: the r11 window would hold all 2900 ties; the strict
    # interior holds only the ~dozen rank-span values.
    a = np.concatenate(
        [np.full(2900, 10.0), 10.0 + np.cumsum(rng.uniform(0.01, 1.0, 3100))]
    )
    run(list(a))
    # (b) median ranks INSIDE the tie block -> collapsed bracket path,
    # now distributedly verified before being trusted.
    b = np.concatenate(
        [np.full(3500, 10.0), 10.0 + np.cumsum(rng.uniform(0.01, 1.0, 2500))]
    )
    run(list(b))
    # (c) tie block + a cap small enough to force the refinement loop:
    # the loop must converge (collapse or shrink) instead of counting
    # ties against the bound forever, and the result stays exact.
    run(list(a), cap=20)
    run(list(b), cap=20)


def test_events_value_is_micro_unit_exact(duck):
    """r12: q_window_tumbling sums round(value*1e6) micro-units — the
    exact-integer currency argument (_Q1_CELLS_SQL) extended to
    events.value's <=6 decimal digits. Guard the fixture assumption so
    a regenerated fixture with wider fractions fails HERE, not as a
    silent oracle mismatch."""
    bad = duck.execute(
        "SELECT count(*) FROM events WHERE value IS NOT NULL "
        "AND abs(value*1000000 - round(value*1000000)) > 1e-3"
    ).fetchone()[0]
    assert bad == 0, f"{bad} events.value rows are not 6dp-exact"


def test_cached_dim_view_memoizes_and_rebuilds_on_regeneration(
    spark, tmp_path
):
    """r13: cached_dim_view must (a) return the same view name while
    the fixture is unchanged, (b) serve the projected dim from the
    columnar cache, and (c) unpersist the stale cache and rebuild when
    the fixture regenerates — a stale cached dim after an upstream
    refresh is a silent wrong-answer hazard, worse than slow."""
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "region.parquet")

    def write(keys):
        t = pa.table(
            {
                "r_regionkey": pa.array(keys, pa.int64()),
                "r_name": pa.array([f"R{k}" for k in keys]),
                "r_comment": pa.array(["x"] * len(keys)),
            }
        )
        pq.write_table(t, path)

    write([0, 1, 2])
    cols = ("r_regionkey", "r_name")
    cm = spark._jsparkSession.sharedState().cacheManager()
    n0 = cm.numCachedEntries()
    v1 = io_mod.cached_dim_view(spark, sf_dir, "region", cols)
    assert spark.table(v1).columns == list(cols)
    assert spark.table(v1).count() == 3
    # memoized: same name back, cache entry is live
    assert io_mod.cached_dim_view(spark, sf_dir, "region", cols) == v1
    memo = io_mod._memo_for(spark)
    _df1, proj1, _v = memo[("__dimcache__", sf_dir, "region", cols)]
    assert proj1.storageLevel.useMemory
    n1 = cm.numCachedEntries()
    assert n1 == n0 + 1

    write([0, 1, 2, 3, 4])  # regenerate: new fingerprint
    v2 = io_mod.cached_dim_view(spark, sf_dir, "region", cols)
    assert spark.table(v2).count() == 5  # stale data must not be served
    _df2, proj2, _v2 = memo[("__dimcache__", sf_dir, "region", cols)]
    assert proj2 is not proj1
    # the stale projection was unpersisted, not leaked: the CacheManager
    # holds exactly as many entries as after the FIRST build (old entry
    # dropped, new one added). NOTE proj1.storageLevel is useless here —
    # it resolves by plan through the CacheManager, and the regenerated
    # projection's plan (same path, same columns) matches the stale
    # handle, so it would read as "cached" either way.
    assert cm.numCachedEntries() == n1
    shutil.rmtree(sf_dir, ignore_errors=True)


def test_cached_dim_view_rejects_fact_tables_and_size_gates(
    spark, tmp_path, monkeypatch
):
    """r14 (VERDICT r13 #5): the dim-cache lever must not silently
    creep onto data-scaled inputs. Two guards: (a) non-dimension tables
    raise outright — lineitem/orders/events/documents/embeddings scale
    with the corpus and pinning them is the hazard the rule exists for;
    (b) a DIM whose source outgrows the small-source gate (customer/
    supplier/part grow ~linearly with TPC-H SF) falls back to the
    UNCACHED table_view — same rows, no pinned memory."""
    sf_dir = str(tmp_path)
    for fact in ("lineitem", "orders", "events", "documents",
                 "embeddings"):
        with pytest.raises(ValueError, match="dimension tables"):
            io_mod.cached_dim_view(spark, sf_dir, fact, ("x",))

    t = pa.table(
        {
            "r_regionkey": pa.array([0, 1, 2], pa.int64()),
            "r_name": pa.array(["R0", "R1", "R2"]),
        }
    )
    pq.write_table(t, os.path.join(sf_dir, "region.parquet"))
    cm = spark._jsparkSession.sharedState().cacheManager()
    n0 = cm.numCachedEntries()
    monkeypatch.setattr(io_mod, "SMALL_INPUT_BYTES", 10)
    v = io_mod.cached_dim_view(
        spark, sf_dir, "region", ("r_regionkey", "r_name")
    )
    # over-gate dim: served, but NOT pinned (no new cache entry, no
    # dimcache memo slot) — and un-projected like any table_view
    assert spark.table(v).count() == 3
    assert cm.numCachedEntries() == n0
    memo = io_mod._memo_for(spark)
    assert (
        "__dimcache__", sf_dir, "region", ("r_regionkey", "r_name")
    ) not in memo
    # under the real gate the same call pins the projection again
    monkeypatch.setattr(
        io_mod, "SMALL_INPUT_BYTES", 32 * 1024 * 1024
    )
    v2 = io_mod.cached_dim_view(
        spark, sf_dir, "region", ("r_regionkey", "r_name")
    )
    assert spark.table(v2).columns == ["r_regionkey", "r_name"]
    assert cm.numCachedEntries() == n0 + 1
    # build wall recorded for bench attribution (VERDICT r13 #5)
    assert any(
        b["table"] == "region" and b["view"] == v2
        for b in io_mod.DIM_CACHE_BUILDS
    )
    shutil.rmtree(sf_dir, ignore_errors=True)
