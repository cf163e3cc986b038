"""Property tests (SURVEY §5.2 item 4) beyond the codec round trip:
grid-count formula vs brute force, approximate-agg error bounds,
object-store sink side effects, MinHash signature estimate quality."""

from __future__ import annotations

import math
import os

from hypothesis import given, settings
from hypothesis import strategies as st

from tile_etl_spark import registry
from tile_etl_spark.tiles import grid as G

registry.load_all()


@given(
    minx=st.floats(min_value=-2e7, max_value=1.9e7),
    miny=st.floats(min_value=-2e7, max_value=1.9e7),
    dx=st.floats(min_value=1e3, max_value=1e6),
    dy=st.floats(min_value=1e3, max_value=1e6),
    level=st.integers(min_value=3, max_value=14),
)
@settings(max_examples=200, deadline=None)
def test_grid_bounds_match_bruteforce(minx, miny, dx, dy, level):
    """level_bounds (the sequence() endpoints) must equal the reference
    loop's brute-force enumeration (src/Program.cs:74-96) for random
    extents: same truncating division, padding, and +1 upper bound."""
    extent = (minx, miny, minx + dx, miny + dy)
    r0, r1, c0, c1 = G.level_bounds(level, extent=extent)
    ts = G.WEB_MERCATOR_DELTA * math.pow(2, 1 - level)
    # brute-force the reference formulas directly
    assert r0 == int(math.trunc((G.WEB_MERCATOR_DELTA - extent[3]) / ts)) - 6
    assert r1 == int(math.trunc((G.WEB_MERCATOR_DELTA - extent[1]) / ts)) + 7
    assert c0 == int(math.trunc((extent[0] + G.WEB_MERCATOR_DELTA) / ts)) - 6
    assert c1 == int(math.trunc((extent[2] + G.WEB_MERCATOR_DELTA) / ts)) + 7
    # ranges are inclusive and non-degenerate for positive-area extents
    assert r1 >= r0 and c1 >= c0


def test_approx_aggs_within_bounds(spark, duck, sf_dir):
    """q_agg_approx emits the tolerance verdicts directly (the oracle
    contract): both sketches in-bounds, row count exact vs DuckDB; plus
    the RAW estimates stay within bounds of DuckDB's exact values."""
    from pyspark.sql import functions as F

    from tile_etl_spark.io import load

    row = registry.QUERIES["q_agg_approx"](spark, sf_dir).first()
    exact_distinct, p25, p75, n_rows = duck.execute(
        "SELECT count(DISTINCT l_partkey), "
        "quantile_cont(l_extendedprice, 0.25), "
        "quantile_cont(l_extendedprice, 0.75), count(*) FROM lineitem"
    ).fetchone()
    assert row["ok_distinct"] and row["ok_median"]
    assert row["n_rows"] == n_rows
    raw = (
        load(spark, sf_dir, "lineitem")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias(
                "approx_median_price"
            ),
        )
        .first()
    )
    assert abs(raw["approx_parts"] - exact_distinct) <= 0.05 * exact_distinct
    assert p25 <= raw["approx_median_price"] <= p75


def test_objectstore_sink_writes_objects_and_deadletters(spark, sf_dir):
    """The sink must actually PUT: files exist under the decimal keys
    with metadata sidecars, err keys are absent, and statuses add up."""
    import shutil

    from tile_etl_spark.sources.files import ART_DIR

    base = os.path.join(ART_DIR, "object_store")
    shutil.rmtree(base, ignore_errors=True)
    out = {
        r["status"]: r["n"]
        for r in registry.QUERIES["sink_objectstore"](spark, sf_dir).collect()
    }
    assert out.get("ok", 0) > 0 and out.get("err", 0) > 0
    written = []
    for root, _dirs, files in os.walk(base):
        for f in files:
            if not f.endswith(".meta"):
                written.append(os.path.join(root, f))
    assert len(written) == out["ok"]
    sample = written[0]
    assert os.path.exists(sample + ".meta")
    with open(sample + ".meta") as fh:
        meta = fh.read()
    assert "content_type" in meta and "acl" in meta
    # keys are Lite/{level}/{row}/{col} decimal (src/Program.cs:113)
    rel = os.path.relpath(sample, base)
    parts = rel.split(os.sep)
    assert parts[0] == "Lite" and len(parts) == 4
    int(parts[1]), int(parts[2]), int(parts[3])


def test_scan_relayout_preserves_values(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The single-row-group fixture re-layout (io._scan_path) must be
    value-transparent: same multiset of rows, just spread over multiple
    files for scan parallelism. Exercised here at tiny SF by dropping
    the row threshold (real SFs trigger it naturally at >=100k rows).
    Covers both the plain path (orders) and the events path: the
    artifact holds the source's own rows and types, and ``load`` applies
    the same ``_read_raw`` normalization (ns->us timestamps) to it as to
    the raw file.

    r13: ART_DIR is monkeypatched to an isolated tmp dir instead of
    rmtree'ing the SHARED /tmp artifact cache — the old teardown
    deleted scan-layout files out from under any concurrently running
    engine process (the r13 pre-driver sweep lost 55 qids to exactly
    that: memoized plans referencing unlinked files). `artifact()`
    reads files.ART_DIR at call time, so the patch isolates every
    artifact this test triggers."""
    from tile_etl_spark import io as io_mod
    from tile_etl_spark.sources import files as files_mod

    monkeypatch.setattr(io_mod, "_RELAYOUT_MIN_ROWS", 1)
    monkeypatch.setattr(io_mod, "_RELAYOUT_ROWS_PER_FILE", 100)
    monkeypatch.setattr(files_mod, "ART_DIR", str(tmp_path / "art"))
    io_mod._LOAD_MEMO.clear()
    try:
        for name in ("orders", "events"):
            raw = io_mod._read_raw(
                spark, os.path.join(sf_dir, f"{name}.parquet"), name
            )
            df = io_mod.load(spark, sf_dir, name)
            files = df.inputFiles()
            assert len(files) > 1, name
            assert all("scan_layout" in f for f in files), name
            assert raw.schema == df.schema, name
            a = sorted(map(tuple, raw.collect()))
            b = sorted(map(tuple, df.collect()))
            assert a == b, name
    finally:
        # the memoized frames point into the tmp ART_DIR about to be
        # torn down — drop them so later tests re-derive real layouts
        io_mod._LOAD_MEMO.clear()


def _relayout_small(monkeypatch, tmp_path):
    """io with the re-layout thresholds dropped so tiny tables are
    re-laid in 100-row files (at sf0.001: orders 1500 rows -> 15 files,
    lineitem ~6000 rows -> the 32-file cap), building into a private
    ART_DIR."""
    from tile_etl_spark import io as io_mod
    from tile_etl_spark.sources import files as files_mod

    monkeypatch.setattr(io_mod, "_RELAYOUT_MIN_ROWS", 1)
    monkeypatch.setattr(io_mod, "_RELAYOUT_ROWS_PER_FILE", 100)
    monkeypatch.setattr(files_mod, "ART_DIR", str(tmp_path / "art"))
    return io_mod


def test_scan_relayout_slices_sorted_source(spark, sf_dir, monkeypatch,
                                            tmp_path):
    """The re-layout is the source stable-sorted on the cluster key and
    cut into n ``ceil(rows / n)``-row files, one row group each: n
    non-empty files whose row counts differ by at most one slice, each
    sorted, with key ranges ordered in file-name order (a repeated key
    such as l_orderkey may straddle one boundary, so ranges may touch
    but never cross), and read back in name order they ARE the sorted
    source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    io_mod = _relayout_small(monkeypatch, tmp_path)
    for name in ("orders", "lineitem"):
        src = os.path.join(sf_dir, f"{name}.parquet")
        key = io_mod._CLUSTER_KEY[name]
        rows = pq.ParquetFile(src).metadata.num_rows
        n = min(io_mod._RELAYOUT_MAX_FILES, rows // 100)
        step = math.ceil(rows / n)
        out = io_mod._scan_path(spark, sf_dir, name)
        parts = sorted(os.listdir(out))
        assert len(parts) == n, (name, parts)
        tables = [pq.read_table(os.path.join(out, f)) for f in parts]
        counts = [t.num_rows for t in tables]
        assert min(counts) > 0 and max(counts) - min(counts) < step, counts
        prev_max = None
        for f, t in zip(parts, tables):
            assert pq.ParquetFile(os.path.join(out, f)).num_row_groups == 1
            keys = t.column(key).to_pylist()
            assert keys == sorted(keys), (name, f)
            if prev_max is not None:
                assert prev_max <= keys[0], (name, f)
            prev_max = keys[-1]
        whole = pa.concat_tables(tables)
        assert whole.equals(pq.read_table(src).sort_by(key)), name


def test_scan_relayout_reads_in_the_task(spark, sf_dir, monkeypatch,
                                         tmp_path):
    """The table never reaches the driver: with pyarrow's read_table
    broken in this process, the re-layout still builds, because the
    read happens in the Spark task's Python worker."""
    import pyarrow.parquet as pq

    io_mod = _relayout_small(monkeypatch, tmp_path)

    def no_driver_read(*a, **k):
        raise AssertionError("re-layout read the table on the driver")

    monkeypatch.setattr(pq, "read_table", no_driver_read)
    out = io_mod._scan_path(spark, sf_dir, "orders")
    assert len(os.listdir(out)) > 1


def test_scan_relayout_task_ships_by_value(sf_dir, tmp_path):
    """The task function pickles without any reference to this package,
    and the unpickled copy re-lays a table in an interpreter that
    cannot import it (the case of a worker whose path lacks the repo)."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    from tile_etl_spark import io as io_mod

    blob = cloudpickle.dumps(io_mod._RELAYOUT_TASK)
    assert b"tile_etl_spark" not in blob
    out = tmp_path / "layout"
    job = (os.path.join(sf_dir, "orders.parquet"), str(out), 4, "o_orderkey")
    code = (
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec('tile_etl_spark') is None\n"
        "pickle.loads(sys.stdin.buffer.read())(%r)\n" % (job,)
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    subprocess.run(
        [sys.executable, "-c", code], input=blob, cwd=tmp_path, env=env,
        check=True, timeout=120,
    )
    assert sorted(os.listdir(out)) == [f"part-{i:05d}.parquet" for i in range(4)]


def test_registry_outputs_driver_hashable(spark, sf_dir):
    """Every registered qid must emit ONLY driver-hashable scalar
    columns (r2 lesson: the driver canonicalizes through pandas
    ``sort_values``, which crashes on ARRAY/MAP/STRUCT cells — even for
    rows-only R-checks). Additionally, H-checked qids must not emit
    DECIMAL: DuckDB's ``.df()`` renders DECIMAL as float64 while Spark
    delivers ``decimal.Decimal`` objects, so the driver hash always
    mismatches (r2: q_cond_funcs). SURVEY §5.3: money math in DECIMAL,
    emitted as DOUBLE."""
    from pyspark.sql import types as T

    hashable = (
        T.StringType,
        T.BooleanType,
        T.DateType,
        T.TimestampType,
        T.TimestampNTZType,
        T.BinaryType,
        T.ByteType,
        T.ShortType,
        T.IntegerType,
        T.LongType,
        T.FloatType,
        T.DoubleType,
    )
    bad = []
    for qid, fn in sorted(registry.QUERIES.items()):
        schema = fn(spark, sf_dir).schema
        for field in schema.fields:
            dtype = field.dataType
            if isinstance(dtype, T.DecimalType):
                if qid in registry.ORACLES:
                    bad.append((qid, field.name, "DECIMAL in H-checked output"))
            elif not isinstance(dtype, hashable):
                bad.append((qid, field.name, dtype.simpleString()))
    assert not bad, f"non-driver-hashable output columns: {bad}"


def test_minhash_signature_estimates_jaccard(spark, sf_dir):
    """Signature agreement rate ≈ true Jaccard (within 0.2 at 64 perms)
    for the fixture's true near-dup pairs."""
    from tile_etl_spark.io import load
    from tile_etl_spark.llm.dedup import minhash_signatures

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents").collect()
    }
    sigs = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(load(spark, sf_dir, "documents")).collect()
    }
    pairs = registry.QUERIES["q_dedup_near"](spark, sf_dir).collect()
    assert pairs
    for r in pairs[:20]:
        est = sum(
            a == b for a, b in zip(sigs[r["d1"]], sigs[r["d2"]])
        ) / len(sigs[r["d1"]])
        assert abs(est - r["jaccard"]) <= 0.2, (r["d1"], r["d2"], est, r["jaccard"])


def test_hll_sketch_union_matches_direct(spark, sf_dir):
    """Sharded-sketch union ≡ direct sketch over the whole column (the
    mergeability property), and both within 5% of exact."""
    from pyspark.sql import functions as F

    from tile_etl_spark.io import load

    rows = registry.QUERIES["q_agg_hll_sketch"](spark, sf_dir).collect()
    assert rows and all(r["ok_uniq"] for r in rows)
    li = load(spark, sf_dir, "lineitem")
    direct = {
        r["l_returnflag"]: r["est"]
        for r in li.groupBy("l_returnflag")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("l_orderkey")
            ).alias("est")
        )
        .collect()
    }
    sharded = {
        r["l_returnflag"]: r["est"]
        for r in li.groupBy("l_returnflag", (F.col("l_orderkey") % 16).alias("s"))
        .agg(F.hll_sketch_agg("l_orderkey").alias("sk"))
        .groupBy("l_returnflag")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    # Not exact equality: a directly-built Datasketches HLL reports the
    # (order-sensitive) HIP estimate while a union must fall back to
    # the composite estimator — estimates agree only within HLL error.
    assert direct.keys() == sharded.keys()
    for k in direct:
        assert abs(direct[k] - sharded[k]) / direct[k] < 0.05, k


def test_bloom_filter_has_no_false_negatives(spark):
    """Every key inserted at build time must pass the probe predicate —
    the bloom contract that makes q_join_bloom's pre-filter safe (false
    positives are removed by the exact join; a false negative would
    silently drop matches)."""
    from tile_etl_spark.operators.analytics import (
        bloom_build,
        bloom_might_contain,
    )
    from pyspark.sql import functions as F

    keys = spark.range(1, 2000, 37).select(F.col("id").alias("k"))
    bitmap = bloom_build(keys, "k")
    survivors = keys.where(bloom_might_contain(bitmap, "k")).count()
    assert survivors == keys.count()


@given(
    row=st.integers(min_value=0, max_value=4095),
    col=st.integers(min_value=0, max_value=4095),
)
@settings(max_examples=200, deadline=None)
def test_morton_interleave_is_bijective(row, col):
    """The Z-order key must be decodable back to (row, col) — bit i of
    row landed at bit 2i, bit i of col at bit 2i+1 — i.e. the SQL
    expression implements a true interleave, not a lossy mix."""
    sql = G._morton_sql("r", "c")
    # evaluate the SQL arithmetic in pure Python (same shifts/masks)
    morton = sum(
        (((row >> i) & 1) << (2 * i)) + (((col >> i) & 1) << (2 * i + 1))
        for i in range(12)
    )
    # the generated SQL must equal the reference formula term-for-term
    env = {"r": row, "c": col}
    assert eval(  # noqa: S307 - test-only, fixed expression text
        sql.replace("CAST(r AS BIGINT)", "r")
        .replace("CAST(c AS BIGINT)", "c")
        .replace("&", "&").replace("<<", "<<"),
        {"__builtins__": {}},
        env,
    ) == morton
    back_row = sum((((morton >> (2 * i)) & 1) << i) for i in range(12))
    back_col = sum((((morton >> (2 * i + 1)) & 1) << i) for i in range(12))
    assert (back_row, back_col) == (row, col)


def test_skyline_output_is_exact_pareto_frontier(spark, sf_dir):
    """Brute-force dominance check: every emitted skyline point must be
    non-dominated in the FULL input point set, and every non-emitted
    point must be dominated by some emitted point — the two directions
    that make the window rewrite exactly the textbook O(n²) definition."""
    pts = (
        registry.QUERIES["q_skyline"](spark, sf_dir)
        .select("price", "o_orderdate")
        .collect()
    )
    sky = {(float(r["price"]), r["o_orderdate"]) for r in pts}
    import duckdb as d

    allpts = d.sql(
        f"""SELECT DISTINCT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE),
                   o_orderdate
            FROM '{sf_dir}/orders.parquet'"""
    ).fetchall()

    def dominated(p, q):
        return (q[0] >= p[0] and q[1] <= p[1]) and (
            q[0] > p[0] or q[1] < p[1]
        )

    for p in allpts:
        is_dom = any(dominated(p, q) for q in allpts if q != p)
        if tuple(p) in sky:
            assert not is_dom, f"skyline point {p} is dominated"
        else:
            assert any(
                dominated(p, q) for q in sky
            ), f"non-skyline point {p} not dominated by any frontier point"


def test_ewma_weights_match_recurrence_on_full_windows(spark, sf_dir):
    """On rows with a full 8-observation history the truncated-weight
    form must equal the classic recurrence y_t = a·x_t + (1-a)·y_{t-1}
    unrolled to 8 terms and renormalized — i.e. the weights really are
    (1-a)^i and the normalization is the partial geometric sum."""
    from tile_etl_spark.operators import sessionize as S

    rows = (
        registry.QUERIES["q_ts_ewma"](spark, sf_dir)
        .orderBy("user_id", "ts", "event_id")
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    checked = 0
    for seq in by_user.values():
        for i in range(7, len(seq)):
            window = [seq[i - j]["value"] for j in range(8)]
            num = sum(v * w for v, w in zip(window, S.EWMA_W))
            den = sum(S.EWMA_W)
            expect = round(num / den, 6)
            assert abs(seq[i]["ewma"] - expect) <= 1e-6, (
                seq[i],
                expect,
            )
            checked += 1
            if checked >= 50:
                return
    assert checked > 0


def test_corr_pearson_matches_numpy(spark, sf_dir):
    """The moment-sum closed form must agree with numpy's corrcoef to
    float precision per group (values are exact-decimal-derived, so
    1e-9 is generous)."""
    import numpy as np
    import pandas as pd

    out = registry.QUERIES["q_corr_pearson"](spark, sf_dir).toPandas()
    li = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet"))
    for _, row in out.iterrows():
        g = li[li.l_returnflag == row.l_returnflag]
        expect = np.corrcoef(g.l_quantity, g.l_extendedprice)[0, 1]
        assert abs(row.corr_qty_price - expect) < 1e-6
        assert -1.0 <= row.corr_qty_price <= 1.0


def test_cuped_reduces_variance(spark, sf_dir):
    """CUPED's point: Var(Y − θX) ≤ Var(Y) when θ = cov/var. Recompute
    per-user metrics in pandas and assert the adjusted residual
    variance is no larger, and that the engine's theta matches."""
    import numpy as np
    import pandas as pd

    e = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    cut = pd.Timestamp("2024-01-16")
    u = (
        e.assign(
            x=e.value.where(e.ts < cut, 0.0),
            y=e.value.where(e.ts >= cut, 0.0),
        )
        .groupby("user_id")[["x", "y"]]
        .sum()
    )
    theta = np.cov(u.x, u.y, ddof=0)[0, 1] / np.var(u.x)
    assert np.var(u.y - theta * u.x) <= np.var(u.y) + 1e-12
    out = registry.QUERIES["q_cuped"](spark, sf_dir).toPandas()
    assert len(out) == 2
    # engine's adjusted means reconstruct the same theta:
    # mean_y - mean_y_adj = theta * (mean_x - gx) per arm
    ux = u.copy()
    ux["arm"] = (ux.index % 2).astype(int)
    gx = ux.x.mean()
    for _, r in out.iterrows():
        arm = ux[ux.arm == r.arm]
        expect_adj = arm.y.mean() - theta * (arm.x.mean() - gx)
        assert abs(r.mean_y_adj - expect_adj) < 1e-4


def test_reservoir_sample_is_stable_and_sized(spark, sf_dir):
    """Exactly k per group; identical selection across two runs (the
    whole point vs rand() sampling)."""
    a = registry.QUERIES["q_sample_reservoir"](spark, sf_dir).toPandas()
    b = registry.QUERIES["q_sample_reservoir"](spark, sf_dir).toPandas()
    assert (a.groupby("event_type").size() == 10).all()
    key = ["event_type", "rn", "event_id"]
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True)
    )


def test_anomaly_window_warmup_is_null(spark, sf_dir):
    """No z-score until a full 7-day trailing baseline exists: the
    first 7 calendar rows of every event type are NULL and unflagged."""
    out = registry.QUERIES["q_anomaly_window"](spark, sf_dir).toPandas()
    for _, g in out.groupby("event_type"):
        g = g.sort_values("d")
        assert g.zscore.head(7).isna().all()
        assert (g.is_anomaly.head(7) == 0).all()


def test_recursive_cte_depth_is_closed_form(spark, sf_dir):
    """Chain node k sits at depth floor(k/5) under root k%5 — the
    fixpoint must reproduce the closed form for all 25 nations."""
    out = registry.QUERIES["q_recursive_cte"](spark, sf_dir).toPandas()
    assert len(out) == 25
    for _, r in out.iterrows():
        assert r.depth == r.node // 5
        assert r.root == r.node % 5


def test_haversine_rings_are_monotone_in_distance(spark, sf_dir):
    """ring = floor(dist/10km) exactly, and distances are plausible
    (non-negative, below half Earth circumference)."""
    out = registry.QUERIES["q_tile_haversine"](spark, sf_dir).toPandas()
    assert (out.dist_m >= 0).all()
    assert (out.dist_m < 20_037_508).all()
    assert (out.ring_10km == (out.dist_m // 10000).astype(int)).all()


@given(
    level=st.integers(min_value=1, max_value=11),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_quadkey_codec_bijective(level, data):
    """The pure-Python twin of q_tile_quadkey's SQL: encode(row, col,
    level) has exactly `level` digits, decodes back to (row, col), and
    the parent is the string prefix — for random canonical tiles at
    every level."""
    row = data.draw(st.integers(min_value=0, max_value=2**level - 1))
    col = data.draw(st.integers(min_value=0, max_value=2**level - 1))
    qk = "".join(
        str(2 * ((row >> (level - k)) & 1) + ((col >> (level - k)) & 1))
        for k in range(1, level + 1)
    )
    assert len(qk) == level
    dec_row = sum(
        (1 if int(qk[k - 1]) >= 2 else 0) << (level - k)
        for k in range(1, level + 1)
    )
    dec_col = sum(
        (int(qk[k - 1]) % 2) << (level - k) for k in range(1, level + 1)
    )
    assert (dec_row, dec_col) == (row, col)
    if level > 1:
        parent = qk[:-1]
        assert len(parent) == level - 1
        # parent addresses (row>>1, col>>1) at level-1
        p_row = sum(
            (1 if int(parent[k - 1]) >= 2 else 0) << (level - 1 - k)
            for k in range(1, level)
        )
        assert p_row == row >> 1


def test_countmin_never_undercounts(spark, sf_dir):
    """The count-min guarantee: est ≥ true for EVERY probed key, and
    est == true whenever the key's d cells suffered no collision."""
    rows = registry.QUERIES["q_agg_countmin"](spark, sf_dir).collect()
    assert rows and all(r["overcount"] >= 0 for r in rows)


def test_bloom_portable_guarantees(spark, sf_dir):
    """Structural Bloom guarantees on the portable filter: zero false
    negatives (every member hits), and the observed false-positive
    rate stays within 5× of the analytic (1 − e^{−kn/m})^k bound
    (generous; the md5 bits are not adversarial)."""
    rows = registry.QUERIES["q_agg_bloom_portable"](spark, sf_dir).collect()
    members = [r for r in rows if r["truth"] == 1]
    nonmembers = [r for r in rows if r["truth"] == 0]
    assert members and all(r["bloom_hit"] == 1 for r in members)
    k, m, n = 3, 4096, len(members)
    expected = (1 - math.exp(-k * n / m)) ** k
    observed = sum(r["false_positive"] for r in nonmembers) / len(nonmembers)
    assert observed <= max(5 * expected, 0.02)


def test_pq_adc_ranks_against_exact(spark, sf_dir):
    """PQ audit self-consistency: every code is a valid codebook id,
    each probe emits exactly k=5 rows in non-decreasing ADC order, and
    every assignment is genuinely the argmin over the codebook (spot
    re-verified in numpy from the raw embeddings for one subspace).
    (Per-subspace codes need NOT match the vector's own label — label
    means overlap within a 16-dim subspace — so no own-label bound.)"""
    import numpy as np

    from tile_etl_spark.io import load

    codes = registry.QUERIES["q_embed_pq"](spark, sf_dir).collect()
    assert codes and all(0 <= r["code"] <= 9 for r in codes)
    # numpy re-verification of subspace 0 assignments
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    X = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
         for r in emb}
    micro = {v: np.floor(x * 1e6 + 0.5).astype(np.int64)
             for v, x in X.items()}
    by_label = {}
    for r in emb:
        by_label.setdefault(r["label"], []).append(micro[r["vec_id"]])
    cb = {
        lab: np.floor(
            np.sum(vs, axis=0).astype(np.float64) / len(vs) + 0.5
        ).astype(np.int64)
        for lab, vs in by_label.items()
    }
    sub0 = {r["vec_id"]: r["code"] for r in codes if r["subspace"] == 0}
    for vid, code in list(sub0.items())[:50]:
        d2 = {
            lab: int(((micro[vid][:16] - c[:16]) ** 2).sum())
            for lab, c in cb.items()
        }
        best = min(d2.items(), key=lambda kv: (kv[1], kv[0]))[0]
        assert code == best, (vid, code, best)
    ann = registry.QUERIES["q_sim_ann_pq"](spark, sf_dir).collect()
    by_probe = {}
    for r in ann:
        by_probe.setdefault(r["probe_id"], []).append(r)
    for rs in by_probe.values():
        assert len(rs) == 5
        adc_sorted = sorted(rs, key=lambda r: r["rn"])
        assert all(
            a["adc_micro2"] <= b["adc_micro2"]
            for a, b in zip(adc_sorted, adc_sorted[1:])
        )


@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=120
    ),
    buckets=st.integers(min_value=1, max_value=9),
)
@settings(max_examples=25, deadline=None)
def test_global_rank_and_ntile_match_window_semantics(spark, vals, buckets):
    """Round-6 helpers: global_rank must equal an unpartitioned
    row_number over the same total order, and ntile_from_rank must
    equal SQL ntile(b), for random value lists (duplicates included —
    the id tiebreak totalizes the order) and random bucket counts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tile_etl_spark import cache
    from tile_etl_spark.operators.windows import global_rank, ntile_from_rank

    cache.scope("prop_global_rank")
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    order = [F.col("v").asc(), F.col("id").asc()]
    got = (
        global_rank(df, order)
        .withColumn("q", ntile_from_rank(F.col("rn"), F.col("n"), buckets))
        .select("id", "rn", "q")
    )
    w = Window.orderBy(*order)
    want = df.select(
        "id",
        F.row_number().over(w).alias("rn"),
        F.ntile(buckets).over(w).alias("q"),
    )
    diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    assert diff == 0
    cache.scope("prop_done")


def test_global_rank_empty_frame(spark):
    """Zero-row input must flow through the two-pass rank without error
    (empty histogram → empty offsets → empty result, same schema)."""
    from pyspark.sql import functions as F

    from tile_etl_spark import cache
    from tile_etl_spark.operators.windows import global_rank

    cache.scope("prop_empty_rank")
    empty = spark.createDataFrame([], "id long, v long")
    r = global_rank(empty, [F.col("v").asc(), F.col("id").asc()])
    assert r.count() == 0
    assert [f.name for f in r.schema.fields] == ["id", "v", "n", "rn"]
    cache.scope("prop_empty_done")


@given(
    data=st.lists(
        st.tuples(
            # a VALUE drawn from a tiny alphabet (forces heavy ties)
            st.integers(min_value=0, max_value=6),
            # a REPEAT count so tie blocks of very different sizes form
            st.integers(min_value=1, max_value=40),
        ),
        min_size=1,
        max_size=12,
    ),
    cap=st.sampled_from([20, 200_000]),
)
@settings(max_examples=12, deadline=None)
def test_exact_median_frame_matches_numpy_under_any_ties(
    spark, data, cap
):
    """r12 property form of the tie-safety fix (ADVICE r11 medium):
    _exact_median_frame must reproduce numpy's linear-interpolated
    median BIT-FOR-BIT for arbitrary tie structures — tie blocks at
    bracket endpoints, straddling the median ranks, or covering the
    whole column — with the window cap both at its default and
    shrunk to force the refinement loop."""
    import numpy as np

    from tile_etl_spark.operators import aggregates as agg_mod

    values = []
    for v, k in data:
        values.extend([float(v)] * k)
    old_cap = agg_mod.MEDIAN_WINDOW_MAX
    try:
        agg_mod.MEDIAN_WINDOW_MAX = cap
        df = spark.createDataFrame(
            [(x,) for x in values], "l_extendedprice double"
        )
        frame, _, n, n_all = agg_mod._exact_median_frame(
            df, "l_extendedprice"
        )
        got = frame.collect()[0]["exact_median"]
    finally:
        agg_mod.MEDIAN_WINDOW_MAX = old_cap
    want = float(np.percentile(values, 50, method="linear"))
    assert got == want, (got, want, len(values), cap)
    assert n == n_all == len(values)
