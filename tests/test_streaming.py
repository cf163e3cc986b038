"""Streaming ≡ batch-twin equivalence (SURVEY §5.2 item 3, B oracle)
plus the watermark late-drop property."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tile_etl_spark import registry

registry.load_all()


def rows_set(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_s_tumbling_equals_batch(spark, sf_dir):
    s = registry.QUERIES["s_tumbling"](spark, sf_dir)
    b = registry.QUERIES["q_window_tumbling"](spark, sf_dir)
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert rows_set(s, cols) == rows_set(b, cols)


def test_s_sliding_equals_batch(spark, sf_dir):
    s = registry.QUERIES["s_sliding"](spark, sf_dir)
    b = registry.QUERIES["q_window_sliding"](spark, sf_dir)
    cols = ["window_start", "event_type", "n"]
    assert rows_set(s, cols) == rows_set(b, cols)


def test_s_session_equals_batch(spark, sf_dir):
    """s_session's TRUE batch twin is q_session_native — the same
    native session_window operator, which CLOSES a session when the
    next event lands exactly at prev + gap, while q_sessionize's
    manual lag/cumsum uses `> gap` (see q_session_native's docstring:
    the two conventions diverge only on microsecond-exact 30-minute
    ties). Assert the exact twin first; then assert the fixture has no
    exact-gap ties, which is the precondition making the q_sessionize
    comparison meaningful rather than vacuously transferable."""
    s = registry.QUERIES["s_session"](spark, sf_dir)
    native = registry.QUERIES["q_session_native"](spark, sf_dir)
    cols = ["user_id", "session_start", "n_events"]
    assert rows_set(s, cols) == rows_set(native, cols)

    from pyspark.sql import Window

    from tile_etl_spark.io import load
    from tile_etl_spark.operators.sessionize import GAP_US

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    n_exact = e.select(gap.alias("g")).where(F.col("g") == GAP_US).count()
    assert n_exact == 0, (
        f"{n_exact} microsecond-exact 30-min gaps: the q_sessionize "
        "comparison below no longer holds by construction"
    )
    b = registry.QUERIES["q_sessionize"](spark, sf_dir)
    assert rows_set(s, cols) == rows_set(b, cols)


def test_s_dedup_collapses_duplicates(spark, sf_dir):
    s = registry.QUERIES["s_dedup"](spark, sf_dir)
    got = {r["event_type"]: (r["n_unique"], r["n_rows"]) for r in s.collect()}
    from tile_etl_spark.io import load

    b = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("n"))
    )
    want = {r["event_type"]: r["n"] for r in b.collect()}
    assert {k: v[0] for k, v in got.items()} == want
    # every duplicate dropped: stored rows == unique ids
    assert all(nu == nr for nu, nr in got.values())


def test_s_stateful_equals_batch_counts(spark, sf_dir):
    s = registry.QUERIES["s_stateful"](spark, sf_dir)
    from tile_etl_spark.io import load

    b = load(spark, sf_dir, "events").groupBy("user_id").count()
    got = {r["user_id"]: r["n_events"] for r in s.collect()}
    want = {r["user_id"]: r["count"] for r in b.collect()}
    assert got == want


def test_s_stateful_tws_equals_batch_counts(spark, sf_dir):
    """transformWithStateInPandas twin of s_stateful (stream ≡ batch).
    The API's Python worker needs the google.protobuf runtime, which
    the sandbox image does not ship (and the build rules forbid
    installing) — the qid registers, and this test runs, only where
    the environment provides it."""
    import pytest

    from tile_etl_spark.streaming.queries import _has_protobuf

    if not _has_protobuf():
        assert "s_stateful_tws" not in registry.QUERIES
        pytest.skip("google.protobuf runtime not in this image")
    s = registry.QUERIES["s_stateful_tws"](spark, sf_dir)
    from tile_etl_spark.io import load

    b = load(spark, sf_dir, "events").groupBy("user_id").count()
    got = {r["user_id"]: r["n_events"] for r in s.collect()}
    want = {r["user_id"]: r["count"] for r in b.collect()}
    assert got == want


def test_s_watermark_is_subset_of_batch(spark, sf_dir):
    """Append mode emits only watermark-closed windows, each with the
    full (late-rows-excluded) count — a subset of the batch result."""
    s = registry.QUERIES["s_watermark"](spark, sf_dir)
    b = registry.QUERIES["q_window_tumbling"](spark, sf_dir)
    got = {
        (r["window_start"], r["event_type"]): r["n"] for r in s.collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n"] for r in b.collect()
    }
    assert got  # something was finalized
    assert all(want.get(k) == v for k, v in got.items())


def test_watermark_drops_late_row(spark, tmp_path):
    """Property (SURVEY §5.2 item 4): a row arriving behind the
    watermark is excluded from its (already finalized) window."""
    import shutil

    base = str(tmp_path / "late_stream")
    os.makedirs(base, exist_ok=True)

    def write_chunk(i, rows):
        df = spark.createDataFrame(
            rows,
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING",
        )
        tmp = os.path.join(base, f"_tmp{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(base, f"chunk_{i:03d}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, minutes):
        return (i, t0 + dt.timedelta(minutes=minutes), 1, "click", 1.0, "{}")

    # Spark applies the LATE-event filter with the watermark of the
    # previous batch (eviction uses the current one), so the late row
    # must arrive two batches after the watermark-advancing row:
    # batch 0: hour-0 rows + hour-3 row (post-batch watermark 2:50);
    # batch 1: hour-3 row (hour-0 window evicted+emitted, filter wm
    # becomes 2:50); batch 2: the LATE hour-0 row -> dropped.
    write_chunk(0, [ev(1, 5), ev(2, 10), ev(3, 20), ev(4, 180)])
    write_chunk(1, [ev(6, 190)])
    write_chunk(2, [ev(5, 15)])

    from tile_etl_spark.streaming.replay import run_to_table

    stream = (
        spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/chunk_*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    out = {r["ws"]: r["n"] for r in run_to_table(agg, "append").collect()}
    # hour-0 window finalized with 3 rows; late event_id=5 was dropped
    assert out[t0] == 3


def test_s_join_equals_batch(spark, sf_dir):
    """Stream-static enrichment join ≡ the same join + agg in batch."""
    from tile_etl_spark.io import as_double, load

    s = registry.QUERIES["s_join"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    b = (
        e.join(cust, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            as_double(F.sum(F.col("value").cast("decimal(18,6)"))).alias(
                "sum_value"
            ),
        )
    )
    cols = ["c_mktsegment", "event_type", "n", "sum_value"]
    assert rows_set(s, cols) == rows_set(b, cols)


def test_s_ss_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join (availableNow-drained) ≡ the batch
    interval self-join: inner joins emit every in-window match once."""
    from tile_etl_spark.io import load

    s = registry.QUERIES["s_ss_join"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    b = (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        )
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("click_id").alias("n_clicks"),
            F.countDistinct("purchase_id").alias("n_purchases"),
        )
    )
    cols = ["user_id", "n_pairs", "n_clicks", "n_purchases"]
    assert rows_set(s, cols) == rows_set(b, cols)


def test_s_ss_join_louter_equals_batch(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join ≡ batch left join: every
    click appears exactly once per (user, click) with its converted
    flag — unmatched clicks must surface via watermark expiry, matched
    ones on arrival, and the union must be the batch answer."""
    from tile_etl_spark.io import load

    s = registry.QUERIES["s_ss_join_louter"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    b = (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
            "left_outer",
        )
        .groupBy(F.col("c_user").alias("user_id"), "click_id")
        .agg(
            F.max(F.col("purchase_id").isNotNull().cast("int")).alias(
                "converted"
            )
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            (F.count(F.lit(1)) - F.sum("converted"))
            .cast("bigint")
            .alias("n_unconverted"),
        )
    )
    cols = ["user_id", "n_clicks", "n_converted", "n_unconverted"]
    assert rows_set(s, cols) == rows_set(b, cols)


def test_checkpoint_recovery_resumes_exactly_once(spark, sf_dir, tmp_path):
    """FAULT-TOLERANCE: a windowed aggregation processes half the
    replay, terminates, and a SECOND query restarts from the same
    checkpoint after more files arrive. The restored state must
    continue exactly-once — the final complete-mode table equals the
    batch aggregate over ALL events (no lost chunks, no double
    counting of the pre-crash half)."""
    import os
    import shutil

    from tile_etl_spark.io import as_double
    from tile_etl_spark.streaming.replay import (
        EVENTS_SCHEMA,
        replay_dir,
    )

    base = replay_dir(spark, sf_dir)
    chunks = sorted(f for f in os.listdir(base) if f.endswith(".parquet"))
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    ckpt = str(tmp_path / "ckpt")

    def run(name):
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged + "/chunk_*.parquet")
        )
        agg = (
            stream.groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                as_double(
                    F.sum(F.col("value").cast("decimal(18,6)"))
                ).alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n",
                "sum_value",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)

    half = len(chunks) // 2
    for i, f in enumerate(chunks[:half]):
        shutil.copy2(os.path.join(base, f), os.path.join(staged, f))
        os.utime(os.path.join(staged, f), (1_700_000_000 + i,) * 2)
    first = run("ckpt_stage1")
    assert first.count() > 0  # pre-crash progress was real
    for i, f in enumerate(chunks[half:], start=half):
        shutil.copy2(os.path.join(base, f), os.path.join(staged, f))
        os.utime(os.path.join(staged, f), (1_700_000_000 + i,) * 2)
    resumed = run("ckpt_stage2")

    batch = registry.QUERIES["q_window_tumbling"](spark, sf_dir)
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert rows_set(resumed, cols) == rows_set(batch, cols)


def test_progress_metrics_conserve_input_rows(spark, sf_dir):
    """Σ numInputRows across micro-batches must equal the replayed
    event count exactly — the conservation law a lag monitor relies
    on — and state rows must be populated for the stateful agg."""
    from tile_etl_spark.io import load

    prog = registry.QUERIES["s_progress_metrics"](spark, sf_dir).toPandas()
    total = load(spark, sf_dir, "events").count()
    assert prog.input_rows.sum() == total
    assert (prog.state_rows > 0).any()


def _art_entries(kind: str) -> set[str]:
    from tile_etl_spark.sources import files

    d = os.path.join(files.ART_DIR, kind)
    return set(os.listdir(d)) if os.path.isdir(d) else set()


def _checkpoint_entries() -> set[str]:
    """Every ``checkpoints/<run>`` and ``checkpoints_*`` entry in ART_DIR."""
    from tile_etl_spark.sources import files

    root = files.ART_DIR
    if not os.path.isdir(root):
        return set()
    out = {e for e in os.listdir(root) if e.startswith("checkpoints_")}
    return out | {f"checkpoints/{e}" for e in _art_entries("checkpoints")}


def test_s_dedup_incremental_equals_batch(spark, sf_dir):
    """Micro-batched verify-against-static-index ≡ the H-checked batch
    twin — micro-batching cannot change a per-pair exact computation.
    The result is an eager local checkpoint, so the run leaves no epoch
    output or stream checkpoint behind in the shared ART_DIR."""
    before = _art_entries("s_dedup_incremental")
    s = registry.QUERIES["s_dedup_incremental"](spark, sf_dir)
    assert _art_entries("s_dedup_incremental") <= before
    b = registry.QUERIES["q_dedup_incremental"](spark, sf_dir)
    cols = ["new_id", "idx_id", "jaccard"]
    assert rows_set(s, cols) == rows_set(b, cols)


def test_s_foreachbatch_keeps_only_the_final_version(spark, sf_dir):
    """The upsert chain's result keeps its final version only, as an
    eager local checkpoint: it reads no file under ART_DIR (the run's
    versions are gone, see test_stream_run_leaves_nothing_behind), and
    the final state has one row per user."""
    from tile_etl_spark.io import load

    s = registry.QUERIES["s_foreachbatch"](spark, sf_dir)
    assert s.inputFiles() == []
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    assert s.count() == users.count()


def test_python_ds_stream_offset_resume_no_redelivery(spark, tmp_path):
    """OFFSET MANAGEMENT (VERDICT r4 missing #3): the custom Python
    streaming source restarts from its checkpoint against a GROWN
    backlog. Run 1 sees levels 5..7 (capped latestOffset) and commits;
    the cap is then raised and run 2 restarts from the SAME checkpoint:
    it must deliver exactly levels 8..9 — the restored offset, not
    initialOffset, defines the resume point, so nothing is re-delivered
    and nothing is skipped (an append-mode file sink turns any
    re-delivery into duplicate rows). commit() acknowledgments are
    logged and pinned to the engine's lag-by-one-run semantics."""
    import json
    import os
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    from tile_etl_spark.tiles.grid import level_bounds

    bounds = {lvl: level_bounds(lvl) for lvl in range(5, 10)}
    cap_file = str(tmp_path / "cap.txt")
    commit_log = str(tmp_path / "commits.jsonl")
    ckpt = str(tmp_path / "ckpt")

    class CappedManifestStreamReader(DataSourceStreamReader):
        def __init__(self, bounds_by_level, cap_path, log_path):
            self._bounds = bounds_by_level
            self._cap_path = cap_path
            self._log_path = log_path

        def initialOffset(self):
            return {"level": min(self._bounds)}

        def latestOffset(self):
            with open(self._cap_path) as f:
                return {"level": int(f.read().strip())}

        def partitions(self, start, end):
            return [
                InputPartition(lvl)
                for lvl in range(start["level"], end["level"])
            ]

        def read(self, partition):
            lvl = partition.value
            r0, r1, c0, c1 = self._bounds[lvl]
            for r in range(r0, r1 + 1):
                for c in range(c0, c1 + 1):
                    yield (lvl, r, c)

        def commit(self, end):
            with open(self._log_path, "a") as f:
                f.write(json.dumps(end) + "\n")

    class CappedManifestStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "capped_manifest_stream"

        def schema(self) -> str:
            return "level int, row int, col int"

        def streamReader(self, schema):
            return CappedManifestStreamReader(bounds, cap_file, commit_log)

    spark.dataSource.register(CappedManifestStreamSource)
    out_dir = str(tmp_path / "out")

    def run(cap):
        with open(cap_file, "w") as f:
            f.write(str(cap))
        q = (
            spark.readStream.format("capped_manifest_stream")
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).collect()

    def expected(levels):
        out = set()
        for lvl in levels:
            r0, r1, c0, c1 = bounds[lvl]
            out |= {
                (lvl, r, c)
                for r in range(r0, r1 + 1)
                for c in range(c0, c1 + 1)
            }
        return out

    first = run(8)
    assert {tuple(r) for r in first} == expected(range(5, 8))
    assert len(first) == len(expected(range(5, 8)))  # exactly-once

    resumed = run(10)
    # append-mode file sink: a re-delivered level would DUPLICATE rows;
    # a skipped one would be missing. Exactly the union, each row once.
    assert {tuple(r) for r in resumed} == expected(range(5, 10))
    assert len(resumed) == len(expected(range(5, 10)))

    # commit() acks lag one RUN: Spark acknowledges a run's final batch
    # when the NEXT restart plans new work (observed engine semantics —
    # an idle restart acks nothing). So after run 2, exactly run 1's
    # offset has been acked; a no-new-data run 3 re-delivers nothing
    # and leaves the ack log unchanged.
    third = run(10)
    assert len(third) == len(expected(range(5, 10)))
    commits = [
        json.loads(line)["level"]
        for line in open(commit_log).read().splitlines()
    ]
    assert commits == [8]  # run 1's durable progress, acked by run 2


@pytest.mark.parametrize(
    "qid",
    sorted(
        q for q in registry.QUERIES
        if q.startswith("s_") or q == "src_python_ds_stream"
    ),
)
def test_stream_run_leaves_nothing_behind(spark, sf_dir, qid):
    """A qid that starts a stream ends its checkpoint with the run: the
    checkpoint and foreachBatch-sink entries in the shared ART_DIR are
    the same before and after it (compared, not checked empty: other
    runs' trees may be there), the catalog gains no temp view, no
    stream stays active, and the returned frame still collects the same
    rows twice."""
    from collections import Counter

    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    ckpts, febatch, before_views = (_checkpoint_entries(),
                                    _art_entries("febatch"), views())
    df = registry.QUERIES[qid](spark, sf_dir)
    assert _checkpoint_entries() == ckpts
    assert _art_entries("febatch") == febatch
    assert views() <= before_views
    assert spark.streams.active == []
    first = Counter(map(tuple, df.collect()))
    assert first and Counter(map(tuple, df.collect())) == first
