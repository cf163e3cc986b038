#!/usr/bin/env python
"""Benchmark harness (BASELINE.md protocol).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line ``{"metric", "value", "unit", "queries", "sf"}``. Each query
is forced end-to-end with the noop sink (full computation, no driver
collect)."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tile_etl_spark import registry  # noqa: E402
from tile_etl_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family; anything unregistered yet is
# skipped so the bench stays runnable every round.
HEADLINE = [
    # tile-ETL core (reference parity)
    "q_tile_grid",
    "q_tile_stats",
    "sink_objectstore",
    # scans + filters
    "q_scan_pushdown",
    "q_filter_range",
    # joins
    "q_join_inner",
    "q_join_broadcast",
    "q_join_interval",
    "q_join_asof",
    # aggregation + windows + top-k
    "q_agg_group",
    "q_agg_rollup",
    "q_win_rank",
    "q_topk_per_group",
    "q_sessionize",
    "q_window_tumbling",
    # reshape + UDF surface
    "q_pivot",
    "q_udf_scalar",
    "q_udaf_grouped",
    # LLM-pipeline
    "q_dedup_exact",
    "q_dedup_near",
    "q_dedup_embed",
    "q_sim_cosine_topk",
    "q_text_tfidf",
    "q_text_fingerprint",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# The driver-registered fixture tables; shared by the DuckDB twin
# harness here and tools/make_scale_fixtures.py
# so a fixture-set change lands in one place.
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def measure_floor(spark, runs: int) -> float:
    """Fixed-cost FLOOR probe (VERDICT r8 #2): the wall of a near-empty
    job through the same force() path — job submission, one stage of
    scheduling, noop commit protocol, Py4J round trips. Every ratio
    pairs a Spark wall that contains this floor against an in-process
    DuckDB run that has none; callers record both the raw ratio and
    ratio_floor_adjusted = (t_spark − floor)/t_duck. Measured
    identically to the qids (best of `runs` after one untimed warm)."""
    force(spark.range(1).toDF("x"))
    floor = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        force(spark.range(1).toDF("x"))
        floor = min(floor, time.perf_counter() - t0)
    return round(floor, 4)


def duck_views(con, sf_dir: str) -> None:
    """Register every fixture table present in sf_dir as a DuckDB view,
    mirroring the driver's oracle harness."""
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )


# Round-4 additions, timed separately so the headline total stays
# comparable across rounds (same 24-query set since r1). Spark + DuckDB
# twins both recorded; merged into the same ratios dict.
EXTRA = [
    # ADVICE r11: q_agg_approx was reclassified asymmetric_twin the
    # same round its implementation changed; record its absolute wall
    # and raw ratio here every round so a regression stays visible
    # even though the class excludes it from the fair gate.
    "q_agg_approx",
    "q_join_bloom",
    "q_hist_equiwidth",
    "q_hist_equidepth",
    "q_topk_heavy_hitters",
    "q_ts_rollup",
    "q_ts_resample",
    "q_ts_interpolate",
    "q_text_inverted_index",
    "q_text_cooccur",
    "q_dedup_contain",
    "q_embed_centroids",
    "q_win_islands",
    "q_tile_point_lookup",
    "s_foreachbatch",
    # round-5 additions
    "q_embed_knn_graph",
    "q_attribution",
    "q_agg_bitmap_distinct",
    "q_skyline",
    "q_calendar_fill",
    "q_bm25",
    "q_lm_doc_score",
    "q_text_boilerplate",
    "q_feature_hash",
    "q_session_paths",
    "q_tpch_q7",
    "q_tpch_q12",
    "q_tpch_q14",
    "q_tpch_q19",
    "q_join_asof_fwd",
    "q_rfm_segments",
    "q_tile_sync_delta",
    "q_tile_pyramid",
    # round-6 additions
    "q_tpch_q9",
    "q_tpch_q13",
    "q_tpch_q15",
    "q_tpch_q17",
    "q_tpch_q22",
    "q_corr_pearson",
    "q_cuped",
    "q_sample_reservoir",
    "q_anomaly_window",
    "q_text_vocab_growth",
    "q_tpch_q2",
    "q_tpch_q4",
    "q_tpch_q6",
    "q_tpch_q8",
    "q_tpch_q11",
    "q_tpch_q16",
    "q_tpch_q20",
    "q_variant_funcs",
    "q_delete_propagate",
    "sink_compact",
    "q_tile_haversine",
    "q_ivm_join",
    "q_table_profile",
    # round-7 additions
    "q_tpch_q21",
    "q_sql_udf",
    "q_pipe_sql",
    "q_param_sql",
    "q_collation",
    "q_url_funcs",
    "q_sample_weighted",
    "q_graph_bfs",
    "q_ts_seasonal_decompose",
    "s_tile_ingest",
    "q_dedup_url",
    "q_rolling_distinct",
    "q_scd2_snapshot",
    "q_cdc_apply",
    "src_python_ds_stream",
    "q_observe_metrics",
    "q_multimodal_pngmeta",
    "sink_partition_overwrite",
    "q_text_compress_ratio",
    # driver-round-4 additions
    "q_tile_quadkey",
    "q_dedup_semantic",
    "q_quality_model",
    "q_dedup_segments",
    "q_multimodal_wavmeta",
    "q_agg_countmin",
    "q_agg_bloom_portable",
    "q_tile_knn",
    "q_embed_pq",
    "q_sim_ann_pq",
    "q_text_lang_confusion",
    "q_target_encode",
    "q_join_setsim",
    "q_ts_changepoint",
    "q_win_regression",
    "q_diff_in_diff",
    "q_session_native",
    "q_pareto",
    "q_ts_ohlc",
    "q_sketch_overlap",
    "q_drift_chi2",
    "q_hybrid_rrf",
    "q_epoch_shuffle",
    "q_dedup_incremental",
    "q_embed_truncation_eval",
    "q_dedup_source_matrix",
    "q_quality_agreement",
    "q_embed_quality",
    "q_source_yield",
    "q_shingle_novelty",
    "q_context_pack",
    "q_mixture_interleave",
    "q_pack_efficiency",
    "q_tile_storage_plan",
    "q_agg_weighted_median",
    "q_text_hapax",
    "q_ts_gap_stats",
    "q_join_skew_profile",
    # round-6 rewrite coverage: the two-pass global-rank/sweep rewrites
    "q_peak_concurrency",
    "q_cumulative_uniques",
    # round-8 additions (lakehouse ops + governance)
    "q_merge_audit",
    "q_table_changes",
    "q_kanon_audit",
    "q_table_checksum",
]


# Ratio classes (VERDICT r7 ask #7): a Spark/DuckDB wall ratio is only
# a meaningful gate for qids where both engines do equivalent work.
#  - "sink": the Spark side writes data out (distributed PUT / parquet
#    / compaction); the DuckDB twin only recomputes final status rows.
#  - "stream_twin": the Spark side runs the streaming engine
#    (micro-batch planning, state stores, offset tracking); the twin
#    recomputes final state as one batch query.
#  - "artifact_cached": the timed region reads a persisted derived
#    artifact (the lakehouse tile inventory) while the twin regenerates
#    from scratch each run — the engine's real serving path, but not an
#    execution-speed comparison. The honest derivation cost is the
#    qid's cold_queries entry (first build of the round, timed).
#  - "asymmetric_twin" (r9, VERDICT r8 #4): the DuckDB oracle does
#    STRUCTURALLY LESS WORK than the Spark side — the multimodal
#    header qids build AND parse real binary WAV/PNG headers in Spark
#    while the twin derives the same metadata arithmetically, never
#    touching bytes. The ratio is not a performance signal either way;
#    absolute walls stay recorded.
#  - "fair": everything else; the ≤2x gate applies.
# r9 audit (VERDICT r8 #4): q_tile_sync_delta joined artifact_cached —
# its warm Spark run reads the persisted tile inventory (tiles/grid.py
# memo) on BOTH join sides while the twin regenerates the grid per
# run, the same property as q_tile_grid/q_tile_stats. q_embed_quality
# audited and kept FAIR: both engines fold the full embedding arrays
# (list_dot_product vs zip_with/aggregate) — the gap is Spark's
# interpreted HOF fold, a real execution-speed signal.
# q_dedup_near enters the ratio set in r9 (its verified output gained
# an exact oracle): its warm run reads the persisted shingle/LSH
# artifacts while the twin re-shingles and re-joins from scratch —
# artifact_cached by the same r8 rule; the honest derivation cost is
# its cold_queries entry.
_ARTIFACT_CACHED = {
    "q_tile_grid", "q_tile_stats", "q_tile_sync_delta", "q_dedup_near",
}
_ASYMMETRIC_TWIN = {"q_multimodal_wavmeta", "q_multimodal_pngmeta",
                    # r11: tolerance-oracle qid — the DuckDB twin is a
                    # bare count(*) (the TRUE/TRUE tolerance contract
                    # is trivially satisfied exact-vs-exact) while the
                    # Spark side runs the HLL/quantile sketches PLUS
                    # their exact verification legs; the ratio measures
                    # the verification harness, not a plan (surfaced by
                    # the r11 targeted sweep: 246x adj with a 0.008 s
                    # denominator). Walls stay recorded.
                    "q_agg_approx"}
#  - "two_action" (r11, VERDICT r10 #5): the Spark side runs TWO
#    actions by construction — q_observe_metrics pins the `observe`
#    listener API, which requires an observed action (the count())
#    plus the 1-row result build — while the twin is one aggregation.
#    At scale the observation rides a pass the pipeline makes anyway,
#    so the 2x-ish wall is an artifact of the pinning harness, not a
#    plan property; excluded from fair counts like the other classes.
_TWO_ACTION = {"q_observe_metrics"}


def ratio_class(qid: str) -> str:
    if qid.startswith("sink_"):
        return "sink"
    if qid.startswith(("s_", "src_python_ds_stream")):
        return "stream_twin"
    if qid in _ARTIFACT_CACHED:
        return "artifact_cached"
    if qid in _ASYMMETRIC_TWIN:
        return "asymmetric_twin"
    if qid in _TWO_ACTION:
        return "two_action"
    return "fair"


def box_probe_sha() -> float:
    """The sha256 leg of box_probe alone (~20 ms): cheap enough to run
    before EVERY timed qid window, so a mid-region host-throughput dip
    (the documented 30-45% minute-scale swing, invisible between the
    start/end probes — VERDICT r11 #3) is attributable in-artifact to
    the qids that ran during it."""
    import hashlib

    buf = b"\xa5" * 65536
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(400):
        h.update(buf)
    h.digest()
    return round(time.perf_counter() - t0, 4)


def box_probe() -> dict[str, float]:
    """Fixed single-core CPU calibration, recorded in the artifact so
    round-over-round comparisons can normalize for BOX speed. Round 11
    found the machine itself drifting: r9's exact code re-run on the
    r11 box measured 5.63 s against its own committed 3.55-3.79 s
    band, and the Spark noop floor rose 0.025 -> 0.035 s on identical
    code — cross-session wall comparisons without a box constant are
    meaningless. Two probes: C-side throughput (sha256 over a hot
    buffer) and interpreter speed (pure-python arithmetic loop). Both
    deterministic, ~0.3 s total, run before the quiet wait and again
    after the timed region."""
    import hashlib

    buf = b"\xa5" * 65536
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(400):
        h.update(buf)
    sha = time.perf_counter() - t0
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    loop = time.perf_counter() - t0
    return {
        "sha256_25mb_sec": round(sha, 4),
        "pyloop_2m_sec": round(loop, 4),
    }


def _loadavg() -> list[float]:
    """1/5/15-min load averages — recorded in the bench output because
    this box shows ambient load bursts (1-min load 4-9 with zero of our
    processes running; r5's driver record was ~+21% vs the committed
    record for exactly this reason). A record taken at load ≳ 2 should
    be read with that context."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


QUIET_THRESHOLD = 4.0  # 1-min loadavg gate (BASELINE.md protocol row)

# In-region contamination gate (VERDICT r10 #2). Loadavg cannot serve
# here: the bench's OWN 32-thread JVM pushes 1-min load past 4 in any
# healthy run (measured 4.9 on an otherwise idle box), so an absolute
# loadavg threshold inside the region flags every pass — it certifies
# nothing. The honest instrument is EXTERNAL CPU: total busy jiffies
# from /proc/stat minus the jiffies consumed by our own process tree
# (this python, the py4j JVM child, pyspark daemons/workers under it),
# sampled around each qid's consecutive timed runs. Ambient bursts on
# this box run 4-9 foreign cores; >2 of 32 cores of foreign work over
# a qid's timed window marks that qid contaminated.
EXTERNAL_CORES_THRESHOLD = 2.0
_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _cpu_sample() -> tuple[int, int]:
    """(busy_jiffies_all_cpus, own_process_tree_jiffies) from /proc.

    Own tree = this pid plus all live descendants (the JVM is our
    child; pyspark daemons are its children), each process's
    utime+stime+cutime+cstime — cutime/cstime only accrue for reaped
    children, so adding them alongside live children's own time never
    double-counts. The walk is a few ms and runs OUTSIDE the per-run
    timed windows."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        busy = sum(vals) - vals[3] - (vals[4] if len(vals) > 4 else 0)
        info: dict[int, tuple[int, int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    s = f.read()
            except OSError:
                continue  # raced a process exit
            rest = s[s.rindex(")") + 2:].split()
            info[int(p)] = (
                int(rest[1]),
                int(rest[11]) + int(rest[12])
                + int(rest[13]) + int(rest[14]),
            )
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in info.items():
            kids.setdefault(ppid, []).append(pid)
        own, stack = 0, [os.getpid()]
        while stack:
            p = stack.pop()
            if p in info:
                own += info[p][1]
                stack.extend(kids.get(p, []))
        return busy, own
    except OSError:
        return 0, 0


def _wait_for_quiet(max_wait_s: int,
                    threshold: float = QUIET_THRESHOLD) -> tuple[float, bool]:
    """Bounded wait for the 1-min load to drop under ``threshold``
    before the timed region starts. This box shows ambient load bursts
    (BASELINE.md: ±13% r8 band attributed to them with per-run loadavg
    evidence); the OFFICIAL r9 record started at loadavg 13-17 and
    overstated the wall by ~30% vs the quiet band — VERDICT r9 #2 made
    this an enforced gate. The wait is still BOUNDED — worst case we
    run anyway — but the record now carries ``load_gated``: True means
    the timed region started quiet; False flags the record as
    load-contaminated so round-over-round comparisons can discount it.
    Returns (seconds waited, load_gated)."""
    t0 = time.perf_counter()
    deadline = t0 + max_wait_s
    while True:
        la = _loadavg()
        if not la or la[0] < threshold:
            return round(time.perf_counter() - t0, 1), True
        if time.perf_counter() >= deadline:
            return round(time.perf_counter() - t0, 1), False
        time.sleep(5)


def _ensure_sf1_fixtures(sf1_dir: str) -> dict:
    """Materialize the deterministic ×10 sf1 fixture set (idempotent —
    tools/make_scale_fixtures.py reuses an existing set via its recipe
    marker). Runs as a subprocess AFTER the sf0.1 timed region, so a
    cold generation can never contaminate the headline windows; its
    wall is recorded either way. This is INPUT derivation (the same
    committed amplification every r13 A/B used), not result caching:
    every sf1 query still computes from the parquet files."""
    import subprocess

    tool = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tools", "make_scale_fixtures.py",
    )
    t0 = time.perf_counter()
    try:
        r = subprocess.run(
            [sys.executable, tool, "--out", sf1_dir, "--k", "10"],
            capture_output=True, text=True, timeout=1800,
        )
        line = (r.stdout.strip().splitlines() or [""])[-1]
        status = json.loads(line).get("status", "generated")
        ok = r.returncode == 0
    except Exception as ex:
        status, ok = f"error: {str(ex)[:120]}", False
    return {
        "ok": ok,
        "status": status,
        "gen_sec": round(time.perf_counter() - t0, 1),
    }


def run_sf1_tier(spark, qids: list[str], sf1_dir: str, runs: int,
                 n_cpus: int | None) -> dict:
    """The sf1 headline tier (VERDICT r13 #1): per-qid sf1 walls +
    DuckDB-twin ratios with the same contamination instruments as the
    sf0.1 region. The sf0.1 bench is floor-bound (job floor + decode
    constants dominate sub-0.35 s walls), so optimization claims need a
    tier where data volume and parallelism are visible; this emits it
    in the SAME artifact every round. Runs AFTER the sf0.1 record is
    complete — nothing here can contaminate the headline. Session conf
    flips to the >0.2-SF posture (AQE on, width from input size/cores);
    the process exits after this, so nothing needs restoring."""
    cpus = n_cpus or os.cpu_count() or 8
    spark.conf.set("spark.sql.shuffle.partitions", str(max(32, cpus)))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.files.minPartitionNum", str(cpus))
    spark.conf.set("spark.sql.files.openCostInBytes", "262144")
    force(spark.read.parquet(f"{sf1_dir}/lineitem.parquet"))
    from tile_etl_spark.operators.bucketed import orders_by_custkey

    orders_by_custkey(spark, sf1_dir)
    floor = measure_floor(spark, runs)
    budget_s = float(os.environ.get("SPARK_GRAFT_SWEEP_BUDGET", "120"))

    import threading

    def guarded_force(qid: str) -> float:
        cancelled = threading.Event()

        def _cancel() -> None:
            cancelled.set()
            spark.sparkContext.cancelAllJobs()

        t0 = time.perf_counter()
        watchdog = threading.Timer(budget_s, _cancel)
        watchdog.start()
        try:
            force(registry.QUERIES[qid](spark, sf1_dir))
        finally:
            watchdog.cancel()
        if cancelled.is_set():
            raise TimeoutError(f"spark wall > {budget_s}s (cancelled)")
        return time.perf_counter() - t0

    cold: dict[str, float] = {}
    times: dict[str, float] = {}
    qid_box: dict[str, float] = {}
    qid_ext: dict[str, float] = {}
    errors: dict[str, str] = {}
    for qid in qids:
        try:
            cold[qid] = round(guarded_force(qid), 4)
        except Exception as ex:
            errors[qid] = str(ex)[:160]
            continue
        qid_box[qid] = box_probe_sha()
        b0, o0 = _cpu_sample()
        tw0 = time.perf_counter()
        try:
            best = cold[qid]
            for _ in range(runs):
                best = min(best, guarded_force(qid))
        except Exception as ex:
            errors[qid] = str(ex)[:160]
            continue
        dt = time.perf_counter() - tw0
        b1, o1 = _cpu_sample()
        qid_ext[qid] = (
            max(0, (b1 - b0) - (o1 - o0)) / max(dt * _CLK_TCK, 1e-9)
            if b1 > b0
            else -1.0
        )
        times[qid] = round(best, 4)

    duck_times: dict[str, float] = {}
    try:
        import duckdb

        con = duckdb.connect()
        duck_views(con, sf1_dir)
        for qid in qids:
            sql = registry.ORACLES.get(qid)
            if not sql or qid not in times:
                continue
            running = threading.Event()
            fired = threading.Event()

            def _interrupt() -> None:
                if running.is_set():
                    fired.set()
                    con.interrupt()

            try:
                best = float("inf")
                for _ in range(runs):
                    running.set()
                    watchdog = threading.Timer(budget_s, _interrupt)
                    watchdog.start()
                    try:
                        t0 = time.perf_counter()
                        con.execute(sql).arrow()
                        dt = time.perf_counter() - t0
                    finally:
                        running.clear()
                        watchdog.cancel()
                        watchdog.join()
                    if fired.is_set():
                        try:  # absorb a stale interrupt
                            con.execute("SELECT 1").fetchall()
                        except Exception:
                            pass
                        fired.clear()
                    best = min(best, dt)
                    if dt >= 3:
                        break  # multi-second twins don't need best-of-N
                duck_times[qid] = round(best, 4)
            except Exception as ex:
                errors[qid] = f"duck: {str(ex)[:150]}"
        con.close()
    except Exception as ex:
        print(f"SF1 DUCK ERROR: {str(ex)[:160]}", file=sys.stderr)

    retime_gate = float(os.environ.get("SPARK_GRAFT_QID_RETIME_SHA",
                                       "0.021"))
    # Same reaction as the sf0.1 region (VERDICT r12 #1 discipline): a
    # window hit by a box dip or foreign burst is RE-TIMED under a
    # bounded budget, accepted only when both instruments pass — the
    # r14 shakedown run had an ambient burst land on the tier's tail
    # windows (7 qids flagged 2.4-6.8 foreign cores), which without
    # this would stand as the round's sf1 record.
    retimes: dict[str, dict] = {}
    dipped = [
        q for q in qids
        if q in times
        and (qid_box.get(q, 0.0) > retime_gate
             or qid_ext.get(q, 0.0) > EXTERNAL_CORES_THRESHOLD)
    ]
    wait_deadline = time.perf_counter() + float(
        os.environ.get("SPARK_GRAFT_RETIME_WAIT", "300")
    )
    for qid in dipped:
        rec = {
            "orig_wall_best": times[qid],
            "orig_probe": qid_box.get(qid),
            "orig_external_cores": round(qid_ext.get(qid, -1.0), 2),
            "attempts": [],
            "accepted": False,
        }
        for _ in range(3):
            p0 = box_probe_sha()
            if p0 > retime_gate:
                if time.perf_counter() >= wait_deadline:
                    break
                time.sleep(5)
                continue
            b0, o0 = _cpu_sample()
            tw0 = time.perf_counter()
            try:
                best = float("inf")
                for _ in range(runs):
                    best = min(best, guarded_force(qid))
            except Exception as ex:
                rec["attempts"].append({"error": str(ex)[:120]})
                break
            dt = time.perf_counter() - tw0
            b1, o1 = _cpu_sample()
            ext = (
                max(0, (b1 - b0) - (o1 - o0)) / max(dt * _CLK_TCK, 1e-9)
                if b1 > b0
                else -1.0
            )
            p1 = box_probe_sha()
            rec["attempts"].append(
                {"probe_start": p0, "probe_end": p1,
                 "external_cores": round(ext, 2),
                 "wall_best": round(best, 4)}
            )
            if (p1 <= retime_gate * 1.2
                    and ext <= EXTERNAL_CORES_THRESHOLD):
                rec["accepted"] = True
                times[qid] = round(best, 4)
                qid_box[qid] = p0
                qid_ext[qid] = ext
                break
        retimes[qid] = rec
    return {
        "dir": sf1_dir,
        "sf": 1.0,
        "runs": runs,
        "cpus": cpus,
        "floor_sec": floor,
        "value": round(sum(times.values()), 4),
        "queries": times,
        "cold_queries": cold,
        "duck_queries": duck_times,
        "ratios": {
            q: round(times[q] / max(d, 1e-6), 2)
            for q, d in duck_times.items()
            if q in times
        },
        "ratio_class": {q: ratio_class(q) for q in times},
        "errors": errors,
        "qid_box_sha": {q: s for q, s in sorted(qid_box.items())},
        "box_flagged_qids": {
            q: s for q, s in sorted(qid_box.items()) if s > retime_gate
        },
        "flagged_qids": {
            q: round(e, 2)
            for q, e in qid_ext.items()
            if e > EXTERNAL_CORES_THRESHOLD
        },
        "retimes": retimes,
        "note": (
            "sf1 tier runs after the sf0.1 record completes (cannot "
            "contaminate it); conf = AQE on, shuffle max(32,cpus), "
            "minPartitionNum=cpus; warm best-of-n after a recorded "
            "cold; duck twins stop at best-of-1 once a run >= 3 s"
        ),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # opt out with SPARK_GRAFT_QUIET_WAIT=0; default 600 s cap (the r9
    # 120 s cap ran out mid-burst and produced the contaminated record)
    # Fast-box gate for RECORD runs — ON BY DEFAULT since r12 (ADVICE
    # r12: this paragraph previously still said "off by default"): the
    # bench waits up to 15 min for the single-core sha probe to drop to
    # SPARK_GRAFT_BOX_GATE_SHA (default 0.021, the fast-mode reading
    # across the r11 protocol), then proceeds regardless with the state
    # recorded in box_probe_start. Set the env var to 0 to disable the
    # wait entirely. Rationale: the r11 protocol showed the headline
    # tracks box speed 3.77-5.21 s on identical code; a record taken on
    # a slow-box minute understates the engine, and cross-round records
    # need a shared denominator (VERDICT r11 #6).
    box_gate = float(os.environ.get("SPARK_GRAFT_BOX_GATE_SHA", "0.021"))
    if box_gate > 0:
        deadline = time.perf_counter() + 900
        while True:
            p = box_probe()
            if p["sha256_25mb_sec"] <= box_gate:
                break
            if time.perf_counter() >= deadline:
                print(f"box gate timed out at {p}", file=sys.stderr)
                break
            time.sleep(20)
    probe_start = box_probe()
    quiet_wait = int(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "600"))
    if quiet_wait > 0:
        waited, load_gated = _wait_for_quiet(quiet_wait)
    else:
        la = _loadavg()
        waited, load_gated = 0.0, bool(not la or la[0] < QUIET_THRESHOLD)
    load_start = _loadavg()

    registry.load_all()
    qids = [q for q in HEADLINE if q in registry.QUERIES]
    extra_qids = [q for q in EXTRA if q in registry.QUERIES]

    # Size the shuffle width to the benchmark's data volume: at sf≤0.2
    # every shuffle stage moves at most a few MB, and 32 reduce tasks
    # cost more in scheduler overhead than they buy in parallelism
    # (measured on the 8 floor-dominated headline qids: 32→8 partitions
    # shaves ~10% wall; AQE still coalesces/splits adaptively on top).
    # A real deployment uses cluster_conf()'s 2000 + 128MB advisory.
    # r14 (VERDICT r13 #2): the proposed max(8, $SPARK_GRAFT_CPUS)
    # derivation was A/B'd (same JVM, interleaved arms, 5 reps, probes
    # in-gate 0.018-0.019) and LOST: width 32 on local[32] regressed
    # the sf0.1 headline sum-of-medians +29.7% (7.91 -> 10.26 s;
    # q_text_tfidf +200%, q_dedup_embed/exact +67-69%) — at this SF
    # every shuffle carries KBs and extra reduce tasks are pure
    # scheduler overhead, so widening CANNOT make core-count ratios
    # informative, it only slows both runs (plans/r14/
    # AB_SHUFFLE_WIDTH.json). The width stays env-derived but capped:
    # min(8, cpus) — a sub-8-core driver run no longer over-partitions
    # — and the core-scaling CONTRACT is carried by the sf1 tier below
    # (run_sf1_tier), where walls are data-dominated and 8-vs-32-core
    # ratios mean something; scaling_note documents the floor analysis
    # in-artifact.
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE")
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "")
    n_cpus = int(cpus_env) if cpus_env.isdigit() else None
    if shuffle is None and sf is not None and sf <= 0.2:
        shuffle = str(min(8, n_cpus)) if n_cpus else "8"
    # Small-input fast path: AQE's per-exchange driver barrier (runtime
    # stats collection + re-planning) costs ~50-150 ms/stage and buys
    # nothing when every shuffle carries KBs. Measured A/B on the full
    # 24-query headline set at sf0.1: 11.1 s → 8.1 s (-27%), with only
    # q_text_tfidf/q_text_fingerprint mildly slower (+15%) and no
    # correctness dependence (plan tests run AQE-on). cluster_conf()
    # keeps AQE on — at real scale the re-plan pays for itself.
    aqe = os.environ.get("SPARK_GRAFT_AQE")
    if aqe is None and sf is not None and sf <= 0.2:
        aqe = "false"
    spark = get_spark(app_name="tile-etl-spark-bench",
                      shuffle_partitions=shuffle, adaptive=aqe)
    # Warm the JVM + parquet footers once so per-query times measure the
    # query, not session bootstrap.
    force(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))

    # Explicit setup step (ADVICE r7): the custkey-bucketed orders copy
    # that gives q_topk_per_group its zero-exchange plan is an ingest
    # artifact, not a query side effect — build it (or detect its
    # absence) here, before any warm/timed pass, and record which path
    # the timed query actually takes.
    from tile_etl_spark.operators.bucketed import orders_by_custkey

    topk_path = (
        "bucketed"
        if orders_by_custkey(spark, sf_dir) is not None
        else "plain_view"
    )

    # Warm pass: run every headline qid once, timed as its COLD build.
    # Fingerprinted artifact caches (tile fixtures, MinHash signatures,
    # IVF index) rebuild when source mtimes change — BENCH_r02 showed
    # that rebuild landing inside the timed window inflates
    # q_tile_stats / sink_objectstore by 2-3×. The warm pass pays all
    # one-time builds (plus whole-stage-codegen compile) before any
    # warm clock starts; its per-qid wall is recorded as cold_queries
    # in BENCH_FULL.json (ADVICE r7: warm-run numbers alone hide what a
    # first run costs — tile-inventory derivation, LSH candidate
    # build, plan construction).
    # Per-qid dim-cache population attribution (VERDICT r13 #5): each
    # cached_dim_view build (eager noop materialization, io.py) lands
    # in io.DIM_CACHE_BUILDS; draining it after every cold run names
    # the qid whose cold wall paid each build.
    from tile_etl_spark.io import DIM_CACHE_BUILDS

    cold_times: dict[str, float] = {}
    cold_dim_builds: dict[str, list] = {}
    for qid in qids + extra_qids:
        try:
            DIM_CACHE_BUILDS.clear()
            t0 = time.perf_counter()
            force(registry.QUERIES[qid](spark, sf_dir))
            cold_times[qid] = round(time.perf_counter() - t0, 4)
            if DIM_CACHE_BUILDS:
                cold_dim_builds[qid] = list(DIM_CACHE_BUILDS)
        except Exception as ex:  # keep the bench runnable every round
            print(f"WARM ERROR {qid}: {str(ex)[:120]}", file=sys.stderr)

    # BASELINE.md protocol: warm-cache timing — run each query N times,
    # report the fastest (a long-lived cluster amortizes one-time costs).
    # Best-of-3: this box shows ~1.6× whole-run noise windows (periodic
    # harness ticks); with 3 runs at least one lands clean.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    # Floor probe: see measure_floor — the gate is reported both raw
    # and floor-adjusted.
    floor = measure_floor(spark, runs)
    # Timed region: per-qid CONSECUTIVE best-of-N, the r2-r9 protocol.
    # (A full-pass restructure was tried for the r10 band and measured
    # 2-3x slower across the board: interleaving 130 distinct plans
    # between repeats thrashes the whole-stage-codegen compilation
    # cache, so every "warm" run recompiled. Consecutive repeats are
    # the honest warm number; the cache is also raised in
    # session.get_spark.) The per-run times are kept per column so the
    # BAND (VERDICT r9 #6) derives from the same work: pass_i = sum
    # over headline qids of each qid's i-th consecutive run — the
    # six-run-style band now rides in the primary artifact instead of
    # BASELINE.md prose. Raise SPARK_GRAFT_BENCH_RUNS for a wider band.
    # Per-qid contamination probe (VERDICT r10 #2): the r10 gate
    # certified only the START of the timed region while 1-min load
    # rose 3.68 -> 8.06 inside it. Because the timed loop is per-qid
    # CONSECUTIVE, a time-local ambient burst lands on ALL N runs of
    # whatever qid was executing — the meaningful contamination unit is
    # the QID, not the pass. Each qid's timed window is bracketed by
    # _cpu_sample(); foreign-core usage above EXTERNAL_CORES_THRESHOLD
    # flags that qid (and, through the weighted mean, the passes its
    # runs ride in). Loadavg is NOT used in-region: the bench's own
    # JVM exceeds any sane absolute threshold (see EXTERNAL_CORES_
    # THRESHOLD comment).
    run_times: dict[str, list[float]] = {}
    qid_ext: dict[str, float] = {}
    # Per-qid box-speed bracket (VERDICT r11 #4): the external-cores
    # probe sees foreign CPU but not the host's own throughput dips;
    # a ~20 ms sha probe before each qid window builds a timeline that
    # attributes a slow window to box speed in-artifact.
    qid_box: dict[str, float] = {}
    times: dict[str, float] = {}
    extra_times: dict[str, float] = {}
    for qid in qids + extra_qids:
        if qid not in cold_times:
            continue  # cold run errored; don't abort the whole bench
        fn = registry.QUERIES[qid]
        rs: list[float] = []
        qid_box[qid] = box_probe_sha()
        b0, o0 = _cpu_sample()
        tw0 = time.perf_counter()
        try:
            for _ in range(runs):
                t0 = time.perf_counter()
                force(fn(spark, sf_dir))
                rs.append(time.perf_counter() - t0)
        except Exception as ex:  # keep the bench runnable every round
            print(f"TIMED ERROR {qid}: {str(ex)[:120]}", file=sys.stderr)
            continue
        dt = time.perf_counter() - tw0
        b1, o1 = _cpu_sample()
        run_times[qid] = rs
        qid_ext[qid] = (
            max(0, (b1 - b0) - (o1 - o0)) / max(dt * _CLK_TCK, 1e-9)
            if b1 > b0
            else -1.0  # probe unavailable (non-/proc platform)
        )
        (times if qid in qids else extra_times)[qid] = round(min(rs), 4)

    # React to the per-qid box probe (VERDICT r12 #1): the r12 driver
    # record had clean_n=0 — every pass flagged — because the gate
    # certified only the START of the run while the box dipped
    # mid-region (start sha 0.0199, median window probe 0.0212, worst
    # 0.0323), and the bench could see the dip per qid but only FLAG
    # it. Now any qid whose window probe exceeded the gate is RE-TIMED
    # after the main loop: bounded wait for the box to recover, probe
    # before AND after the retimed window, accept only an in-gate
    # window, and replace the qid's runs so the headline is built from
    # in-gate windows. Both timings + probes stay in band.retimes — a
    # retime is an attributed re-measurement, never a silent overwrite.
    retime_gate = float(
        os.environ.get(
            "SPARK_GRAFT_QID_RETIME_SHA",
            str(box_gate) if box_gate > 0 else "0.021",
        )
    )
    retimes: dict[str, dict] = {}
    if retime_gate > 0:
        # both contamination instruments trigger a retime: a box-speed
        # dip (window probe over the gate) OR a foreign-CPU burst
        # (external cores over threshold) — the first r13 record was
        # box-clean but still clean_n=0 because ambient bursts hit 5
        # qid windows and only the box instrument could trigger retimes
        dipped = [
            q for q in qids + extra_qids
            if q in run_times
            and (qid_box.get(q, 0.0) > retime_gate
                 or qid_ext.get(q, 0.0) > EXTERNAL_CORES_THRESHOLD)
        ]
        # bounded: headline qids first, global wait budget shared
        # across all retimes so a persistently-slow box cannot stall
        # the record (worst case we keep the original flagged windows)
        dipped.sort(key=lambda q: (q not in qids, qids.index(q)
                                   if q in qids else 0))
        wait_deadline = time.perf_counter() + float(
            os.environ.get("SPARK_GRAFT_RETIME_WAIT", "300")
        )
        for qid in dipped:
            rec = {
                "orig_wall_best": (times if qid in qids
                                   else extra_times)[qid],
                "orig_probe": qid_box[qid],
                "orig_external_cores": round(qid_ext.get(qid, -1.0), 2),
                "attempts": [],
                "accepted": False,
            }
            fn = registry.QUERIES[qid]
            for _ in range(3):  # bounded attempts per qid
                p0 = box_probe_sha()
                if p0 > retime_gate:
                    if time.perf_counter() >= wait_deadline:
                        break
                    time.sleep(5)
                    continue
                b0, o0 = _cpu_sample()
                tw0 = time.perf_counter()
                try:
                    rs = []
                    for _ in range(runs):
                        t0 = time.perf_counter()
                        force(fn(spark, sf_dir))
                        rs.append(time.perf_counter() - t0)
                except Exception as ex:
                    print(f"RETIME ERROR {qid}: {str(ex)[:120]}",
                          file=sys.stderr)
                    break
                dt = time.perf_counter() - tw0
                b1, o1 = _cpu_sample()
                ext = (
                    max(0, (b1 - b0) - (o1 - o0))
                    / max(dt * _CLK_TCK, 1e-9)
                    if b1 > b0
                    else -1.0
                )
                p1 = box_probe_sha()
                att = {"probe_start": p0, "probe_end": p1,
                       "external_cores": round(ext, 2),
                       "runs": [round(r, 4) for r in rs]}
                rec["attempts"].append(att)
                # accept only a window that STAYED in-gate (small
                # closing tolerance: the end probe rides scheduler
                # noise the start probe already gated) with no foreign
                # CPU burst — the retime must pass BOTH contamination
                # instruments or it doesn't replace anything
                if (p1 <= retime_gate * 1.2
                        and ext <= EXTERNAL_CORES_THRESHOLD):
                    rec["accepted"] = True
                    run_times[qid] = rs
                    qid_box[qid] = p0
                    qid_ext[qid] = ext
                    (times if qid in qids
                     else extra_times)[qid] = round(min(rs), 4)
                    break
            if (rec["attempts"] or rec["orig_probe"] > retime_gate
                    or rec["orig_external_cores"]
                    > EXTERNAL_CORES_THRESHOLD):
                retimes[qid] = rec

    flagged_qids = {
        q: round(e, 2)
        for q, e in qid_ext.items()
        if e > EXTERNAL_CORES_THRESHOLD
    }
    pass_walls = [
        round(sum(run_times[q][i] for q in qids if q in run_times), 4)
        for i in range(runs)
    ]
    # pass-level external load = wall-weighted mean of the per-qid
    # probes over that pass's constituent runs (a burst smears across
    # a qid's runs, so per-pass numbers are indicative; flagged_qids is
    # the authoritative list). A pass is clean iff none of its
    # constituent headline qids was flagged.
    pass_ext = []
    for i in range(runs):
        num = sum(
            qid_ext[q] * run_times[q][i]
            for q in qids
            if q in run_times and qid_ext.get(q, -1) >= 0
        )
        den = sum(
            run_times[q][i]
            for q in qids
            if q in run_times and qid_ext.get(q, -1) >= 0
        )
        pass_ext.append(round(num / den, 2) if den else -1.0)
    pass_clean = [
        not any(q in flagged_qids for q in qids if q in run_times)
    ] * runs if flagged_qids else [True] * runs
    clean_walls = sorted(
        w for w, ok in zip(pass_walls, pass_clean) if ok
    ) or sorted(pass_walls)
    # Box-speed summary over the timed region: the HEADLINE windows'
    # probes (pass walls sum headline qids only) plus a closing probe.
    box_tl = sorted(
        [s for q, s in qid_box.items() if q in qids] + [box_probe_sha()]
    )
    box_sum = (
        {
            "sha_min": box_tl[0],
            "sha_median": box_tl[len(box_tl) // 2],
            "sha_max": box_tl[-1],
        }
        if box_tl
        else {}
    )
    band = {
        "n": len(pass_walls),
        "clean_n": sum(pass_clean),
        "min": clean_walls[0],
        "median": clean_walls[len(clean_walls) // 2],
        "max": clean_walls[-1],
        "passes": [
            {"wall": w, "external_cores": e, "clean": ok}
            for w, e, ok in zip(pass_walls, pass_ext, pass_clean)
        ],
        # region-wide probe summary, recorded ONCE (ADVICE r12: the
        # per-pass copy read as a per-pass measurement; the real
        # per-window attribution is qid_box_sha below)
        "box_probe_region": box_sum,
        # VERDICT r12 #1: per-qid retime reaction — original + retimed
        # walls and probes for every qid whose window probe exceeded
        # the gate; box_flagged_qids lists the windows that are STILL
        # out-of-gate after bounded retries (empty on a clean record)
        "retime_gate_sha": retime_gate,
        "retimes": retimes,
        "box_flagged_qids": {
            q: s for q, s in sorted(qid_box.items())
            if retime_gate > 0 and s > retime_gate
        },
        "external_cores_threshold": EXTERNAL_CORES_THRESHOLD,
        "flagged_qids": flagged_qids,
        # per-qid consecutive timing puts ALL passes of a qid inside
        # one window, so each pass shares the region-wide probe
        # timeline (box_probe above); this map attributes a dip to the
        # specific qid windows it bracketed.
        "qid_box_sha": {q: s for q, s in sorted(qid_box.items())},
        # headline sum with contamination-flagged qids dropped, so a
        # partially-contaminated record stays comparable (alongside
        # the list of what was dropped — no silent caps)
        "headline_wall_excluding_flagged": round(
            sum(v for q, v in times.items() if q not in flagged_qids), 4
        ),
        "note": "pass_i = sum over headline qids of each qid's i-th "
        "consecutive run; 'value' remains sum of per-qid best-of-n. "
        "external_cores = foreign CPU (total busy minus our process "
        "tree, /proc jiffies) during the timed windows; a qid above "
        f"{EXTERNAL_CORES_THRESHOLD} cores is contamination-flagged "
        "and flags every pass containing its runs (consecutive "
        "timing puts a burst on all of a qid's runs at once). "
        "clean_n=0 falls back to all-pass stats. pass_1 may carry "
        "residual first-run effects (codegen, artifact cache fill).",
    }

    # DuckDB side of the BASELINE gate (Spark ≤ 2× DuckDB per qid):
    # time each headline qid's oracle twin on the same parquet so the
    # bench record carries the ratio, not just the Spark absolute.
    # The DENOMINATOR gets the same contamination probe as the Spark
    # side: a foreign burst during a twin's window inflates the duck
    # wall and understates the ratio — symmetric honesty.
    duck_times: dict[str, float] = {}
    duck_flagged: dict[str, float] = {}
    try:
        import duckdb

        con = duckdb.connect()
        duck_views(con, sf_dir)
        for qid in qids + extra_qids:
            sql = registry.ORACLES.get(qid)
            if not sql:
                continue  # B/R qid: no SQL twin; ratio omitted by design
            best = float("inf")
            b0, o0 = _cpu_sample()
            tw0 = time.perf_counter()
            for _ in range(runs):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                best = min(best, time.perf_counter() - t0)
            dt = time.perf_counter() - tw0
            b1, o1 = _cpu_sample()
            ext = (
                max(0, (b1 - b0) - (o1 - o0))
                / max(dt * _CLK_TCK, 1e-9)
                if b1 > b0
                else -1.0
            )
            if ext > EXTERNAL_CORES_THRESHOLD:
                duck_flagged[qid] = round(ext, 2)
            duck_times[qid] = round(best, 4)
        # Symmetric retime (r13): a foreign burst during a TWIN's
        # window inflates the denominator and silently UNDERSTATES the
        # ratio — the same honesty rule that retimes Spark windows must
        # re-run flagged duck windows, or the gate reads better than
        # reality. Same bounded protocol: shared wait budget, ≤3
        # attempts, accept only a window with no foreign burst.
        duck_retimes: dict[str, dict] = {}
        wait_deadline = time.perf_counter() + float(
            os.environ.get("SPARK_GRAFT_RETIME_WAIT", "300")
        )
        for qid in list(duck_flagged):
            sql = registry.ORACLES[qid]
            rec = {"orig_wall_best": duck_times[qid],
                   "orig_external_cores": duck_flagged[qid],
                   "attempts": [], "accepted": False}
            for _ in range(3):
                b0, o0 = _cpu_sample()
                tw0 = time.perf_counter()
                best = float("inf")
                for _ in range(runs):
                    t0 = time.perf_counter()
                    con.execute(sql).fetchall()
                    best = min(best, time.perf_counter() - t0)
                dt = time.perf_counter() - tw0
                b1, o1 = _cpu_sample()
                ext = (
                    max(0, (b1 - b0) - (o1 - o0))
                    / max(dt * _CLK_TCK, 1e-9)
                    if b1 > b0
                    else -1.0
                )
                rec["attempts"].append(
                    {"external_cores": round(ext, 2),
                     "wall_best": round(best, 4)}
                )
                if ext <= EXTERNAL_CORES_THRESHOLD:
                    rec["accepted"] = True
                    duck_times[qid] = round(best, 4)
                    del duck_flagged[qid]
                    break
                if time.perf_counter() >= wait_deadline:
                    break
                time.sleep(5)
            duck_retimes[qid] = rec
        band["duck_retimes"] = duck_retimes
        con.close()
    except Exception as ex:
        print(f"DUCK ERROR: {str(ex)[:160]}", file=sys.stderr)
    band["duck_flagged_qids"] = duck_flagged

    # sf1 headline tier (VERDICT r13 #1): opt out with
    # SPARK_GRAFT_SF1=0, or point SPARK_GRAFT_SF1 at a fixture dir.
    # Default: run it whenever the main record is the standard sf0.1
    # bench (the driver's low-core pass included — that is what makes
    # core-count scaling measurable, since sf1 walls are not
    # floor-bound).
    sf1_env = os.environ.get("SPARK_GRAFT_SF1", "auto")
    sf1_rec: dict | None = None
    if sf1_env != "0" and (sf1_env not in ("auto", "1") or sf == 0.1):
        sf1_dir = (
            sf1_env
            if sf1_env not in ("auto", "1")
            else "/tmp/tile_etl_spark_scale/sf1"
        )
        gen = _ensure_sf1_fixtures(sf1_dir)
        if gen["ok"]:
            try:
                sf1_rec = run_sf1_tier(spark, qids, sf1_dir, runs, n_cpus)
                sf1_rec["fixtures"] = gen
            except Exception as ex:
                print(f"SF1 TIER ERROR: {str(ex)[:160]}", file=sys.stderr)
                sf1_rec = {"error": str(ex)[:160], "fixtures": gen}
        else:
            sf1_rec = {"error": "fixture generation failed",
                       "fixtures": gen}

    scaling_note = (
        "at sf<=0.2 every headline wall is job floor "
        f"(~{floor}s) + single-digit-MB parquet decode; no stage moves "
        "enough bytes for reduce-width or core count to matter, so "
        "8-vs-32-core wall ratios read ~1 at this SF by construction. "
        "Widening the shuffle to the core count was A/B'd and LOST "
        "(+29.7% headline at width 32, plans/r14/AB_SHUFFLE_WIDTH"
        f".json); width = min(8, $SPARK_GRAFT_CPUS) = {shuffle}. "
        "Core-count scaling is measurable in the sf1 tier (key 'sf1' "
        "here / BENCH_FULL.json), where walls are data-dominated."
    )

    total = round(sum(times.values()), 4)
    all_times = {**times, **extra_times}
    ratios = {
        q: round(all_times[q] / max(d, 1e-6), 2)
        for q, d in duck_times.items()
        if q in all_times
    }
    ratios_floor_adj = {
        q: round(max(all_times[q] - floor, 0.0) / max(d, 1e-6), 2)
        for q, d in duck_times.items()
        if q in all_times
    }
    classes = {q: ratio_class(q) for q in all_times}
    fair_head = [q for q in ratios if q in times and classes[q] == "fair"]
    fair_all = [q for q in ratios if classes[q] == "fair"]
    gate = {
        "fair_under_2x": sum(1 for q in fair_head if ratios[q] <= 2.0),
        "fair_total": len(fair_head),
        "excluded": sorted(
            q for q in ratios if q in times and classes[q] != "fair"
        ),
        "full_fair_under_2x": sum(1 for q in fair_all if ratios[q] <= 2.0),
        "full_fair_total": len(fair_all),
        "floor_sec": floor,
        "fair_under_2x_floor_adj": sum(
            1 for q in fair_head if ratios_floor_adj[q] <= 2.0
        ),
        "full_fair_under_2x_floor_adj": sum(
            1 for q in fair_all if ratios_floor_adj[q] <= 2.0
        ),
    }
    # Full record (extras + DuckDB twins + every ratio) goes to a FILE:
    # BENCH_r04.json lost its headline because the one print line grew
    # past the driver's stdout-tail capture. The final stdout line is now
    # capped to the 24-query headline set (~1.5 KB) so it always parses;
    # the complete dict lives next to it in BENCH_FULL.json.
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "extra_queries": extra_times,
        "cold_queries": cold_times,
        "cold_dim_builds": cold_dim_builds,
        "duck_queries": duck_times,
        "ratios": ratios,
        "ratios_floor_adjusted": ratios_floor_adj,
        "floor_sec": floor,
        "band": band,
        "ratio_class": classes,
        "gate": gate,
        # no-silent-caps: a qid that errored out of the timed set is
        # named here, never just dropped from the totals
        "errored": sorted(set(qids + extra_qids) - set(all_times)),
        "topk_per_group_path": topk_path,
        "sf": sf,
        "sf1": sf1_rec,
        "scaling_note": scaling_note,
        "quiet_wait_sec": waited,
        "load_gated": load_gated,
        "loadavg_start": load_start,
        "loadavg_end": _loadavg(),
        "box_probe_start": probe_start,
        "box_probe_end": box_probe(),
    }
    try:
        out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json")
        with open(out, "w") as f:
            json.dump(full, f, indent=1)
            f.write("\n")
    except OSError as ex:
        print(f"BENCH_FULL write failed: {ex}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": times,
                "ratios": {q: r for q, r in ratios.items() if q in times},
                "gate": gate,
                "topk_per_group_path": topk_path,
                "full_record": "BENCH_FULL.json",
                "sf": sf,
                "band": {k: band[k] for k in ("n", "min", "median", "max")},
                "load_gated": load_gated,
                "loadavg": [load_start, _loadavg()],
                "box_probe": probe_start,
                "flagged_qids": band["flagged_qids"],
                "scaling_note": scaling_note,
                "sf1": (
                    {
                        k: sf1_rec[k]
                        for k in (
                            "value", "queries", "ratios", "floor_sec",
                            "cpus", "flagged_qids", "errors",
                        )
                        if k in sf1_rec
                    }
                    if sf1_rec is not None and "queries" in sf1_rec
                    else sf1_rec
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
