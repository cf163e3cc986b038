#!/usr/bin/env python
"""Benchmark harness (BASELINE.md protocol).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default: the
sf0.1 fixtures) on ``local[$SPARK_GRAFT_CPUS]``, forcing each
end-to-end with the noop sink (nothing collected), and prints ONE JSON
line ``{"metric", "value", "unit", "queries", "sf", ...}``; the full
record goes to BENCH_FULL.json. Both tiers (sf_dir, then sf1) run
through ``run_tier``: a cold pass, a ``window`` per qid on Spark and on
its DuckDB twin, then ``retime`` of the windows a box dip or a foreign
CPU burst hit. Each qid runs under ``session.conf_for`` of its input
size, which the registry sets before it builds the query.
Options: README "Bench"."""

from __future__ import annotations

import functools
import json
import math
import os
import re
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.stats import descendants, proc_table  # noqa: E402
from tile_etl_spark import registry  # noqa: E402
from tile_etl_spark.io import TABLES, input_bytes  # noqa: E402
from tile_etl_spark.session import conf_for, get_spark  # noqa: E402

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


def measure_floor(spark, runs: int) -> float:
    """Fixed-cost FLOOR probe: the wall of a near-empty job through the
    same force() path (job submission, one stage of scheduling, noop
    commit, Py4J round trips). Every ratio pairs a Spark wall that
    contains this floor with an in-process DuckDB run that has none, so
    callers record the raw ratio and (t_spark − floor)/t_duck. Best of
    `runs` after one untimed warm, like the qids."""
    def once() -> None:
        force(spark.range(1).toDF("x"))

    once()
    return round(min(window(once, runs)["walls"]), 4)


def duck_views(con, sf_dir: str) -> None:
    """Register every fixture table present in sf_dir as a DuckDB view,
    mirroring the driver's oracle harness."""
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )


# Timed apart from HEADLINE so the headline total stays comparable
# (the same 24 qids throughout); their twins share the ratios dict.
EXTRA = [
    # asymmetric_twin excludes q_agg_approx from the fair gate; its
    # wall and raw ratio are recorded here so a regression stays visible
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
    "q_peak_concurrency",
    "q_cumulative_uniques",
    "q_merge_audit",
    "q_table_changes",
    "q_kanon_audit",
    "q_table_checksum",
]


# Ratio classes: a Spark/DuckDB wall ratio is only a meaningful gate
# for qids where both engines do equivalent work; the other classes
# are excluded from the fair counts, their walls stay recorded.
#  - "sink": the Spark side writes data out (distributed PUT / parquet
#    / compaction); the DuckDB twin only recomputes final status rows.
#  - "stream_twin": the Spark side runs the streaming engine
#    (micro-batch planning, state stores, offset tracking); the twin
#    recomputes final state as one batch query.
#  - "artifact_cached": the warm run reads a persisted derived artifact
#    while the twin regenerates it on every run — the engine's
#    real serving path, not an execution-speed comparison; the honest
#    derivation cost is the qid's cold_queries entry. The tile qids
#    read the tile inventory (tiles/grid.py memo; q_tile_sync_delta on
#    BOTH join sides), q_dedup_near its shingle/LSH artifacts.
#  - "asymmetric_twin": the twin does STRUCTURALLY LESS WORK. The
#    multimodal header qids build AND parse real WAV/PNG headers in
#    Spark while the twin derives the metadata arithmetically;
#    q_agg_approx's twin is a bare count(*) (its tolerance contract is
#    trivially met exact-vs-exact) while Spark runs the HLL/quantile
#    sketches plus their exact verification legs (246x adjusted on a
#    0.008 s denominator: it measures the harness, not a plan).
#  - "two_action": q_observe_metrics pins the `observe` listener API,
#    which needs an observed action (the count()) plus the 1-row result
#    build, while the twin is one aggregation; at scale the observation
#    rides a pass the pipeline makes anyway.
#  - "fair": everything else; the ≤2x gate applies. q_embed_quality
#    stays fair: both engines fold the full embedding arrays, so the gap
#    is Spark's interpreted HOF fold, a real execution-speed signal.
_ARTIFACT_CACHED = {
    "q_tile_grid", "q_tile_stats", "q_tile_sync_delta", "q_dedup_near",
}
_ASYMMETRIC_TWIN = {
    "q_multimodal_wavmeta", "q_multimodal_pngmeta", "q_agg_approx",
}
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
    around every timed window, so a mid-region host-throughput dip (the
    30-45% minute-scale swing) is attributed to the qids it hit."""
    import hashlib

    buf = b"\xa5" * 65536
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(400):
        h.update(buf)
    h.digest()
    return round(time.perf_counter() - t0, 4)


def box_probe() -> dict[str, float]:
    """Single-core CPU calibration (C-side sha256 throughput and a
    pure-python loop, ~0.3 s), taken before the quiet wait and after the
    timed region so records can be normalized for BOX speed: the same
    code on a drifted box measured 5.63 s against its own 3.55-3.79 s
    band."""
    sha = box_probe_sha()
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    loop = round(time.perf_counter() - t0, 4)
    return {"sha256_25mb_sec": sha, "pyloop_2m_sec": loop}


def _loadavg() -> list[float]:
    """1/5/15-min load averages: this box shows ambient load bursts
    (1-min load 4-9 with none of our processes running)."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


QUIET_THRESHOLD = 4.0  # 1-min loadavg gate (BASELINE.md protocol row)

# In-region contamination gate. Loadavg cannot serve: the bench's own
# 32-thread JVM pushes it past 4 in any healthy run. The instrument is
# EXTERNAL CPU, busy jiffies not spent by our process tree, over each
# timed window: >2 of 32 cores of foreign work marks it contaminated
# (ambient bursts on this box run 4-9 foreign cores).
EXTERNAL_CORES_THRESHOLD = 2.0
_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100

# The fast-mode sha probe reading: the default start gate and the
# retime gate of every window (the headline tracks box speed 3.77-5.21 s
# on identical code, so a slow-box window understates the engine).
BOX_GATE_SHA = 0.021
RETIME_ATTEMPTS = 3
RETIME_WAIT_S = 300.0  # shared by a tier's retimes: a slow box can't stall
WATCHDOG_S = 120.0  # per run: a hung qid is an error, not a stalled bench
# The only sf1 dir bench generates into (make_scale_fixtures' default).
DEFAULT_SF1 = "/tmp/tile_etl_spark_scale/sf1"


def _cpu_sample() -> tuple[int, int]:
    """(busy_jiffies_all_cpus, own_process_tree_jiffies) from /proc.

    Own tree = this pid and every live descendant by parent pid (the JVM
    and the pyspark daemons under it), each with utime+stime+cutime+
    cstime: cutime/cstime accrue only for reaped children, so nothing
    counts twice. A few ms, taken outside the per-run clocks."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        busy = sum(vals) - vals[3] - (vals[4] if len(vals) > 4 else 0)
        table = proc_table()
        return busy, sum(table[p][2] for p in descendants(os.getpid(), table))
    except OSError:
        return 0, 0


def _wait_for_quiet(max_wait_s: int,
                    threshold: float = QUIET_THRESHOLD) -> tuple[float, bool]:
    """Bounded wait for the 1-min load to drop under ``threshold`` (a
    record started at loadavg 13-17 overstated the wall by ~30%).
    Returns (seconds waited, load_gated); False flags the record."""
    t0 = time.perf_counter()
    deadline = t0 + max_wait_s
    while True:
        la = _loadavg()
        if not la or la[0] < threshold:
            return round(time.perf_counter() - t0, 1), True
        if time.perf_counter() >= deadline:
            return round(time.perf_counter() - t0, 1), False
        time.sleep(5)


def _wait_box(gate: float, deadline: float, pause: float) -> float | None:
    """Wait until the sha probe reads at most ``gate`` and return that
    reading; None when ``deadline`` passes first."""
    while (probe := box_probe_sha()) > gate:
        if time.perf_counter() >= deadline:
            return None
        time.sleep(pause)
    return probe


def _timed(run_once, cancel) -> float:
    """One run's wall. The watchdog is armed before the clock starts and
    torn down after it stops; when it fires it calls ``cancel`` (Spark:
    cancel all jobs; DuckDB: interrupt) and the run raises TimeoutError."""
    fired = threading.Event()

    def fire() -> None:
        fired.set()
        cancel()

    dog = threading.Timer(WATCHDOG_S, fire)
    dog.start()
    try:
        t0 = time.perf_counter()
        run_once()
        dt = time.perf_counter() - t0
    except Exception:
        if fired.is_set():
            raise TimeoutError(f"wall > {WATCHDOG_S}s (cancelled)") from None
        raise
    finally:
        dog.cancel()
        dog.join()  # a late interrupt must not hit the next run
    return dt


def window(run_once, runs: int, cancel=lambda: None,
           probe: float | None = None, enough_s: float = math.inf) -> dict:
    """``runs`` consecutive timed runs of ``run_once`` (interleaving
    distinct plans between repeats thrashes the codegen cache), with
    the sha probe before (``probe``, unless the caller just took it) and
    after (``probe_end``) and the foreign cores over the window
    (``ext``, -1.0 without /proc). A burst lands on all runs of a window,
    so the window (the qid) is the contamination unit. A run of at least
    ``enough_s`` ends the window early: it needs no best-of-N."""
    if probe is None:
        probe = box_probe_sha()
    b0, o0 = _cpu_sample()
    tw0 = time.perf_counter()
    walls: list[float] = []
    for _ in range(runs):
        walls.append(_timed(run_once, cancel))
        if walls[-1] >= enough_s:
            break
    dt = time.perf_counter() - tw0
    b1, o1 = _cpu_sample()
    ext = (
        max(0, (b1 - b0) - (o1 - o0)) / max(dt * _CLK_TCK, 1e-9)
        if b1 > b0
        else -1.0
    )
    return {"walls": walls, "probe": probe, "probe_end": box_probe_sha(),
            "ext": ext}


def _fail(errors: dict, qid: str, stage: str, ex: Exception) -> None:
    errors[qid] = f"{stage}{ex}"[:160]
    print(f"BENCH ERROR {qid}: {errors[qid]}", file=sys.stderr)


def _windows(fns: dict, measure, errors: dict,
             stage: str = "") -> dict[str, dict]:
    """``measure(fn)`` (a ``window``) per qid; one that raises (the
    watchdog included) lands in ``errors`` and the rest still run."""
    wins = {}
    for qid, fn in fns.items():
        try:
            wins[qid] = measure(fn)
        except Exception as ex:
            _fail(errors, qid, stage, ex)
    return wins


def retime(wins: dict[str, dict], fns: dict, measure,
           deadline: float) -> dict[str, dict]:
    """Re-time by ``measure`` (a ``window``) every window in ``wins``
    that a box dip or a foreign burst hit. An attempt waits for the box
    to come under the gate (until ``deadline``, shared by all retimes);
    it replaces ``wins[qid]`` only if the window stayed in gate (closing
    probe within 1.2x, for scheduler noise) with no foreign burst. The
    record per qid keeps the original and every attempt."""
    records: dict[str, dict] = {}
    for qid, w in list(wins.items()):
        if w["probe"] <= BOX_GATE_SHA and w["ext"] <= EXTERNAL_CORES_THRESHOLD:
            continue
        rec = records[qid] = {
            "orig_wall_best": round(min(w["walls"]), 4),
            "orig_probe": w["probe"],
            "orig_external_cores": round(w["ext"], 2),
            "attempts": [],
            "accepted": False,
        }
        for _ in range(RETIME_ATTEMPTS):
            probe = _wait_box(BOX_GATE_SHA, deadline, 5)
            if probe is None:
                break
            try:
                a = measure(fns[qid], probe=probe)
            except Exception as ex:
                rec["attempts"].append({"error": str(ex)[:120]})
                break
            rec["attempts"].append({
                "probe_start": a["probe"], "probe_end": a["probe_end"],
                "external_cores": round(a["ext"], 2),
                "runs": [round(r, 4) for r in a["walls"]],
            })
            if (a["probe_end"] <= BOX_GATE_SHA * 1.2
                    and a["ext"] <= EXTERNAL_CORES_THRESHOLD):
                rec["accepted"] = True
                wins[qid] = a
                break
    return records


def _best(wins: dict[str, dict]) -> dict[str, float]:
    return {q: round(min(w["walls"]), 4) for q, w in wins.items()}


def _flagged(wins: dict[str, dict]) -> dict[str, float]:
    return {q: round(w["ext"], 2) for q, w in wins.items()
            if w["ext"] > EXTERNAL_CORES_THRESHOLD}


def _ratios(spark_best: dict, duck_best: dict, minus: float = 0.0) -> dict:
    return {q: round(max(spark_best[q] - minus, 0.0) / max(d, 1e-6), 2)
            for q, d in duck_best.items() if q in spark_best}


def run_tier(spark, sf_dir: str, qids: list[str], runs: int) -> dict:
    """One scale: ingest artifacts, a timed cold pass, the floor, a
    window per qid and per DuckDB twin, then retimes of both under one
    shared wait deadline."""
    import duckdb

    from tile_etl_spark.io import DIM_CACHE_BUILDS
    from tile_etl_spark.operators.bucketed import orders_by_custkey

    # The custkey-bucketed orders copy (the zero-exchange plan of
    # q_topk_per_group) is an ingest artifact: build it before any timed
    # pass and record which path runs.
    topk_path = ("bucketed" if orders_by_custkey(spark, sf_dir) is not None
                 else "plain_view")
    stop = spark.sparkContext.cancelAllJobs
    fns = {q: (lambda q=q: force(registry.QUERIES[q](spark, sf_dir)))
           for q in qids}

    # Cold pass: every qid once, timed. It pays each one-time build
    # (artifact caches that rebuild when source mtimes change, codegen)
    # before any warm clock starts — a rebuild inside a window inflated
    # q_tile_stats 2-3x — and shows what a first run costs. Draining
    # DIM_CACHE_BUILDS per qid names the qid that paid each dim cache.
    errors: dict[str, str] = {}
    cold: dict[str, float] = {}
    dim_builds: dict[str, list] = {}
    for qid in qids:
        DIM_CACHE_BUILDS.clear()
        try:
            cold[qid] = round(_timed(fns[qid], stop), 4)
        except Exception as ex:
            _fail(errors, qid, "cold: ", ex)
            continue
        if DIM_CACHE_BUILDS:
            dim_builds[qid] = list(DIM_CACHE_BUILDS)
    floor = measure_floor(spark, runs)
    spark_window = functools.partial(window, runs=runs, cancel=stop)
    wins = _windows({q: fns[q] for q in cold}, spark_window, errors)

    # The DuckDB twins get the same windows: a foreign burst during a
    # twin's window inflates the denominator and UNDERSTATES the ratio.
    # .arrow() keeps Python row building out of the DuckDB side; a
    # multi-second twin (~40 s for q_dedup_embed at sf1 on 4 cores)
    # stops at best-of-1.
    with duckdb.connect() as con:
        duck_views(con, sf_dir)
        duck_fns = {
            q: (lambda sql=registry.ORACLES[q]: con.execute(sql).arrow())
            for q in wins if registry.ORACLES.get(q)
        }
        duck_window = functools.partial(window, runs=runs, enough_s=3.0,
                                        cancel=con.interrupt)
        duck = _windows(duck_fns, duck_window, errors, "duck: ")
        deadline = time.perf_counter() + RETIME_WAIT_S
        retimes = retime(wins, fns, spark_window, deadline)
        duck_retimes = retime(duck, duck_fns, duck_window, deadline)
    probes = {q: wins[q]["probe"] for q in sorted(wins)}
    return {
        "wins": wins, "best": _best(wins), "duck": _best(duck),
        "cold": cold, "cold_dim_builds": dim_builds, "floor": floor,
        "topk_path": topk_path, "errors": errors,
        "qid_box_sha": probes,
        "box_flagged_qids": {q: p for q, p in probes.items()
                             if p > BOX_GATE_SHA},
        "flagged_qids": _flagged(wins),
        "retimes": retimes,
        "duck_flagged_qids": _flagged(duck),
        "duck_retimes": duck_retimes,
    }


def sf1_fixtures(sf1_dir: str) -> dict:
    """The sf1 tier's input. Only DEFAULT_SF1 is generated (by
    tools/make_scale_fixtures.py: x10 amplification of sf0.1, reused via
    its recipe marker). Any other dir is read as it is and never written,
    since the tool replaces every ``<table>.parquet`` in it. ``ok`` is
    False when generation failed or a fixture table is missing."""
    t0 = time.perf_counter()
    status = "given"
    if sf1_dir == DEFAULT_SF1:
        tool = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "tools", "make_scale_fixtures.py")
        try:
            r = subprocess.run(
                [sys.executable, tool, "--out", sf1_dir, "--k", "10"],
                capture_output=True, text=True, timeout=1800,
            )
            line = (r.stdout.strip().splitlines() or [""])[-1]
            status = (json.loads(line).get("status", "generated")
                      if r.returncode == 0 else f"error: exit {r.returncode}")
        except Exception as ex:
            status = f"error: {str(ex)[:120]}"
    missing = [t for t in TABLES
               if not os.path.exists(f"{sf1_dir}/{t}.parquet")]
    if missing and not status.startswith("error"):
        status = f"error: tables missing in {sf1_dir}: {', '.join(missing)}"
    return {"ok": not status.startswith("error"), "status": status,
            "gen_sec": round(time.perf_counter() - t0, 1)}


def sf1_record(res: dict, sf1_dir: str, runs: int, cpus: int,
               fixtures: dict) -> dict:
    """The ``sf1`` block. sf0.1 is floor-bound (job floor + decode
    constants own sub-0.35 s walls), so optimization claims need a tier
    where data volume and parallelism show."""
    return {
        "dir": sf1_dir, "sf": 1.0, "runs": runs, "cpus": cpus,
        "floor_sec": res["floor"],
        "value": round(sum(res["best"].values()), 4),
        "queries": res["best"],
        "cold_queries": res["cold"],
        "duck_queries": res["duck"],
        "ratios": _ratios(res["best"], res["duck"]),
        "ratio_class": {q: ratio_class(q) for q in res["best"]},
        "errors": res["errors"],
        **{k: res[k] for k in ("qid_box_sha", "box_flagged_qids",
                               "flagged_qids", "retimes",
                               "duck_flagged_qids", "duck_retimes")},
        "note": (
            "sf1 tier runs after the sf0.1 record completes (cannot "
            "contaminate it); conf = session.conf_for(input bytes, "
            "cpus); warm best-of-n after a recorded "
            "cold; duck twins stop at best-of-1 once a run >= 3 s and "
            "are retimed like the Spark windows"
        ),
        "fixtures": fixtures,
    }


def _spread(values: list[float]) -> tuple[float, float, float]:
    s = sorted(values)
    return s[0], s[len(s) // 2], s[-1]


def build_records(res: dict, qids: list[str], extra_qids: list[str],
                  runs: int, sf: float | None, shuffle: str,
                  sf1_rec: dict | None, start: dict) -> tuple[dict, dict]:
    """(BENCH_FULL.json record, stdout line) from the sf_dir tier's
    ``run_tier`` result. ``start`` holds what main read before the
    timed region: quiet_wait_sec, load_gated, loadavg_start and
    box_probe_start."""
    best, floor = res["best"], res["floor"]
    times = {q: best[q] for q in qids if q in best}
    extra_times = {q: best[q] for q in extra_qids if q in best}
    flagged = res["flagged_qids"]
    box_end, load_end = box_probe(), _loadavg()

    # BAND: pass_i = sum over headline qids of each qid's i-th run;
    # its external load is the wall-weighted mean of those windows'
    # (indicative: flagged_qids is the authoritative list). A pass is
    # clean iff none of its qids was flagged, and every pass of a qid
    # shares one window, so that is all passes or none.
    wins = res["wins"]
    head = {q: wins[q]["walls"] for q in times}
    ext = {q: wins[q]["ext"] for q in head}
    probed = [q for q in head if ext[q] >= 0]
    pass_walls, pass_ext = [], []
    for i in range(runs):
        pass_walls.append(round(sum(w[i] for w in head.values()), 4))
        den = sum(head[q][i] for q in probed)
        num = sum(ext[q] * head[q][i] for q in probed)
        pass_ext.append(round(num / den, 2) if den else -1.0)
    pass_clean = [not any(q in flagged for q in head)] * runs
    lo, mid, hi = _spread(
        [w for w, ok in zip(pass_walls, pass_clean) if ok] or pass_walls
    )
    # region-wide box summary, recorded ONCE (the headline windows'
    # probes plus the closing probe); qid_box_sha attributes per window
    sha = _spread([res["qid_box_sha"][q] for q in head]
                  + [box_end["sha256_25mb_sec"]])
    band = {
        "n": runs, "clean_n": sum(pass_clean),
        "min": lo, "median": mid, "max": hi,
        "passes": [
            {"wall": w, "external_cores": e, "clean": ok}
            for w, e, ok in zip(pass_walls, pass_ext, pass_clean)
        ],
        "box_probe_region": dict(zip(("sha_min", "sha_median", "sha_max"),
                                     sha)),
        # every retimed window keeps its original and its attempts;
        # box_flagged_qids lists the windows STILL out of gate after the
        # bounded retries (empty on a clean record)
        "retime_gate_sha": BOX_GATE_SHA,
        "retimes": res["retimes"],
        "box_flagged_qids": res["box_flagged_qids"],
        "external_cores_threshold": EXTERNAL_CORES_THRESHOLD,
        "flagged_qids": flagged,
        "qid_box_sha": res["qid_box_sha"],
        # headline sum with contamination-flagged qids dropped, so a
        # partially-contaminated record stays comparable
        "headline_wall_excluding_flagged": round(
            sum(v for q, v in times.items() if q not in flagged), 4
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
        "duck_retimes": res["duck_retimes"],
        "duck_flagged_qids": res["duck_flagged_qids"],
    }
    scaling_note = (
        "on an input session.conf_for counts as small every headline "
        "wall is job floor "
        f"(~{floor}s) + single-digit-MB parquet decode; no stage moves "
        "enough bytes for reduce-width or core count to matter, so "
        "8-vs-32-core wall ratios read ~1 at this SF by construction. "
        "Widening the shuffle to the core count was A/B'd and LOST "
        "(+29.7% headline at width 32, plans/r14/AB_SHUFFLE_WIDTH"
        f".json); width from session.conf_for = {shuffle}. "
        "Core-count scaling is measurable in the sf1 tier (key 'sf1' "
        "here / BENCH_FULL.json), where walls are data-dominated."
    )

    # DuckDB side of the BASELINE gate (Spark ≤ 2× DuckDB per qid),
    # raw and with the Spark noop floor taken off the numerator (the
    # in-process DuckDB run has no such floor).
    all_times = {**times, **extra_times}
    ratios = _ratios(all_times, res["duck"])
    ratios_adj = _ratios(all_times, res["duck"], floor)
    classes = {q: ratio_class(q) for q in all_times}
    fair_all = [q for q in ratios if classes[q] == "fair"]
    fair_head = [q for q in fair_all if q in times]

    def under_2x(fair: list[str], r: dict) -> int:
        return sum(1 for q in fair if r[q] <= 2.0)

    gate = {
        "fair_under_2x": under_2x(fair_head, ratios),
        "fair_total": len(fair_head),
        "excluded": sorted(
            q for q in ratios if q in times and classes[q] != "fair"
        ),
        "full_fair_under_2x": under_2x(fair_all, ratios),
        "full_fair_total": len(fair_all),
        "floor_sec": floor,
        "fair_under_2x_floor_adj": under_2x(fair_head, ratios_adj),
        "full_fair_under_2x_floor_adj": under_2x(fair_all, ratios_adj),
    }
    # The full record (extras + DuckDB twins + every ratio) goes to a
    # FILE: the one stdout line once grew past a stdout-tail capture
    # and lost its headline. The line stays capped to the
    # 24-query headline set (~1.5 KB) so it always parses.
    full = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 4), "unit": "sec",
        "queries": times, "extra_queries": extra_times,
        "cold_queries": res["cold"],
        "cold_dim_builds": res["cold_dim_builds"],
        "duck_queries": res["duck"],
        "ratios": ratios, "ratios_floor_adjusted": ratios_adj,
        "floor_sec": floor, "band": band, "ratio_class": classes,
        "gate": gate,
        # no-silent-caps: a qid that errored out of the timed set is
        # named here, never just dropped from the totals
        "errored": sorted(set(qids + extra_qids) - set(all_times)),
        "topk_per_group_path": res["topk_path"],
        "sf": sf, "sf1": sf1_rec, "scaling_note": scaling_note,
        **start, "loadavg_end": load_end, "box_probe_end": box_end,
    }
    line = {k: full[k] for k in ("metric", "value", "unit", "queries")}
    line.update({
        "ratios": {q: r for q, r in ratios.items() if q in times},
        "gate": gate, "topk_per_group_path": res["topk_path"],
        "full_record": "BENCH_FULL.json", "sf": sf,
        "band": {k: band[k] for k in ("n", "min", "median", "max")},
        "load_gated": start["load_gated"],
        "loadavg": [start["loadavg_start"], load_end],
        "box_probe": start["box_probe_start"],
        "flagged_qids": flagged,
        "scaling_note": scaling_note,
        "sf1": (
            {k: sf1_rec[k] for k in ("value", "queries", "ratios",
                                     "floor_sec", "cpus", "flagged_qids",
                                     "errors")}
            if sf1_rec is not None and "queries" in sf1_rec
            else sf1_rec
        ),
    })
    return full, line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # Record runs wait up to 15 min for a fast box (cross-round records
    # need a shared denominator), then proceed regardless with the state
    # recorded in box_probe_start; SPARK_GRAFT_BOX_GATE_SHA=0 skips it.
    box_gate = float(os.environ.get("SPARK_GRAFT_BOX_GATE_SHA",
                                    str(BOX_GATE_SHA)))
    deadline = time.perf_counter() + 900
    if box_gate > 0 and _wait_box(box_gate, deadline, 20) is None:
        print("box gate timed out", file=sys.stderr)
    probe_start = box_probe()
    # default 600 s cap: a 120 s cap ran out mid-burst and produced a
    # contaminated record; SPARK_GRAFT_QUIET_WAIT=0 skips the wait
    quiet_wait = int(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "600"))
    if quiet_wait > 0:
        waited, load_gated = _wait_for_quiet(quiet_wait)
    else:
        la = _loadavg()
        waited, load_gated = 0.0, bool(not la or la[0] < QUIET_THRESHOLD)
    start = {"quiet_wait_sec": waited, "load_gated": load_gated,
             "loadavg_start": _loadavg(), "box_probe_start": probe_start}

    registry.load_all()
    qids = [q for q in HEADLINE if q in registry.QUERIES]
    extra_qids = [q for q in EXTRA if q in registry.QUERIES]

    spark = get_spark(app_name="tile-etl-spark-bench")
    cpus = spark.sparkContext.defaultParallelism
    # BASELINE.md protocol: warm best-of-N. Best-of-3: this box shows
    # ~1.6× whole-run noise windows; of 3 runs one lands clean.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    res = run_tier(spark, sf_dir, qids + extra_qids, runs)

    # sf1 tier after the sf0.1 record is complete, so it cannot
    # contaminate it: by default with every standard sf0.1 bench (core
    # scaling is measurable only where walls are not floor-bound);
    # SPARK_GRAFT_SF1=0 skips it, =<dir> reads that dir as it is.
    sf1_env = os.environ.get("SPARK_GRAFT_SF1", "auto")
    sf1_rec: dict | None = None
    if sf1_env != "0" and (sf1_env not in ("auto", "1") or sf == 0.1):
        sf1_dir = DEFAULT_SF1 if sf1_env in ("auto", "1") else sf1_env
        fixtures = sf1_fixtures(sf1_dir)
        try:
            if not fixtures["ok"]:
                raise RuntimeError(fixtures["status"])
            tier = run_tier(spark, sf1_dir, qids, runs)
            sf1_rec = sf1_record(tier, sf1_dir, runs, cpus, fixtures)
        except Exception as ex:
            print(f"SF1 TIER ERROR: {str(ex)[:160]}", file=sys.stderr)
            sf1_rec = {"error": str(ex)[:160], "fixtures": fixtures}

    # the width the registry set on every query of the sf_dir tier
    shuffle = conf_for(input_bytes(sf_dir), cpus)["spark.sql.shuffle.partitions"]
    full, line = build_records(res, qids, extra_qids, runs, sf, shuffle,
                               sf1_rec, start)
    try:
        out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json")
        with open(out, "w") as f:
            json.dump(full, f, indent=1)
            f.write("\n")
    except OSError as ex:
        print(f"BENCH_FULL write failed: {ex}", file=sys.stderr)
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
