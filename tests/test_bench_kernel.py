"""bench.py's measurement kernel without a JVM: ``window``, ``retime``,
the watchdog, ``run_tier`` over a stand-in session, the record key sets
and the sf1 fixture rule. Probes, ``_cpu_sample``, ``time.sleep`` and the
clock are replaced where a test needs them fixed."""

from __future__ import annotations

import ast
import functools
import os
import threading
from types import SimpleNamespace

import pytest

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class FakeTime:
    """A clock that only moves when a run or a sleep moves it."""

    def __init__(self) -> None:
        self.now = 1000.0
        self.slept = 0.0

    def perf_counter(self) -> float:
        return self.now

    def sleep(self, s: float) -> None:
        self.now += s
        self.slept += s


@pytest.fixture
def clock(monkeypatch):
    t = FakeTime()
    monkeypatch.setattr(bench, "time", t)
    return t


def feed(monkeypatch, probes=None, foreign=None):
    """Fix the sha probe readings (the last one repeats) and make every
    window see ``foreign`` foreign cores (a list, one per window: the
    last one repeats) over its own wall."""
    probes = list(probes or [0.015])
    foreign = list(foreign or [0.0])
    state = {"busy": 0, "own": 0, "calls": 0, "t0": 0.0}

    def probe():
        return probes.pop(0) if len(probes) > 1 else probes[0]

    def sample():
        # even calls open a window, odd calls close it
        now = bench.time.perf_counter()
        if state["calls"] % 2 == 0:
            state["t0"] = now
        else:
            cores = foreign.pop(0) if len(foreign) > 1 else foreign[0]
            ticks = (now - state["t0"]) * bench._CLK_TCK
            state["own"] += 10
            state["busy"] += 10 + round(cores * ticks)
        state["calls"] += 1
        return state["busy"] + 1, state["own"]

    monkeypatch.setattr(bench, "box_probe_sha", probe)
    monkeypatch.setattr(bench, "_cpu_sample", sample)


def run_for(clock, wall):
    def run_once():
        clock.now += wall
    return run_once


def test_window_returns_runs_walls_and_bracket_cores(monkeypatch, clock):
    feed(monkeypatch, probes=[0.019, 0.02], foreign=[3.0])
    w = bench.window(run_for(clock, 0.5), 3)
    assert w["walls"] == [0.5, 0.5, 0.5]
    assert w["probe"] == 0.019 and w["probe_end"] == 0.02
    assert w["ext"] == pytest.approx(3.0)


def test_window_uses_a_probe_the_caller_took(monkeypatch, clock):
    feed(monkeypatch, probes=[0.05])
    w = bench.window(run_for(clock, 0.1), 2, probe=0.018)
    assert len(w["walls"]) == 2 and w["probe"] == 0.018
    assert w["ext"] == 0.0


def test_window_stops_after_a_run_that_took_enough(monkeypatch, clock):
    feed(monkeypatch)
    w = bench.window(run_for(clock, 4.0), 3, enough_s=3.0)
    assert w["walls"] == [4.0]
    w = bench.window(run_for(clock, 1.0), 3, enough_s=3.0)
    assert w["walls"] == [1.0, 1.0, 1.0]


def windows_of(runs):
    return functools.partial(bench.window, runs=runs)


def dipped_window(walls=(0.9, 0.8, 0.85)):
    return {"walls": list(walls), "probe": 0.03, "probe_end": 0.03,
            "ext": 0.5}


def test_retime_accepts_an_in_gate_attempt_and_keeps_both(monkeypatch,
                                                          clock):
    feed(monkeypatch, probes=[0.019], foreign=[0.1])
    wins = {"q_dip": dipped_window(), "q_clean": {
        "walls": [0.2], "probe": 0.018, "probe_end": 0.018, "ext": 0.0}}
    clean = wins["q_clean"]
    recs = bench.retime(wins, {"q_dip": run_for(clock, 0.4)}, windows_of(3),
                        clock.now + 300)
    assert list(recs) == ["q_dip"]
    rec = recs["q_dip"]
    assert rec["accepted"] is True
    assert rec["orig_wall_best"] == 0.8 and rec["orig_probe"] == 0.03
    assert len(rec["attempts"]) == 1
    assert rec["attempts"][0]["runs"] == [0.4, 0.4, 0.4]
    assert rec["attempts"][0]["probe_start"] == 0.019
    assert wins["q_dip"]["walls"] == pytest.approx([0.4, 0.4, 0.4])
    assert wins["q_clean"] is clean


def test_retime_rejects_a_foreign_burst_and_keeps_the_original(
        monkeypatch, clock):
    feed(monkeypatch, probes=[0.019], foreign=[5.0])
    orig = dipped_window()
    wins = {"q": orig}
    recs = bench.retime(wins, {"q": run_for(clock, 0.4)}, windows_of(2),
                        clock.now + 300)
    rec = recs["q"]
    assert rec["accepted"] is False
    assert len(rec["attempts"]) == bench.RETIME_ATTEMPTS
    assert all(a["external_cores"] == 5.0 for a in rec["attempts"])
    assert wins["q"] is orig


def test_retime_stops_at_the_shared_deadline(monkeypatch, clock):
    feed(monkeypatch, probes=[0.05])
    ran = []
    wins = {"q1": dipped_window(), "q2": dipped_window()}
    fns = {q: (lambda q=q: ran.append(q)) for q in wins}
    deadline = clock.now + 300
    recs = bench.retime(wins, fns, windows_of(3), deadline)
    assert ran == []
    assert recs["q1"]["attempts"] == [] and recs["q2"]["attempts"] == []
    assert deadline <= clock.now < deadline + 5  # q2 waited no further
    assert clock.slept == 300


def test_watchdog_turns_a_hung_qid_into_an_error(monkeypatch):
    feed(monkeypatch)
    monkeypatch.setattr(bench, "WATCHDOG_S", 0.05)
    stop = threading.Event()

    def hang():
        if not stop.wait(30):
            raise AssertionError("cancel was never called")
        raise RuntimeError("job cancelled")

    def ok():
        stop.clear()

    errors: dict[str, str] = {}
    measure = functools.partial(bench.window, runs=2, cancel=stop.set)
    wins = bench._windows({"q_hang": hang, "q_ok": ok}, measure, errors,
                          "duck: ")
    assert list(wins) == ["q_ok"] and len(wins["q_ok"]["walls"]) == 2
    assert errors["q_hang"].startswith("duck: wall > 0.05s")


# ---- run_tier over a stand-in session, and the record key sets ----

class _Writer:
    def format(self, _name):
        return self

    def mode(self, _name):
        return self

    def save(self):
        return None


class FakeDF:
    write = _Writer()

    def toDF(self, *_cols):
        return self


class FakeSpark:
    def __init__(self) -> None:
        self.confs: dict[str, str] = {}
        self.conf = SimpleNamespace(set=self.confs.__setitem__)
        self.read = SimpleNamespace(parquet=lambda _path: FakeDF())
        self.sparkContext = SimpleNamespace(cancelAllJobs=lambda: None)

    def range(self, _n):
        return FakeDF()


def _boom(_spark, _sf_dir):
    raise RuntimeError("query failed")


@pytest.fixture
def tier(monkeypatch, tmp_path):
    feed(monkeypatch, probes=[0.02], foreign=[0.0])
    monkeypatch.setattr(
        "tile_etl_spark.operators.bucketed.orders_by_custkey",
        lambda _spark, _sf_dir: None,
    )
    monkeypatch.setattr(bench.registry, "QUERIES", {
        "q_a": lambda _s, _d: FakeDF(),
        "q_b": lambda _s, _d: FakeDF(),
        "q_err": _boom,
    })
    monkeypatch.setattr(bench.registry, "ORACLES", {
        "q_a": "SELECT 1 AS x", "q_b": "SELECT 2 AS x",
    })
    monkeypatch.setattr(bench, "RETIME_WAIT_S", 0.0)
    monkeypatch.setattr(bench, "box_probe", lambda: {
        "sha256_25mb_sec": 0.02, "pyloop_2m_sec": 0.1})
    monkeypatch.setattr(bench, "_loadavg", lambda: [0.1, 0.1, 0.1])
    spark = FakeSpark()
    res = bench.run_tier(spark, str(tmp_path), ["q_a", "q_err", "q_b"], 2)
    return spark, res


PARENT_FULL = {
    "metric", "value", "unit", "queries", "extra_queries", "cold_queries",
    "cold_dim_builds", "duck_queries", "ratios", "ratios_floor_adjusted",
    "floor_sec", "band", "ratio_class", "gate", "errored",
    "topk_per_group_path", "sf", "sf1", "scaling_note", "quiet_wait_sec",
    "load_gated", "loadavg_start", "loadavg_end", "box_probe_start",
    "box_probe_end",
}
PARENT_LINE = {
    "metric", "value", "unit", "queries", "ratios", "gate",
    "topk_per_group_path", "full_record", "sf", "band", "load_gated",
    "loadavg", "box_probe", "flagged_qids", "scaling_note", "sf1",
}
PARENT_BAND = {
    "n", "clean_n", "min", "median", "max", "passes", "box_probe_region",
    "retime_gate_sha", "retimes", "box_flagged_qids",
    "external_cores_threshold", "flagged_qids", "qid_box_sha",
    "headline_wall_excluding_flagged", "note", "duck_retimes",
    "duck_flagged_qids",
}
PARENT_GATE = {
    "fair_under_2x", "fair_total", "excluded", "full_fair_under_2x",
    "full_fair_total", "floor_sec", "fair_under_2x_floor_adj",
    "full_fair_under_2x_floor_adj",
}
PARENT_SF1 = {
    "dir", "sf", "runs", "cpus", "floor_sec", "value", "queries",
    "cold_queries", "duck_queries", "ratios", "ratio_class", "errors",
    "qid_box_sha", "box_flagged_qids", "flagged_qids", "retimes", "note",
    "fixtures",
}
SF1_ADDED = {"duck_retimes", "duck_flagged_qids"}
PARENT_LINE_SF1 = {"value", "queries", "ratios", "floor_sec", "cpus",
                   "flagged_qids", "errors"}


def test_run_tier_measures_spark_and_twins_and_names_errors(tier):
    spark, res = tier
    # the conf is the registry's to set, per query
    assert spark.confs == {}
    assert set(res["cold"]) == {"q_a", "q_b"}
    assert res["errors"] == {"q_err": "cold: query failed"}
    assert set(res["best"]) == set(res["duck"]) == {"q_a", "q_b"}
    assert all(len(w["walls"]) == 2 for w in res["wins"].values())
    assert res["topk_path"] == "plain_view"


def test_record_keys_equal_the_parent_key_sets(tier):
    _spark, res = tier
    fixtures = {"ok": True, "status": "given", "gen_sec": 0.0}
    sf1 = bench.sf1_record(res, "/data/sf1", 2, 4, fixtures)
    start = {"quiet_wait_sec": 0.0, "load_gated": True,
             "loadavg_start": [0.1, 0.1, 0.1],
             "box_probe_start": {"sha256_25mb_sec": 0.02,
                                 "pyloop_2m_sec": 0.1}}
    full, line = bench.build_records(res, ["q_a", "q_err"], ["q_b"], 2,
                                     0.1, "8", sf1, start)
    assert set(full) == PARENT_FULL
    assert set(line) == PARENT_LINE
    assert set(full["band"]) == PARENT_BAND
    assert set(full["gate"]) == set(line["gate"]) == PARENT_GATE
    assert set(full["sf1"]) == PARENT_SF1 | SF1_ADDED
    assert set(line["sf1"]) == PARENT_LINE_SF1
    assert full["errored"] == ["q_err"]
    assert full["band"]["n"] == 2 and len(full["band"]["passes"]) == 2
    # every window opened at 0.02 and the gate is 0.021: nothing retimed
    assert full["band"]["retimes"] == {} and sf1["duck_retimes"] == {}
    failed = {"error": "tables missing", "fixtures": fixtures}
    _full, line = bench.build_records(res, ["q_a"], ["q_b"], 2, 0.1, "8",
                                      failed, start)
    assert line["sf1"] == failed


def test_names_other_code_imports_from_bench_exist():
    wanted = set()
    for rel in ("tools/perf_decompose.py", "tools/make_scale_fixtures.py",
                "tests/test_infra_fixes.py"):
        tree = ast.parse(open(os.path.join(REPO, rel)).read())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "bench":
                wanted |= {a.name for a in node.names}
    assert {"force", "measure_floor", "duck_views", "box_probe",
            "box_probe_sha", "TABLES", "_cpu_sample", "_CLK_TCK"} <= wanted
    assert [n for n in wanted if not hasattr(bench, n)] == []


def test_bench_reads_six_options():
    import re

    src = open(os.path.join(REPO, "bench.py")).read()
    assert set(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", src)) == {
        "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_RUNS",
        "SPARK_GRAFT_BOX_GATE_SHA", "SPARK_GRAFT_QUIET_WAIT",
        "SPARK_GRAFT_SF1",
    }


def snapshot(d):
    return {p.name: (p.stat().st_size, p.stat().st_mtime_ns, p.read_bytes())
            for p in sorted(d.iterdir())}


@pytest.mark.parametrize("complete", [False, True])
def test_explicit_sf1_dir_is_read_as_it_is(monkeypatch, tmp_path, complete):
    def no_generation(*_a, **_k):
        raise AssertionError("fixture generation ran on a given dir")

    monkeypatch.setattr(bench.subprocess, "run", no_generation)
    tables = bench.TABLES if complete else bench.TABLES[:3]
    for t in tables:
        (tmp_path / f"{t}.parquet").write_bytes(b"not rewritten " + t.encode())
    before = snapshot(tmp_path)
    rec = bench.sf1_fixtures(str(tmp_path))
    assert snapshot(tmp_path) == before
    assert rec["ok"] is complete
    if complete:
        assert rec["status"] == "given"
    else:
        assert rec["status"].startswith("error: tables missing")
        assert "lineitem" in rec["status"]

