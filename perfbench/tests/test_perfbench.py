"""The benchmark's own tests: percentile rule, fail_share accounting,
span self time and generator determinism.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
from check import checksum_sql, compare_rows  # noqa: E402
from stats import (  # noqa: E402
    Ledger, Tracer, beyond, descendants, min_samples, percentile,
)


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 41)]
    assert percentile(xs, 0.5) == 20.0
    assert percentile(xs, 0.75) == 30.0
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert percentile([7.0], 0.75) == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_p75_needs_twenty_four_samples_for_six_beyond():
    assert min_samples(0.75) == 24
    assert beyond(24, 0.75) == 6
    assert beyond(23, 0.75) == 5
    assert min_samples(0.5) == 12
    assert min_samples(0.75, tail=10) == 40
    for n in range(1, 200):
        assert (beyond(n, 0.75) >= 6) == (n >= 24)


def test_fail_share_counts_every_op_and_failed_classes():
    led = Ledger()
    led.record("cold", True)
    for i in range(8):
        led.record(f"q{i % 4}", True)
    led.record("q1", False, "raised")
    assert (led.attempted, led.failed) == (10, 1)
    # a once-per-run check that fails a class fails each of its ops
    led.fail_class("q2", "wrong rows")
    assert (led.attempted, led.failed) == (10, 3)
    assert led.fail_share == pytest.approx(0.3)
    led.fail_class("q1", "wrong rows")  # already-failed op counted once
    assert led.failed == 5
    assert len(led.errors) == 3


def test_fail_share_of_nothing_attempted_is_total():
    assert Ledger().fail_share == 1.0


def test_self_time_subtracts_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 5.0, 10.0])
    monkeypatch.setattr("stats.time.perf_counter", lambda: next(clock))
    tr = Tracer(True)
    with tr.span("op"):
        with tr.span("build"):
            pass
        with tr.span("exec"):
            pass
    spans = tr.dump()
    assert [s["name"] for s in spans] == ["op", "build", "exec"]
    assert spans[1]["parent"] == 0 and spans[2]["parent"] == 0
    assert [s["self_s"] for s in spans] == [7.0, 2.0, 1.0]


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op"):
        pass
    assert tr.spans == []


def test_descendants_follow_parents_across_process_groups():
    # pid -> (parent, state, ticks): 10 runs a JVM (11) that started a
    # daemon (12, a group of its own) with a worker (13); 14 is a store
    table = {
        1: (0, "S", 0), 10: (1, "S", 5), 11: (10, "S", 50),
        12: (11, "S", 2), 13: (12, "R", 9), 14: (10, "S", 7), 20: (1, "S", 1),
    }
    assert sorted(descendants(10, table)) == [10, 11, 12, 13, 14]
    assert sorted(descendants(10, table, {14})) == [10, 11, 12, 13]
    assert descendants(99, table) == []


def test_compare_rows_is_order_insensitive_and_tolerant():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.0]})
    b = pd.DataFrame({"v": [2.0 * (1 + 1e-12), 1.0], "k": ["y", "x"]})
    assert compare_rows(a, b) is None
    c = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.5]})
    assert compare_rows(a, c) is not None
    assert compare_rows(a, a.iloc[:1]) is not None


def test_checksum_catches_rows_paired_with_wrong_values():
    import duckdb
    import pandas as pd

    # ranks per customer by price, descending, then the same ranks
    # given in the wrong order: every column keeps its multiset of values
    base = pd.DataFrame({
        "cust": ["a", "a", "a", "b", "b"],
        "okey": [1, 2, 3, 4, 5],
        "price": [30.0, 10.0, 20.0, 5.0, 7.0],
    })
    good = base.assign(rn=base.groupby("cust")["price"].rank(ascending=False).astype(int))
    bad = base.assign(rn=base.groupby("cust")["price"].rank(ascending=True).astype(int))
    kinds = [("cust", "str"), ("okey", "num"), ("price", "num"), ("rn", "num")]
    con = duckdb.connect()
    try:
        con.register("good", good)
        con.register("bad", bad)
        con.register("shuffled", good.sample(frac=1.0, random_state=1))
        g, b, s = (
            con.execute(checksum_sql(kinds, t, duck=True)).fetchone()
            for t in ("good", "bad", "shuffled")
        )
    finally:
        con.close()
    per_column = 1 + 2 * len(kinds)
    assert g[:per_column] == b[:per_column]
    assert g != b
    assert g == s  # row order does not matter


def test_generators_are_deterministic(tmp_path):
    hashes = gen.self_check(str(tmp_path), seeds=(3, 4))
    assert set(hashes) == {"tiles", "tables"}


def test_tile_fault_schedule_shares(tmp_path):
    shards = gen.tile_shards(gen.cached("tiles", 5, str(tmp_path)))
    assert len(shards) == gen.TILES["shards"]
    keys = [m["key"] for _d, ms in shards for m in ms]
    assert len(keys) == len(set(keys)) == gen.TILES["shards"] * gen.TILES["tiles_per_shard"]
    faults = [m["fault"] for _d, ms in shards for m in ms]
    assert {f for f in faults if f} <= {403, 429, 503}
    assert 0 < faults.count(403) < sum(1 for f in faults if f in (429, 503))
