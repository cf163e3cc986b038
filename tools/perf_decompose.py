#!/usr/bin/env python
"""Per-qid wall decomposition for the perf-weak headline qids
(VERDICT r9 #4): for each qid, measure on the same session and
fixtures

  floor    — the near-empty force() job (job submission + scheduling
             + noop commit), bench.measure_floor;
  scan     — a bare scan of exactly the columns the qid reads from its
             source tables (column-pruned parquet decode through the
             same noop sink), the per-core JVM decode constant VERDICT
             r9 measured on q_agg_group;
  full     — the qid itself (best-of-N, bench protocol);
  residual — full − scan − floor: the qid's own exchange/agg/Python
             work beyond decode and fixed cost.

DuckDB twin walls ride along so every component can be read against
the denominator. Output: one JSON line + BENCH_DECOMP.json.

Usage: python tools/perf_decompose.py [--runs 3] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from bench import (  # noqa: E402
    box_probe_sha,
    duck_views,
    force,
    measure_floor,
)
from tile_etl_spark import registry  # noqa: E402
from tile_etl_spark.io import load  # noqa: E402
from tile_etl_spark.session import get_spark  # noqa: E402

# The r9/r10 perf-weak fair-class headline qids, with the (table,
# columns) sets their plans actually scan (read from the pinned plans'
# ReadSchema). The scan probe reads exactly those columns and forces
# through the same noop sink.
SCAN_SETS: dict[str, list[tuple[str, list[str]]]] = {
    # r13 fix: this set previously listed the OLD 5-table shape
    # (lineitem/part/supplier included); the shipped query reads
    # orders ⋈ customer ⋈ nation only, so the over-wide probe
    # overstated the scan component and the residual read 0.0
    # artificially. Columns match the pinned plan's ReadSchema.
    "q_join_inner": [
        ("orders", ["o_custkey", "o_totalprice"]),
        ("customer", ["c_custkey", "c_nationkey"]),
        ("nation", ["n_nationkey", "n_name"]),
    ],
    "q_join_broadcast": [
        ("lineitem", ["l_orderkey", "l_partkey", "l_extendedprice"]),
        ("part", ["p_partkey", "p_name"]),
    ],
    "q_agg_group": [
        ("lineitem", ["l_returnflag", "l_linestatus", "l_quantity",
                      "l_extendedprice", "l_discount", "l_tax"]),
    ],
    "q_agg_rollup": [
        ("orders", ["o_orderstatus", "o_orderpriority", "o_totalprice"]),
    ],
    "q_pivot": [
        ("orders", ["o_orderpriority", "o_orderstatus", "o_totalprice"]),
    ],
    "q_window_tumbling": [
        ("events", ["ts", "event_type", "value"]),
    ],
    "q_udaf_grouped": [
        ("events", ["event_id", "user_id", "value"]),
    ],
    "q_dedup_exact": [
        ("documents", ["doc_id", "text"]),
    ],
    "q_sim_cosine_topk": [
        ("embeddings", ["vec_id", "embedding"]),
    ],
}


def best_of(fn, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--fast-box-sha",
        type=float,
        default=0.0,
        help="wait (up to 15 min) until bench.box_probe's sha256 "
        "reading drops below this before starting — residual "
        "comparisons across box-speed states are meaningless "
        "(BASELINE.md r11 finding); 0 disables the gate",
    )
    args = ap.parse_args()

    from bench import box_probe

    if args.fast_box_sha > 0:
        deadline = time.perf_counter() + 900
        while True:
            p = box_probe()
            if p["sha256_25mb_sec"] <= args.fast_box_sha:
                break
            if time.perf_counter() >= deadline:
                print(f"fast-box gate timed out at {p}", file=sys.stderr)
                break
            time.sleep(20)
    probe_start = box_probe()

    registry.load_all()
    spark = get_spark(app_name="tile-etl-spark-decompose")
    force(spark.read.parquet(f"{args.sf_dir}/lineitem.parquet"))
    # r12 floor comparability (VERDICT r11 #2): bench.py measures its
    # floor AFTER a cold pass over ~145 qids — a deeply JIT-warmed JVM
    # — while the r11 DECOMP measured it near-cold and read 0.1154 vs
    # the bench's 0.0262 on the same box. Record a start reading for
    # transparency, but the floor used in residuals is measured at the
    # END of the qid loop, in bench-equivalent JVM state.
    measure_floor(spark, 2)  # warm the noop/job-submission path
    floor_start = measure_floor(spark, args.runs)

    import duckdb

    con = duckdb.connect()
    duck_views(con, args.sf_dir)

    out = {}
    for qid, scans in SCAN_SETS.items():
        if qid not in registry.QUERIES:
            continue
        fn = registry.QUERIES[qid]
        for _ in range(2):  # warm: artifact builds + codegen + JIT
            force(fn(spark, args.sf_dir))

        def scan_all():
            for t, cols in scans:
                force(load(spark, args.sf_dir, t).select(*cols))

        scan_all()  # warm the scan path too
        sha = box_probe_sha()  # r12: box speed bracketing THIS qid
        scan = best_of(scan_all, args.runs)
        full = best_of(lambda: force(fn(spark, args.sf_dir)), args.runs)
        duck = None
        sql = registry.ORACLES.get(qid)
        if sql:
            duck = best_of(lambda: con.execute(sql).arrow(), args.runs)
        out[qid] = {
            "box_sha": sha,
            "scan": scan,
            "full": full,
            "duck": duck,
            "ratio_raw": round(full / duck, 2) if duck else None,
        }
        print(f"{qid}: {json.dumps(out[qid])}", file=sys.stderr, flush=True)
    # end-state floor: the bench-comparable number (see note above)
    floor = measure_floor(spark, args.runs)
    for qid, row in out.items():
        row["floor"] = floor
        row["residual"] = round(
            max(row["full"] - row["scan"] - floor, 0.0), 4
        )
        row["ratio_residual"] = (
            round(row["residual"] / row["duck"], 2)
            if row["duck"]
            else None
        )
        row["ratio_floor_adjusted"] = (
            round(max(row["full"] - floor, 0.0) / row["duck"], 2)
            if row["duck"]
            else None
        )
    con.close()
    spark.stop()

    rec = {
        "metric": "perf_decomposition",
        "sf_dir": args.sf_dir,
        "runs": args.runs,
        "floor_sec": floor,
        "floor_sec_start_of_run": floor_start,
        "per_qid": out,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "box_probe_start": probe_start,
        "box_probe_end": box_probe(),
        "note": "scan = bare column-pruned decode of the qid's own "
        "ReadSchema through the same noop sink; residual = full - scan "
        "- floor (exchange/agg/Python work). ratio_residual divides "
        "only the residual by the DuckDB twin wall — the part of the "
        "ratio a plan change could still move. Caveat: a multi-table "
        "scan probe pays one force() job overhead PER TABLE while the "
        "qid pays it once, so scan slightly overstates decode for "
        "multi-table qids (q_join_inner's full < scan is that effect); "
        "a zero residual still reads correctly as decode+floor-bound.",
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_DECOMP.json",
    )
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
        f.write("\n")
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
