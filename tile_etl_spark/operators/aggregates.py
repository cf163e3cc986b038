"""Aggregation operators (SURVEY §2B 'Aggregations').

Every aggregate over money DOUBLEs goes through DECIMAL(18,2) so the
sum is exact and order-independent (SURVEY §5.3); final outputs are cast
to DOUBLE so both engines emit identical bits and schemas. Spark plans
all of these as partial (map-side) + final hash aggregates — the shape
that scales: the shuffle carries one row per (partition × group), not
per input row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.io import (
    as_double,
    dec,
    load,
    money_avg,
    money_sum,
    plan_memo,
    table_view,
)
from tile_etl_spark.registry import query

# Dialect-shared Q1 text (valid Spark SQL and DuckDB SQL verbatim):
# oracle binds {t}=lineitem, the builder binds {t}=the memoized temp
# view. One spark.sql() call replaces ~15 eagerly-analyzed DataFrame
# steps (~80 ms → ~8 ms build on the bench's flagship floor qid);
# resolved plan identical (partial+final hash agg, plan test pins it).
_Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / count(l_quantity) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(l_extendedprice) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             / count(l_discount) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM {t}
    GROUP BY l_returnflag, l_linestatus
"""

# Spark-side Q1 rewrite, value-identical to _Q1_SQL (the oracle keeps
# the canonical text). Two facts make it faster without changing a
# single output bit:
#  1. Spark's Decimal multiply ALWAYS routes through java.math
#     .BigDecimal (Decimal.times has no compact-long path), and the
#     double->decimal CAST allocates a BigDecimal per row, so
#     canonical Q1 pays ~5 BigDecimal ops per input row. But
#     l_discount x l_tax has only ~99 distinct combinations: grouping
#     the first pass by (returnflag, linestatus, discount, tax) moves
#     every decimal multiply to the ~594 cell rows — multiplication
#     distributes over the per-cell sums EXACTLY (decimal arithmetic
#     is exact at these precisions, so the regrouped sums are
#     bit-identical).
#  2. The cell sums themselves need no decimal at all: quantity and
#     extendedprice carry exactly 2 decimal digits, so
#     round(x * 100) is an exact integer in both engines (the double
#     is within ulps of the true cent count — never near a .5
#     boundary) and BIGINT cent sums are exact with huge headroom:
#     int64 overflows only past ~8.8e11 rows PER CELL (~1000x the
#     rows-per-cell of a 100 TB lineitem). The cents->DECIMAL
#     conversion happens once per cell via an exact * 0.01 decimal
#     multiply. This differs from the REJECTED whole-query int64-cents
#     plan (r6 notes): charge is never summed in cents — its 6-decimal
#     products stay in DECIMAL on the 594 cell rows, so there is no
#     2^53 / overflow cliff at any SF.
# Net: the per-row hot loop is round+multiply on doubles and compact
# long adds in a codegen hash-agg — measured -21% wall vs canonical at
# sf0.1 (257->202 ms), sorted output identical.
#
# The two levels are stitched with a coalesce(1) between them: the
# cell table is ≤ ~594 rows at ANY scale, so merging the reduce
# partitions into one task lets the second aggregate run in the SAME
# stage (SinglePartition satisfies its required clustering) — the plan
# is scan+partial → one exchange → final+reduce-to-6, exactly the
# stage count of canonical Q1. Without it the second GROUP BY adds a
# third stage for a 594-row shuffle.
# NULL measures keep the identity (not just on non-null fixtures):
#   - the avg denominators carry per-cell NON-NULL counts (nq/np/nd =
#     count(l_quantity/l_extendedprice/l_discount)), matching the
#     canonical count(col) denominators exactly;
#   - rows with NULL discount (tax) land in their own dc(tc)=NULL
#     cell, where the reconstructed disc (tax) is NULL, so the cell's
#     whole contribution to sum(s_price*(1-disc)[*(1+tax)]) is NULL
#     and sum() skips it — precisely the rows canonical skips because
#     their per-row product is NULL;
#   - avg_disc sums disc*nd: within a cell, discount is non-null iff
#     dc is non-null, so nd = n on non-NULL-dc cells and 0 on the
#     NULL cell (disc*nd is NULL there and sum() skips it);
#   - per-cell qc/pc are sums over non-null measures only (sum skips
#     NULL addends), and an all-NULL cell yields a NULL cell sum that
#     the outer sum skips — same rows excluded as canonical.
# tests/test_round8_pins.py pins this against canonical Q1 on a
# fixture with NULLs injected into every measure column.
# The discount/tax group keys are int CENTS, not the raw doubles:
# double group keys get wrapped in knownfloatingpointnormalized(
# normalizenanandzero(...)) in the hash, and int equality is cheaper —
# measured a further -22% on the scan+partial stage. round(x*100) is
# the same exact-integer argument as qc/pc; the cell-level
# reconstruction CAST(dc AS DECIMAL(4,0)) * 0.01 is exact (values are
# 0.00-0.10 / 0.00-0.08, two decimal digits).
_Q1_CELLS_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(round(l_discount * 100) AS INT) AS dc,
           CAST(round(l_tax * 100) AS INT) AS tc,
           sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qc,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS pc,
           count(l_quantity) AS nq,
           count(l_extendedprice) AS np,
           count(l_discount) AS nd,
           count(*) AS n
    FROM {t}
    GROUP BY l_returnflag, l_linestatus, dc, tc
"""

_Q1_FROM_CELLS_SQL = """
    WITH cells2 AS (
      SELECT l_returnflag, l_linestatus,
             CAST(qc AS DECIMAL(30,0)) * CAST(0.01 AS DECIMAL(3,2)) AS s_qty,
             CAST(pc AS DECIMAL(30,0)) * CAST(0.01 AS DECIMAL(3,2)) AS s_price,
             CAST(dc AS DECIMAL(4,0)) * CAST(0.01 AS DECIMAL(3,2)) AS disc,
             CAST(tc AS DECIMAL(4,0)) * CAST(0.01 AS DECIMAL(3,2)) AS tax,
             nq, np, nd, n
      FROM {cells}
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sum(s_qty) AS DOUBLE) AS sum_qty,
           CAST(sum(s_price) AS DOUBLE) AS sum_base_price,
           CAST(sum(s_price * (1 - disc)) AS DOUBLE) AS sum_disc_price,
           CAST(sum(s_price * (1 - disc) * (1 + tax)) AS DOUBLE)
             AS sum_charge,
           CAST(sum(s_qty) AS DOUBLE) / sum(nq) AS avg_qty,
           CAST(sum(s_price) AS DOUBLE) / sum(np) AS avg_price,
           CAST(sum(disc * nd) AS DOUBLE) / sum(nd) AS avg_disc,
           CAST(sum(n) AS BIGINT) AS count_order
    FROM cells2
    GROUP BY l_returnflag, l_linestatus
"""


@query(
    "q_agg_global",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(l_quantity) AS BIGINT) AS n_qty,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
           CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(l_extendedprice) AS avg_price
    FROM lineitem
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped multi-aggregate: one shuffle of one row per partition."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_quantity").alias("n_qty"),
        money_sum("l_quantity").alias("sum_qty"),
        as_double(F.min(dec("l_extendedprice"))).alias("min_price"),
        as_double(F.max(dec("l_extendedprice"))).alias("max_price"),
        money_avg("l_extendedprice").alias("avg_price"),
    )


@query("q_agg_group", oracle=_Q1_SQL.format(t="lineitem"))
@plan_memo("lineitem")
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the engine's flagship query (entry()).

    Partial aggregation reduces the shuffle to (#partitions × #cells)
    rows regardless of input scale. Runs the cell rewrite: first pass
    (_Q1_CELLS_SQL) groups by (returnflag, linestatus, discount, tax)
    with exact BIGINT cent sums; a coalesce(1) then feeds the ~594
    cell rows to the second pass (_Q1_FROM_CELLS_SQL), which does the
    decimal products in the same stage — bit-identical to the
    canonical _Q1_SQL the oracle runs (see the derivation note on
    _Q1_CELLS_SQL), with zero per-row BigDecimal work and the same
    stage count as the canonical plan.
    """
    return q1_from_cells(spark, table_view(spark, sf_dir, "lineitem"))


def q1_from_cells(spark: SparkSession, t: str) -> DataFrame:
    """Cell-decomposed Q1 over any lineitem-schema view ``t`` (split
    out of q_agg_group so the NULL-fixture pin test can run it on a
    synthetic table)."""
    cells = spark.sql(_Q1_CELLS_SQL.format(t=t)).coalesce(1)
    v = f"__q1_cells_{cells.semanticHash() & 0xFFFFFFFF:x}"
    cells.createOrReplaceTempView(v)
    return spark.sql(_Q1_FROM_CELLS_SQL.format(cells=v))


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_suppkey,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(sum(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_distinct_qty,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem GROUP BY l_suppkey
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates: Catalyst plans these as an Expand + two-level
    aggregate — the dedup happens partitioned by (group, value), never
    on one node."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        as_double(F.sum_distinct(dec("l_quantity"))).alias("sum_distinct_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q_agg_having",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) > 10
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — a plain Filter above the agg;
    Catalyst cannot push it below (it references the aggregate)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            as_double(F.sum(dec("o_totalprice"))).alias("total_spend"),
        )
        .filter(F.col("n_orders") > 10)
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy with explicit grouping-bit id (identical bit
    formula both engines).

    r12 re-plan (VERDICT r11 #1), measured to mechanism with
    interleaved same-JVM A/Bs at BOTH sf0.1 and sf1. The r7-r11
    cells-first DATAFRAME form carried two costs the DECOMP residual
    conflated: (a) ~15 eagerly-analyzed build steps (~70 ms of Py4J
    round trips — the _Q1_SQL lesson) and (b) a third stage, because
    ExpandExec reports UnknownPartitioning so even SinglePartition
    cells re-shuffle under the rollup. Arms at sf0.1 (medians):
    cells-DF 0.221 s, union-of-levels-SQL 0.230, cells-SQL 0.145,
    direct-rollup-with-cents-SQL 0.139. Direct edges out cells at
    sf0.1 — but at sf1 the SAME interleaved A/B inverts decisively:
    direct 0.740 s vs cells 0.369 (the 3x Expand row replication is
    per-row work that grows with data, while the cells pre-agg's
    extra tiny stage is a constant). 100 TB is the design point, so
    the CELLS-as-one-SQL form ships: one pass aggregates exact BIGINT
    cents per (status, priority) — ~15 rows per partition at any
    scale — and the ROLLUP's Expand + its second (constant-size)
    exchange run over cell rows only; the DECIMAL reconstruction
    touches ~45 rows. Bit-identical by additivity of the per-cell
    sums over every grouping set (values asserted equal across all
    four arms at both SFs); no coalesce stitch — the r12 A/B measured
    the COALESCE(1) hint slower than letting the tiny exchange
    happen (0.177 vs 0.145)."""
    t = table_view(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        WITH cells AS (
          SELECT o_orderstatus, o_orderpriority,
                 sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS pc,
                 count(*) AS n
          FROM {t}
          GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2
                    + grouping(o_orderpriority) AS INT) AS gid,
               CAST(sum(n) AS BIGINT) AS n_orders,
               CAST(sum(CAST(pc AS DECIMAL(30,0))
                        * CAST(0.01 AS DECIMAL(3,2))) AS DOUBLE)
                 AS total_spend
        FROM cells
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """
    )


@query(
    "q_agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping combinations via a single Expand over the
    ~15 pre-aggregated (status, priority) cells, expressed as ONE
    spark.sql call (r12). The q_agg_rollup sf1 A/B applies verbatim:
    Expand over FACT rows replicates per-row work 4x and loses 2x at
    sf1, while the cells pre-agg's extra exchange is constant-size at
    any scale; the one-SQL build removes the ~10 eager DataFrame
    steps the r11 form paid. Identical by additivity of counts."""
    t = table_view(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        WITH cells AS (
          SELECT o_orderstatus, o_orderpriority, count(*) AS n
          FROM {t}
          GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2
                    + grouping(o_orderpriority) AS INT) AS gid,
               CAST(sum(n) AS BIGINT) AS n_orders
        FROM cells
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """
    )


@query(
    "q_agg_gsets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_agg_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL — same Expand machinery,
    over the ~15 pre-aggregated cells in ONE spark.sql call (r12: the
    q_agg_rollup sf1 A/B — Expand belongs above the cells, and the
    former two-statement cells+temp-view dance paid a
    createOrReplaceTempView round trip per build)."""
    t = table_view(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        WITH cells AS (
          SELECT o_orderstatus, o_orderpriority, count(*) AS n
          FROM {t}
          GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus, o_orderpriority,
               CAST(sum(n) AS BIGINT) AS n_orders
        FROM cells
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(CAST(stddev_samp(l_quantity) AS DOUBLE), 6) AS sd_qty,
           round(CAST(var_samp(l_discount) AS DOUBLE), 6) AS var_disc,
           round(CAST(corr(l_quantity, l_discount) AS DOUBLE), 6) AS corr_qd,
           round(CAST(covar_samp(l_quantity, l_discount) AS DOUBLE), 6) AS covar_qd
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates, rounded to 6 dp (SURVEY §5.3: the merge
    order of the one-pass moment formulas differs across engines in the
    last few ulps). Computed over small-magnitude columns so 6-dp
    rounding genuinely absorbs the noise."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("corr_qd"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qd"),
    )


@query(
    "q_agg_collect",
    oracle="""
    SELECT o_custkey,
           array_to_string(list(o_orderkey ORDER BY o_orderkey), ',')
               AS orderkeys,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregate with deterministic order: collect_list has
    no intrinsic order under parallel merge, so the list is
    array_sort-ed (the oracle's ORDER BY inside list()). The collection
    is emitted as a ','-joined STRING rather than an ARRAY column: the
    driver harness canonicalizes results through pandas, which cannot
    hash list cells — the string form exercises the same aggregate with
    a hashable output."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.array_sort(F.collect_list("o_orderkey")).cast("array<string>"),
            ",",
        ).alias("orderkeys"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
           round(quantile_cont(l_discount, 0.25), 6) AS p25_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (linear interpolation in both engines) — the
    sort-based exact aggregate, vs q_agg_approx's sketch. At 100 TB use
    the approx form; the exact form exists for verification tiers."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 6).alias("median_qty"),
        F.round(F.percentile("l_quantity", 0.9), 6).alias("p90_qty"),
        F.round(F.percentile("l_discount", 0.25), 6).alias("p25_disc"),
    )


@query(
    "q_agg_argminmax",
    oracle="""
    SELECT o_custkey,
           CAST(arg_max(o_orderkey, o_totalprice) AS BIGINT) AS priciest_order,
           CAST(arg_min(o_orderkey, o_totalprice) AS BIGINT) AS cheapest_order,
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
    FROM orders GROUP BY o_custkey
    """,
)
def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (arg-max aggregates): the orderkey of each
    customer's priciest/cheapest order. NB: ties on o_totalprice would
    be engine-dependent; the fixture's 2-decimal prices are unique per
    customer (asserted by the hash match itself at sf0.01)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        as_double(F.max(dec("o_totalprice"))).alias("max_price"),
    )


# q_agg_approx median bracket: margin 1e-3 vs the 1e-4 rank-error
# guarantee of percentile_approx(accuracy=10000); worst-case window
# fraction = 2*(MEDIAN_EPS + 1e-4) of n. MEDIAN_WINDOW_MAX is the most
# values the final reconstruction lets ONE aggregation state hold —
# module-level so the refinement-loop test can shrink it and force the
# multi-pass path on a small fixture.
MEDIAN_EPS = 1e-3
MEDIAN_WINDOW_MAX = 200_000


def _exact_median_frame(li, colname: str):
    """Distributed exact-median verification leg shared by
    q_agg_approx and its adversarial tests: bracket with
    percentile_approx (rank error <= n/10000), refine the bracket
    within the window while the rank-span bound exceeds
    MEDIAN_WINDOW_MAX, then reconstruct the exact interpolated median
    from (below, |ties of lo|, strict-interior array, |ties of hi|).
    Returns (one-row DataFrame with column ``exact_median``,
    approx_median, n_nonnull, n_all). Every collected intermediate is
    a bounded scalar row; the one collect_list holds only the strict
    interior, rank-span-bounded under ANY value distribution."""
    import math

    v = F.col(colname)
    head = li.agg(
        F.percentile_approx(
            colname,
            [0.5 - MEDIAN_EPS, 0.5, 0.5 + MEDIAN_EPS],
            10000,
        ).alias("br"),
        F.count(F.lit(1)).alias("n_all"),
        # median ranks are over NON-NULL values only (ADVICE r10:
        # percentile/percentile_approx ignore NULLs, so basing ranks
        # on count(*) silently shifts the bracket if v is ever NULL)
        F.count(v).alias("n"),
    ).collect()[0]
    lo, approx_median, hi = head["br"]
    n, n_all = head["n"], head["n_all"]
    r0 = 0.5 * (n - 1)
    flo, fhi = math.floor(r0), math.ceil(r0)
    frac = r0 - flo
    # Distributed refinement (r11): the window's worst-case rank span
    # is known driver-side from the accuracy guarantee; while it can
    # exceed what one aggregation state may hold, re-tighten the
    # bracket WITHIN the window — each pass multiplies the span by
    # ~2.2e-3, so any real n converges in a few passes. Ties collapse
    # the bracket (lo == hi): every bracketed rank IS that value.
    bound = int(2 * (MEDIAN_EPS + 1e-4) * n) + 16
    iters = 0
    while bound > MEDIAN_WINDOW_MAX and lo < hi:
        iters += 1
        # ~450x rank-span shrink per pass from a 2.2e-3*n start:
        # 4 passes reach 200k only for n up to ~3.7e18, BELOW the
        # bigint count max 9.2e18 (ADVICE r11) — 5 passes cover it.
        if iters > 5:
            raise RuntimeError(
                "q_agg_approx: median bracket refinement did not "
                f"converge (bound={bound} after {iters - 1} passes)"
            )
        st = li.agg(
            F.count(F.when(v < lo, 1)).alias("below"),
            F.count(F.when((v >= lo) & (v <= hi), 1)).alias("inside"),
        ).collect()[0]
        below_c, inside = st["below"], st["inside"]
        denom = max(inside - 1, 1)
        f_lo = max(0.0, (flo - below_c) / denom - MEDIAN_EPS)
        f_hi = min(1.0, (fhi - below_c) / denom + MEDIAN_EPS)
        br = (
            li.where((v >= lo) & (v <= hi))
            .agg(
                F.percentile_approx(
                    colname, [f_lo, f_hi], 10000
                ).alias("b")
            )
            .collect()[0]["b"]
        )
        lo, hi = br
        bound = int(2 * (MEDIAN_EPS + 1e-4) * inside) + 16
    if lo == hi:
        # Every bracketed rank holds this exact value — no window
        # needed, but VERIFY the collapse distributedly before
        # trusting it (ADVICE r11: the element_at path raise_errors on
        # a misplaced bracket; this path must not be the silent one):
        # both median ranks fall inside lo's tie block iff
        # count(v < lo) <= flo and count(v <= lo) > fhi.
        collapsed_ok = (F.col("below") <= F.lit(int(flo))) & (
            F.col("below_eq") > F.lit(int(fhi))
        )
        exact = li.agg(
            F.count(F.when(v < lo, 1)).alias("below"),
            F.count(F.when(v <= lo, 1)).alias("below_eq"),
        ).select(
            F.when(collapsed_ok, F.lit(float(lo)))
            .otherwise(
                F.raise_error(
                    F.lit(
                        "q_agg_approx: collapsed median bracket "
                        "violated (tie block misses a median rank)"
                    )
                ).cast("double")
            )
            .alias("exact_median")
        )
        return exact, approx_median, n, n_all
    # Tie-safe reconstruction (ADVICE r11): collect ONLY the strict
    # interior lo < v < hi — its count is rank-span-bounded under any
    # distribution — and count the tie blocks at lo/hi. The sorted
    # window is conceptually [lo]*eq_lo ++ mid ++ [hi]*eq_hi starting
    # at global rank ``below``; resolve each median rank by arithmetic.
    lo_end = F.col("below") + F.col("eq_lo")  # first rank AFTER lo ties
    mid_end = lo_end + F.size("mid")  # first rank of hi's tie block

    def rank_value(r: int):
        rr = F.lit(int(r))
        return (
            F.when(rr < lo_end, F.lit(float(lo)))
            .when(
                rr < mid_end,
                F.element_at("mid", (rr - lo_end + 1).cast("int")),
            )
            .otherwise(F.lit(float(hi)))
        )

    # Fail LOUDLY if the bracket guarantee is ever violated (ADVICE
    # r10): both ranks must land inside [below, mid_end + eq_hi), and
    # the interior array must respect the driver-side rank-span bound
    # (``bound`` at loop exit) — a violation means the accuracy
    # guarantee itself broke, never return a silently-wrong median.
    bracket_ok = (
        (F.lit(int(flo)) >= F.col("below"))
        & (F.lit(int(fhi)) < mid_end + F.col("eq_hi"))
        & (F.size("mid") <= F.lit(int(bound)))
    )
    mid_lo = rank_value(flo)
    mid_hi = rank_value(fhi)
    exact = li.agg(
        F.count(F.when(v < lo, 1)).alias("below"),
        F.count(F.when(v == lo, 1)).alias("eq_lo"),
        F.count(F.when(v == hi, 1)).alias("eq_hi"),
        F.sort_array(
            F.collect_list(F.when((v > lo) & (v < hi), v))
        ).alias("mid"),
    ).select(
        F.when(
            bracket_ok, mid_lo + (mid_hi - mid_lo) * F.lit(float(frac))
        )
        .otherwise(
            F.raise_error(
                F.lit("q_agg_approx: median rank bracket violated")
            ).cast("double")
        )
        .alias("exact_median")
    )
    return exact, approx_median, n, n_all


@query(
    "q_agg_approx",
    oracle="""
    SELECT TRUE AS ok_distinct, TRUE AS ok_median,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    """,
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL++ distinct, KLL-ish quantiles).

    The sketches differ from DuckDB's by construction, so the oracle
    encodes the TOLERANCE instead of the values: the Spark side
    computes both the sketch and the exact aggregate and emits
    ``abs(approx-exact)/exact < 0.05`` booleans (the exact legs are
    the verification harness, not the production plan — at 100 TB you
    run only the sketch). The DuckDB twin asserts the same contract
    trivially (exact-vs-exact), so a sketch drifting out of tolerance
    is a hard hash mismatch. ``n_rows`` is a real cross-engine value
    check. The ±5%% unit test on the raw estimates also remains.

    The exact-median leg runs DISTRIBUTED (r10): ``F.percentile`` over
    one global group buffers EVERY value in a single final aggregation
    state — the single-reducer anti-pattern, and the registry sweep's
    worst absolute wall (17.5 s at sf1, flagged in VERDICT r9 #1).
    Bracket-and-refine instead: pass 1 aggregates the sketches plus a
    tight rank bracket around the median (``percentile_approx`` with
    accuracy 10000 guarantees rank error ≤ n/10000, so quantiles
    0.5±1e-3 ALWAYS bracket rank (n−1)/2 with 10x margin); the final
    pass counts values below the bracket and collects only the
    in-bracket window, from which Spark's exact-percentile
    interpolation (0-based rank r = (n−1)·p; v[floor r] +
    (v[ceil r] − v[floor r])·(r − floor r)) is reconstructed by array
    index — exact to the bit.

    The collected state is ABSOLUTELY bounded, ties included (r12):
    the r10 form collected a fixed FRACTION (~2e-3) of n, which is a
    3.6-billion-value single aggregation state at 600 B rows — the
    same single-reducer pathology the fix removed, deferred. When the
    bracket's worst-case rank span (2.2e-3·n, known driver-side from
    the accuracy guarantee) exceeds MEDIAN_WINDOW_MAX, the bracket is
    re-tightened WITHIN the window — each distributed refinement pass
    multiplies the rank span by ~2.2e-3, so ≤5 passes bound any n a
    bigint count can express — and an all-ties window (lo == hi)
    short-circuits after a distributed rank check proves both median
    ranks fall inside that value's tie block. The rank-span bound does
    NOT bound the VALUE predicate (v>=lo)&(v<=hi) under skew: a tie
    block at a bracket endpoint puts every duplicate inside the window
    regardless of rank span (ADVICE r11). So the final reconstruction
    collects only the STRICT interior (lo < v < hi) — whose count is
    rank-span-bounded for ANY distribution, because interior values
    occupy distinct ranks between the lo tie block and the hi tie
    block — and COUNTS the tie blocks at lo and hi instead of
    collecting them; the two median ranks are then resolved by rank
    arithmetic over (below, |ties of lo|, interior array, |ties of
    hi|). A size guard on the interior array raise_errors if the
    guarantee is ever violated. At bench SFs the bound already holds,
    so ZERO extra passes run and the wall is unchanged. The two
    collected rows are bounded scalars (the q_sim_cosine_topk
    pattern). approx_count_distinct runs at rsd 0.02 — the 0.05
    default IS the tolerance being asserted, so the sketch must be
    strictly tighter than the gate for the check to measure drift
    rather than luck."""
    li = load(spark, sf_dir, "lineitem")

    # Two separate head jobs on purpose: mixing count_distinct with
    # non-distinct aggregates in ONE agg plans an Expand that
    # replicates every input row per aggregate class (measured: the
    # combined form cost 18 s at sf1). The distinct count and its HLL
    # estimate both run over the distinct set (HLL of a set == HLL of
    # the multiset), which is a plain partial+final hash agg.
    # r12: the two head jobs are INDEPENDENT scans, so they run
    # CONCURRENTLY (Spark schedules concurrent actions from separate
    # driver threads). Interleaved same-JVM A/B at sf1: sequential
    # 1.99 s min vs concurrent 1.16 (-40%) — the serial scans were
    # the sf1 scale-trend's growth driver for this verification
    # harness (BENCH_SCALE_R12 trend 2.52 pre-change).
    def _distinct_head():
        return (
            li.select("l_partkey")
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("cd"),
                F.approx_count_distinct("l_partkey", 0.02).alias("acd"),
            )
            .collect()[0]
        )

    # ADVICE r12: a plain ThreadPoolExecutor worker does NOT inherit
    # the caller thread's Spark local properties under pinned-thread
    # mode (job group, scheduler pool, tags) — a driver cancelling by
    # job group would miss the concurrent head job, and an exception
    # in the median leg still blocked until the full distinct scan
    # finished (pool shutdown joins). pyspark.InheritableThread copies
    # the caller's local properties at start; the distinct head runs
    # under its own job group so the except path can cancel it instead
    # of waiting it out.
    from pyspark import InheritableThread

    sc = spark.sparkContext
    group = "q_agg_approx_distinct_head"
    box: dict[str, object] = {}

    def _run_head() -> None:
        # runs WITH the caller's inherited properties; narrow the job
        # group inside the thread so only this head job is cancellable
        sc.setJobGroup(group, "q_agg_approx distinct head",
                       interruptOnCancel=True)
        try:
            box["dk"] = _distinct_head()
        except Exception as ex:  # surfaced after join below
            box["err"] = ex

    t = InheritableThread(target=_run_head)
    t.start()
    try:
        exact, approx_median, n, n_all = _exact_median_frame(
            li, "l_extendedprice"
        )
    except Exception:
        sc.cancelJobGroup(group)  # don't block on a doomed result
        t.join()
        raise
    t.join()
    if "err" in box:
        raise box["err"]  # type: ignore[misc]
    dk = box["dk"]
    ok_distinct = abs(dk["acd"] - dk["cd"]) / dk["cd"] < 0.05
    return exact.select(
        F.lit(bool(ok_distinct)).alias("ok_distinct"),
        (
            F.abs(F.lit(float(approx_median)) - F.col("exact_median"))
            / F.col("exact_median")
            < F.lit(0.05)
        ).alias("ok_median"),
        F.lit(int(n_all)).cast("bigint").alias("n_rows"),
    )


@query(
    "q_agg_hll_sketch",
    oracle="""
    SELECT l_returnflag, TRUE AS ok_uniq,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_uniq
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE HLL sketches (Datasketches, Spark 3.5+): per-shard
    ``hll_sketch_agg`` then ``hll_union_agg`` across shards — the
    two-level pattern that makes distinct counts composable at 100 TB
    (sketch each partition/day once, union for any rollup later,
    never re-scan raw data; a sketch is a few KB regardless of input).
    The shard key here (l_orderkey % 16) stands in for the physical
    partition; the union must agree with a direct count within HLL
    error.

    Same tolerance-oracle contract as q_agg_approx: the query emits
    ``abs(est - exact)/exact < 0.05`` per group (TRUE in the DuckDB
    twin by construction) plus the exact count as a real cross-engine
    value check; the exact leg exists only to verify — production runs
    the sketch alone."""
    li = load(spark, sf_dir, "lineitem")
    shards = li.groupBy(
        "l_returnflag", (F.col("l_orderkey") % 16).alias("shard")
    ).agg(F.hll_sketch_agg("l_orderkey").alias("sk"))
    merged = shards.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_uniq")
    )
    return merged.join(exact, "l_returnflag").select(
        "l_returnflag",
        (
            F.abs(F.col("est") - F.col("exact_uniq"))
            / F.col("exact_uniq")
            < 0.05
        ).alias("ok_uniq"),
        F.col("exact_uniq").cast("bigint").alias("exact_uniq"),
    )


@query(
    "q_agg_stringagg",
    oracle="""
    SELECT o_orderstatus,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_orderkey) AS keys_csv,
           CAST(count(*) AS BIGINT) AS n
    FROM (SELECT * FROM orders WHERE o_custkey % 97 = 0)
    GROUP BY o_orderstatus
    """,
)
def q_agg_stringagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered STRING_AGG / LISTAGG — the report-friendly collection
    aggregate: per status, the comma-joined ordered key list. Spark
    spells it array_sort(collect_list) + array_join; the explicit sort
    makes the concatenation order total, so the strings hash-match
    DuckDB's ORDER BY string_agg. Output stays a scalar STRING (the
    q_agg_collect lesson). Grouped lists are bounded here by the
    filter; unbounded LISTAGG at 100 TB belongs in the inverted-index
    shape (df-capped) instead."""
    o = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 97 == 0)
    return o.groupBy("o_orderstatus").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("keys_csv"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_filtered",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT)
             AS n_bigqty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                FILTER (WHERE l_discount > 0.05) AS DOUBLE)
             AS rev_discounted,
           CAST(count(DISTINCT l_partkey)
                FILTER (WHERE l_shipdate >= '1997-06-01') AS BIGINT)
             AS parts_recent
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED AGGREGATES (SQL FILTER clause): several differently-
    predicated aggregates over ONE scan — the idiom that replaces N
    self-joins in reporting queries. Spark spells FILTER as
    when()-wrapped inputs (count counts non-nulls; sum skips nulls;
    count distinct ignores nulls), which compiles to the same single
    partial+final hash aggregate."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_bigqty"),
        as_double(
            F.sum(
                F.when(
                    F.col("l_discount") > 0.05, dec("l_extendedprice")
                )
            )
        ).alias("rev_discounted"),
        F.countDistinct(
            F.when(
                F.col("l_shipdate") >= "1997-06-01", F.col("l_partkey")
            )
        ).alias("parts_recent"),
    )


@query(
    "q_agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DISTINCT COUNT via BITMAP AGGREGATION — the warehouse
    pattern (ClickHouse groupBitmap, Doris bitmap_union) for dense
    integer keys: map each key to (word, bit), OR the masks per
    (group, word) — a map-side-combinable integer aggregate — then sum
    popcounts per group. The oracle is plain COUNT(DISTINCT), so the
    hash match PROVES the bitmap construction exact.

    Why it matters at 100 TB: COUNT(DISTINCT key) shuffles every
    distinct (group, key) pair; the bitmap shuffles one int64 per
    (group, 32-key word) — a 32× row reduction that gets BETTER as
    duplication grows, and the per-word bitmaps are mergeable state an
    incremental pipeline can store and union later (same property
    q_agg_hll_sketch exploits approximately, exact here because part
    keys are dense integers). 32-bit words in a BIGINT container keep
    every mask positive — no sign-bit/overflow divergence between
    engines.
    """
    li = load(spark, sf_dir, "lineitem")
    words = (
        li.select(
            "l_returnflag",
            (F.col("l_partkey") / 32).cast("bigint").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                " CAST(pmod(l_partkey, 32) AS INT))"
            ).alias("mask"),
        )
        .groupBy("l_returnflag", "word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    return words.groupBy("l_returnflag").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_parts")
    )


@query(
    "q_calendar_fill",
    oracle="""
    WITH span AS (
      SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
    ),
    cal AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS d
      FROM span
    ),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT cal.d, CAST(coalesce(daily.n, 0) AS BIGINT) AS n_orders,
           CAST(coalesce(daily.rev, 0) AS DOUBLE) AS revenue
    FROM cal LEFT JOIN daily ON cal.d = daily.d
    """,
)
def q_calendar_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DENSE CALENDAR ROLLUP: daily order count + revenue over EVERY
    day in the data's span, zero-filled — the gaps-included reporting
    grain that charting, anomaly baselines and forecasting consume
    (a day with no orders must appear as 0, which a plain GROUP BY
    never emits). The date dimension is GENERATED (explode of a date
    sequence from the 1-row global span), not stored — the same
    generator-as-dimension pattern as the tile grid.

    Shape: 1-row span agg (map-side combined), sequence-explode to
    ~2,400 calendar rows, broadcast hash left-join of calendar against
    the daily pre-aggregate. The big side is aggregated BEFORE the
    join, so the join input is days, not orders — at 100 TB the fill
    join costs nothing regardless of table size. DECIMAL revenue sums;
    zero-fill happens after the cast so both engines emit exact 0.0."""
    o = load(spark, sf_dir, "orders")
    # DATE-typed calendar: constructed TIMESTAMP outputs are the
    # driver-red representation class (round 3) — and o_orderdate is a
    # midnight-aligned day anyway, so DATE is also the honest grain.
    span = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    cal = span.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).alias("rev"),
    )
    return cal.join(daily, "d", "left").select(
        "d",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_orders"),
        F.coalesce(F.col("rev").cast("double"), F.lit(0.0)).alias("revenue"),
    )


@query(
    "q_agg_incremental",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL AGGREGATE MAINTENANCE: the base-95% partial state
    merged with a late-arriving 5% delta partition (split by
    o_orderkey % 20) must equal the full recompute — which is exactly
    what the oracle computes, so the hash match proves the merge
    algebra. COUNT merges by SUM, DECIMAL SUM by SUM; the same
    mergeable-state property behind every materialized-view refresh,
    watermark-late update and two-phase distributed aggregate.

    At 100 TB this is THE pattern that avoids reprocessing: partial
    states are one row per (partition, group) — storing and re-merging
    them costs group-cardinality, not table-cardinality. (Non-mergeable
    aggregates — exact medians, count-distinct without a bitmap/HLL
    state — are what make incremental pipelines hard; see
    q_agg_bitmap_distinct and q_agg_hll_sketch for the mergeable
    distinct-count states.)"""
    o = load(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).alias("rev"),
        )

    base = partial(o.where(F.col("o_orderkey") % 20 != 0))
    delta = partial(o.where(F.col("o_orderkey") % 20 == 0))
    return (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").cast("bigint").alias("n_orders"),
            F.sum("rev").cast("double").alias("revenue"),
        )
    )


@query(
    "q_agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(l_extendedprice AS DOUBLE) AS price,
             CAST(l_quantity AS BIGINT) AS qty,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(l_extendedprice AS DOUBLE),
                        l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
             ) AS total
      FROM lineitem
    ),
    crossing AS (
      SELECT l_returnflag, price,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY cum, price
             ) AS rn
      FROM w WHERE 2 * cum >= total
    )
    SELECT l_returnflag,
           round(price, 2) AS weighted_median_price
    FROM crossing WHERE rn = 1
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED MEDIAN — the quantity-weighted median extended price
    per return flag: the first price (in price order) whose cumulative
    weight reaches half the group's total. Plain quantile functions
    can't express this (neither engine has a weighted quantile
    aggregate); the cumulative-weight crossing IS the textbook
    definition, and weights as exact BIGINTs make the crossing
    comparison integer-exact in both engines.

    Shape: one cumulative-sum window per group (hash-partitioned on
    the group key, sorted within — at 100 TB a heavy group becomes the
    range-partition + broadcast-offsets two-pass rewrite used by
    q_hist_equidepth) and a 1-row-per-group pick. The emitted price is
    DOUBLE per the §5.3 money rule."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    staged = li.select(
        "l_returnflag",
        "price",
        F.sum("qty").over(w_cum).alias("cum"),
        F.sum("qty").over(w_tot).alias("total"),
    ).where(2 * F.col("cum") >= F.col("total"))
    w_pick = Window.partitionBy("l_returnflag").orderBy("cum", "price")
    return (
        staged.withColumn("rn", F.row_number().over(w_pick))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.round("price", 2).alias("weighted_median_price"),
        )
    )
