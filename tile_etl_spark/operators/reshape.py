"""Pivot/unpivot and subquery shapes — beyond SURVEY §2B's letter but
inside its spirit: the remaining everyday SQL surface a user migrating
a warehouse workload expects. All Catalyst-native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.io import load, table_view
from tile_etl_spark.registry import query


@query(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS spend_f,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS spend_o,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS spend_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on an EXPLICIT value list — the only scale-safe form (an
    unlisted pivot needs a distinct-values pre-pass over the fact
    table). Planned as one aggregate with conditional expressions, same
    as the oracle's FILTER clauses.

    CONDITIONAL-AGGREGATION form (r12, VERDICT r11 #1): Catalyst
    lowers an explicit-value SINGLE-aggregate .pivot() to exactly
    these conditional aggregates; the MULTI-aggregate .pivot() API
    (the r11 form, count+sum) instead plans an inner (group, pivot)
    aggregate feeding a PivotFirst aggregate — one more aggregate +
    exchange — and the DataFrame build itself costs ~8 eagerly-
    analyzed steps. Interleaved same-JVM A/B at sf0.1: multi-agg
    pivot 0.176 s median, struct-single-agg pivot 0.164, this one-
    statement conditional-agg SQL 0.101 (-43%), values bit-identical
    across all three (the .pivot() API equivalence is pinned in
    tests/test_round7_pins.py). ONE partial+final hash agg, one
    exchange carrying ~5 rows x partitions, two stages — the minimal
    distributed pivot at any scale. Per-row work stays exact-BIGINT
    cents (see _Q1_CELLS_SQL) with the decimal reconstruction on the
    ~5 result rows: bit-identical by additivity, no per-row decimal
    casts. count(IF(...)) yields 0 on empty cells and sum(IF(...))
    yields NULL — the oracle's FILTER semantics exactly."""
    t = table_view(spark, sf_dir, "orders")
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"

    def spend(status: str, alias: str) -> str:
        return (
            f"CAST(CAST(sum(IF(o_orderstatus = '{status}', {cents}, "
            f"NULL)) AS DECIMAL(30,0)) * CAST(0.01 AS DECIMAL(3,2)) "
            f"AS DOUBLE) AS {alias}"
        )

    return spark.sql(
        f"""
        SELECT o_orderpriority,
               CAST(count(IF(o_orderstatus = 'F', 1, NULL)) AS BIGINT) AS n_f,
               CAST(count(IF(o_orderstatus = 'O', 1, NULL)) AS BIGINT) AS n_o,
               CAST(count(IF(o_orderstatus = 'P', 1, NULL)) AS BIGINT) AS n_p,
               {spend('F', 'spend_f')},
               {spend('O', 'spend_o')},
               {spend('P', 'spend_p')}
        FROM {t}
        GROUP BY o_orderpriority
        """
    )


@query(
    "q_unpivot",
    # UNION ALL form, not parallel-unnest: building two list literals
    # per row cost DuckDB ~15 us/row (the r9 sf1 sweep interrupted this
    # twin at 120 s; measured 301 s to completion at sf1). Three
    # column-sliced scans of the same parquet are the vectorized
    # equivalent — identical rows, >100x faster denominator.
    oracle="""
    SELECT l_orderkey, l_linenumber, 'price' AS kind,
           round(l_extendedprice, 6) AS amount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount' AS kind,
           round(l_discount, 6) AS amount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax' AS kind,
           round(l_tax, 6) AS amount FROM lineitem
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide → long without a shuffle — a generator
    expression per row, the columnar-friendly normalization step."""
    li = load(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "kind",
        "amount",
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("kind") == "l_extendedprice", "price")
        .when(F.col("kind") == "l_discount", "discount")
        .otherwise("tax")
        .alias("kind"),
        F.round("amount", 6).alias("amount"),
    )


@query(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           round(o_totalprice - (SELECT avg(o_totalprice) FROM orders), 6)
             AS dev_from_mean
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: planned once, broadcast as a
    literal into the filter/projection (Catalyst subquery execution)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               round(o_totalprice - (SELECT avg(o_totalprice) FROM orders_sq), 6)
                 AS dev_from_mean
        FROM orders_sq
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders_sq)
        """
    )


@query(
    "q_subquery_corr",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE c.c_acctbal > (
      SELECT 0.001 * sum(o.o_totalprice) FROM orders o
      WHERE o.o_custkey = c.c_custkey
    )
    """,
)
def q_subquery_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: Catalyst decorrelates it into an
    aggregate + join — never a per-row re-execution (the plan-quality
    suite's no-nested-loop rule applies here too)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_sqc")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_sqc")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM customer_sqc c
        WHERE c.c_acctbal > (
          SELECT 0.001 * sum(o.o_totalprice) FROM orders_sqc o
          WHERE o.o_custkey = c.c_custkey
        )
        """
    )


_RECURSIVE_SQL = """
    WITH RECURSIVE up AS (
      SELECT CAST(n_nationkey AS INT) AS node,
             CAST(n_nationkey AS INT) AS root,
             CAST(0 AS INT) AS depth
      FROM nation WHERE n_nationkey < 5
      UNION ALL
      SELECT CAST(n.n_nationkey AS INT), up.root,
             CAST(up.depth + 1 AS INT)
      FROM nation n JOIN up ON n.n_nationkey - 5 = up.node
    )
    SELECT node, root, depth FROM up
"""


@query("q_recursive_cte", oracle=_RECURSIVE_SQL)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE (Spark 4 WITH RECURSIVE): transitive closure of a
    parent chain — each nation links to (key − 5), giving five
    root-anchored chains; the recursion emits every node with its root
    and depth. The hierarchy/reachability primitive (org rollups, BOM
    explosion, referral trees) that previously needed a driver-side
    iteration loop (cf. q_graph_pagerank's bounded iterations) is now
    a single declarative statement the engine fixpoints.

    The IDENTICAL SQL text runs in both engines (same portability
    contract as q_sql_api). Spark executes each recursion step as a
    join against the previous step's frontier — at scale the frontier
    is partition-parallel and the fixpoint terminates when a step adds
    no rows (here: depth 4)."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_RECURSIVE_SQL)


_LATERAL_SQL = """
    SELECT r.r_name, t.n_name, t.n_customers
    FROM region r,
    LATERAL (
      SELECT n.n_name, CAST(count(c.c_custkey) AS BIGINT) AS n_customers
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      WHERE n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name
      ORDER BY n_customers DESC, n.n_name ASC
      LIMIT 2
    ) t
"""


@query("q_lateral_topn", oracle=_LATERAL_SQL)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with per-row LIMIT — top-2 nations
    by customer count WITHIN each region, phrased the SQL-standard way
    (the same result q_topk_per_group gets from a rank window; LATERAL
    is the form ported SQL workloads arrive in). The identical text
    runs in both engines.

    Catalyst decorrelates the lateral into a join + per-group limit —
    the plan-level point being pinned: a correlated LIMIT subquery
    must not execute once per outer row at scale, it must become one
    set-based plan."""
    load(spark, sf_dir, "region").createOrReplaceTempView("region")
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_SQL)
