"""Projection / filter / predicate operators (SURVEY §2B).

All predicates are plain Catalyst expressions — they push down into the
parquet scan (visible as PushedFilters in .explain("formatted")), which
is the whole game at 100 TB: row groups whose min/max exclude the
predicate are never read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.io import as_double, dec, load, table_view
from tile_etl_spark.registry import query

# Dialect-shared SQL (valid Spark SQL AND DuckDB SQL verbatim): the
# oracle binds {t}=the DuckDB view, the builder binds {t}=the memoized
# Spark temp view, so both engines run the SAME text over the SAME
# logical scan. One spark.sql() call replaces a chain of eagerly
# analyzed DataFrame steps — measured ~70 ms → ~8 ms of per-build
# latency on this floor-dominated qid, with a byte-identical physical
# plan (pushdown + partial/final agg unchanged; plan tests pin it).
_FILTER_RANGE_SQL = """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM {t}
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
"""


@query(
    "q_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
    """,
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure projection: ReadSchema must shrink to exactly 4 columns —
    the scan never materializes the other 7."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )


@query(
    "q_scan_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    """,
)
def q_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate pushed to the parquet reader (PushedFilters:
    GreaterThanOrEqual(l_shipdate, ...)) — row-group min/max skipping."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")).select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )


@query("q_filter_range", oracle=_FILTER_RANGE_SQL.format(t="lineitem"))
def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: conjunctive range predicates + exact-decimal sum.
    Every conjunct is pushdown-eligible; the aggregate is one partial+
    final hash agg with a 1-row shuffle. Issued as ONE dialect-shared
    spark.sql() over the memoized scan view (_FILTER_RANGE_SQL) —
    identical resolved plan, ~10× cheaper plan construction."""
    return spark.sql(
        _FILTER_RANGE_SQL.format(t=table_view(spark, sf_dir, "lineitem"))
    )


@query(
    "q_project_expr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS charge,
           CAST(l_quantity * 100 AS BIGINT) AS qty_centi
    FROM lineitem
    """,
)
def q_project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed projection — stays inside whole-stage codegen; no
    Python in the row path."""
    li = load(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice") * (1 - dec("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        as_double(revenue).alias("revenue"),
        as_double(revenue * (1 + dec("l_tax"))).alias("charge"),
        (F.col("l_quantity") * 100).cast("bigint").alias("qty_centi"),
    )


@query(
    "q_filter_in_like",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE (p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
           OR p_name LIKE '%bolt%')
      AND p_size BETWEEN 5 AND 36
      AND p_type NOT LIKE 'PROMO%'
    """,
)
def q_filter_in_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list, LIKE, BETWEEN, NOT — all pushdown-eligible (In,
    StringContains, StringStartsWith reach the parquet reader)."""
    p = load(spark, sf_dir, "part")
    return p.filter(
        (
            F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
            | F.col("p_name").like("%bolt%")
        )
        & F.col("p_size").between(5, 36)
        & ~F.col("p_type").like("PROMO%")
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


@query(
    "q_filter_null_bool",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, value,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v_nullable
      FROM events
    )
    SELECT event_id, user_id, event_type,
           (v_nullable > 50) AS gt50,
           (v_nullable IS NULL) AS is_null
    FROM e
    WHERE v_nullable IS NULL OR (v_nullable > 50) IS NOT FALSE
    """,
)
def q_filter_null_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic edge: a NULL-able computed column, a predicate
    whose UNKNOWN outcome must be kept (IS NOT FALSE), and boolean
    outputs carrying NULLs. The fixture has no stored NULLs, so NULL is
    injected with the same CASE in both engines."""
    e = load(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    df = e.select(
        "event_id", "user_id", "event_type", v.alias("v_nullable")
    )
    return df.filter(
        F.col("v_nullable").isNull()
        | ~(F.col("v_nullable") > 50).eqNullSafe(F.lit(False))
    ).select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("v_nullable") > 50).alias("gt50"),
        F.col("v_nullable").isNull().alias("is_null"),
    )
