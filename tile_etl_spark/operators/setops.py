"""Sorts, limits, top-k, and set operations (SURVEY §2B).

Top-k uses Spark's TakeOrderedAndProject physical operator — each
partition keeps only its local k, the driver merges k·p rows — never a
full global sort. Grouped top-k is the row_number + filter pattern:
one shuffle on the group key, per-group heap via window sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.io import load, plan_memo, table_view
from tile_etl_spark.registry import query

# Dialect-shared grouped-top-k text (valid Spark SQL and DuckDB SQL
# verbatim; {t} = orders view). The builder issues it as ONE
# spark.sql() call over the memoized scan view — same WindowGroupLimit
# physical plan, a fraction of the eager-analysis build cost.
_TOPK_PER_GROUP_SQL = """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM {t}
    )
    WHERE rn <= 3
"""


@query(
    "q_sort_multi",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    ORDER BY o_orderstatus ASC NULLS FIRST, o_totalprice DESC NULLS LAST,
             o_orderkey ASC
    """,
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit NULL placement (Spark defaults
    NULLS FIRST asc, DuckDB NULLS LAST — spelled out on both sides).
    The driver's hash is order-insensitive; this verifies the row set
    survives a global range-partitioned sort."""
    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_orderstatus", "o_totalprice").orderBy(
        F.asc_nulls_first("o_orderstatus"),
        F.desc_nulls_last("o_totalprice"),
        F.asc("o_orderkey"),
    )


@query(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by (totalprice DESC, orderkey ASC) — a total order, so
    the set is deterministic. Physical plan: TakeOrderedAndProject
    (per-partition heap, no global sort)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query("q_topk_per_group", oracle=_TOPK_PER_GROUP_SQL.format(t="orders"))
@plan_memo("orders")
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: row_number window + filter. Spark
    pushes the rank limit into the sort (WindowGroupLimit) so each
    group materializes only its top rows. Issued as ONE dialect-shared
    spark.sql() (_TOPK_PER_GROUP_SQL), preferentially over the
    custkey-BUCKETED orders table: its HashPartitioning(o_custkey)
    satisfies the window's required distribution, so the plan is
    scan → in-partition sort → WindowGroupLimit with ZERO exchanges —
    the shape a repeated per-customer workload wants at 100 TB
    (the fact table shuffles once at write time, never per query).
    Falls back to the plain scan view (one shuffle) where the
    environment has no metastore; identical rows either way."""
    from tile_etl_spark.operators.bucketed import orders_by_custkey

    t = orders_by_custkey(spark, sf_dir) or table_view(
        spark, sf_dir, "orders"
    )
    return spark.sql(_TOPK_PER_GROUP_SQL.format(t=t))


@query(
    "q_union_all",
    oracle="""
    SELECT o_custkey AS custkey, 'order' AS src FROM orders
    UNION ALL
    SELECT c_custkey AS custkey, 'customer' AS src FROM customer
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union by name — no shuffle at all; partitions concatenate."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), F.lit("order").alias("src")
    )
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.lit("customer").alias("src")
    )
    return o.unionByName(c)


@query(
    "q_union_distinct",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    UNION
    SELECT c_custkey AS custkey FROM customer
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union = bag union + hash-distinct (one shuffle on the key)."""
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    return o.union(c).distinct()


@query(
    "q_intersect",
    oracle="""
    SELECT CAST(l_quantity AS INT) AS v FROM lineitem
    INTERSECT
    SELECT p_size AS v FROM part
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — planned as a left-semi join on
    all columns after dedup."""
    a = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("int").alias("v")
    )
    b = load(spark, sf_dir, "part").select(F.col("p_size").alias("v"))
    return a.intersect(b)


@query(
    "q_except",
    oracle="""
    SELECT p_size AS v FROM part
    EXCEPT
    SELECT CAST(l_quantity AS INT) AS v FROM lineitem
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — left-anti join after dedup."""
    a = load(spark, sf_dir, "part").select(F.col("p_size").alias("v"))
    b = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("int").alias("v")
    )
    return a.subtract(b)


@query(
    "q_except_all",
    oracle="""
    SELECT c_nationkey AS v FROM customer
    EXCEPT ALL
    SELECT n_nationkey AS v FROM nation
    """,
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference with multiplicity (each nation key
    removes one customer occurrence)."""
    a = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("v")
    )
    b = load(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("v"))
    return a.exceptAll(b)


@query(
    "q_intersect_all",
    oracle="""
    SELECT CAST(l_quantity AS INT) AS v FROM lineitem WHERE l_quantity <= 10
    INTERSECT ALL
    SELECT p_size AS v FROM part
    """,
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag intersection (min multiplicity per value)."""
    a = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") <= 10)
        .select(F.col("l_quantity").cast("int").alias("v"))
    )
    b = load(spark, sf_dir, "part").select(F.col("p_size").alias("v"))
    return a.intersectAll(b)


@query(
    "q_union_by_name",
    oracle="""
    SELECT key, CAST(price AS DOUBLE) AS price, CAST(size AS INT) AS size
    FROM (
      SELECT p_partkey AS key, p_retailprice AS price, p_size AS size
      FROM part
      UNION ALL BY NAME
      SELECT s_acctbal AS price, s_suppkey + 1000000 AS key
      FROM supplier
    )
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION BY NAME with missing columns — the schema-drift union: two
    feeds whose columns differ in ORDER and PRESENCE align by column
    NAME (never position), and columns absent from one side null-fill.
    This is how a pipeline appends a v2 feed that dropped or reordered
    fields without silent positional corruption — the compute-side
    complement of q_schema_evolution's mergeSchema read. Spark:
    ``unionByName(allowMissingColumns=True)``; DuckDB: ``UNION ALL BY
    NAME`` — both engines treat names, not positions, as the contract."""
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("key"),
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_acctbal").alias("price"),
        (F.col("s_suppkey") + 1000000).alias("key"),
    )
    return p.unionByName(s, allowMissingColumns=True).select(
        "key",
        F.col("price").cast("double").alias("price"),
        F.col("size").cast("int").alias("size"),
    )
