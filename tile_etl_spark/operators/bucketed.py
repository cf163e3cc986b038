"""Bucketed co-located join — the shuffle-elimination path for the
repeated big⋈big join (SURVEY §4.2 'Partitioning & shuffle').

At 100 TB, orders⋈lineitem on orderkey shuffles BOTH fact tables every
query. Bucketing writes each table hash-partitioned AND sorted by the
join key once; every subsequent join reads co-located buckets and
sort-merges with ZERO exchanges — the dominant shuffle in the workload
amortized into the write path. The plan test asserts the Exchange-free
shape.

The bucketed tables need a catalog (the session's in-memory one in
local runs). In a restricted driver environment where saveAsTable is
unavailable the builder degrades to the plain (shuffling) join —
identical rows, same oracle — and the scale path remains exercised by
the test suite.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.io import as_double, dec, load
from tile_etl_spark.registry import query

N_BUCKETS = 16


def _bucketed_table(
    spark: SparkSession, sf_dir: str, src: str, by: str, sort: tuple[str, ...]
) -> str:
    """``src`` as an external table bucketed by ``by`` and sorted by
    ``sort``: the files are an artifact (sources/files.artifact) whose
    identity covers the source fingerprint and the bucket spec, and the
    table takes its name from that artifact. The catalog is in-memory,
    so each process registers the published files once."""
    from tile_etl_spark.sources.files import artifact

    spec = (
        f"CLUSTERED BY ({by}) SORTED BY ({', '.join(sort)}) "
        f"INTO {N_BUCKETS} BUCKETS"
    )

    def write(tmp: str) -> None:
        # bucketBy needs a table to write through; the build table is
        # external, so dropping it keeps the files
        build = "bkt_build_" + uuid.uuid4().hex[:12]
        load(spark, sf_dir, src).write.option("path", tmp).bucketBy(
            N_BUCKETS, by
        ).sortBy(*sort).saveAsTable(build)
        spark.sql(f"DROP TABLE {build}")

    path = artifact(
        f"{src}_bkt", [os.path.join(sf_dir, f"{src}.parquet")], spec, write
    )
    tbl = os.path.basename(path)
    if not spark.catalog.tableExists(tbl):
        cols = load(spark, sf_dir, src).schema.toDDL()
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {tbl} ({cols}) USING parquet "
            f"{spec} LOCATION '{path}'"
        )
    return tbl


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame] | None:
    """orders + lineitem as bucketed-by-orderkey external tables
    (written once per source); None if the environment has no metastore."""
    try:
        return tuple(
            spark.table(_bucketed_table(spark, sf_dir, src, key, (key,)))
            for src, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))
        )
    except Exception as ex:
        import sys

        print(f"bucketed_tables unavailable: {ex!r:.200}", file=sys.stderr)
        return None


def orders_by_custkey(spark: SparkSession, sf_dir: str) -> str | None:
    """``orders`` as a custkey-bucketed external table (written once
    per source, like the orderkey buckets above) — the zero-exchange
    layout for every per-customer window/aggregate: the bucketed scan's
    HashPartitioning(o_custkey) already satisfies the window's
    ClusteredDistribution, so rank-per-customer plans as scan →
    in-partition sort → WindowGroupLimit with NO shuffle at any scale.
    Returns the table name, or None without a metastore."""
    try:
        return _bucketed_table(
            spark, sf_dir, "orders", "o_custkey", ("o_custkey", "o_orderkey")
        )
    except Exception as ex:
        import sys

        print(f"orders_by_custkey unavailable: {ex!r:.200}", file=sys.stderr)
        return None


@query(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈lineitem on orderkey over bucketed tables: both sides
    pre-hashed into the same 16 buckets and pre-sorted, so the
    sort-merge join plans with no Exchange and no Sort (falls back to
    the shuffling join where no metastore exists — same rows)."""
    bkt = bucketed_tables(spark, sf_dir)
    if bkt is not None:
        o, li = bkt
    else:  # degraded environment: identical semantics, shuffled plan
        o = load(spark, sf_dir, "orders")
        li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            as_double(F.sum(dec("l_extendedprice"))).alias("total_price"),
        )
    )
