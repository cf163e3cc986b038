"""The reference program, end to end, as ONE dataflow (src/Program.cs
Run(): grid → path codec → existence → read bytes → key codec → PUT
with per-tile error containment → progress report).

The reference does this as a sequential per-tile loop with one upload
in flight (P:93-117; its dominant inefficiency, SURVEY §4.1). Here it
is a single declarative pipeline: distributed binary scan, codec
expressions, a mapInPandas PUT stage with a dead-letter stream, and a
per-level summary aggregate standing in for the console progress lines
(P:73,120-127). Every stage is the one the per-operator qids verify in
isolation; this qid verifies the composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.registry import query
from tile_etl_spark.tiles.grid import PRESENT_SQL, grid_oracle_cte
from tile_etl_spark.tiles.sink import objectstore_sink


@query(
    "q_tile_etl_e2e",
    oracle=grid_oracle_cte((5, 5))
    + f"""
    , tiles AS (
      SELECT level, "row", col,
             printf('L%02d/R%s/C%s.jpg', level,
                    right(printf('%016x', CAST("row" AS BIGINT)), 8),
                    right(printf('%016x', CAST(col AS BIGINT)), 8)) AS src_path,
             concat_ws('/', 'Lite', level, "row", col) AS object_key
      FROM grid
    ),
    present AS (
      SELECT *,
             CAST(32 * (((ascii(substring(md5(src_path), 4, 1)) + 7) % 5) + 1)
                  AS BIGINT) AS n_bytes
      FROM tiles
      WHERE {PRESENT_SQL}
    )
    SELECT level,
           CAST(count(*) FILTER (WHERE substring(md5(object_key), 1, 1) <> '0')
                AS BIGINT) AS n_uploaded,
           CAST(count(*) FILTER (WHERE substring(md5(object_key), 1, 1) = '0')
                AS BIGINT) AS n_dead_letter,
           CAST(sum(n_bytes) FILTER (WHERE substring(md5(object_key), 1, 1) <> '0')
                AS BIGINT) AS bytes_uploaded
    FROM present GROUP BY level
    """,
)
def q_tile_etl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference-parity pipeline over the materialized level-5
    cache: binaryFile scan (A6+A7 — listing IS the existence filter) →
    parse codec → decimal object keys (A8) → object-store PUT with
    dead-letter (A10–A11) → per-level progress summary (A13). The
    oracle recomputes uploads, dead letters and byte volume from the
    shared deterministic formulas."""
    from tile_etl_spark.sources.files import _art, tile_cache
    from tile_etl_spark.tiles.grid import parse_src_path

    cache = tile_cache(spark)
    store = _art("object_store_e2e")

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .option("recursiveFileLookup", "true")
        .load(cache)
    )
    tiles = files.select(
        F.regexp_extract(
            "path", r"(L\d{2}/R[0-9a-f]{8}/C[0-9a-f]{8}\.jpg)$", 1
        ).alias("src_path"),
        "content",
        "length",
    )
    lvl, row, col = parse_src_path(F.col("src_path"))
    tiles = tiles.select(
        lvl.alias("level"),
        F.concat_ws("/", F.lit("Lite"), lvl, row, col).alias("object_key"),
        "content",
        "length",
    )
    statuses = objectstore_sink(
        tiles.select("object_key", "content"), store
    )
    return (
        tiles.join(statuses, "object_key")
        .groupBy("level")
        .agg(
            F.count(F.when(F.col("status") == "ok", 1)).alias("n_uploaded"),
            F.count(F.when(F.col("status") == "err", 1)).alias(
                "n_dead_letter"
            ),
            F.sum(F.when(F.col("status") == "ok", F.col("length"))).alias(
                "bytes_uploaded"
            ),
        )
    )
