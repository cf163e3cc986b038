"""CSV / JSON / partitioned-parquet / binary-file sources and sinks,
and the build-once rule for every derived artifact.

Derived inputs — scan re-layouts (io), the tile cache, stream-replay
chunks (streaming/replay), partitioned and bucketed copies — are built
by ``artifact`` under ART_DIR, which bench, tests and the driver share
at the same time. An artifact's identity (its sources' fingerprint plus
the recipe that shapes it) is in its directory NAME; a build fills a
private sibling directory and is published by one ``os.rename``; a
published directory is never rewritten or removed, so a frame that
read it stays readable for as long as its process lives. The sink qids'
round-trip output (``_art``) is the operator under test and is
rewritten on every call.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.io import as_double, load, source_fingerprint
from tile_etl_spark.registry import query
from tile_etl_spark.tiles.grid import (
    PRESENT_SQL,
    grid_oracle_cte,
    src_path_col,
    tile_grid,
)

ART_DIR = os.environ.get(
    "SPARK_GRAFT_ART_DIR", "/tmp/tile_etl_spark_artifacts"
)


def _art(name: str) -> str:
    os.makedirs(ART_DIR, exist_ok=True)
    return os.path.join(ART_DIR, name)


def artifact(
    name: str,
    sources: Iterable[str],
    recipe: str,
    write: Callable[[str], None],
) -> str:
    """Path of the derived artifact ``ART_DIR/{name}_{id}``, built once.

    ``id`` hashes ``source_fingerprint(*sources)`` and ``recipe`` (every
    parameter that shapes the output), so a regenerated source or a new
    recipe names a new directory instead of rebuilding one that readers
    hold. If the directory exists it is returned as it is. Otherwise
    ``write(tmp)`` creates and fills ``tmp``, a ``.build-<uuid>``
    sibling, and ``os.rename`` publishes it; if another builder
    published first, the rename fails and this build is dropped — the
    published directory is never touched."""
    key = f"{source_fingerprint(*sources)}|{recipe}"
    path = os.path.join(
        ART_DIR, f"{name}_{hashlib.md5(key.encode()).hexdigest()[:12]}"
    )
    if os.path.isdir(path):
        return path
    tmp = f"{path}.build-{uuid.uuid4().hex}"
    try:
        write(tmp)
        os.rename(tmp, path)
    except OSError:
        if not os.path.isdir(path):
            raise  # a failed build, not a lost race
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


@query(
    "src_csv_json",
    oracle="""
    SELECT n_nationkey, n_name AS name_csv, n_name AS name_json,
           n_regionkey
    FROM nation
    """,
)
def src_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON ingest round trip: write `nation` to both formats,
    read back with an explicit DDL schema (schema-first policy, SURVEY
    §1.3), join on the key. Losslessness makes the oracle the original
    table itself — an H-checked round trip."""
    n = load(spark, sf_dir, "nation")
    csv_dir, json_dir = _art("nation_csv"), _art("nation_json")
    n.coalesce(1).write.mode("overwrite").option("header", True).csv(csv_dir)
    n.coalesce(1).write.mode("overwrite").json(json_dir)
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    c = spark.read.option("header", True).schema(schema).csv(csv_dir)
    j = spark.read.schema(schema).json(json_dir)
    return (
        c.alias("c")
        .join(j.alias("j"), "n_nationkey")
        .select(
            "n_nationkey",
            F.col("c.n_name").alias("name_csv"),
            F.col("j.n_name").alias("name_json"),
            F.col("c.n_regionkey").alias("n_regionkey"),
        )
    )


@query(
    "src_csv_infer",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def src_csv_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest with SCHEMA INFERENCE (inferSchema samples the data;
    integers come back as int — normalized to BIGINT so the oracle
    twin's types match). Inference costs an extra pass over the file —
    fine for ad-hoc ingest, never for the 100 TB path (explicit DDL,
    as src_csv_json)."""
    n = load(spark, sf_dir, "nation")
    csv_dir = _art("nation_csv_infer")
    n.coalesce(1).write.mode("overwrite").option("header", True).csv(csv_dir)
    c = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(csv_dir)
    )
    return c.select(
        F.col("n_nationkey").cast("bigint"),
        "n_name",
        F.col("n_regionkey").cast("bigint"),
    )


@query(
    "sink_parquet",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned columnar sink: write orders partitioned by
    o_orderstatus (hive-style directories — the layout that gives
    partition pruning on read), read back, aggregate. The oracle reads
    the ORIGINAL table: the round trip must be lossless.

    Scale note: partitionBy on a low-cardinality column is exactly how
    a 100 TB table should land; each partition's files write in
    parallel from their tasks."""
    out = _art("orders_by_status")
    o = load(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@query(
    "src_orc",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingest round trip: write ``nation`` to ORC, read back with
    an explicit DDL schema. ORC is Spark-native (same vectorized reader
    + predicate pushdown machinery as Parquet), so losslessness makes
    the oracle the original table — DuckDB never needs to read ORC
    itself. Columnar-format interop matters for lakes that standardized
    on ORC (Hive lineage) rather than Parquet."""
    n = load(spark, sf_dir, "nation")
    orc_dir = _art("nation_orc")
    n.coalesce(1).write.mode("overwrite").orc(orc_dir)
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    return (
        spark.read.schema(schema).orc(orc_dir)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query(
    "src_xml",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def src_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest round trip (Spark 4 NATIVE ``format("xml")`` — the
    former spark-xml package folded into core): write ``nation`` as
    ``<row>`` elements, read back with an explicit DDL schema.
    Losslessness makes the oracle the original table, same contract as
    src_orc. XML matters for the enterprise feeds (SOAP exports, config
    dumps, HL7/FpML-style documents) that never migrated to columnar
    formats; the reader distributes by splitting on the row tag, so a
    large export parallelizes like any text source. Scale note: XML is
    an INGEST format here — the first hop lands it in Parquet
    (sink_parquet), nothing downstream re-parses XML."""
    n = load(spark, sf_dir, "nation")
    xml_dir = _art("nation_xml")
    (
        n.coalesce(1)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(xml_dir)
    )
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    return (
        spark.read.schema(schema)
        .format("xml")
        .option("rowTag", "nation")
        .load(xml_dir)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


# Deterministic synthetic tile content shared with the DuckDB twin:
# repeat md5(src_path) k times, k = ((ascii(4th md5 char) + 7) % 5) + 1.
_K_SQL = "((ascii(substring(md5(src_path), 4, 1)) + 7) % 5) + 1"


def _tile_files_df(spark: SparkSession, max_level: int = 5) -> DataFrame:
    g = (
        tile_grid(spark)
        .where(F.col("level") <= max_level)
        .withColumn("src_path", src_path_col())
        .where(F.expr(PRESENT_SQL))
    )
    return g.withColumn("k", F.expr(_K_SQL)).withColumn(
        "content_str", F.repeat(F.md5(F.col("src_path").cast("binary")), F.col("k"))
    )


def tile_cache(spark: SparkSession) -> str:
    """The level-5 present tiles as REAL files in the ArcGIS
    exploded-cache layout (src/Program.cs:99-100), built once. Content
    is the deterministic md5-repeat string, so every engine can
    recompute it. The recipe covers EVERY input that shapes the file
    set — the key/present formulas AND the grid definition (extent +
    level-5 bounds) — so a change to any of them names a new cache."""
    from tile_etl_spark.tiles.grid import EXTENT, level_bounds

    def write(tmp: str) -> None:
        rows = _tile_files_df(spark).select("src_path", "content_str").collect()
        for r in rows:
            p = os.path.join(tmp, r["src_path"])
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:
                f.write(r["content_str"].encode("ascii"))

    return artifact(
        "tiles_cache",
        [],
        f"{_K_SQL}|{PRESENT_SQL}|{EXTENT}|{level_bounds(5)}|v1",
        write,
    )


_GRID5_ORACLE = grid_oracle_cte((5, 5)) + """
    , paths AS (
      SELECT printf('L%02d/R%s/C%s.jpg', level,
                    right(printf('%016x', CAST("row" AS BIGINT)), 8),
                    right(printf('%016x', CAST(col AS BIGINT)), 8)) AS src_path
      FROM grid
    )
"""


@query(
    "src_binary",
    oracle=_GRID5_ORACLE
    + f"""
    SELECT src_path,
           CAST(32 * ({_K_SQL}) AS BIGINT) AS length,
           md5(repeat(md5(src_path), {_K_SQL})) AS content_md5
    FROM paths WHERE {PRESENT_SQL}
    """,
)
def src_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source over a materialized exploded tile cache —
    the distributed replacement for the reference's per-tile
    File.Exists + ReadAllBytes loop (src/Program.cs:102-107): listing
    and content reads are both cluster-parallel, and `pathGlobFilter`
    prunes non-tiles at listing time. H-checked: path, byte length and
    content md5 all recomputed by DuckDB from the shared formula."""
    base = tile_cache(spark)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .option("recursiveFileLookup", "true")
        .load(base)
    )
    return files.select(
        F.regexp_extract(
            "path", r"(L\d{2}/R[0-9a-f]{8}/C[0-9a-f]{8}\.jpg)$", 1
        ).alias("src_path"),
        F.col("length"),
        F.md5("content").alias("content_md5"),
    )


def _events_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """Hive-partitioned (by event_date) copy of ``events`` — the
    canonical lake layout, built once per source fingerprint and shared
    by the static (q_partition_prune) and dynamic (q_join_dpp) pruning
    qids."""

    def write(tmp: str) -> None:
        (
            load(spark, sf_dir, "events")
            .withColumn("event_date", F.col("ts").cast("date"))
            .repartition("event_date")
            .write.partitionBy("event_date")
            .parquet(tmp)
        )

    return artifact(
        "events_by_date",
        [os.path.join(sf_dir, "events.parquet")],
        "partitionBy=event_date",
        write,
    )


@query(
    "q_partition_prune",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
    GROUP BY event_date, event_type
    """,
)
def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION PRUNING end to end: events are written out
    hive-partitioned by event_date (the canonical lake layout —
    fingerprint-cached artifact, built once), then read back with an
    equality filter on one date. Spark turns the filter into a
    PartitionFilter: only that date's directory is LISTED AND READ —
    at 100 TB this is the difference between scanning one day and
    scanning three years. The plan test pins PartitionFilters being
    present and the scan reading a single partition directory.

    The probe date (corpus min) is resolved by a bounded 1-row scalar
    lookup and inlined as a LITERAL — exactly what a real daily job
    does with its run date — because static literals are what give the
    scan a static PartitionFilter (a broadcast-join variant was tried
    first: without a selective predicate on the dim side, dynamic
    partition pruning does not engage and the scan read every
    directory)."""
    e = load(spark, sf_dir, "events")
    part = spark.read.parquet(_events_partitioned(spark, sf_dir))
    min_date = e.agg(F.min(F.col("ts").cast("date"))).first()[0]
    return (
        part.where(F.col("event_date") == F.lit(min_date))
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            as_double(F.sum(F.col("value").cast("decimal(18,6)"))).alias(
                "sum_value"
            ),
        )
        .select("event_date", "event_type", "n", "sum_value")
    )


@query(
    "q_join_dpp",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE day(CAST(ts AS DATE)) <= 5
    GROUP BY event_type
    """,
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING: the hive-partitioned events fact is
    joined to a small date dimension filtered to campaign days
    (day-of-month ≤ 5). The filter lives on the DIM side, so no static
    PartitionFilter exists at plan time — instead Catalyst injects a
    dynamicpruning#N subquery into the fact scan: the dim's surviving
    event_date keys are broadcast FIRST and the fact table lists/reads
    ONLY those partitions. q_partition_prune pins the static half of
    lake pruning; this pins the runtime half — at 100 TB it is what
    keeps "join facts to this month's campaign calendar" from scanning
    three years of directories. The plan test asserts the
    dynamicpruning expression is present in the fact scan.

    The dim is a REAL separate parquet artifact (dates + day-of-month,
    rebuilt per source fingerprint): DPP only engages for a genuine
    scan-side build relation, not a LocalRelation."""
    fact = spark.read.parquet(_events_partitioned(spark, sf_dir))

    def write(tmp: str) -> None:
        (
            load(spark, sf_dir, "events")
            .select(F.col("ts").cast("date").alias("event_date"))
            .distinct()
            .withColumn("dom", F.dayofmonth("event_date"))
            .coalesce(1)
            .write.parquet(tmp)
        )

    dim_dir = artifact(
        "date_dim", [os.path.join(sf_dir, "events.parquet")], "dom", write
    )
    dim = spark.read.parquet(dim_dir).where(F.col("dom") <= 5)
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            as_double(
                F.sum(F.col("value").cast("decimal(18,6)"))
            ).alias("sum_value"),
        )
    )


@query(
    "src_text",
    oracle="""
    SELECT doc_id,
           regexp_replace(text, '[\n\r\t]', ' ', 'g') AS text_rt
    FROM documents
    """,
)
def src_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINE-DELIMITED TEXT round trip — the rawest ingest format a text
    pipeline meets (one document per line, tab-separated id prefix).
    Documents are sanitized (newlines/tabs → space — the standard
    flatten for line-oriented corpora), written with ``df.write.text``,
    read back with ``spark.read.text`` (distributed line source,
    whole-stage codegen scan), and re-parsed by splitting at the first
    tab. Losslessness after sanitization makes the oracle the sanitized
    source table itself, H-checked — proving codec + escaping fidelity,
    the property that matters when a 100 TB corpus round-trips through
    plain-text interchange."""
    d = load(spark, sf_dir, "documents")
    out = _art("documents_txt")
    clean = F.regexp_replace("text", "[\\n\\r\\t]", " ")
    (
        d.select(
            F.concat_ws(
                "\t", F.col("doc_id").cast("string"), clean
            ).alias("value")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(out)
    )
    lines = spark.read.text(out)
    return lines.select(
        F.split_part(F.col("value"), F.lit("\t"), F.lit(1))
        .cast("bigint")
        .alias("doc_id"),
        F.split_part(F.col("value"), F.lit("\t"), F.lit(2)).alias("text_rt"),
    )


# Deterministic "previous run" manifest, shared with the oracle: a
# different md5-char predicate picks which tiles existed last run, and
# every 7th (by another md5 char) records a stale hash — simulating
# content drift between ETL runs with zero stored state.
_PREV_PRESENT_SQL = "substring(md5(src_path), 2, 1) NOT IN ('0','1','2')"
_PREV_STALE_SQL = "ascii(substring(md5(src_path), 5, 1)) % 7 = 0"


@query(
    "q_tile_sync_delta",
    oracle=_GRID5_ORACLE
    + f"""
    , cur AS (
      SELECT src_path, md5(repeat(md5(src_path), {_K_SQL})) AS h
      FROM paths WHERE {PRESENT_SQL}
    ),
    prev AS (
      SELECT src_path,
             CASE WHEN {_PREV_STALE_SQL} THEN 'stale'
                  ELSE md5(repeat(md5(src_path), {_K_SQL})) END AS h
      FROM paths WHERE {_PREV_PRESENT_SQL}
    )
    SELECT coalesce(cur.src_path, prev.src_path) AS src_path,
           CASE WHEN prev.src_path IS NULL THEN 'put_new'
                WHEN cur.src_path IS NULL THEN 'delete'
                WHEN cur.h <> prev.h THEN 'put_changed'
                ELSE 'skip' END AS action
    FROM cur FULL OUTER JOIN prev ON cur.src_path = prev.src_path
    """,
)
def q_tile_sync_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL TILE SYNC PLAN — the diff the reference never
    computes (src/Program.cs:117 re-PUTs every tile, every run): full
    outer join of the CURRENT tile set (path + content hash) against
    the PREVIOUS run's manifest, classifying each key as put_new /
    put_changed / skip / delete. Feeding only put_* rows to
    sink_objectstore turns the reference's full re-upload into an
    incremental sync — at 100 TB (billions of objects) the delta is
    the difference between a nightly job and an impossible one; the
    delete set is what keeps the bucket from accumulating orphans.

    Shape: one hash-partitioned full outer join on the object key —
    both sides are (key, hash) manifests, so the join input is
    metadata-sized regardless of tile payload bytes; content hashes
    come from the tile content itself (md5 over the same deterministic
    fixture recipe as src_binary, recomputable by the oracle)."""
    g = _tile_files_df(spark)
    cur = g.select(
        "src_path", F.md5(F.col("content_str").cast("binary")).alias("h")
    )
    grid_all = (
        tile_grid(spark)
        .where(F.col("level") <= 5)
        .withColumn("src_path", src_path_col())
    )
    prev = grid_all.where(F.expr(_PREV_PRESENT_SQL)).select(
        "src_path",
        F.when(F.expr(_PREV_STALE_SQL), F.lit("stale"))
        .otherwise(
            F.md5(
                F.repeat(
                    F.md5(F.col("src_path").cast("binary")),
                    F.expr(_K_SQL),
                ).cast("binary")
            )
        )
        .alias("h"),
    )
    c, p = cur.alias("c"), prev.alias("p")
    action = (
        F.when(F.col("p.src_path").isNull(), "put_new")
        .when(F.col("c.src_path").isNull(), "delete")
        .when(F.col("c.h") != F.col("p.h"), "put_changed")
        .otherwise("skip")
    )
    return c.join(
        p, F.col("c.src_path") == F.col("p.src_path"), "full_outer"
    ).select(
        F.coalesce("c.src_path", "p.src_path").alias("src_path"),
        action.alias("action"),
    )


@query(
    "q_schema_evolution",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT coalesce(o_orderpriority, '<pre-evolution>') AS priority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM unioned GROUP BY 1
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION read — the lake reality that tables grow
    columns over time: generation 1 of the dataset was written WITHOUT
    o_orderpriority, generation 2 WITH it, into the same directory
    tree. ``mergeSchema`` unifies them at read: old files surface the
    new column as NULL (reported here under '<pre-evolution>'), new
    files carry real values, and aggregates run over the union without
    rewriting history — at 100 TB, rewriting generation-1 files to add
    a column is exactly the job nobody can afford.

    The two generations are deterministic halves of orders (orderkey
    parity), so the oracle recomputes the identical union from the
    source table. The two-generation artifact is built once per source
    fingerprint and published as ONE rename."""
    def write(tmp: str) -> None:
        o = load(spark, sf_dir, "orders")
        o.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.parquet(os.path.join(tmp, "gen=1"))
        o.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.parquet(os.path.join(tmp, "gen=2"))

    base = artifact(
        "orders_evolving",
        [os.path.join(sf_dir, "orders.parquet")],
        "gen1=even-no-priority,gen2=odd",
        write,
    )
    merged = (
        spark.read.option("mergeSchema", True)
        .option("recursiveFileLookup", True)
        .parquet(base)
    )
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias(
            "priority"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        as_double(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).alias(
            "revenue"
        ),
    )


@query(
    "src_csv_badrecords",
    oracle="""
    WITH src AS (
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_regionkey END
               AS n_regionkey,
             (n_nationkey % 5 = 0) AS is_bad
      FROM nation
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN is_bad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(sum(CASE WHEN NOT is_bad THEN n_regionkey ELSE 0 END)
                AS BIGINT) AS regionkey_sum
    FROM src
    """,
)
def src_csv_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MALFORMED-RECORD INGESTION: a CSV where every 5th row carries a
    non-numeric value in an INT column, read in PERMISSIVE mode with a
    ``_corrupt_record`` rescue column — the production posture for
    ingesting files you don't control: bad rows are counted and
    quarantined (the dead-letter pattern at the parser level, cf.
    sink_objectstore's write-side twin), good rows flow through, and
    the job never dies on row one. The corruption rule is
    deterministic (nationkey % 5), so the oracle recomputes the
    expected good/bad split and the checksum over surviving values
    from the clean table."""
    n = load(spark, sf_dir, "nation")
    csv_dir = _art("nation_csv_bad")
    line = F.concat_ws(
        ",",
        F.col("n_nationkey").cast("string"),
        F.when(F.col("n_nationkey") % 5 == 0, F.lit("NOT_A_NUMBER"))
        .otherwise(F.col("n_regionkey").cast("string")),
    )
    n.select(line.alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(csv_dir)
    schema = (
        "n_nationkey INT, n_regionkey INT, _corrupt_record STRING"
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(csv_dir)
    )
    return parsed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.col("_corrupt_record").isNotNull().cast("int")
        )
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(
            F.when(
                F.col("_corrupt_record").isNull(), F.col("n_regionkey")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("regionkey_sum"),
    )


def _events_fragmented(spark: SparkSession, sf_dir: str) -> str:
    """``events`` as 64 splinter files: sink_compact's small-file
    problem, built once per source fingerprint. The fragmentation is
    test SETUP (a real pipeline inherits its fragments from the ingest);
    the compaction rewrite is the operator and always runs."""

    def write(tmp: str) -> None:
        load(spark, sf_dir, "events").repartition(64).write.parquet(tmp)

    return artifact(
        "events_fragmented", [os.path.join(sf_dir, "events.parquet")], "n64", write
    )


@query(
    "sink_compact",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION — the maintenance job every long-running
    ingestion needs: a fragmented table (here: events deliberately
    written as 64 splinter files, the shape streaming sinks and
    per-hour batch appends produce) is rewritten into few large files,
    range-clustered on event_id so each output file covers a tight key
    range (zone-map friendly, like the io.py re-layout). The oracle
    reads the ORIGINAL table — compaction must be content-lossless.

    ``maxRecordsPerFile`` bounds file size; ``repartitionByRange`` on
    the cluster key gives both the file-count reduction and the
    clustering in ONE shuffle. At 100 TB this runs per-partition
    (compact yesterday's directory, not the table) — the same plan
    applies under a partition predicate."""
    compacted = _art("events_compacted")
    # the compaction job: few range-clustered files, bounded size
    (
        spark.read.parquet(_events_fragmented(spark, sf_dir))
        .repartitionByRange(4, "event_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 2_000_000)
        .parquet(compacted)
    )
    back = spark.read.parquet(compacted)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


def _manifest_oracle() -> str:
    """SQL twin of the Python data source: same per-level bounds from
    the same level_bounds(), inlined as literals."""
    from tile_etl_spark.tiles.grid import level_bounds

    parts = []
    for lvl in range(5, 11):
        r0, r1, c0, c1 = level_bounds(lvl)
        parts.append(
            f"SELECT {lvl} AS level, r.r AS row, c.c AS col "
            f"FROM (SELECT unnest(generate_series({r0}, {r1})) AS r) r, "
            f"(SELECT unnest(generate_series({c0}, {c1})) AS c) c"
        )
    return " UNION ALL ".join(parts)


@query("src_python_ds", oracle=_manifest_oracle())
def src_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM PYTHON DATA SOURCE (Spark 4 DataSource API): the tile
    manifest exposed as a first-class ``spark.read.format(...)`` source
    with one InputPartition PER LEVEL, so Spark schedules each level's
    generation as its own task — the connector pattern for any
    generated or external feed (REST pages, queue shards, synthetic
    benchmarks) when no JVM connector exists. The reader yields plain
    tuples; Arrow batches them executor-side.

    Scale note: partitions() is the parallelism contract — a deep
    pyramid should split large levels into row-stripe partitions (the
    same stripe split tile_grid does with its explicit repartition).
    The H-check proves the Python source's output is bit-identical to
    the declarative SQL twin."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    from tile_etl_spark.tiles.grid import level_bounds

    # Bounds are resolved on the DRIVER and travel inside the pickled
    # reader: executor Python workers don't necessarily have this repo
    # on sys.path (the driver may have loaded it by file path), so the
    # reader must be self-contained — the general rule for shipping
    # Python sources to a real cluster without a wheel deploy.
    bounds = {lvl: level_bounds(lvl) for lvl in range(5, 11)}

    class TileManifestReader(DataSourceReader):
        def __init__(self, bounds_by_level):
            self._bounds = bounds_by_level

        def partitions(self):
            return [InputPartition(lvl) for lvl in sorted(self._bounds)]

        def read(self, partition):
            lvl = partition.value
            r0, r1, c0, c1 = self._bounds[lvl]
            for r in range(r0, r1 + 1):
                for c in range(c0, c1 + 1):
                    yield (lvl, r, c)

    class TileManifestDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "tile_manifest"

        def schema(self) -> str:
            return "level int, row int, col int"

        def reader(self, schema):
            return TileManifestReader(bounds)

    from tile_etl_spark.io import register_once

    register_once(
        spark, "datasource", "tile_manifest",
        lambda: spark.dataSource.register(TileManifestDataSource),
    )
    return spark.read.format("tile_manifest").load()


@query("src_python_ds_stream", oracle=_manifest_oracle())
def src_python_ds_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM PYTHON STREAMING SOURCE (Spark 4 DataSourceStreamReader):
    the same tile manifest as src_python_ds, but exposed as a
    micro-batch STREAM — offsets are pyramid levels, so each
    micro-batch delivers one level's manifest and the checkpoint
    records how far the pyramid has been published. This is the
    connector shape for any paginated/offset-addressable external feed
    (queue shards, REST cursors, change feeds) when no JVM connector
    exists: initialOffset/latestOffset define the backlog,
    partitions(start, end) maps an offset range to parallel tasks,
    commit() acknowledges durable progress.

    H-checked against the same closed-form manifest oracle as the
    batch source: draining the stream must reproduce the batch answer
    row-for-row — offset bookkeeping can neither drop nor duplicate a
    level."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    from tile_etl_spark.tiles.grid import level_bounds

    # Driver-resolved bounds travel inside the pickled reader (executor
    # workers may not have the repo on sys.path — cf. src_python_ds).
    bounds = {lvl: level_bounds(lvl) for lvl in range(5, 11)}
    lo, hi = min(bounds), max(bounds) + 1

    class TileManifestStreamReader(DataSourceStreamReader):
        def __init__(self, bounds_by_level, lo_, hi_):
            self._bounds = bounds_by_level
            self._lo, self._hi = lo_, hi_

        def initialOffset(self):
            return {"level": self._lo}

        def latestOffset(self):
            return {"level": self._hi}

        def partitions(self, start, end):
            return [
                InputPartition(lvl)
                for lvl in range(start["level"], end["level"])
            ]

        def read(self, partition):
            lvl = partition.value
            r0, r1, c0, c1 = self._bounds[lvl]
            for r in range(r0, r1 + 1):
                for c in range(c0, c1 + 1):
                    yield (lvl, r, c)

        def commit(self, end):
            pass

    class TileManifestStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "tile_manifest_stream"

        def schema(self) -> str:
            return "level int, row int, col int"

        def streamReader(self, schema):
            return TileManifestStreamReader(bounds, lo, hi)

    from tile_etl_spark.io import register_once

    register_once(
        spark, "datasource", "tile_manifest_stream",
        lambda: spark.dataSource.register(TileManifestStreamSource),
    )
    from tile_etl_spark.streaming.replay import run_to_table

    return run_to_table(
        spark.readStream.format("tile_manifest_stream").load(), "append"
    )


@query(
    "sink_partition_overwrite",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION BACKFILL via DYNAMIC partition overwrite — the lake
    repair idiom: one partition of a date-partitioned table is
    corrupted (here: half its rows dropped), and the fix job rewrites
    ONLY the partitions present in its output
    (``partitionOverwriteMode=dynamic``) — a static overwrite would
    truncate the whole table, a blind append would double rows. The
    final read-back must equal the uncorrupted source per (date, type),
    which the oracle recomputes from ``events`` — the H-check proves
    the repair touched exactly the bad partition and the other
    partitions survived byte-for-byte.

    At 100 TB this is THE nightly operation: reprocess one ingest day
    out of thousands without locking or rewriting the table; cost is
    proportional to the repaired partition, not the table."""
    e = load(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    bad_date = e.agg(F.min("event_date")).collect()[0][0]
    out = _art("events_backfill")
    # 1. Land the table with ONE corrupted partition (half its rows).
    corrupt = e.where(
        (F.col("event_date") != F.lit(bad_date))
        | (F.col("event_id") % 2 == 0)
    )
    # Repartition on the partition column before the partitioned write:
    # otherwise every input task writes a sliver of every date dir
    # (tasks × dates tiny files — the classic small-files bug this sink
    # exists to model; ~1000 files → ~30 here, 1.8s → 1.1s locally).
    corrupt.repartition("event_date").write.mode("overwrite").partitionBy(
        "event_date"
    ).parquet(out)
    # 2. Repair: dynamic overwrite writes ONLY the partitions in the
    # repair frame (just bad_date), leaving every other directory alone.
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        e.where(F.col("event_date") == F.lit(bad_date)).repartition(
            "event_date"
        ).write.mode("overwrite").partitionBy("event_date").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(out)
    return back.groupBy("event_date", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
