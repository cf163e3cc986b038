"""Object-store sink with per-object metadata and dead-letter split
(reference ops A8–A11).

The reference PUTs each tile under ``{map}/{z}/{r}/{c}`` with an ACL
and content type (src/Program.cs:111-117) and swallows per-tile errors
(reference/EtlToS3.cs:97-99 — silently; src/Program.cs:120-123 —
printed). Here the sink is a distributed ``mapInPandas`` stage: each
Arrow batch PUTs its objects through a storage client and yields one
status row per object — failures become 'err' rows (the dead-letter
stream) instead of lost exceptions. PUTs are idempotent overwrites,
matching GCS/S3 semantics, so task retries are safe.

The storage client here is a local-filesystem fake with the same
surface (put(key, data, content_type, acl)); a GCS/S3 client drops in
per-partition exactly the same way — that part is connector config,
not engine semantics (SURVEY §2A A14). See ``cloud_connector_conf``
for the spark-submit config recipe that replaces the reference's
credential bootstrap (src/Program.cs:55-69 reads a service-account
key; reference/EtlToS3.cs:45 builds an S3 client from the default
credential chain).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.registry import query
from tile_etl_spark.tiles.grid import PRESENT_SQL, grid_oracle_cte

# Deterministic injected PUT failure: ~1/16 of keys, recomputable by
# the DuckDB twin (md5 of the object key starts with '0').
_FAIL_SQL = "substring(md5(object_key), 1, 1) = '0'"


def cloud_connector_conf(
    provider: str,
    *,
    gcs_keyfile: str | None = None,
    s3_endpoint: str | None = None,
) -> dict[str, str]:
    """Spark config delta that points the SAME sink at a real object
    store — the engine-side replacement for the reference's credential
    bootstrap (A14; src/Program.cs:55-69 GCS service-account JSON,
    reference/EtlToS3.cs:45 AWS default credential chain).

    Hadoop FS connectors handle auth/retry/multipart below the engine:
    with these confs set, ``spark.read``/``df.write`` accept
    ``gs://bucket/...`` or ``s3a://bucket/...`` paths directly, and the
    mapInPandas PUT stage swaps its local ``put()`` for the provider
    SDK client created per-partition (never on the driver, never
    serialized into the closure).

    No cloud is reachable from this sandbox, so this is config assembly
    only — unit-tested for shape, documented for deployment.
    """
    if provider == "gcs":
        conf = {
            # Hadoop GCS connector (public artifact gcs-connector-hadoop3)
            "spark.hadoop.fs.AbstractFileSystem.gs.impl": (
                "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFS"
            ),
            "spark.hadoop.fs.gs.impl": (
                "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem"
            ),
        }
        if gcs_keyfile:  # src/Program.cs:55-69 service-account JSON
            conf.update(
                {
                    "spark.hadoop.google.cloud.auth.service.account.enable": "true",
                    "spark.hadoop.google.cloud.auth.service.account.json.keyfile": gcs_keyfile,
                }
            )
        return conf
    if provider == "s3":
        conf = {
            # hadoop-aws S3A connector; default chain = env vars,
            # instance profile, ~/.aws — EtlToS3.cs:45 semantics
            "spark.hadoop.fs.s3a.impl": (
                "org.apache.hadoop.fs.s3a.S3AFileSystem"
            ),
            "spark.hadoop.fs.s3a.aws.credentials.provider": (
                "com.amazonaws.auth.DefaultAWSCredentialsProviderChain"
            ),
            "spark.hadoop.fs.s3a.fast.upload": "true",
            "spark.hadoop.fs.s3a.connection.maximum": "96",
        }
        if s3_endpoint:
            conf["spark.hadoop.fs.s3a.endpoint"] = s3_endpoint
        return conf
    raise ValueError(f"unknown object-store provider: {provider!r}")


def objectstore_sink(
    df: DataFrame,
    base_dir: str,
    content_type: str = "image/jpg",
    acl: str = "public-read",
) -> DataFrame:
    """PUT every (object_key, content) row; return per-object statuses.

    df must have columns ``object_key STRING`` and ``content BINARY``.
    Returns ``(object_key, status, error)`` where status ∈ {ok, err}.
    """

    # NOTE: the injected-failure predicate below (md5(key)[0] == '0')
    # is the hashlib twin of _FAIL_SQL — the oracle evaluates the SQL
    # form; keep the two in sync if the failure rule ever changes.
    def put_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def put(key: str, data: bytes) -> None:
            # local-FS object store fake: key → nested path + meta sidecar
            path = os.path.join(base_dir, key)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(data)
            with open(path + ".meta", "w") as f:
                f.write(
                    '{"content_type": "%s", "acl": "%s"}'
                    % (content_type, acl)
                )

        for pdf in it:
            out = []
            for key, data in zip(pdf["object_key"], pdf["content"]):
                try:
                    h = hashlib.md5(key.encode()).hexdigest()
                    if h[0] == "0":  # injected deterministic failure
                        raise IOError(f"simulated PUT failure for {key}")
                    put(key, bytes(data))
                    out.append((key, "ok", None))
                except Exception as ex:  # dead-letter, never lost
                    out.append((key, "err", str(ex)[:200]))
            yield pd.DataFrame(
                out, columns=["object_key", "status", "error"]
            )

    return df.select("object_key", "content").mapInPandas(
        put_batches, "object_key STRING, status STRING, error STRING"
    )


@query(
    "sink_objectstore",
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
    manifest AS (
      SELECT object_key FROM tiles
      WHERE {PRESENT_SQL}
    )
    SELECT CASE WHEN substring(md5(object_key), 1, 1) = '0'
                THEN 'err' ELSE 'ok' END AS status,
           CAST(count(*) AS BIGINT) AS n
    FROM manifest GROUP BY 1
    """,
)
def sink_objectstore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8–A11 end-to-end: level-5 present tiles PUT to a local-FS
    object store with key codec + metadata; dead-letter split counted
    per status. The DuckDB twin recomputes which keys must fail."""
    from tile_etl_spark.sources.files import ART_DIR, _tile_files_df
    from tile_etl_spark.tiles.grid import object_key_col

    base = os.path.join(ART_DIR, "object_store")
    tiles = _tile_files_df(spark).withColumn(
        "object_key", object_key_col()
    ).withColumn("content", F.col("content_str").cast("binary"))
    statuses = objectstore_sink(tiles, base)
    return statuses.groupBy("status").agg(F.count(F.lit(1)).alias("n"))
