"""File-source replay of the events fixture (FIXTURES.md §8).

The stream is simulated by writing events as N time-ordered parquet
chunks; ``maxFilesPerTrigger=1`` + ascending mtimes make the file
source deliver them as N micro-batches in event-time order — late-data
scenarios inject an old-timestamp file at the end of the sequence.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from tile_etl_spark.io import load
from tile_etl_spark.sources import files

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)
N_CHUNKS = 8


def _art_root() -> str:
    return files.ART_DIR


def _write_chunk(df: DataFrame, base: str, i: int) -> None:
    """Write ``df`` as ``chunk_{i:03d}.parquet`` under ``base`` with the
    ascending-mtime discipline the file source's ordering relies on."""
    tmp = os.path.join(base, f"_tmp_{i}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    dst = os.path.join(base, f"chunk_{i:03d}.parquet")
    shutil.move(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)
    os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))


def replay_dir(spark: SparkSession, sf_dir: str, n_chunks: int = N_CHUNKS) -> str:
    """Events as n time-ordered parquet chunk files, built once per
    source fingerprint and chunk count (sources/files.artifact).

    Chunk i holds the i-th quantile of the ts order; file mtimes
    ascend so the file source processes them oldest-first.
    """
    def write(tmp: str) -> None:
        # EXACT percentile bounds: percentile_approx's Greenwald-Khanna
        # merge is shuffle-arrival-order dependent past its accuracy
        # parameter, so two builds could cut chunks differently. The
        # exact aggregate is deterministic; this is a once-per-source
        # fixture builder, so the exact sort cost is fine (a 100 TB
        # replay builder would repartitionByRange instead). Source
        # persisted so the n_chunks filtered writes scan it once.
        e = load(spark, sf_dir, "events").persist()
        fracs = ",".join(str((i + 1) / n_chunks) for i in range(n_chunks - 1))
        bounds = e.selectExpr(
            f"percentile(unix_micros(ts), array({fracs})) AS b"
        ).first()["b"]
        lo = None
        for i in range(n_chunks):
            hi = bounds[i] if i < n_chunks - 1 else None
            us = F.unix_micros("ts")
            chunk = e
            if lo is not None:
                chunk = chunk.where(us > lo)
            if hi is not None:
                chunk = chunk.where(us <= hi)
            _write_chunk(chunk, tmp, i)
            lo = hi
        e.unpersist()

    return files.artifact(
        "events_stream",
        [os.path.join(sf_dir, "events.parquet")],
        f"exact-pct-v2:n{n_chunks}",
        write,
    )


def read_stream(spark: SparkSession, base: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/chunk_*.parquet")
    )


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Run ``writer``'s stream to completion (availableNow) against a
    fresh checkpoint dir and return the finished query.

    Every run needs its own checkpoint: a reused one resumes from its
    committed offsets under availableNow and drains nothing. A finished
    run never reads it again, so the dir is removed whether the run
    ends or raises, and no run leaves a checkpoint tree behind."""
    ckpt = os.path.join(_art_root(), "checkpoints", uuid.uuid4().hex[:12])
    try:
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_to_table(df: DataFrame, mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion into a memory sink;
    return the sink's rows as a batch DataFrame.

    The sink publishes its rows as a temp view named after the query.
    The returned frame resolves that view at once and holds the sink
    itself, so the view is dropped before returning: the rows live as
    long as the caller holds the frame, and the catalog gains nothing."""
    spark_s = df.sparkSession
    name = "s_" + uuid.uuid4().hex[:12]
    drain(df.writeStream.format("memory").queryName(name).outputMode(mode))
    try:
        return spark_s.table(name)
    finally:
        spark_s.catalog.dropTempView(name)


def replay_dir_with_flush(
    spark: SparkSession, sf_dir: str, n_chunks: int = N_CHUNKS
) -> str:
    """Replay chunks plus a FINAL far-future sentinel chunk (one click
    + one purchase for user_id = −1, 3 h past max event time).

    Stream-stream OUTER joins need it: an unmatched left row is only
    emitted once the JOINT watermark (min of both sides') passes its
    whole match window, and after the last real file nothing advances
    the watermarks — the tail's null-padded rows would sit in state
    forever. The sentinel advances BOTH sides' watermarks past every
    real window; consumers filter user_id < 0 back out. This mirrors
    production reality: an outer-join stream only finalizes rows as
    new data (or punctuation heartbeats) moves the watermark.
    """
    base = replay_dir(spark, sf_dir, n_chunks)

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        chunks = sorted(
            f for f in os.listdir(base) if f.endswith(".parquet")
        )
        for i, f in enumerate(chunks):
            dst = os.path.join(tmp, f)
            shutil.copy2(os.path.join(base, f), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        e = load(spark, sf_dir, "events")
        flush = e.agg(F.max("ts").alias("mx")).select(
            F.explode(
                F.array(F.lit("click"), F.lit("purchase"))
            ).alias("event_type"),
            (F.col("mx") + F.expr("INTERVAL 3 HOURS")).alias("ts"),
        ).select(
            F.lit(-1).cast("bigint").alias("event_id"),
            "ts",
            F.lit(-1).cast("bigint").alias("user_id"),
            "event_type",
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        _write_chunk(flush, tmp, len(chunks))

    return files.artifact(
        "events_stream_flush",
        [os.path.join(sf_dir, "events.parquet")],
        f"exact-pct-v2:n{n_chunks}:flush-3h",
        write,
    )


DOCS_SCHEMA = "doc_id BIGINT, text STRING"
N_DOC_CHUNKS = 4


def replay_docs_dir(
    spark: SparkSession,
    sf_dir: str,
    sources: tuple[str, ...],
    n_chunks: int = N_DOC_CHUNKS,
) -> str:
    """The given sources' documents as n doc_id-ordered parquet chunks,
    built once per source fingerprint (like replay_dir) — the file
    replay standing in for a Kafka topic of newly crawled documents."""
    from pyspark.sql import Window

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        # one pass derives the chunk index (ntile over doc_id order —
        # the batch side is small by definition, so the
        # single-partition window is fine in this fixture builder),
        # cached so the n_chunks filtered writes don't re-scan the
        # source; no driver-side id collect
        d = (
            load(spark, sf_dir, "documents")
            .where(F.col("source").isin(*sources))
            .select(
                "doc_id",
                "text",
                (F.ntile(n_chunks).over(Window.orderBy("doc_id")) - 1).alias(
                    "chunk_id"
                ),
            )
            .persist()
        )
        n_used = d.select("chunk_id").distinct().count()
        for i in range(min(n_chunks, n_used)):
            _write_chunk(
                d.where(F.col("chunk_id") == i).drop("chunk_id"), tmp, i
            )
        d.unpersist()

    return files.artifact(
        "docs_stream",
        [os.path.join(sf_dir, "documents.parquet")],
        f"{','.join(sorted(sources))}:n{n_chunks}",
        write,
    )


def read_docs_stream(spark: SparkSession, base: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/chunk_*.parquet")
    )
