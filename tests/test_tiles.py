"""Tile-ETL core unit + property tests (SURVEY §5.2 items 4-5)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tile_etl_spark.tiles import grid as G

GOLDEN_COUNTS = {5: 289, 6: 361, 7: 529, 8: 992, 9: 2499, 10: 7565, 11: 25584}


def test_golden_grid_counts_pure():
    """Per-level counts pinned to BASELINE.md — a pure function of the
    reference constants (src/Program.cs:24-32,74-81); drift = semantic
    change."""
    assert G.grid_counts() == GOLDEN_COUNTS
    assert sum(G.grid_counts().values()) == 37819


def test_golden_grid_counts_spark(spark):
    got = {
        r["level"]: r["n"]
        for r in G.tile_grid(spark).groupBy("level").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got == GOLDEN_COUNTS


@given(
    cells=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
        ),
        min_size=1,
        max_size=64,
    )
)
@settings(max_examples=5, deadline=None)
def test_path_codec_roundtrip_property(spark, cells):
    """parse(format(x)) == x for arbitrary 32-bit (row, col) — including
    the negative columns the reference extent actually produces at
    level 5 (start_col = -2). One Spark job per example batch."""
    cells = cells + [(5, -2, -2), (11, 0, 2**31 - 1), (0, -(2**31), 0)]
    df = spark.createDataFrame(cells, "level INT, row INT, col INT")
    df = df.withColumn("src_path", G.src_path_col())
    lvl, r, c = G.parse_src_path(F.col("src_path"))
    got = df.select(lvl.alias("l"), r.alias("r"), c.alias("c")).collect()
    assert [(g["l"], g["r"], g["c"]) for g in got] == cells


def test_s3_variant_golden_counts():
    """The S3 program's workload (reference/EtlToS3.cs:23-34): levels
    17-18 over the Massachusetts extent with its own delta."""
    sizes = {}
    for lvl in (17, 18):
        r0, r1, c0, c1 = G.level_bounds(
            lvl, extent=G.S3_EXTENT, delta=G.S3_DELTA
        )
        sizes[lvl] = (r1 - r0 + 1) * (c1 - c0 + 1)
    assert sizes == {17: 67 * 73, 18: 121 * 132}


def test_hex8_matches_reference_examples(spark):
    """C# {0:x8} examples: 5 -> '00000005', -2 -> 'fffffffe'
    (src/Program.cs:99-100 renders ints as 8-digit lowercase hex)."""
    df = spark.createDataFrame([(5,), (-2,), (255,)], "row INT")
    vals = [r[0] for r in df.select(G.hex8("row")).collect()]
    assert vals == ["00000005", "fffffffe", "000000ff"]


def test_cloud_connector_conf_shapes():
    """A14 config recipe: both providers produce spark.hadoop.* keys
    only, keyed auth appears iff requested, unknown providers fail."""
    import pytest

    from tile_etl_spark.tiles.sink import cloud_connector_conf

    gcs = cloud_connector_conf("gcs", gcs_keyfile="/secrets/sa.json")
    assert all(k.startswith("spark.hadoop.") for k in gcs)
    assert (
        gcs["spark.hadoop.google.cloud.auth.service.account.json.keyfile"]
        == "/secrets/sa.json"
    )
    assert "json.keyfile" not in str(cloud_connector_conf("gcs"))

    s3 = cloud_connector_conf("s3", s3_endpoint="http://minio:9000")
    assert all(k.startswith("spark.hadoop.") for k in s3)
    assert s3["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"
    assert "endpoint" not in str(cloud_connector_conf("s3"))

    with pytest.raises(ValueError):
        cloud_connector_conf("azure")


def test_zorder_write_clusters_key_ranges(spark, tmp_path):
    """The POINT of q_tile_zorder: writing tiles sorted by the Morton
    key yields files whose key ranges are narrow and non-overlapping —
    so a 2-D bounding-box query prunes to a few contiguous files via
    parquet min/max stats. Write the level-8 grid sorted by morton with
    a small per-file cap, then read each file's actual min/max back
    with pyarrow and assert the ranges tile the keyspace without
    overlap."""
    import pyarrow.parquet as pq

    from tile_etl_spark import registry

    z = registry.QUERIES["q_tile_zorder"](spark, "unused").where(
        "level = 8"
    )
    out = str(tmp_path / "z8")
    (
        z.coalesce(1)
        .sortWithinPartitions("morton")
        .write.option("maxRecordsPerFile", 400)
        .mode("overwrite")
        .parquet(out)
    )
    import glob

    ranges = []
    for f in sorted(glob.glob(out + "/*.parquet")):
        md = pq.ParquetFile(f).metadata
        col_idx = [
            md.schema.column(i).name for i in range(md.num_columns)
        ].index("morton")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 3, ranges  # the cap actually split files
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (ranges, "file key ranges overlap")


def test_sink_compact_reduces_file_count(spark, sf_dir):
    """The compaction sink must actually shrink the file count: 64
    splinters in, ≤4 range-clustered files out, with identical rows."""
    import glob
    import os

    from tile_etl_spark.sources.files import (
        ART_DIR,
        _events_fragmented,
        sink_compact,
    )

    sink_compact(spark, sf_dir).collect()
    # the fragment dir is named by its artifact id; the builder returns
    # the published dir without rebuilding it
    frag = glob.glob(os.path.join(_events_fragmented(spark, sf_dir), "*.parquet"))
    comp = glob.glob(os.path.join(ART_DIR, "events_compacted", "*.parquet"))
    assert len(frag) == 64
    assert 1 <= len(comp) <= 4
    n_orig = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert (
        spark.read.parquet(os.path.join(ART_DIR, "events_compacted")).count()
        == n_orig
    )
