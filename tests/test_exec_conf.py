"""The execution conf without a JVM: ``session.conf_for`` over
``io.input_bytes`` of fixture dirs, and the defaults ``get_spark``
builds every session with."""

from __future__ import annotations

from tile_etl_spark import io, session
from tile_etl_spark.session import SMALL_INPUT_BYTES, conf_for

SMALL = {"spark.sql.shuffle.partitions": "4",
         "spark.sql.adaptive.enabled": "false",
         "spark.sql.files.minPartitionNum": "4",
         "spark.sql.files.openCostInBytes": "4194304"}
LARGE = {"spark.sql.shuffle.partitions": "32",
         "spark.sql.adaptive.enabled": "true",
         "spark.sql.files.minPartitionNum": "4",
         "spark.sql.files.openCostInBytes": "262144"}


def fixture_dir(path, tables, size=1024):
    for t in tables:
        with open(path / f"{t}.parquet", "wb") as f:
            f.truncate(size)  # sparse: stat reads the size, no bytes land
    return str(path)


def test_conf_for(tmp_path):
    assert conf_for(SMALL_INPUT_BYTES, 4) == SMALL
    assert conf_for(SMALL_INPUT_BYTES + 1, 4) == LARGE
    assert conf_for(0, 48) == {**SMALL, "spark.sql.shuffle.partitions": "8",
                               "spark.sql.files.minPartitionNum": "48"}
    # both postures set the same keys: moving from a large input to a
    # small one leaves nothing of the large posture on the session
    assert conf_for(0, 4).keys() == conf_for(SMALL_INPUT_BYTES + 1, 4).keys()
    assert conf_for(SMALL_INPUT_BYTES + 1, 48) == {
        **LARGE, "spark.sql.shuffle.partitions": "48",
        "spark.sql.files.minPartitionNum": "48"}
    whole = tmp_path / "whole"
    whole.mkdir()
    assert io.input_bytes(fixture_dir(whole, io.TABLES)) == 1024 * len(io.TABLES)
    assert conf_for(io.input_bytes(str(whole)), 4) == SMALL
    # a dir missing a table is sized by the tables it has
    partial = tmp_path / "partial"
    partial.mkdir()
    fixture_dir(partial, io.TABLES[:-1])
    assert io.input_bytes(str(partial)) == 1024 * (len(io.TABLES) - 1)
    assert conf_for(io.input_bytes(str(partial)), 4) == SMALL
    big = tmp_path / "big"
    big.mkdir()
    fixture_dir(big, io.TABLES[:1], size=SMALL_INPUT_BYTES + 1)
    assert conf_for(io.input_bytes(str(big)), 4) == LARGE


def test_get_spark_keeps_its_session_defaults(monkeypatch):
    """Work that no registry call precedes runs on these defaults,
    whatever the environment says."""
    for knob, value in (("SHUFFLE", "3"), ("AQE", "false")):
        monkeypatch.setenv(f"SPARK_GRAFT_{knob}", value)
    monkeypatch.setattr(session, "_start", lambda builder: builder._options)
    opts = session.get_spark(app_name="conf-defaults", cpus=4)
    assert opts["spark.sql.shuffle.partitions"] == "32"
    assert opts["spark.sql.adaptive.enabled"] == "true"
    assert opts["spark.sql.adaptive.coalescePartitions.enabled"] == "true"
