"""The build-once rule for derived artifacts (sources/files.artifact):
identity in the directory name, publish by rename, and a published
directory is never rewritten under its readers."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

import pytest


@pytest.fixture
def art_dir(monkeypatch, tmp_path):
    from tile_etl_spark.sources import files

    art = str(tmp_path / "art")
    monkeypatch.setattr(files, "ART_DIR", art)
    return art


def _slow_write(tmp: str) -> None:
    os.makedirs(tmp)
    for i in range(3):
        with open(os.path.join(tmp, f"part_{i}"), "w") as f:
            f.write(str(i))
        time.sleep(0.1)


def test_concurrent_builders_publish_one_complete_artifact(art_dir, tmp_path):
    """Builders of one artifact, more than there are cores, all get the
    same complete path, published once and never replaced; the losers'
    builds are dropped and no .build-* dir is left."""
    from tile_etl_spark.sources.files import artifact

    src = tmp_path / "src.parquet"
    src.write_bytes(b"x")
    n = 2 * (os.cpu_count() or 1) + 1
    barrier = threading.Barrier(n, timeout=30)
    paths: list[str] = []

    def build() -> None:
        def write(tmp: str) -> None:
            barrier.wait()  # every build runs; none sees a published dir
            _slow_write(tmp)

        p = artifact("thing", [str(src)], "r1", write)
        paths.append((p, os.stat(p).st_ino))  # replaced dir = new inode

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=build) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(paths) == n and len(set(paths)) == 1
    path = paths[0][0]
    assert sorted(os.listdir(path)) == ["part_0", "part_1", "part_2"]
    assert os.listdir(art_dir) == [os.path.basename(path)]


def test_new_source_or_recipe_names_a_new_artifact(art_dir, tmp_path):
    """A published artifact is returned without rebuilding; a changed
    source or recipe gets a new name and the old dir stays intact."""
    from tile_etl_spark.sources.files import artifact

    src = tmp_path / "src.parquet"
    src.write_bytes(b"x")
    calls: list[str] = []

    def write(tmp: str) -> None:
        calls.append(tmp)
        _slow_write(tmp)

    a = artifact("thing", [str(src)], "r1", write)
    assert artifact("thing", [str(src)], "r1", write) == a
    assert len(calls) == 1
    b = artifact("thing", [str(src)], "r2", write)
    src.write_bytes(b"xy")
    c = artifact("thing", [str(src)], "r1", write)
    assert len({a, b, c}) == 3 and len(calls) == 3
    assert all(len(os.listdir(p)) == 3 for p in (a, b, c))


def test_failed_build_publishes_nothing(art_dir):
    from tile_etl_spark.sources.files import artifact

    def write(tmp: str) -> None:
        _slow_write(tmp)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        artifact("thing", [], "r1", write)
    assert os.listdir(art_dir) == []


def test_replay_frame_survives_source_regeneration(
    spark, sf_dir, art_dir, tmp_path
):
    """A frame over the replay chunks keeps reading its own rows after
    the source events are regenerated and the replay is rebuilt: the
    rebuild publishes a new dir instead of replacing the one the frame
    listed."""
    import pyarrow.parquet as pq

    from tile_etl_spark.streaming.replay import replay_dir

    src_dir = tmp_path / "sf"
    src_dir.mkdir()
    events = str(src_dir / "events.parquet")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), events)
    old = spark.read.parquet(replay_dir(spark, str(src_dir)) + "/chunk_*.parquet")
    before = sorted(map(tuple, old.collect()))

    table = pq.read_table(events)
    pq.write_table(table.slice(0, table.num_rows // 2), events)
    new = replay_dir(spark, str(src_dir))
    assert spark.read.parquet(new + "/chunk_*.parquet").count() == (
        table.num_rows // 2
    )
    assert sorted(map(tuple, old.collect())) == before
