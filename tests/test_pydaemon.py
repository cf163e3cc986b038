"""The Python worker daemon (tile_etl_spark._pydaemon) and its path rule.

The path tests run ``fix_path`` on a fake ``sys.path`` and importer cache
built under a temporary dir; one test asks a real worker of the session
fixture where it imported pyspark from.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from tile_etl_spark._pydaemon import fix_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSIONS = {"pyspark": b"__version__: str = '4.1.2'\n", "py4j": b'__version__ = "0.10.9.9"\n'}


def _fake_install(tmp_path, dir_versions):
    """Spark's two zips and the spark-core jar, then a site dir holding the
    packages in ``dir_versions`` (None: the package has no version.py)."""
    lib, site = tmp_path / "lib", tmp_path / "site"
    lib.mkdir()
    zips = [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip")]
    for archive, (pkg, version) in zip(zips, VERSIONS.items()):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/version.py", version)
    jar = lib / "spark-core_2.13-4.1.2.jar"
    jar.write_bytes(b"PK")
    for pkg, version in dir_versions.items():
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        if version is not None:
            (site / pkg / "version.py").write_bytes(version)
    path = [str(tmp_path), *zips, str(jar), str(site)]
    cache = {p: object() for p in path}
    cache[os.path.join(zips[0], "pyspark", "sql")] = object()
    return path, cache, zips, str(jar), str(site)


def test_same_version_drops_both_zips_and_the_jar(tmp_path, capfd):
    path, cache, zips, jar, site = _fake_install(tmp_path, VERSIONS)
    msg = fix_path(path, cache)
    assert path == [str(tmp_path), site]
    assert sorted(cache) == sorted(path)
    assert msg == "dropped spark-core_2.13-4.1.2.jar, pyspark.zip, py4j-0.10.9.9-src.zip"
    assert capfd.readouterr() == ("", "")


@pytest.mark.parametrize("dir_versions, why", [
    ({**VERSIONS, "pyspark": b"__version__: str = '4.0.0'\n"}, "is another version than"),
    ({**VERSIONS, "pyspark": None}, "cannot compare pyspark/version.py"),
    ({**VERSIONS, "py4j": None}, "cannot compare py4j/version.py"),
    ({"pyspark": VERSIONS["pyspark"]}, "no py4j directory on the path"),
    ({}, "no pyspark directory on the path"),
])
def test_zips_stay_unless_both_directory_copies_match(tmp_path, capfd, dir_versions, why):
    path, cache, zips, jar, site = _fake_install(tmp_path, dir_versions)
    before = dict(cache)
    msg = fix_path(path, cache)
    assert path == [str(tmp_path), *zips, site]
    assert cache == {k: v for k, v in before.items() if k != jar}
    assert msg.startswith("dropped spark-core_2.13-4.1.2.jar; kept the zips (")
    assert why in msg
    assert capfd.readouterr() == ("", "")


def test_path_without_spark_archives_is_unchanged(tmp_path):
    path = [str(tmp_path), "/nonexistent/python311.zip"]
    cache = {p: None for p in path}
    assert fix_path(path, cache) == "path unchanged"
    assert path == [str(tmp_path), "/nonexistent/python311.zip"] and len(cache) == 2


def test_importing_the_daemon_module_imports_no_pyspark():
    # python -m imports the package first: neither it nor the module may
    # pull pyspark in before the path is fixed.
    code = "import sys, tile_etl_spark._pydaemon; print(sorted(m for m in sys.modules if 'spark' in m or 'py4j' in m))"
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "['tile_etl_spark', 'tile_etl_spark._pydaemon']"


def test_worker_imports_pyspark_from_its_directory(spark):
    def probe(_):
        import sys
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pyspark.__file__, zips

    (pyspark_file, zips), = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert os.path.isfile(pyspark_file), pyspark_file
    assert ".zip" not in pyspark_file and ".jar" not in pyspark_file
    assert zips == []


def test_daemon_named_only_where_workers_can_import_the_package(monkeypatch, tmp_path):
    from tile_etl_spark import session

    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(REPO)
    assert session._workers_import_package()
    monkeypatch.chdir(tmp_path)
    assert not session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(("/nonexistent", REPO)))
    assert session._workers_import_package()
