"""Python worker daemon that imports pyspark from its installed directory.

Spark starts the daemon with ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j source zip and the spark-core jar at the head of ``PYTHONPATH``.
Every task calls ``importlib.invalidate_caches()``, and on CPython 3.11
each zipimporter in ``sys.path_importer_cache`` (one per pyspark
subpackage, plus the jar) then re-reads its archive's central directory:
about 0.25 s of CPU per task. This module takes the archives off the path
and out of the importer cache, then runs pyspark's own daemon.

Run as ``python -m tile_etl_spark._pydaemon`` (``session.get_spark`` names
it in ``spark.python.daemon.module``). Nothing may import pyspark before
``fix_path`` has run, and nothing may write to stdout: the daemon's first
stdout bytes are the port the JVM reads.
"""

import os
import sys
import zipfile


def fix_path(path: list, cache: dict) -> str:
    """Drop Spark's archives from ``path`` and their importers from
    ``cache``, in place; return what was done. The jar holds no Python
    and always goes. The zips go only when the rest of the path holds a
    directory copy of both packages whose ``version.py`` files match the
    zips' byte for byte, since the worker protocol belongs to the JVM's
    Spark."""
    drop = [p for p in path if p.endswith(".jar")]
    zips = [p for p in path if _is_spark_zip(os.path.basename(p)) and os.path.isfile(p)]
    rest = [p for p in path if p not in drop and p not in zips]
    why = next(filter(None, (_differs(z, rest) for z in zips)), "")
    if not why:
        drop += zips
    path[:] = [p for p in path if p not in drop]
    for key in [k for k in cache if any(k == d or k.startswith(d + os.sep) for d in drop)]:
        del cache[key]
    done = f"dropped {', '.join(map(os.path.basename, drop))}" if drop else "path unchanged"
    return f"{done}; kept the zips ({why})" if why else done


def _is_spark_zip(name: str) -> bool:
    return name == "pyspark.zip" or name.startswith("py4j-") and name.endswith("-src.zip")


def _differs(archive: str, rest: list) -> str:
    """Why ``archive`` must stay ("" if it may go): its package has no
    directory copy on ``rest``, or a different ``version.py``."""
    pkg = os.path.basename(archive).partition("-")[0].partition(".")[0]
    home = next((os.path.join(p or ".", pkg) for p in rest
                 if os.path.isfile(os.path.join(p or ".", pkg, "__init__.py"))), None)
    if home is None:
        return f"no {pkg} directory on the path"
    try:
        with zipfile.ZipFile(archive) as z, open(os.path.join(home, "version.py"), "rb") as f:
            same = z.read(f"{pkg}/version.py") == f.read()
    except (OSError, KeyError, zipfile.BadZipFile) as ex:
        return f"cannot compare {pkg}/version.py: {ex}"
    return "" if same else f"{home} is another version than {archive}"


if __name__ == "__main__":
    print(f"python workers: {fix_path(sys.path, sys.path_importer_cache)}",
          file=sys.stderr, flush=True)
    from pyspark import daemon

    daemon.manager()
