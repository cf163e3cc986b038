"""SparkSession factory, and the one execution-conf rule.

``get_spark`` builds the session with fixed defaults: AQE on (runtime
re-planning, skew-join handling, partition coalescing), 32 shuffle
partitions, UTC session time zone and ANSI off for cross-engine
determinism (SURVEY §5.3). ``conf_for`` derives a job's shuffle width,
AQE setting and scan splits from its input size and core count; every
registry query sets it on the session before it builds
(``registry.query``), so the defaults hold only for work that no
registry call precedes. A session from elsewhere (the driver's) gets
UTC and ANSI off from ``ensure_session_determinism``, which
``registry.query`` calls before every builder; engine helpers called
outside the registry assume a ``get_spark`` session or that call.

The driver JVM starts from an application class-data-sharing (AppCDS)
archive of the installed JDK and Spark jars when one exists; the first
session that finds none writes it at JVM exit. Python workers import
pyspark from its installed directory rather than Spark's zip (see
``get_spark``).
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shlex
import shutil
import site
import subprocess
import sys
import time
from typing import NamedTuple

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
# Compressed source bytes at or under which an input is small: its
# shuffles move a few MB at most. io.py's per-table broadcast-hint and
# dimension-cache gates use the same bound.
SMALL_INPUT_BYTES = 32 * 1024 * 1024
# The JVM writes the archive (~140 MB) at exit: ~15 s on 4 vCPUs.
CDS_EXIT_TIMEOUT_S = 60
# A dynamic dump logs hundreds of "[warning][cds] Skipping ..." lines to
# stdout, where bench.py and the driver entry print their results.
_CDS_QUIET = "-Xlog:cds*=off -Xlog:cds*=error:stderr"
# Environment the Spark launcher adds to the driver's class path; a
# non-empty directory there makes the dump fail at every exit.
_CLASSPATH_ENV = ("SPARK_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                  "SPARK_DIST_CLASSPATH")
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
_PYDAEMON = "tile_etl_spark._pydaemon"


def get_spark(
    app_name: str = "tile-etl-spark",
    cpus: str | int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local[$SPARK_GRAFT_CPUS] by default; on a real cluster the same
    configs apply — only ``master`` changes (provided externally via
    spark-submit).

    The session starts with 32 shuffle partitions and AQE on. Each
    registry query replaces them with ``conf_for`` of its input before
    it builds, so they govern only what runs before the first registry
    call. Fetching a running session re-applies these defaults to it,
    until the next registry call.

    Cold start: when this call launches the driver JVM, it passes a Java
    AppCDS archive (``-XX:SharedArchiveFile``) kept under
    ``$XDG_CACHE_HOME/spark-graft/cds/`` (default ``~/.cache``), keyed by
    the JDK, the ``$SPARK_HOME/jars`` listing, the conf dir, the driver
    memory and other spark-submit arguments; that halves JVM start plus
    first job. A session that
    finds no archive takes a lock and writes one when its JVM exits
    (``-XX:ArchiveClassesAtExit``): its own start is slower and its exit
    waits for the dump, once per key. The archive is published only after
    the JVM exited cleanly, with its size stamped beside it; an archive
    whose size does not match its stamp is never passed (the session
    starts plain and removes it). When ``$SPARK_HOME/conf``
    holds only ``*.template`` files, the JVM gets an empty conf dir
    instead, because CDS refuses a non-empty directory on the class path.
    The flags are appended to any ``spark.driver.extraJavaOptions`` from
    the builder or ``PYSPARK_SUBMIT_ARGS``; a running JVM is left as it
    is. One line on stderr says whether the archive was used, is being
    written, or why there is none.

    Python workers: every PySpark task calls
    ``importlib.invalidate_caches()``, which makes each zipimporter
    re-read its archive; with pyspark imported from
    ``$SPARK_HOME/python/lib/pyspark.zip`` that cost ~0.25 s of CPU per
    task. So the workers start from ``tile_etl_spark._pydaemon``
    (``spark.python.daemon.module``) whenever they can import this
    package (from the working directory, ``$PYTHONPATH`` or
    site-packages). It drops the spark-core jar from their ``sys.path``,
    and drops ``pyspark.zip`` and the py4j zip only when a directory copy
    of both packages is on the rest of the path with a byte-identical
    ``version.py``; the worker protocol belongs to the JVM's Spark. The
    daemon logs one ``python workers:`` line on stderr saying which path
    it took.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*")
    builder = SparkSession.builder.appName(app_name)
    # Respect an externally provided master (spark-submit --master sets
    # PYSPARK_SUBMIT_ARGS; cluster launchers set SPARK_MASTER/MASTER) —
    # only default to local[N] when nothing chose one, so the same code
    # runs unmodified under a cluster manager.
    external = os.environ.get("SPARK_MASTER") or os.environ.get("MASTER")
    if external:
        builder = builder.master(external)
    elif "--master" not in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # sort-merge→broadcast conversion when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Non-ANSI: bad casts yield NULL (oracle twins use TRY_CAST).
        .config("spark.sql.ansi.enabled", "false")
        # Arrow for every Python<->JVM data exchange (pandas UDFs etc.).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Wide plans (64-col MinHash structs) trip the 25-field default
        # and log a SparkStringUtils WARN per run; plan STRINGS are only
        # built for explain/debug, so raising the cap costs nothing.
        .config("spark.sql.debug.maxToStringFields", "2000")
        # Whole-stage-codegen compilation cache: the 100-entry default
        # thrashes under this package's multi-query sweeps (driver
        # correctness runs and bench passes execute 130-300 distinct
        # plans; measured: re-running q_agg_group after 40 other
        # queries costs +40% from recompilation alone). Generated
        # classes are small; 3000 entries keeps every sweep's codegen
        # resident.
        .config("spark.sql.codegen.cache.maxEntries", "3000")
    )
    if _workers_import_package():
        builder = builder.config("spark.python.daemon.module", _PYDAEMON)
    return _start(builder)


def conf_for(input_bytes: int, cpus: int) -> dict[str, str]:
    """The execution conf for a job over ``input_bytes`` of compressed
    source (``io.input_bytes``) on ``cpus`` task slots
    (``spark.sparkContext.defaultParallelism``).

    Up to SMALL_INPUT_BYTES: ``min(8, cpus)`` shuffle partitions and AQE
    off. Every shuffle moves a few MB at most, so extra reduce tasks are
    scheduler overhead (width 32 on local[32] cost +29.7% on the sf0.1
    headline, plans/r14/AB_SHUFFLE_WIDTH.json), and AQE's per-exchange
    barrier (runtime stats + re-plan, ~50-150 ms a stage) buys nothing
    (headline 11.1 s → 8.1 s with it off).

    Above it, walls are data-dominated: AQE on, ``max(32, cpus)``
    partitions for AQE to coalesce, and at least ``cpus`` scan splits
    with a 256 KB file open cost, so small files still fill every slot.

    Both postures set the same keys, so a session that moves from a
    large input to a small one keeps nothing of the large posture: the
    small one sets the scan keys to Spark's own effective values on
    ``local[cpus]`` (``minPartitionNum`` defaults to the leaf node's
    default parallelism, ``openCostInBytes`` to 4 MB).
    """
    if input_bytes <= SMALL_INPUT_BYTES:
        return {"spark.sql.shuffle.partitions": str(min(8, cpus)),
                "spark.sql.adaptive.enabled": "false",
                "spark.sql.files.minPartitionNum": str(cpus),
                "spark.sql.files.openCostInBytes": "4194304"}
    return {
        "spark.sql.shuffle.partitions": str(max(32, cpus)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.files.minPartitionNum": str(cpus),
        "spark.sql.files.openCostInBytes": "262144",
    }


def _workers_import_package() -> bool:
    """Whether the Python workers the JVM starts can import this package:
    its root is the working directory (``python -m`` puts that first on
    ``sys.path``), on ``$PYTHONPATH`` or in site-packages."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    where = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages()]
    return any(p and os.path.realpath(p) == root for p in where)


class _CdsPlan(NamedTuple):
    """How the driver JVM uses the class-data archive: ``mode`` is
    "use", "dump" or "none" and ``why`` the log line's detail."""

    mode: str
    why: str
    archive: str = ""

    @property
    def tmp(self) -> str:
        """Where a dump writes before it is published."""
        return f"{self.archive}.{os.getpid()}.tmp"

    @property
    def flags(self) -> str:
        if self.mode == "use":
            return f"-XX:SharedArchiveFile={self.archive} {_CDS_QUIET}"
        if self.mode == "dump":
            return f"-XX:ArchiveClassesAtExit={self.tmp} {_CDS_QUIET}"
        return ""


def _log(msg: str) -> None:
    print(f"class-data archive: {msg}", file=sys.stderr, flush=True)


def _start(builder: SparkSession.Builder) -> SparkSession:
    from pyspark import SparkContext

    if SparkContext._gateway is not None or os.environ.get("PYSPARK_GATEWAY_PORT"):
        return builder.getOrCreate()  # the JVM runs: its options are fixed
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS")
    opts, rest = _split_java_options(submit or "")
    plan, env = _cds_choose(builder._options.get("spark.driver.memory", ""), rest)
    _log(f"{plan.mode} ({plan.why})")
    if plan.mode == "none":
        return builder.getOrCreate()
    if opts is None:
        opts = builder._options.get(_JAVA_OPTIONS)
    builder.config(_JAVA_OPTIONS, " ".join(filter(None, (opts, plan.flags))))
    if submit is not None:
        env["PYSPARK_SUBMIT_ARGS"] = shlex.join(rest)
    try:
        with _environ(env):
            spark = builder.getOrCreate()
    except BaseException:
        if plan.mode == "dump":
            _release(plan)
        raise
    if plan.mode == "dump":
        atexit.register(_publish, SparkContext._gateway.proc, plan)
    return spark


def _cds_choose(driver_memory: str, submit_args: list[str]) -> tuple[_CdsPlan, dict[str, str]]:
    """The archive plan for this installation, and the environment the
    JVM launch needs for it (an empty conf dir in place of one that holds
    only templates)."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cds_dir = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "spark-graft", "cds",
    )
    extra = [k for k in _CLASSPATH_ENV if os.environ.get(k)]
    java = _java_home()
    templates = _only_templates(conf_dir)
    if extra:
        return _CdsPlan("none", f"${extra[0]} extends the class path"), {}
    if java is None:
        return _CdsPlan("none", "no java found"), {}
    if templates is None:
        return _CdsPlan("none", f"{conf_dir} holds more than *.template files"), {}
    env = {}
    if templates:
        conf_dir = env["SPARK_CONF_DIR"] = os.path.join(cds_dir, "conf")
    try:
        key = _cds_key(java, os.path.join(spark_home, "jars"), conf_dir,
                       driver_memory, shlex.join(submit_args))
    except OSError as ex:
        return _CdsPlan("none", f"cannot list the Spark jars: {ex}"), {}
    plan = _cds_plan(cds_dir, key)
    if plan.mode != "none" and env:
        with contextlib.suppress(OSError):  # made by the dump; may be read-only
            os.makedirs(conf_dir, exist_ok=True)
    return plan, env


@contextlib.contextmanager
def _environ(changes: dict[str, str]):
    """Set environment variables for the JVM launch, then restore them."""
    saved = {k: os.environ.get(k) for k in changes}
    os.environ.update(changes)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _split_java_options(submit_args: str) -> tuple[str | None, list[str]]:
    """Split ``PYSPARK_SUBMIT_ARGS`` into the driver JVM options it sets
    (``--driver-java-options`` or ``--conf
    spark.driver.extraJavaOptions=``; spark-submit keeps the last one, and
    they override the builder's) and the remaining arguments."""
    opts, rest = None, []
    args = iter(shlex.split(submit_args))
    for arg in args:
        name, eq, value = arg.partition("=") if arg.startswith("--") else (arg, "", "")
        if name not in ("--driver-java-options", "--conf", "-c"):
            rest.append(arg)
            continue
        if not eq:
            value = next(args, "")
        if name == "--driver-java-options":
            opts = value
        elif value.partition("=")[0] == _JAVA_OPTIONS:
            opts = value.partition("=")[2]
        else:
            rest += [name, value]
    return opts, rest


def _java_home() -> str | None:
    """The JDK the Spark launcher runs: $JAVA_HOME, else java on PATH."""
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    else:
        java = shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _only_templates(conf_dir: str) -> bool | None:
    """True if the conf dir holds only ``*.template`` files (swap it for
    an empty one), False if it is empty or missing (use it as it is),
    None if it holds real configuration."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return False
    except OSError:
        return None  # unreadable: cannot tell
    if any(not n.endswith(".template") for n in names):
        return None
    return bool(names)


def _cds_key(java_home: str, jars_dir: str, conf_dir: str, driver_memory: str,
             submit_args: str) -> str:
    """Hash of what the JVM checks an archive against: the JDK build,
    the class path (jar names, sizes and mtimes; the conf dir), the heap
    size, which decides compressed oops, and the other spark-submit
    arguments, which can change either."""
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            release = f.read()
    except OSError:
        release = b""
    with os.scandir(jars_dir) as it:
        jars = sorted((e.name, e.stat().st_size, int(e.stat().st_mtime)) for e in it)
    parts = (java_home, release, jars, conf_dir, driver_memory, submit_args)
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


def _cds_plan(cds_dir: str, key: str) -> _CdsPlan:
    """Decide from the cache dir alone: use the published archive if its
    size matches its stamp, else dump one if this process can take the
    dump lock, else start plain."""
    archive = os.path.join(cds_dir, f"{key}.jsa")
    try:
        with open(archive + ".size") as f:
            want = int(f.read())
        have = os.path.getsize(archive)
    except (OSError, ValueError):
        pass  # not published (or half removed): build it
    else:
        if have == want:
            return _CdsPlan("use", f"{archive}, {have >> 20} MB", archive)
        why = f"{archive} holds {have} bytes, its stamp says {want}"
        if _lock(cds_dir) is None:
            for path in (archive + ".size", archive):
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(path)
            os.unlink(_lock_path(cds_dir))
            why += "; removed it, the next session writes a new one"
        return _CdsPlan("none", why)
    busy = _lock(cds_dir)
    if busy is not None:
        return _CdsPlan("none", f"no archive yet, {busy}")
    for stale in glob.glob(os.path.join(cds_dir, "*.tmp")):
        os.unlink(stale)  # left by a dump whose process was killed
    return _CdsPlan("dump", f"writing {archive} when the JVM exits", archive)


def _lock_path(cds_dir: str) -> str:
    return os.path.join(cds_dir, "dump.lock")


def _lock(cds_dir: str) -> str | None:
    """Create the dump lock (O_EXCL, holding this pid): None when taken,
    else why not. A lock left by an exited process is removed, and this
    session starts plain."""
    path = _lock_path(cds_dir)
    try:
        os.makedirs(cds_dir, exist_ok=True)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
    except FileExistsError:
        try:
            with open(path) as f:
                pid = int(f.read())
            os.kill(pid, 0)
        except ProcessLookupError:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)
            return f"removed the dump lock of exited process {pid}"
        except (OSError, ValueError):
            pass  # being written, or held by another user's process
        return f"another process holds {path}"
    except OSError as ex:
        return f"cannot write {cds_dir}: {ex.strerror}"
    with os.fdopen(fd, "w") as f:
        f.write(str(os.getpid()))
    return None


def _release(plan: _CdsPlan) -> None:
    for path in (plan.tmp, _lock_path(os.path.dirname(plan.archive))):
        with contextlib.suppress(FileNotFoundError):
            os.unlink(path)


def _publish(proc: subprocess.Popen, plan: _CdsPlan) -> None:
    """At interpreter exit: close the gateway's stdin so the JVM exits
    and writes the archive, wait for it, and publish the archive only if
    the JVM exited with status 0. A process above this one may kill
    leftovers soon after this interpreter ends, so the wait happens
    here."""
    t0 = time.monotonic()
    try:
        proc.stdin.close()
        try:
            code = proc.wait(timeout=CDS_EXIT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            code = proc.wait()
        dt = time.monotonic() - t0
        size = os.path.getsize(plan.tmp) if code == 0 and os.path.exists(plan.tmp) else 0
        if not size:
            _log(f"not published: the JVM exited with {code} after {dt:.1f} s")
            return
        os.replace(plan.tmp, plan.archive)
        with open(plan.archive + ".size.tmp", "w") as f:
            f.write(str(size))
        os.replace(plan.archive + ".size.tmp", plan.archive + ".size")
        _log(f"published {plan.archive}, {size >> 20} MB, written in {dt:.1f} s")
    finally:
        _release(plan)


def ensure_session_determinism(spark: SparkSession) -> SparkSession:
    """Pin runtime confs that affect cross-engine value equality.

    Queries receive an externally created session (driver contract), so
    ``registry.query`` calls this before every builder to guarantee UTC
    rendering of timestamps and NULL-on-bad-cast semantics regardless of
    caller setup.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    except Exception:
        pass  # conf may be fixed on some builds — verified below
    # Read back rather than trust the set: the MinHash multiply-shift
    # family (llm/dedup.py) requires non-ANSI int64 wraparound — under
    # ANSI its a*h+b raises ARITHMETIC_OVERFLOW mid-job. Fail fast with
    # a clear error instead of deep in a task.
    if spark.conf.get("spark.sql.ansi.enabled", "false") != "false":
        raise RuntimeError(
            "spark.sql.ansi.enabled could not be set to false on this "
            "build; the engine's hash families rely on non-ANSI int64 "
            "wraparound arithmetic (llm/dedup.py multiply-shift MinHash)"
        )
    return spark
