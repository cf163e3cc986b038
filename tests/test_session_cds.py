"""The driver JVM's class-data-sharing archive (session.get_spark).

The plan tests decide from a temporary cache dir alone; one subprocess
test starts a real session over a truncated archive.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tile_etl_spark import session
from tile_etl_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_archive(cds, key, size, stamp):
    cds.mkdir(parents=True, exist_ok=True)
    archive = cds / f"{key}.jsa"
    archive.write_bytes(b"\0" * size)
    (cds / f"{key}.jsa.size").write_text(str(stamp))
    return archive


def test_no_archive_dumps_under_the_lock(tmp_path):
    cds = tmp_path / "cds"
    plan = session._cds_plan(str(cds), "k")
    assert plan.mode == "dump"
    assert plan.flags.startswith(f"-XX:ArchiveClassesAtExit={cds}/k.jsa.{os.getpid()}.tmp ")
    assert (cds / "dump.lock").read_text() == str(os.getpid())
    session._release(plan)
    assert not (cds / "dump.lock").exists()


def test_published_archive_with_matching_stamp_is_used(tmp_path):
    archive = _fake_archive(tmp_path, "k", 4096, 4096)
    plan = session._cds_plan(str(tmp_path), "k")
    assert plan.mode == "use"
    assert plan.flags.startswith(f"-XX:SharedArchiveFile={archive} ")
    assert not (tmp_path / "dump.lock").exists()


def test_truncated_archive_starts_plain_and_is_removed(tmp_path):
    archive = _fake_archive(tmp_path, "k", 4096, 8192)
    plan = session._cds_plan(str(tmp_path), "k")
    assert plan.mode == "none" and plan.flags == ""
    assert "holds 4096 bytes, its stamp says 8192" in plan.why
    assert not archive.exists() and not (tmp_path / "k.jsa.size").exists()
    assert not (tmp_path / "dump.lock").exists()


def test_unwritable_cache_dir_never_dumps(tmp_path):
    blocker = tmp_path / "file"
    blocker.write_text("")
    plan = session._cds_plan(str(blocker / "cds"), "k")
    assert plan.mode == "none" and "cannot write" in plan.why


def test_held_lock_starts_plain(tmp_path):
    (tmp_path / "dump.lock").write_text(str(os.getpid()))
    plan = session._cds_plan(str(tmp_path), "k")
    assert plan.mode == "none" and "another process holds" in plan.why
    assert (tmp_path / "dump.lock").exists()


def test_lock_of_exited_process_is_removed(tmp_path):
    done = subprocess.Popen(["true"])
    done.wait()
    (tmp_path / "dump.lock").write_text(str(done.pid))
    (tmp_path / f"k.jsa.{done.pid}.tmp").write_bytes(b"partial")
    plan = session._cds_plan(str(tmp_path), "k")
    assert plan.mode == "none" and "exited process" in plan.why
    assert not (tmp_path / "dump.lock").exists()
    # the next session dumps, and clears what the killed dump left
    plan = session._cds_plan(str(tmp_path), "k")
    assert plan.mode == "dump"
    assert not (tmp_path / f"k.jsa.{done.pid}.tmp").exists()
    session._release(plan)


@pytest.mark.parametrize("args, opts, rest", [
    ("pyspark-shell", None, ["pyspark-shell"]),
    ("--driver-java-options '-Da=1 -Db=2' pyspark-shell", "-Da=1 -Db=2", ["pyspark-shell"]),
    ("--conf spark.driver.extraJavaOptions=-Da=1 --conf spark.x=y pyspark-shell",
     "-Da=1", ["--conf", "spark.x=y", "pyspark-shell"]),
    ("--conf=spark.driver.extraJavaOptions=-Da=1 --driver-java-options=-Db=2 --master local[2] "
     "pyspark-shell", "-Db=2", ["--master", "local[2]", "pyspark-shell"]),
])
def test_submit_args_java_options_are_split_out(args, opts, rest):
    assert session._split_java_options(args) == (opts, rest)


class _Builder:
    """Records what a JVM launch would see."""

    def __init__(self, options):
        self._options = dict(options)

    def config(self, key, value):
        self._options[key] = value
        return self

    def getOrCreate(self):
        self.env = {k: os.environ.get(k) for k in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR")}
        return self


@pytest.mark.parametrize("submit, builder_opts, expect", [
    (None, "-Dcaller=1", "-Dcaller=1"),
    ("--driver-java-options -Dsubmit=1 pyspark-shell", "-Dcaller=1", "-Dsubmit=1"),
])
def test_archive_flags_append_to_caller_options(monkeypatch, tmp_path, submit, builder_opts,
                                                expect):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    if submit is None:
        monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    else:
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", submit)
    plan, env = session._cds_choose("8g", ["pyspark-shell"] if submit else [])
    assert plan.mode == "dump"
    session._release(plan)
    _fake_archive(tmp_path / "spark-graft" / "cds", os.path.basename(plan.archive)[:-4], 64, 64)

    b = session._start(_Builder({"spark.driver.memory": "8g",
                                 "spark.driver.extraJavaOptions": builder_opts}))
    assert b._options["spark.driver.extraJavaOptions"] == (
        f"{expect} -XX:SharedArchiveFile={plan.archive} {session._CDS_QUIET}")
    assert b.env["SPARK_CONF_DIR"] == env.get("SPARK_CONF_DIR")
    assert b.env["PYSPARK_SUBMIT_ARGS"] == ("pyspark-shell" if submit else None)
    # the launch environment is restored
    assert os.environ.get("PYSPARK_SUBMIT_ARGS") == submit
    assert "SPARK_CONF_DIR" not in os.environ


def test_running_jvm_gets_no_archive_flag(spark, capsys):
    conf = spark.sparkContext.getConf()
    before = conf.get("spark.driver.extraJavaOptions")
    # fetching re-applies the session defaults, until the next registry
    # call sets the conf of its input
    again = get_spark(app_name="tile-etl-spark-tests", cpus=4)
    assert again.sparkContext is spark.sparkContext
    assert again.sparkContext.getConf().get("spark.driver.extraJavaOptions") == before
    assert "class-data archive" not in capsys.readouterr().err


def test_session_starts_over_a_truncated_archive(monkeypatch, tmp_path):
    """A truncated archive mapped by the JVM kills it with SIGBUS; the
    size stamp must keep it from ever being passed."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=REPO)
    plan, _ = session._cds_choose("1g", [])
    assert plan.mode == "dump"
    session._release(plan)
    cds = tmp_path / "spark-graft" / "cds"
    key = os.path.basename(plan.archive)[:-4]
    with open("/dev/urandom", "rb") as f:
        noise = f.read(4096)
    (cds / f"{key}.jsa").write_bytes(noise)
    (cds / f"{key}.jsa.size").write_text(str(50 << 20))

    script = ("from tile_etl_spark.session import get_spark\n"
              "print(get_spark(app_name='cds-truncated', cpus=1).range(3).count())\n")
    run = subprocess.run([sys.executable, "-c", script], env=env, cwd=str(tmp_path),
                         capture_output=True, text=True, timeout=240)
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.strip().splitlines()[-1] == "3"
    lines = [ln for ln in run.stderr.splitlines() if ln.startswith("class-data archive:")]
    assert len(lines) == 1 and "its stamp says" in lines[0], lines
    assert sorted(os.listdir(cds)) == ["conf"]
