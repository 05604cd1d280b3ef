"""The driver class archive: which flag a launch gets (no JVM), that a dump
which never finished is never promoted, and, in child processes, that a
truncated archive still starts a working session."""

import os
import pathlib
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from socialmapper_spark import session

ROOT = pathlib.Path(__file__).resolve().parents[1]
# each adds to the driver's classpath, which rules the archive out
CLASSPATH_VARS = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


@pytest.fixture()
def cache(tmp_path, monkeypatch):
    """A private archive cache, and a conf dir holding only a template."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# spark.master local\n")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    for var in CLASSPATH_VARS:
        monkeypatch.delenv(var, raising=False)
    # the conftest session may itself be dumping an archive
    monkeypatch.setattr(session, "_dumps", [])
    return session.archive_dir()


def test_key_miss_dumps_at_exit(cache):
    a = session.class_archive({})
    assert a.dump == cache / f"{a.path.name}.{os.getpid()}"
    assert a.java_options.startswith(f"-XX:ArchiveClassesAtExit={a.dump} ")
    assert not a.path.exists()
    conf_dir = a.path.parent / "conf"
    assert conf_dir.is_dir() and not list(conf_dir.iterdir())


def test_existing_archive_is_mapped(cache):
    path = session.class_archive({}).path
    path.write_bytes(b"archive")
    a = session.class_archive({})
    assert a.dump is None
    assert a.java_options == f"-XX:SharedArchiveFile={path}"


@pytest.fixture()
def launches(monkeypatch):
    """``get_spark`` as if no JVM ran yet, its launch faked: each records
    ``SPARK_CONF_DIR`` and the builder's options at launch time."""
    seen = []
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: seen.append((os.environ["SPARK_CONF_DIR"], dict(self._options))))
    return seen


def test_conf_dir_with_a_real_file_gets_no_archive(cache, launches):
    conf = os.environ["SPARK_CONF_DIR"]
    (pathlib.Path(conf) / "spark-defaults.conf").write_text("spark.master local\n")
    assert session.class_archive({}) is None
    session.get_spark(master="local[1]")
    assert launches[0][0] == conf
    assert "spark.driver.defaultJavaOptions" not in launches[0][1]
    assert os.environ["SPARK_CONF_DIR"] == conf


def test_launch_swaps_the_conf_dir_only_around_the_gateway(cache, launches):
    real = os.environ["SPARK_CONF_DIR"]
    a = session.class_archive({})
    a.path.write_bytes(b"archive")
    session.get_spark(master="local[1]", extra_conf={"spark.driver.memory": "1g"})
    env, options = launches[0]
    assert env == str(a.path.parent / "conf")
    assert options["spark.driver.defaultJavaOptions"] == f"-XX:SharedArchiveFile={a.path}"
    assert options["spark.driver.memory"] == "1g"
    assert os.environ["SPARK_CONF_DIR"] == real


def _gateway_exits(monkeypatch, fails: int) -> list[str]:
    """Fake launches whose first ``fails`` JVMs exit before the gateway
    is up; returns each launch's java options."""
    seen = []

    def get_or_create(self):
        seen.append(self._options.get("spark.driver.defaultJavaOptions"))
        if len(seen) <= fails:
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    return seen


def test_archive_that_fails_the_start_is_deleted_after_a_start_without_it(cache, monkeypatch):
    seen = _gateway_exits(monkeypatch, fails=1)
    path = session.class_archive({}).path
    path.write_bytes(b"archive")
    session.get_spark(master="local[1]")
    assert seen == [f"-XX:SharedArchiveFile={path}", None]
    assert not path.exists()


def test_archive_is_kept_when_the_start_without_it_fails_too(cache, monkeypatch):
    seen = _gateway_exits(monkeypatch, fails=2)
    path = session.class_archive({}).path
    path.write_bytes(b"archive")
    with pytest.raises(PySparkRuntimeError):
        session.get_spark(master="local[1]")
    assert seen == [f"-XX:SharedArchiveFile={path}", None]
    assert path.read_bytes() == b"archive"


@pytest.mark.parametrize("conf", [
    {"spark.driver.extraJavaOptions": "-Xss4m -Xshare:off"},
    {"spark.driver.defaultJavaOptions": "-Xss4m"},
])
def test_caller_java_options_get_no_archive(cache, conf):
    assert session.class_archive(conf) is None


def _exited(code: int) -> subprocess.Popen:
    proc = subprocess.Popen([sys.executable, "-c", f"raise SystemExit({code})"],
                            stdin=subprocess.PIPE)
    proc.wait()
    return proc


def test_unfinished_dump_is_never_promoted(cache):
    first = session.class_archive({})
    # a dump left by a writer that is gone is deleted, not promoted
    gone = _exited(0).pid
    leftover = cache / f"{first.path.name}.{gone}"
    leftover.write_bytes(b"half an archive")
    a = session.class_archive({})
    assert not leftover.exists() and not a.path.exists()
    # a dump whose JVM exited non-zero is deleted
    a.dump.write_bytes(b"half an archive")
    session._dumps.append((_exited(1), a))
    session.settle_dumps()
    assert not a.dump.exists() and not a.path.exists()
    assert session._dumps == []
    # exit code 0 promotes it, and the archives of other keys go
    other = cache / "0123456789abcdef0123.jsa"
    other.write_bytes(b"another key")
    a.dump.write_bytes(b"an archive")
    session._dumps.append((_exited(0), a))
    session.settle_dumps()
    assert a.path.read_bytes() == b"an archive"
    assert not a.dump.exists() and not other.exists()


CHILD = """
from socialmapper_spark.session import get_spark
print("count", get_spark(master="local[1]").range(1000).count())
"""


def test_truncated_archive_still_starts_a_session(tmp_path):
    """A JVM dies of SIGBUS on an archive cut short, so the session deletes
    the archive and starts without it. The first child writes the archive
    as its JVM exits; the second finds it cut to 5 MB."""
    conf = tmp_path / "conf"
    conf.mkdir()
    env = {k: v for k, v in os.environ.items() if k not in CLASSPATH_VARS}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_CONF_DIR=str(conf),
               SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=str(ROOT))

    def child() -> subprocess.CompletedProcess:
        run = subprocess.run([sys.executable, "-c", CHILD], env=env, cwd=tmp_path,
                             capture_output=True, text=True, timeout=600)
        assert "count 1000" in run.stdout, run.stderr[-3000:]
        return run

    child()
    (archive,) = (tmp_path / "cache" / "socialmapper_spark" / "cds").glob("*.jsa")
    assert archive.stat().st_size > 5 << 20
    archive.chmod(0o644)  # written read-only
    os.truncate(archive, 5 << 20)
    run = child()
    assert "did not start with -XX:SharedArchiveFile" in run.stderr
    assert not archive.exists()
