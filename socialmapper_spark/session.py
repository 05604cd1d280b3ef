"""SparkSession factory with the engine's tuned configuration.

Designed for a multi-executor cluster reading ~10^12-row Iceberg tables;
the sandbox runs the same config on ``local[N]``. The knobs that matter at
scale (AQE, skew-join handling, adaptive partition coalescing, Arrow
batching) are identical in both.

DataFrame call-site capture (``spark.python.sql.dataFrameDebugging``) is
off: with Spark's default, every ``pyspark.sql.functions`` call walks the
Python stack, makes three extra py4j round trips and tries to import
IPython. Error classes are unchanged; a DataFrame error's query context
just carries no Python call-site lines.

Cold start. The driver JVM loads its classes from a few hundred jars on
every start; ``get_spark`` starts it from a JDK class-data-sharing
archive instead, which memory-maps them and halves the start. The
archive lives in the per-user cache (``$XDG_CACHE_HOME``, else
``~/.cache``) as ``socialmapper_spark/cds/<key>.jsa``; the key hashes the
JDK's ``release`` file and each jar's name, size and mtime. With no archive for its key, a session has its JVM write one as it
exits (a one-time cost: a slower start, then some 10-15 s of writing
while the process exits), and the file is promoted to the keyed
path only when that JVM exited with code 0: the JVM dies of SIGBUS on a
truncated archive rather than falling back. A session whose JVM still
fails to start on an archive starts without one, and deletes the archive
once that start succeeds.
``-Xshare:off`` in ``spark.driver.extraJavaOptions`` turns this off, and
so does setting ``spark.driver.defaultJavaOptions``, which carries the
archive flag. CDS refuses a classpath that holds a non-empty directory,
so the launch points ``SPARK_CONF_DIR`` at an empty one, and only when
the real conf dir holds nothing but ``*.template`` files.
"""

from __future__ import annotations

import atexit
import hashlib
import logging
import os
import pathlib
import shutil
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# the longest an exiting process waits for its JVM to write a class archive
ARCHIVE_WAIT_S = 120.0


def get_spark(
    app_name: str = "socialmapper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = master.split("[")[-1].rstrip("]") if "[" in master else "32"
    try:
        n_cores = int(cores)
    except ValueError:
        n_cores = 32
    if shuffle_partitions is None:
        # at cluster scale this would be ~2-3x total executor cores; locally
        # match parallelism so bench timings reflect per-core throughput
        shuffle_partitions = max(n_cores, 8)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # library default: 16 MB (sane split sizing for real tables — the
        # JVM's 128 MB under-splits the mid-size files typical here, while
        # a tiny default would explode task counts on any non-toy input).
        # The sandbox bench/test harnesses override to 1 MB via
        # SPARK_GRAFT_MAX_PARTITION_BYTES because sandbox files are so
        # small (sf0.1 pages ≈ 39 MB) that 16 MB yields only 3 scan splits
        # and the heaviest stage can't use the cores.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)
        ),
        "spark.ui.enabled": "false",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        **(extra_conf or {}),
    }
    settle_dumps()
    # a running JVM (this process's, or the spark-submit that runs it)
    # takes no launch options
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = class_archive(extra_conf or {}) if launches else None
    try:
        spark = _launch(app_name, master, conf, archive)
    except PySparkRuntimeError as e:
        if archive is None or e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        log.warning("the driver JVM did not start with %s; starting it without", archive.java_options)
        spark = _launch(app_name, master, conf, None)
        # only a JVM that starts without the archive shows the archive was at fault
        if archive.dump is None:
            archive.path.unlink(missing_ok=True)
        archive = None
    if archive is not None and archive.dump is not None:
        _dumps.append((SparkContext._gateway.proc, archive))
    return spark


def _launch(app_name: str, master: str, conf: dict[str, str], archive: ClassArchive | None) -> SparkSession:
    builder = SparkSession.builder.appName(app_name).master(master).config(map=conf)
    if archive is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    # the empty conf dir beside the archives
    os.environ["SPARK_CONF_DIR"] = str(archive.path.parent / "conf")
    try:
        return builder.config("spark.driver.defaultJavaOptions", archive.java_options).getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


# ---------------------------------------------------------------------------
# driver class archive
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ClassArchive:
    """A driver launch with a class archive: ``path`` is the keyed
    archive, mapped when ``dump`` is None; otherwise the JVM writes a new
    one to ``dump`` as it exits."""

    path: pathlib.Path
    dump: pathlib.Path | None = None

    @property
    def java_options(self) -> str:
        if self.dump is None:
            return f"-XX:SharedArchiveFile={self.path}"
        # the dump warns of each class it skips, hundreds of lines
        return f"-XX:ArchiveClassesAtExit={self.dump} -Xlog:cds=off"


def archive_dir() -> pathlib.Path:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return pathlib.Path(cache) / "socialmapper_spark" / "cds"


def archive_key(java_home: pathlib.Path, jars: pathlib.Path) -> str:
    """What the archive depends on: the JDK build and the jar set. The
    classpath's other entry, the empty conf dir, sits beside the archive,
    so the archive's own location fixes it."""
    h = hashlib.sha256((java_home / "release").read_bytes())
    for jar in sorted(jars.glob("*.jar")):
        st = jar.stat()
        h.update(f"{jar.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def class_archive(conf: dict[str, str]) -> ClassArchive | None:
    """How to launch the driver JVM for a session with the caller's
    ``conf``: map the keyed archive, or write it at exit when there is
    none; None launches it as Spark would."""
    if "spark.driver.defaultJavaOptions" in conf or "-Xshare" in conf.get(
        "spark.driver.extraJavaOptions", ""
    ):
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = pathlib.Path(_find_spark_home())
    real = pathlib.Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
    kept = sorted(p.name for p in real.iterdir() if not p.name.endswith(".template")) if real.is_dir() else []
    extra = [v for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH") if os.environ.get(v)]
    if kept or extra:
        why = f"{real} holds {', '.join(kept)}" if kept else f"{', '.join(extra)} add to the classpath"
        log.info("no driver class archive: %s", why)
        return None
    root = archive_dir()
    try:
        key = archive_key(_java_home(), spark_home / "jars")
        (root / "conf").mkdir(parents=True, exist_ok=True)
    except OSError as e:
        log.info("no driver class archive: %s", e)
        return None
    path = root / f"{key}.jsa"
    if path.is_file():
        return ClassArchive(path)
    for tmp in root.glob("*.jsa.*"):  # dumps whose writer is gone never finished
        if tmp.suffix[1:].isdigit() and not _alive(int(tmp.suffix[1:])):
            tmp.unlink(missing_ok=True)
    return ClassArchive(path, root / f"{key}.jsa.{os.getpid()}")


def _java_home() -> pathlib.Path:
    """The JDK that spark-class runs: ``$JAVA_HOME``, else the one the
    ``java`` on the PATH belongs to."""
    if os.environ.get("JAVA_HOME"):
        return pathlib.Path(os.environ["JAVA_HOME"])
    return pathlib.Path(os.path.realpath(shutil.which("java") or "/bin/java")).parents[1]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


# (gateway process, archive) of each session whose JVM writes an archive at exit
_dumps: list[tuple[subprocess.Popen, ClassArchive]] = []


def settle_dumps(wait: float = 0.0) -> None:
    """Promote the archive of each dumping JVM that exited with code 0 to
    its keyed path, and delete the archives of other keys; a JVM that
    exited otherwise leaves nothing. With ``wait``, first close each
    running JVM's stdin (which ends it) and give it that many seconds
    to write."""
    for proc, archive in list(_dumps):
        if wait and proc.poll() is None:
            proc.stdin.close()
            try:
                proc.wait(timeout=wait)
            except subprocess.TimeoutExpired:
                continue
        if proc.poll() is None:
            continue
        _dumps.remove((proc, archive))
        if proc.returncode != 0 or not archive.dump.is_file():
            archive.dump.unlink(missing_ok=True)
            continue
        os.replace(archive.dump, archive.path)
        for old in archive.path.parent.glob("*.jsa"):
            if old != archive.path:
                old.unlink(missing_ok=True)


atexit.register(settle_dumps, ARCHIVE_WAIT_S)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str):
    """A small constant table built from driver-side ``rows`` that plans
    as a JVM ``LocalTableScan``. ``createDataFrame`` on a Python list
    plans as ``Scan ExistingRDD`` instead, whose rows are unpickled by a
    Python worker pool of their own beside the one the Arrow UDFs use.
    An Arrow table goes to the driver JVM as is, empty or not and
    whatever the session's Arrow setting (a pandas frame would fall back
    to the list path when empty or with Arrow off)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    names = struct.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)


def release_caches(df) -> int:
    """Release the persist() handles an operator attached to its returned
    DataFrame (``__spark_graft_caches__``). Operators like the kring kNN
    keep intermediates persisted because the returned plan consumes them
    lazily — only the caller knows when the last action has run. Call
    this after that action in a long-lived session to drop the cached
    blocks (or use ``spark.catalog.clearCache()`` to drop everything, as
    bench.py does between timed runs). Returns the number of handles
    released; safe on frames with no attached caches."""
    handles = getattr(df, "__spark_graft_caches__", None) or []
    for h in handles:
        try:
            h.unpersist()
        except Exception:
            pass
    return len(handles)
