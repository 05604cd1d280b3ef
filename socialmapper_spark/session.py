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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # library default: 16 MB (sane split sizing for real tables — the
        # JVM's 128 MB under-splits the mid-size files typical here, while
        # a tiny default would explode task counts on any non-toy input).
        # The sandbox bench/test harnesses override to 1 MB via
        # SPARK_GRAFT_MAX_PARTITION_BYTES because sandbox files are so
        # small (sf0.1 pages ≈ 39 MB) that 16 MB yields only 3 scan splits
        # and the heaviest stage can't use the cores.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


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
