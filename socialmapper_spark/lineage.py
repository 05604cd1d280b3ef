"""Per-partition lineage + checkpoint resume (SURVEY.md §4 O14, north_rule).

Absent in the reference (single machine, SQLite caches —
/root/reference/socialmapper/isochrone/cache.py is the closest analog);
required here: every stage emits per-bucket lineage rows
(stage, bucket, cell_min, cell_max, row_count, checksum, status) to a
checkpoint table, and a restarted job filters out the committed buckets
(their ids read on the driver from that table) so failed stages resume
without recompute. A stage's rows are rebalanced by bucket before the
write, so each bucket lands as one file (AQE splits only a bucket larger
than its advisory partition size), and each commit appends one lineage
file.

Buckets are deterministic functions of the data (``pmod(xxhash64(key),
n_buckets)`` or a cell prefix), NOT Spark partition ids — task placement
may change between runs; bucket membership may not. Checksums are
XOR-aggregated xxhash64 over the output row key columns: order- and
partitioning-insensitive, overflow-free, so identical logical content
yields identical checksums at any parallelism (the salt-invariance the
pytest suite pins).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from socialmapper_spark.session import local_frame

LINEAGE_SCHEMA = (
    "stage string, bucket int, cell_min long, cell_max long, "
    "row_count long, checksum long, status string, committed_at double"
)
# the stage's schema beside its output; Spark skips files named "_*"
SCHEMA_FILE = "_stage_schema.json"


def with_bucket(
    df: DataFrame, key_col: str, n_buckets: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Deterministic bucket id from a key column (content-addressed).

    ``hash_fn``: "xxhash64" (default — fastest, pure JVM) or "md5" (the
    repo's cross-engine 60-bit md5 primitive, dedup.py — bit-reproducible
    in DuckDB/Python, so the whole lineage row becomes SQL-oracle-able;
    md5-60 is non-negative so plain modulo matches across engines)."""
    if hash_fn == "md5":
        from socialmapper_spark.operators.dedup import _md5_hash60

        h = _md5_hash60(0, F.col(key_col).cast("string"))
    else:
        h = F.xxhash64(F.col(key_col))
    return df.withColumn("bucket", F.pmod(h, F.lit(n_buckets)).cast("int"))


def bucket_stats(
    df: DataFrame,
    stage: str,
    checksum_cols: list[str],
    cell_col: str | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-bucket lineage rows for a bucketed DataFrame.

    With ``hash_fn="md5"`` the row checksum is the XOR fold of the md5-60
    hash of the checksum columns joined by chr(31) — reproducible in
    DuckDB (``bit_xor(cast(('0x' || substr(md5(...),1,15)) as bigint))``),
    which is what gives ``lineage_stats`` a full SQL oracle. Checksum
    columns must be non-null for the md5 path (concat_ws skips nulls in
    Spark but || propagates them in DuckDB)."""
    cell_min = F.min(cell_col) if cell_col else F.max(F.lit(None).cast("long"))
    cell_max = F.max(cell_col) if cell_col else F.max(F.lit(None).cast("long"))
    if hash_fn == "md5":
        from socialmapper_spark.operators.dedup import _md5_hash60

        cs = _md5_hash60(
            0, F.concat_ws("\x1f", *[F.col(c).cast("string") for c in checksum_cols])
        )
        df = df.withColumn("__cs", cs)
        checksum = F.expr("bit_xor(__cs)")
    else:
        checksum = F.expr("bit_xor(xxhash64(" + ", ".join(checksum_cols) + "))")
    agg = df.groupBy("bucket").agg(
        cell_min.alias("cell_min"),
        cell_max.alias("cell_max"),
        F.count("*").alias("row_count"),
        checksum.alias("checksum"),
    )
    # literal columns added OUTSIDE the aggregate (literal aliases inside
    # agg() trip a Catalyst binding bug under exceptAll in Spark 4.1)
    return agg.select(
        F.lit(stage).alias("stage"),
        "bucket", "cell_min", "cell_max", "row_count", "checksum",
        F.lit("committed").alias("status"),
        F.lit(time.time()).alias("committed_at"),
    )


def completed_buckets(spark: SparkSession, lineage_path: str, stage: str) -> DataFrame:
    """Buckets already committed for this stage (empty frame if no table).

    The empty frame is a zero-row ``Range``, planned in the JVM: a
    ``createDataFrame`` over an empty list would start a Python worker
    pool only to unpickle no rows."""
    if os.path.exists(lineage_path):
        lin = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
        return (
            lin.filter((F.col("stage") == stage) & (F.col("status") == "committed"))
            .select("bucket")
            .distinct()
        )
    return spark.range(0).select(F.col("id").cast("int").alias("bucket"))


def pending_buckets(spark: SparkSession, lineage_path: str, stage: str, n_buckets: int) -> list[int]:
    """``range(n_buckets)`` minus the buckets committed for ``stage``, read
    on the driver from the one-row-per-bucket lineage table."""
    done = set()
    if os.path.exists(lineage_path):
        done = {r["bucket"] for r in completed_buckets(spark, lineage_path, stage).collect()}
    return [b for b in range(n_buckets) if b not in done]


def pending_rows(df: DataFrame, key_col: str, n_buckets: int, pending: list[int]) -> DataFrame:
    """``df`` bucketed by ``key_col``, filtered to the ``pending`` bucket
    ids (:func:`pending_buckets`; no join, and no filter when every
    bucket is pending)."""
    bucketed = with_bucket(df, key_col, n_buckets)
    return bucketed if len(pending) == n_buckets else bucketed.filter(F.col("bucket").isin(pending))


def run_stage_with_lineage(
    spark: SparkSession,
    df: DataFrame,
    stage: str,
    key_col: str,
    checksum_cols: list[str],
    out_path: str,
    lineage_path: str,
    n_buckets: int = 32,
    cell_col: str | None = None,
    chunk_size: int | None = None,
    fail_after_chunks: int | None = None,
) -> int:
    """Execute a stage resumably.

    1. bucket the output by ``key_col``
    2. keep the pending buckets (:func:`pending_buckets`: no pass over
       the data; nothing to filter on a fresh stage)
    3. write them (parquet, partitioned by bucket — a crashed write
       leaves partial bucket dirs that are simply overwritten on retry
       because commit happens per bucket AFTER the data lands). The rows
       are rebalanced by bucket first, so each bucket lands as one file,
       not one per upstream task; AQE coalesces small buckets into few
       write tasks and splits one larger than its advisory partition
       size into files of about that size. On a local filesystem the
       stage's schema goes beside them as ``_stage_schema.json``, for
       :func:`verify_lineage`
    4. collect per-bucket stats from the data as written, append them
       as lineage rows (one file per commit)

    ``chunk_size`` sets the COMMIT GRANULARITY: with it, pending buckets
    land and their lineage rows commit in chunks of that many buckets,
    so a mid-job crash loses at most one in-flight chunk instead of the
    whole stage — the recompute window a 1000-executor job wants bounded.
    With more than one chunk the bucketed frame is persisted for the
    chunk loop (one upstream pass, each chunk reads the cache) and
    released before returning; one pass over that cache drops the
    pending buckets that hold no rows, so chunks of empty buckets are
    never written (a bucket that lands no rows commits no lineage row
    and stays pending). ``fail_after_chunks`` is the failure-injection
    hook for resume drills/tests: raises after that many chunks have
    committed.

    Returns the number of buckets that landed rows (0 = fully resumed).
    """
    pending = pending_buckets(spark, lineage_path, stage, n_buckets)
    if not pending:
        return 0
    todo = pending_rows(df, key_col, n_buckets, pending)
    cached = chunk_size is not None and len(pending) > chunk_size
    if cached:
        todo = todo.persist()
    landed = 0
    try:
        if cached:
            pending = sorted(r["bucket"] for r in todo.select("bucket").distinct().collect())
        step = chunk_size or len(pending)
        chunks = [pending[i : i + step] for i in range(0, len(pending), step)]
        for ci, chunk in enumerate(chunks):
            if fail_after_chunks is not None and ci >= fail_after_chunks:
                raise RuntimeError(
                    f"injected failure after {ci} committed chunks "
                    f"({ci * step} buckets)"
                )
            part = todo.filter(F.col("bucket").isin(chunk)) if cached else todo
            (
                part.hint("rebalance", "bucket")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(out_path)
            )
            if os.path.isdir(out_path):  # elsewhere (s3://...) verify infers it
                with open(os.path.join(out_path, SCHEMA_FILE), "w") as f:
                    f.write(todo.schema.json())
            # certify what landed, not what we meant to write; the given
            # schema reads a chunk that landed no rows as empty
            written = spark.read.schema(todo.schema).parquet(out_path).filter(
                F.col("bucket").isin(chunk)
            )
            stats = bucket_stats(written, stage, checksum_cols, cell_col).collect()
            if stats:  # a chunk that landed no rows commits nothing
                rows = local_frame(spark, list(map(tuple, stats)), LINEAGE_SCHEMA)
                rows.coalesce(1).write.mode("append").parquet(lineage_path)
            landed += len(stats)
        return landed
    finally:
        if cached:
            todo.unpersist()


def verify_lineage(
    spark: SparkSession, out_path: str, lineage_path: str, stage: str,
    checksum_cols: list[str], cell_col: str | None = None,
) -> bool:
    """Recompute checksums from the output table and compare to lineage.
    The table is read with the schema the stage wrote beside it, so no
    job lists its footers first; without that file it is inferred."""
    schema = os.path.join(out_path, SCHEMA_FILE)
    reader = spark.read
    if os.path.exists(schema):
        with open(schema) as f:
            reader = reader.schema(StructType.fromJson(json.load(f)))
    data = reader.parquet(out_path)
    fresh = bucket_stats(data, stage, checksum_cols, cell_col).select(
        "bucket", "row_count", "checksum"
    )
    recorded = (
        spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
        .filter((F.col("stage") == stage) & (F.col("status") == "committed"))
        .select("bucket", "row_count", "checksum")
        .dropDuplicates(["bucket"])
    )
    # one query: a bucket mismatches when its row count or checksum
    # differ or only one side has it (exceptAll would trip a Spark 4.1
    # binding bug over the aggregate)
    f, r = fresh.alias("f"), recorded.alias("r")
    same = F.struct("f.row_count", "f.checksum").eqNullSafe(F.struct("r.row_count", "r.checksum"))
    return f.join(r, "bucket", "full").filter(~same).isEmpty()
