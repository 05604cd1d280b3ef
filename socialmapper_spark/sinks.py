"""Export sinks (SURVEY.md §2.1 S11/S12/S14, §2.2 P5).

Reference semantics:

- S11 CSV sink — drop the geometry column, utf-8, no index
  (/root/reference/socialmapper/export/formats/csv.py:20-66)
- S12 Parquet/GeoParquet sink — snappy compression; dictionary/categorical
  encoding is automatic in Parquet (formats/geoparquet.py:23-97)
- S14 auto format selection — size estimate picks csv vs parquet
  (export/utils.py via export/__init__.py:100-103; threshold
  LARGE_DATASET_MB=500, constants.py:119)
- P5 column projection/order — preferred leading column order, excluded
  internal columns (export/base.py:19-64, applied preparation.py:115-140)

Spark-first: these are thin, declarative wrappers over DataFrame writers —
the writes are already distributed/streamed (S13's chunked writer is a
no-op here, SURVEY.md §2.1), so the value is pinning the reference's
column/exclusion/format rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (kept for callers)

# P5: preferred leading order (export/base.py:19-40) and excluded columns
# (export/base.py:47-64) — geometry plus TIGER internals.
PREFERRED_COLUMN_ORDER = [
    "poi_id", "poi_name", "poi_type",
    "census_block_group", "GEOID",
    "state_fips", "county_fips", "tract", "block_group",
    "travel_time_minutes", "travel_mode",
    "distance_km", "distance_miles",
]
EXCLUDED_COLUMNS = {
    "geometry", "geometry_wkb", "TRACTCE", "BLKGRPCE",
    "AFFGEOID", "LSAD", "ALAND", "AWATER",
}

LARGE_DATASET_MB = 500  # reference constants.py:119


def prepare_export_columns(df: DataFrame) -> DataFrame:
    """P5: drop excluded columns, order preferred columns first (stable
    order for the rest)."""
    keep = [c for c in df.columns if c not in EXCLUDED_COLUMNS]
    lead = [c for c in PREFERRED_COLUMN_ORDER if c in keep]
    rest = [c for c in keep if c not in lead]
    return df.select(*lead, *rest)


def estimate_size_mb(df: DataFrame) -> float:
    """Optimizer-statistics size estimate of the logical plan in MB.

    Plans without propagated statistics report the Long.MaxValue "unknown"
    sentinel; fall back to a sampled row-width × count estimate there
    (mirrors the reference's own size probe, export/utils.py).
    """
    size_bytes = float(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size_bytes >= 2.0**60:  # unknown-stats sentinel
        n = df.count()
        width = max(len(df.columns) * 16, 1)  # conservative bytes/row
        size_bytes = float(n * width)
    return size_bytes / (1024 * 1024)


def select_export_format(df: DataFrame) -> str:
    """S14: csv below LARGE_DATASET_MB, parquet at/above (the reference's
    auto selection ladder, minus geoparquet which needs a geo stack)."""
    return "csv" if estimate_size_mb(df) < LARGE_DATASET_MB else "parquet"


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str = "cell_r7",
    buckets: int = 64,
    sort: bool = True,
) -> None:
    """Storage-layout scale path: persist a table hash-bucketed (and
    sorted) by its join key, so subsequent equi-joins between tables
    bucketed on the same key with the same bucket count run WITHOUT a
    shuffle exchange — the physical design the north_rule's "salted hash
    joins on cell keys" implies for repeatedly-joined 100 TB tables
    (Iceberg's bucket partition transform is the same idea; this is the
    Spark-native writer). Pinned by a plan-shape test asserting the
    bucketed join has no big-side Exchange."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def export_units_iceberg(df: DataFrame, table: str, mode: str = "overwrite") -> None:
    """Production sink: write to an Iceberg table (the north-rule target
    store). Uses the DataFrameWriterV2 API so partition evolution /
    snapshots come from the catalog. This container ships no Iceberg
    runtime jar, so the call degrades with an actionable error instead of
    an opaque ClassNotFound — the parquet path (export_units) is the
    sandbox stand-in; on a real cluster add
    ``--packages org.apache.iceberg:iceberg-spark-runtime-*`` and a
    ``spark.sql.catalog.<name>`` configuration.
    """
    out = prepare_export_columns(df)
    try:
        writer = out.writeTo(table)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
    except Exception as e:
        # rewrite ONLY the missing-runtime/catalog failure modes; anything
        # else (schema mismatch, permissions, analysis errors on a working
        # Iceberg setup) propagates untouched
        msg = str(e)
        if any(
            s in msg
            for s in (
                # ONLY unambiguous missing-runtime/missing-catalog-config
                # signals; a TABLE_OR_VIEW_NOT_FOUND on a configured cluster
                # means the target table is missing and must propagate as-is
                "Cannot find catalog plugin",
                "ClassNotFoundException",
                "NoClassDefFoundError",
                "CATALOG_NOT_FOUND",
                # unconfigured multi-part catalog falls through to
                # spark_catalog, which rejects the namespace
                "REQUIRES_SINGLE_PART_NAMESPACE",
            )
        ):
            raise RuntimeError(
                "Iceberg write failed — is the iceberg-spark-runtime jar on "
                "the classpath and a spark.sql.catalog configured for "
                f"'{table.split('.')[0]}'? Underlying error: {e}"
            ) from e
        raise


def export_units(df: DataFrame, path: str, fmt: str = "auto",
                 mode: str = "overwrite") -> str:
    """Write an analysis-result table; returns the format used.

    CSV path drops geometry and writes a header (S11); parquet uses snappy
    (S12). Both are plain distributed writes — partitioned, restartable.
    """
    out = prepare_export_columns(df)
    if fmt == "auto":
        fmt = select_export_format(out)
    if fmt == "csv":
        out.write.mode(mode).option("header", "true").option(
            "encoding", "UTF-8"
        ).csv(path)
    elif fmt == "parquet":
        out.write.mode(mode).option("compression", "snappy").parquet(path)
    else:
        raise ValueError(f"unsupported export format: {fmt}")
    return fmt
