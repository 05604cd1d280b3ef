"""Statistics / geometry-measure operators (SURVEY.md §2.4 A3-A6, §2.8 F16).

A3 isochrone area, A4 cluster metrics, A5 per-variable null-rate stats,
A6 GEOID prefix grouping, F7 polygon centroids, F16 quantile binning. All
except the geometry measures are pure Catalyst (hash aggregates / one
window). Area and centroid read the polygon table once on the driver
(``toArrow``) and measure every polygon in one vectorized numpy pass,
``geo.wkb.polygon_measures`` — the reference likewise computes both as one
GeoSeries operation over the whole table (``to_crs(5070).area``, the
reference's socialmapper/api/client.py:292-301). The polygon table is
small; the page side never reaches the driver.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from socialmapper_spark.functions.scalar import cleanse_census_value
from socialmapper_spark.geo.wkb import polygon_measures, wkb_ring_table
from socialmapper_spark.operators.census import dmean, dsum
from socialmapper_spark.session import local_frame


def _measured(polygons: DataFrame, keep: list[str]) -> DataFrame:
    """``polygons``' ``keep`` columns plus each polygon's ``area_km2`` and
    centroid ``lat``/``lon`` (see :func:`unit_centroids`), as an
    Arrow-built ``LocalTableScan``. Runs one job when called: a JVM
    ``toArrow`` collect of the WKB, then one numpy pass on the driver."""
    from socialmapper_spark.fixtures import _round_half_up  # slow to import

    def rounded(v: np.ndarray) -> pa.Array:
        return pa.array([None if np.isnan(d) else _round_half_up(float(d), 9) for d in v],
                        pa.float64())

    table = polygons.select(*keep, "geometry_wkb").toArrow()
    area, lat, lon = polygon_measures(wkb_ring_table(table.column("geometry_wkb").to_pylist()))
    table = pa.table([*table.select(keep).columns, pa.array(area), rounded(lat), rounded(lon)],
                     names=[*keep, "area_km2", "lat", "lon"])
    schema = StructType([polygons.schema[c] for c in keep]
                        + [StructField(c, DoubleType()) for c in ("area_km2", "lat", "lon")])
    return polygons.sparkSession.createDataFrame(table, schema)


def unit_centroids(polygons: DataFrame, kind: str | None = "blockgroup") -> DataFrame:
    """F7: (poly_id, GEOID, lat, lon) — each polygon's area-weighted
    centroid, computed in EPSG:5070 and converted back to degrees (the
    reference's block-group centroid step, socialmapper/distance/
    __init__.py:133-138: ``to_crs(5070).geometry.centroid`` then back to
    4326). Holes and MultiPolygon members combine by signed area
    weight; lat/lon are rounded half-up to 9 dp (≈0.1 mm) so exact-parity
    comparisons are representation-stable.

    ``lat``/``lon`` are NULL where the centroid is undefined: the
    polygon's signed projected area sums to 0 (say, collinear vertices, or
    a hole identical to its exterior), or a coordinate is NaN.
    ``knn_join`` drops such rows. The call runs one job (see
    :func:`_measured`); the returned frame is a local table.
    """
    df = polygons if kind is None else polygons.filter(F.col("kind") == kind)
    return _measured(df, ["poly_id", "GEOID"]).drop("area_km2")


def isochrone_area(polygons: DataFrame) -> DataFrame:
    """A3: total equal-area km² per isochrone band (travel time + mode).

    Reference: sum of per-isochrone areas in EPSG:5070 / 1e6
    (api/client.py:292-301). The per-polygon areas come from one driver
    pass over the isochrones (the call runs one job, see
    :func:`_measured`) and are rounded to 6 dp in Spark, so each is
    exactly representable in ``dsum``'s decimal(20,6) accumulator
    (≈ 1 m² resolution — ample) and the band total is independent of
    accumulation order.
    """
    iso = polygons.filter(F.col("kind") == "isochrone")
    per_poly = _measured(iso, ["travel_time_minutes", "travel_mode"])
    return per_poly.groupBy("travel_time_minutes", "travel_mode").agg(
        F.count("*").alias("n_isochrones"),
        dsum(F.round("area_km2", 6)).alias("total_area_km2"),
    )


def cluster_metrics(geoparsed: DataFrame, cell_col_name: str = "cell_r7") -> DataFrame:
    """A4: cluster-size metrics (clustering.py:122-137) with the H3 cell as
    the cluster key (the engine's locality-batching analog of DBSCAN,
    SURVEY.md §2.9 C1). One row: n_clusters, total/mean/max/min size.
    """
    sizes = (
        geoparsed.filter(F.col(cell_col_name).isNotNull())
        .groupBy(cell_col_name)
        .agg(F.count("*").alias("cluster_size"))
    )
    return sizes.agg(
        F.count("*").alias("n_clusters"),
        dsum("cluster_size").alias("total_points"),
        dmean("cluster_size").alias("mean_cluster_size"),
        F.max("cluster_size").alias("max_cluster_size"),
        F.min("cluster_size").alias("min_cluster_size"),
    )


def null_rate_stats(census_long: DataFrame) -> DataFrame:
    """A5: per-variable valid/null counts AFTER sentinel cleansing
    (census_service.py:79-97) — the data-quality report the reference logs.
    """
    cleansed = census_long.withColumn(
        "value_clean", cleanse_census_value(F.col("variable_code"), F.col("value"))
    )
    return cleansed.groupBy("variable_code").agg(
        F.count("*").alias("n_total"),
        F.count("value_clean").alias("n_valid"),
        (F.count("*") - F.count("value_clean")).alias("n_null"),
        # int/int double division is bit-identical across engines — no round
        ((F.count("*") - F.count("value_clean")).cast("double") / F.count("*")).alias(
            "null_rate"
        ),
    )


def geoid_prefix_groups(units: DataFrame, geoid_col: str = "GEOID") -> DataFrame:
    """A6: group GEOIDs by the state+county prefix (census_service.py:309-337)
    — the reference's API batching key and the engine's salting/partition
    hierarchy (SURVEY.md §1.1 GEOID).
    """
    return (
        units.groupBy(
            F.substring(F.col(geoid_col), 1, 2).alias("state_fips"),
            F.substring(F.col(geoid_col), 1, 5).alias("state_county"),
        )
        .agg(
            F.count("*").alias("n_units"),
            F.countDistinct(geoid_col).alias("n_distinct_geoids"),
        )
    )


def equal_interval_bins(
    census_wide: DataFrame, variable: str = "B19013_001E", k: int = 5
) -> DataFrame:
    """F16: equal-interval classification (chloropleth.py scheme
    'equal_interval'): k bins of width (max-min)/k; the max value lands in
    bin k. Two-phase plan: a 1-row min/max aggregate broadcast-joined back
    (no window, no second scan at table scale).
    """
    vals = census_wide.filter(F.col(variable).isNotNull())
    bounds = vals.agg(
        F.min(variable).alias("__lo"), F.max(variable).alias("__hi")
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(k))
    bin_col = F.when(F.col("__hi") == F.col("__lo"), F.lit(1)).otherwise(
        F.least(
            F.floor((F.col(variable) - F.col("__lo")) / width).cast("int") + 1,
            F.lit(k),
        )
    )
    return vals.crossJoin(F.broadcast(bounds)).select(
        "geoid", F.col(variable).alias("value"), bin_col.alias("bin")
    )


def quantile_bins(
    census_wide: DataFrame, variable: str = "B19013_001E", k: int = 5
) -> DataFrame:
    """F16: quantile classification binning (visualization/chloropleth.py:146-160,
    scheme 'quantiles') with exact ``ntile(k)`` semantics, ties broken by
    geoid so both engines assign identical bins.

    Scale-safe plan — the naive ``ntile`` over an un-partitioned window
    funnels the whole table through one task; bin-edge values can't
    reproduce ntile either (a boundary can split a tie group that ntile
    orders by geoid). Instead, the classic distributed global rank:

      1. ``repartitionByRange`` on (value, geoid) — a parallel range
         shuffle, the same movement a global sort costs;
      2. per-partition ``row_number`` (window IS partitioned — by the
         range-partition id);
      3. per-partition row counts (a P-row collect) → broadcast prefix
         offsets → global rank → ntile's bucket arithmetic.

    Every stage is parallel; driver state is one row per shuffle
    partition.
    """
    vals = (
        census_wide.filter(F.col(variable).isNotNull())
        .select("geoid", F.col(variable).alias("value"))
    )
    ranked, n, handle = global_rank(vals)
    if n == 0:
        handle.unpersist()
        return vals.select(
            "geoid", "value", F.lit(None).cast("int").alias("bin")
        ).limit(0)
    q, m = divmod(n, k)
    # ntile boundary ranks: end of bucket i (first m buckets hold q+1 rows)
    ends = [
        i * (q + 1) if i <= m else m * (q + 1) + (i - m) * q
        for i in range(1, min(k, max(n, 1)))
    ]
    # collect the (value, geoid) tuple AT each boundary rank — ≤ k-1 rows —
    # then bin = 1 + #boundaries lexicographically below the row. This
    # reproduces ntile's tie handling exactly (ties ordered by geoid) while
    # keeping the RETURNED plan a narrow scan: no window, no rank column,
    # and the range-shuffled cache can be released before returning.
    brows = (
        ranked.filter(F.col("__rank").isin([int(e) for e in set(ends)]))
        .select("__rank", "value", "geoid")
        .collect()
    )
    handle.unpersist()
    at = {r["__rank"]: (r["value"], r["geoid"]) for r in brows}
    bin_col = F.lit(1)
    for e in ends:
        bv, bg = at[e]
        below = (F.col("value") > F.lit(bv)) | (
            (F.col("value") == F.lit(bv)) & (F.col("geoid") > F.lit(bg))
        )
        bin_col = bin_col + below.cast("int")
    return vals.select("geoid", "value", bin_col.cast("int").alias("bin"))


def global_rank(vals: DataFrame):
    """Distributed global rank over (value, geoid) — the scale-safe
    replacement for an un-partitioned window: range shuffle, per-
    partition ``row_number`` (window partitioned by the range-partition
    id), broadcast prefix offsets. Returns (ranked_df with ``__rank``,
    n, persist_handle). Driver state is one row per shuffle partition.

    The persist is load-bearing for correctness, not just speed:
    ``repartitionByRange`` samples per query compilation, so two separate
    actions could see different range boundaries — the offset table would
    then describe the wrong placement. Callers MUST finish every action
    that reads ``__rank`` and then release the cache via
    ``persist_handle.unpersist()`` (see quantile_bins / operators.classify
    for the pattern: collect the few boundary rows, unpersist, and build
    the returned plan on the raw input instead)."""
    spark = vals.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = vals.repartitionByRange(
        num_partitions, F.col("value").asc(), F.col("geoid").asc()
    ).withColumn("__pid", F.spark_partition_id())
    parts = parts.persist()
    sizes = {
        r["__pid"]: r["count"] for r in parts.groupBy("__pid").count().collect()
    }
    n = sum(sizes.values())
    offsets, acc = [], 0
    for p in sorted(sizes):
        offsets.append((p, acc))
        acc += sizes[p]
    off_df = local_frame(spark, offsets or [(0, 0)], "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(
        F.col("value").asc(), F.col("geoid").asc()
    )
    ranked = parts.join(F.broadcast(off_df), "__pid").withColumn(
        "__rank", F.row_number().over(w) + F.col("__off")
    )
    return ranked, n, parts
