"""Raster ↔ vector conversion (north_rule: "H3/S2 index, point-in-polygon,
kNN, raster↔vector").

The raster model is the standard distributed one: a raster is a TABLE of
pixels grouped into fixed-size square tiles — `(tile_id, px_row, px_col,
value)` — where the tile id is the parent cell of the pixel cell at a
coarser resolution. Tiles are the unit of partitioning/IO (one tile ≈ one
row group; a region query prunes tiles by id range), pixels are cell
counts or any per-cell aggregate.

- :func:`rasterize_counts` — vector→raster: points (geoparsed pages) are
  binned into cells at ``res`` (pure Catalyst cell math), counted
  (map-side-combinable hash agg), and addressed as (tile, row, col)
  pixels with exact integer bit arithmetic. No UDF anywhere.
- :func:`tile_arrays` — materializes each tile as a dense 2-D array via
  ``applyInPandas`` (one group per tile) — the shape a real raster
  consumer (GeoTIFF writer, conv feature extractor) ingests.
- :func:`vectorize_threshold` — raster→vector: pixels above a threshold
  come back as cell polygons with exact bounds (and WKB geometry for
  interop), i.e. hotspot extraction. Again pure Catalyst except the
  (optional) WKB bytes.

Cell and tile ids are encoded and decoded only through the codec in
``geo/cells.py`` (``decode_cell_col`` / ``encode_ixy_col``); this module
owns just the tile → pixel offset (:func:`_pixel_ixy` and its inverse
:func:`_tile_pixel`): a pixel's grid index is its tile's index times the
tile side, plus its (px_col, px_row).

Reference tie-in: the reference has no raster layer; its closest analog
is the choropleth binning (visualization/chloropleth.py) which bins
values over polygons. This operator family generalizes that to the cell
grid the whole engine is keyed on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from socialmapper_spark.geo.cells import (
    cell_col,
    cell_size_deg,
    decode_cell_col,
    encode_ixy_col,
    grid_disk_col,
)

DEFAULT_RES = 9
DEFAULT_TILE_RES = 4


def _pixel_ixy(res: int, tile_res: int) -> tuple[F.Column, F.Column]:
    """Grid (ix, iy) at ``res`` of each pixel-table row."""
    side = 1 << (res - tile_res)
    tx, ty = decode_cell_col(F.col("tile_id"))
    return tx * F.lit(side) + F.col("px_col"), ty * F.lit(side) + F.col("px_row")


def _tile_pixel(ix: F.Column, iy: F.Column, res: int, tile_res: int) -> list[F.Column]:
    """(tile_id, px_row, px_col) columns of the pixel at grid (ix, iy)."""
    dr = res - tile_res
    side = F.lit(1 << dr)
    return [
        encode_ixy_col(tile_res, F.shiftright(ix, dr), F.shiftright(iy, dr)).alias("tile_id"),
        F.pmod(iy, side).cast("int").alias("px_row"),
        F.pmod(ix, side).cast("int").alias("px_col"),
    ]


def rasterize_counts(
    points: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = DEFAULT_RES,
    tile_res: int = DEFAULT_TILE_RES,
) -> DataFrame:
    """Vector → raster: per-pixel point counts, tiled.

    Output: (tile_id long, px_row int, px_col int, value long) — px_row/
    px_col are the pixel's offset within its 2^dr × 2^dr tile.
    """
    pts = points.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    cells = pts.select(cell_col(F.col(lat), F.col(lon), res).alias("cell"))
    counts = cells.groupBy("cell").agg(F.count("*").alias("value"))
    return counts.select(
        *_tile_pixel(*decode_cell_col(F.col("cell")), res, tile_res), "value"
    )


def focal_stats(
    raster: DataFrame,
    res: int = DEFAULT_RES,
    tile_res: int = DEFAULT_TILE_RES,
) -> DataFrame:
    """3×3 focal (moving-window) statistics over the pixel table — the
    raster smoothing step that precedes hotspot vectorization (GIS focal
    sum/mean; zero-padded semantics: ``focal_mean = focal_sum / 9.0``
    regardless of how many neighbors hold data, so empty cells count as
    zero exactly like a dense-array convolution).

    Output: one row per cell RECEIVING any contribution (the 3×3
    dilation of the data support): ``(cell, focal_sum, focal_n,
    focal_mean)`` where focal_n counts the non-empty contributing
    pixels. The window is the cell's ``grid_disk_col`` k=1 disk, so the
    topology is the cell index's: longitude wraps, off-grid rows drop
    (no wrap across the poles).

    Scale shape (pure Catalyst): the 3×3 explode is a narrow 9× fan-out
    of the already-aggregated pixel table (tiny vs the corpus); the only
    shuffle is one map-side-combinable hash agg on the neighbor cell
    key. No Python, no window functions, no driver state.
    """
    pixel = encode_ixy_col(res, *_pixel_ixy(res, tile_res))
    contrib = raster.select(F.explode(grid_disk_col(pixel, res, 1)).alias("cell"), "value")
    return (
        contrib.groupBy("cell")
        .agg(
            F.sum("value").alias("focal_sum"),
            F.count("*").cast("long").alias("focal_n"),
        )
        .select(
            "cell",
            "focal_sum",
            "focal_n",
            (F.col("focal_sum") / F.lit(9.0)).alias("focal_mean"),
        )
    )


def downsample_counts(
    raster: DataFrame,
    res: int = DEFAULT_RES,
    to_res: int = 7,
    tile_res: int = DEFAULT_TILE_RES,
) -> DataFrame:
    """Raster pyramid/overview construction: aggregate the pixel table
    from ``res`` down to ``to_res`` (each coarse pixel sums its
    2^(res−to_res) × 2^(res−to_res) children — the overview levels a
    tile server or zoomable map reads instead of rescanning the base
    raster). Output has the same tiled schema as
    :func:`rasterize_counts` at ``to_res``, so vectorize/focal/further
    downsampling compose on it unchanged.

    Pure Catalyst integer math: parent indices are bit-shifts of the
    child indices (the cell hierarchy is power-of-two by construction,
    geo/cells.py), and the single shuffle is a map-side-combinable sum
    keyed on the parent pixel — building a full pyramid is one such agg
    per level over ever-shrinking tables.
    """
    if not 0 <= to_res < res:
        raise ValueError(f"to_res must be in [0, {res}), got {to_res}")
    if to_res < tile_res:
        raise ValueError(f"to_res {to_res} below tile_res {tile_res}")
    shift = res - to_res
    ix, iy = _pixel_ixy(res, tile_res)
    parents = raster.select(
        F.shiftright(ix, shift).alias("__jx"),
        F.shiftright(iy, shift).alias("__jy"),
        "value",
    ).groupBy("__jx", "__jy").agg(F.sum("value").alias("value"))
    return parents.select(
        *_tile_pixel(F.col("__jx"), F.col("__jy"), to_res, tile_res), "value"
    )


def zonal_stats(
    spark,
    raster: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    tile_res: int = DEFAULT_TILE_RES,
) -> DataFrame:
    """Zonal statistics — THE classic raster×vector analysis: aggregate
    raster pixel values per polygon zone (pixel membership = cell CENTER
    inside the polygon, the standard center-rule). Output one row per
    polygon with ≥1 pixel: (poly_id, GEOID, kind, n_pixels, total_value,
    mean_value).

    Scale shape: pixel centers are exact Catalyst arithmetic on the
    already-aggregated pixel table; the polygon side reuses the engine's
    two-phase machinery (prepare_polygons cell cover broadcast →
    pip_refine_expr exact ray-cast), so the pixel table never shuffles
    for the join — the only wide exchange is the final per-polygon agg,
    which is map-side combinable. No Python worker anywhere in the plan:
    the polygon index is built on the driver when this is called (one
    ``toArrow`` job over the polygon table, as in the flagship).
    """
    from socialmapper_spark.operators.spatial_join import (
        PREFILTER_RES,
        prepare_polygons,
        spatial_join,
    )

    size = cell_size_deg(res)
    ix, iy = _pixel_ixy(res, tile_res)
    centers = raster.select(
        "value",
        ((ix.cast("double") + F.lit(0.5)) * F.lit(size) - F.lit(180.0)).alias("__lon"),
        ((iy.cast("double") + F.lit(0.5)) * F.lit(size) - F.lit(90.0)).alias("__lat"),
    )
    index = prepare_polygons(spark, polygons, PREFILTER_RES)
    hits = spatial_join(centers, index, lat="__lat", lon="__lon")
    return (
        hits.join(F.broadcast(index.meta_df), "poly_id")
        .groupBy("poly_id", "GEOID", "kind")
        .agg(
            F.count("*").alias("n_pixels"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "poly_id",
            "GEOID",
            "kind",
            "n_pixels",
            "total_value",
            (F.col("total_value") / F.col("n_pixels")).alias("mean_value"),
        )
    )


def rasterize_polygons(
    spark,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
) -> DataFrame:
    """Polygon burn — vector polygons → raster cells: one (cell, poly_id)
    row per resolution-``res`` cell whose CENTER lies inside the polygon
    (center-rule, the same membership zonal_stats uses — burn then zonal
    compose exactly). Completes the raster↔vector matrix: points→raster
    (rasterize_counts), polygons→raster (this), raster→vector
    (vectorize_threshold), raster→raster (focal, pyramid), raster×vector
    (zonal).

    Scale shape: candidate cells are the children of the polygon's
    cell cover at PREFILTER_RES — the cover is a no-false-negative
    over-approximation (geo/cells.py), so center-inside cells are never
    missed and the exact ray-cast refine removes the rest. Everything is
    polygon-table-sized: the cover (built on the driver when this is
    called, one ``toArrow`` job, no Python worker), the child explode
    (4^(res−cover_res) per cover cell, in-plan sequence), and the
    broadcast edge join; the corpus never participates. No shuffle of
    anything bigger than the burned cell set itself.
    """
    from socialmapper_spark.operators.spatial_join import (
        PREFILTER_RES,
        pip_refine_expr,
        prepare_polygons,
    )

    cover_res = PREFILTER_RES
    if res < cover_res:
        raise ValueError(f"res {res} below cover resolution {cover_res}")
    steps = res - cover_res
    per_axis = 1 << steps
    size = cell_size_deg(res)
    index = prepare_polygons(spark, polygons, cover_res)
    cix, ciy = decode_cell_col(F.col("cell"))
    kids = index.cells_df.select(
        "poly_id",
        (cix * F.lit(per_axis)).alias("__bx"),
        (ciy * F.lit(per_axis)).alias("__by"),
        F.explode(F.sequence(F.lit(0), F.lit(per_axis * per_axis - 1))).alias("__o"),
    ).select(
        "poly_id",
        (F.col("__bx") + F.col("__o") % per_axis).alias("__jx"),
        (F.col("__by") + F.shiftright(F.col("__o"), steps).cast("long")).alias("__jy"),
    )
    lon_c = (F.col("__jx").cast("double") + F.lit(0.5)) * F.lit(size) - F.lit(180.0)
    lat_c = (F.col("__jy").cast("double") + F.lit(0.5)) * F.lit(size) - F.lit(90.0)
    hits = (
        kids.join(F.broadcast(index.geoms_df), "poly_id")
        .filter(pip_refine_expr(F.col("__edges"), lon_c, lat_c))
    )
    cell = encode_ixy_col(res, F.col("__jx"), F.col("__jy"))
    return hits.select(cell.alias("cell"), "poly_id")


def tile_arrays(
    raster: DataFrame, res: int = DEFAULT_RES, tile_res: int = DEFAULT_TILE_RES
) -> DataFrame:
    """Materialize dense per-tile arrays: (tile_id, side, values flat list,
    row-major). One grouped-map UDF per tile — the Arrow batch IS the tile.
    """
    side = 1 << (res - tile_res)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((side, side), dtype=np.int64)
        arr[pdf["px_row"].to_numpy(), pdf["px_col"].to_numpy()] = pdf["value"].to_numpy()
        return pd.DataFrame(
            {
                "tile_id": [int(pdf["tile_id"].iloc[0])],
                "side": [side],
                "values": [arr.ravel().tolist()],
            }
        )

    return raster.groupBy("tile_id").applyInPandas(
        build, "tile_id long, side int, values array<long>"
    )


def vectorize_threshold(
    raster: DataFrame,
    threshold: int,
    res: int = DEFAULT_RES,
    tile_res: int = DEFAULT_TILE_RES,
    with_wkb: bool = False,
) -> DataFrame:
    """Raster → vector: pixels with value ≥ threshold as cell polygons.

    Output: (cell, value, lat_min, lat_max, lon_min, lon_max) with exact
    cell-boundary coordinates (pure Catalyst); ``with_wkb`` adds the WKB
    polygon bytes for interop (Arrow UDF, off the comparison path).
    """
    size = cell_size_deg(res)
    ix, iy = _pixel_ixy(res, tile_res)
    cell = encode_ixy_col(res, ix, iy)
    lon_min = ix.cast("double") * F.lit(size) - F.lit(180.0)
    lat_min = iy.cast("double") * F.lit(size) - F.lit(90.0)
    out = raster.filter(F.col("value") >= threshold).select(
        cell.alias("cell"),
        "value",
        lat_min.alias("lat_min"),
        (lat_min + F.lit(size)).alias("lat_max"),
        lon_min.alias("lon_min"),
        (lon_min + F.lit(size)).alias("lon_max"),
    )
    if with_wkb:
        from pyspark.sql.functions import pandas_udf

        from socialmapper_spark.geo.wkb import polygon_to_wkb

        @pandas_udf("binary")
        def cell_wkb(lat0: pd.Series, lat1: pd.Series, lon0: pd.Series, lon1: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    polygon_to_wkb(
                        [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])]
                    )
                    for y0, y1, x0, x1 in zip(lat0, lat1, lon0, lon1)
                ]
            )

        out = out.withColumn(
            "geometry_wkb",
            cell_wkb(F.col("lat_min"), F.col("lat_max"), F.col("lon_min"), F.col("lon_max")),
        )
    return out
