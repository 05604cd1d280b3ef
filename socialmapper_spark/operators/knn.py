"""kNN join: nearest POI per point (SURVEY.md §2.3 J3, §2.6 T3/T4).

Reference semantics (/root/reference/socialmapper/distance/engine.py:54-109):
minimum **Euclidean distance in EPSG:5070 meters / 1000 → km** between
each probe point and the POI set, km→miles ×0.621371
(distance/__init__.py:176-178). The reference brute-forces O(n×m) with a
Numba kernel (or BallTree k=1); our scale path prunes candidates with the
cell k-ring before the exact distance.

Two strategies, same results (tested equal):

- ``strategy="broadcast"`` — exact brute force: crossJoin against the
  broadcast POI table, per-point top-k via min_by/window. Right answer
  for small POI sets (the reference never exceeds ~thousands); this is
  the parity baseline.
- ``strategy="kring"`` — scale path for large POI sets: POIs are
  expanded *inside the plan* into all cells within RING k of their own
  cell (pure-Catalyst ``grid_disk_col`` explode over the POI table's
  local scan — no driver loop over |POIs|·rings²); points equi-join that
  broadcast (cell → poi) table, compute exact distances on candidates
  only, take per-point top-k. Points whose rings hold no provably
  nearest POI fall back to every POI (exactness is never sacrificed —
  the ring prune is an optimization, not an approximation). At k=1 the
  fallback rides the same pass: a hash join on a key that is NULL for
  covered points adds every POI to the others, and a second min(struct)
  per point, on the first one's partitioning, picks the winner: no
  exchange of its own, and nothing cached.

The POI side is prepared once on the driver when ``knn_join`` is called:
a ``toArrow`` collect of (id, lat, lon), the Albers (x, y) and the ring
stats in numpy, returned as a JVM ``LocalTableScan`` (every strategy
broadcasts it anyway). The page side runs the same numpy call in-plan as
an Arrow UDF, the only Python here, after a shuffle on the point id, so
AQE sizes its tasks by the ~24 B per row it projects, not by the pages'
splits. Tasks, not rows, are what a Python stage costs: pyspark's per-task
setup re-reads every cached zip importer's directory (~98% of a small task).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from socialmapper_spark.geo.albers import albers5070_forward
from socialmapper_spark.geo.cells import cell_col, cell_size_deg, grid_disk_col
from socialmapper_spark.functions.scalar import KM_TO_MILES

KNN_RES = 7  # candidate cell resolution (~2.2 km edge → ring 2 ≈ 5 km reach)


def _distance_km(poi_x, poi_y):
    """Euclidean EPSG:5070 distance in km from the probe's (__x, __y);
    every strategy's distances come from this one expression, so they
    agree bit for bit."""
    dx = F.col("__x") - poi_x
    dy = F.col("__y") - poi_y
    return F.sqrt(dx * dx + dy * dy) / F.lit(1000.0)


def _albers_udf():
    # built lazily: pandas_udf needs an active SparkSession to parse the
    # DDL return type, so module import must stay session-free
    @pandas_udf("struct<x:double,y:double>")
    def project(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        x, y = albers5070_forward(
            lat.to_numpy(dtype=np.float64), lon.to_numpy(dtype=np.float64)
        )
        return pd.DataFrame({"x": x, "y": y})

    return project


def _poi_side(spark: SparkSession, pois: DataFrame) -> tuple[DataFrame, int, float, float]:
    """The POI side (poi_id, poi_x, poi_y, __poi_lat, __poi_lon) projected
    on the driver as a local table, and its count, bbox area in km² and
    mean |lat|. POIs with a NULL or non-finite coordinate are dropped: a
    NaN x/y reaches Arrow as NULL and would sort first in every min(struct)."""
    table = pois.select(
        F.col("id").alias("poi_id"), F.col("lat").cast("double"), F.col("lon").cast("double")
    ).toArrow()
    lat = table.column("lat").to_numpy(zero_copy_only=False)
    lon = table.column("lon").to_numpy(zero_copy_only=False)
    keep = np.isfinite(lat) & np.isfinite(lon)
    lat, lon = lat[keep], lon[keep]
    x, y = albers5070_forward(lat, lon)
    n = len(lat)
    area = float(np.ptp(x) * np.ptp(y) / 1e6) if n else 0.0
    alat = float(np.abs(lat).mean()) if n else 0.0
    ids = table.column("poi_id").filter(pa.array(keep))
    side = pa.table({"poi_id": ids, "poi_x": x, "poi_y": y, "__poi_lat": lat, "__poi_lon": lon})
    schema = f"poi_id {pois.schema['id'].dataType.simpleString()}, " + ", ".join(
        f"{c} double" for c in side.column_names[1:]
    )
    return spark.createDataFrame(side, schema), n, max(area, 1.0), alat


def _auto_rings(n: int, area_km2: float, mean_abs_lat: float, k: int) -> int:
    """Ring radius sized from POI density so most probe points find ≥k
    candidates inside the disk (otherwise the exactness fallback brute-
    forces them and the prune buys nothing). Target reach ≈ 2× the radius
    of a circle expected to contain k POIs at the observed density; capped
    so the broadcast (cell → poi) table stays small."""
    density = max(n, 1) / area_km2  # pois per km²; an empty side sizes as one
    target_reach_km = 2.0 * float(np.sqrt(k / (np.pi * density)))
    edge_km = (
        cell_size_deg(KNN_RES) * 110.57 * float(np.cos(np.deg2rad(mean_abs_lat)))
    )
    rings = int(np.ceil(target_reach_km / max(edge_km, 1e-6)))
    rings = max(1, min(rings, 16))
    # cap the broadcast at ~5M (cell, poi) rows
    while rings > 1 and n * (2 * rings + 1) ** 2 > 5_000_000:
        rings -= 1
    return rings


AUTO_BROADCAST_MAX_POIS = 10_000


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    pois: DataFrame,
    k: int = 1,
    strategy: str = "broadcast",
    rings: int | None = None,
    id_col: str = "url",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-point k nearest POIs.

    Output: id_col, poi_id, distance_km, distance_miles, knn_rank
    (k=1 callers usually drop knn_rank). NULL-coordinate points drop out;
    POIs with a NULL or non-finite lat/lon are dropped on the driver,
    before the projection and the ring sizing. The call runs one job,
    the POI side's ``toArrow`` collect.

    ``strategy="auto"`` picks broadcast for POI sets up to
    AUTO_BROADCAST_MAX_POIS (the crossJoin+min(struct) plan beats the
    ring machinery when |POIs| candidates per point is already cheap) and
    the k-ring prune beyond that.
    """
    poi_sdf, n_pois, area_km2, mean_abs_lat = _poi_side(spark, pois)
    poi_xy = poi_sdf.select("poi_id", "poi_x", "poi_y")
    if strategy == "auto":
        strategy = "broadcast" if n_pois <= AUTO_BROADCAST_MAX_POIS else "kring"
    if strategy == "kring" and rings is None:
        # density-adaptive degrade: _auto_rings targets a reach holding
        # ~4k POIs, but its caps (ring radius ≤ 16, broadcast rows ≤ 5M)
        # can leave the actual reach far short on a sparse POI table. If
        # the expected POI count inside the capped, guard-provable disk is
        # < 2k, the exactness guard will fail for most points and nearly
        # the whole probe side rides the brute-force fallback — the ring
        # machinery (explode, candidate join, guard) becomes pure overhead
        # on top of the brute force it was meant to avoid. Emitting the
        # broadcast plan directly is then the better physical strategy for
        # the SAME exact semantics (cost-based selection, not an
        # approximation). Dense corpora — the 100 TB design point where
        # pruning pays — keep the true kring plan, as does any caller
        # pinning `rings` explicitly.
        rings = _auto_rings(n_pois, area_km2, mean_abs_lat, k)
        edge_km = (
            cell_size_deg(KNN_RES) * 110.57 * float(np.cos(np.deg2rad(mean_abs_lat)))
        )
        provable_reach_km = rings * edge_km * 0.9  # the guard's own margin
        expected_in_reach = n_pois / area_km2 * np.pi * provable_reach_km**2
        if expected_in_reach < 2.0 * k:
            strategy = "broadcast"

    # prune to the three columns the join needs BEFORE the Arrow
    # projection: the probe side often carries wide payload columns
    # (mentions arrays, text) that would otherwise ride through the
    # UDF and every shuffle of the kring machinery. The repartition sizes
    # the UDF's tasks by these bytes; the groupBy keeps its own exchange
    # (Spark cannot see partitioning through the UDF)
    pts = points.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull()).select(
        id_col, lat, lon
    ).repartition(id_col)
    pts = pts.withColumn("__xy", _albers_udf()(F.col(lat), F.col(lon)))
    pts = pts.withColumn("__x", F.col("__xy.x")).withColumn("__y", F.col("__xy.y"))

    # a top-1 aggregate's __best struct, unpacked to the output columns
    best_cols = [
        F.col(id_col),
        F.col("__best.poi_id").alias("poi_id"),
        F.col("__best.distance_km").alias("distance_km"),
        (F.col("__best.distance_km") * F.lit(KM_TO_MILES)).alias("distance_miles"),
        F.lit(1).alias("knn_rank"),
    ]

    def finish(cand: DataFrame, keep_xy: bool = False) -> DataFrame:
        # if the caller threaded a "__plat" passthrough column (kring guard),
        # carry it through the aggregation so no join back to pts is needed;
        # keep_xy additionally threads the probe's own projected coordinates
        # through, so the guard-failed rows can feed the brute-force fallback
        # directly — no join back to the probe side at all
        passthrough = "__plat" in cand.columns
        cand = cand.withColumn("distance_km", _distance_km(cand["poi_x"], cand["poi_y"]))
        if k == 1:
            # top-1 as min(struct): partial aggregation combines map-side,
            # so the shuffle carries one row per point instead of one per
            # candidate — the difference between O(candidates) and
            # O(points) shuffle bytes at corpus scale. Struct comparison is
            # field-order lexicographic = (distance, poi_id) tie-break.
            # With a LEFT candidate join a group holds either only real
            # candidates or exactly ONE all-null row (left join emits the
            # null row only on zero matches), so min(struct) never mixes
            # null and real distances — a null distance_km in the output
            # means "no candidate in the rings", the fallback marker.
            aggs = [F.min(F.struct("distance_km", "poi_id")).alias("__best")]
            if passthrough:
                aggs.append(F.min("__plat").alias("__plat"))
            if keep_xy:
                aggs.extend([F.min("__x").alias("__x"), F.min("__y").alias("__y")])
            best = cand.groupBy(id_col).agg(*aggs)
            cols = list(best_cols)
            if passthrough:
                cols.append(F.col("__plat"))
            if keep_xy:
                cols.extend([F.col("__x"), F.col("__y")])
            return best.select(*cols)
        w = Window.partitionBy(id_col).orderBy(F.col("distance_km").asc(), F.col("poi_id").asc())
        out = (
            cand.withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k)
            .withColumn("distance_miles", F.col("distance_km") * F.lit(KM_TO_MILES))
        )
        cols = [id_col, "poi_id", "distance_km", "distance_miles", "knn_rank"]
        if passthrough:
            cols.append("__plat")
        if keep_xy:
            cols.extend(["__x", "__y"])
        return out.select(*cols)

    if strategy == "broadcast":
        return finish(pts.crossJoin(F.broadcast(poi_xy)))

    if strategy != "kring":
        raise ValueError(f"unknown strategy {strategy!r}")

    # --- k-ring candidate prune -------------------------------------------
    # expand each POI into its ring disk *inside the plan*: pure-Catalyst
    # array build + explode over the local POI table — no driver loop
    # proportional to |POIs|·rings²
    cells_df = poi_sdf.withColumn(
        "__pcell", cell_col(F.col("__poi_lat"), F.col("__poi_lon"), KNN_RES)
    ).select(
        "poi_id",
        "poi_x",
        "poi_y",
        F.explode(grid_disk_col(F.col("__pcell"), KNN_RES, rings)).alias("cell"),
    )

    # LEFT candidate join: points with no POI in their ring disk survive
    # with an all-null candidate row instead of disappearing, so the probe
    # side is consumed exactly once (its Arrow projection runs a single
    # time, inside this join's stage) and the fallback set falls out of
    # `near` itself, with no anti join back against the probe table. The
    # probe's projected (__x, __y) ride through the aggregation (keep_xy),
    # so fallback rows carry their coordinates with them.
    pts_c = pts.withColumn("__cell", cell_col(F.col(lat), F.col(lon), KNN_RES)).withColumn(
        "__plat", F.col(lat)
    )
    cand = pts_c.join(F.broadcast(cells_df), pts_c["__cell"] == cells_df["cell"], "left")
    near = finish(cand, keep_xy=True)

    # exactness guard: the ring prune is only provably exact when the k-th
    # candidate distance is smaller than the minimum possible distance to
    # any POI OUTSIDE the ring box. A point at its cell edge is ≥
    # rings·cell_edge degrees (in the constraining axis) from any
    # non-candidate POI; convert to meters conservatively (shrunken
    # meters-per-degree, 10% safety margin for Albers distortion).
    edge = cell_size_deg(KNN_RES)
    bound_m = (
        F.lit(rings * edge * 110000.0 * 0.9)
        * F.cos(F.radians(F.least(F.abs(F.col("__plat")) + F.lit(1.0), F.lit(89.0))))
    )
    if k == 1:
        # top-1: `near` holds exactly one row per point, so the guard is a
        # narrow per-row test — null distance (no candidate) makes `ok`
        # false, not null, because isNotNull anchors the AND. A point that
        # fails it joins every POI on a key that is 1 on both sides; a
        # covered point's key is NULL, so it matches nothing and keeps its
        # one row. An equi-join plans as a broadcast hash join streaming
        # `near`, which keeps the aggregation's id partitioning: the second
        # min(struct) below needs no exchange, and `near` is read once.
        ok = F.col("distance_km").isNotNull() & (
            F.col("distance_km") * 1000.0 <= bound_m
        )
        probe = near.withColumn("__fb", F.when(ok, F.lit(None)).otherwise(F.lit(1)))
        every = poi_xy.toDF("__fpoi", "__fx", "__fy").withColumn("__fkey", F.lit(1))
        both = probe.join(F.broadcast(every), probe["__fb"] == every["__fkey"], "left")
        fb_best = F.struct(
            _distance_km(F.col("__fx"), F.col("__fy")).alias("distance_km"),
            F.col("__fpoi").alias("poi_id"),
        )
        ring_best = F.struct("distance_km", "poi_id")
        cand_best = F.when(F.col("__fpoi").isNull(), ring_best).otherwise(fb_best)
        # a failed point with no valid POI at all keeps only its null row
        return (
            both.groupBy(id_col)
            .agg(F.min(cand_best).alias("__best"))
            .filter(F.col("__best.distance_km").isNotNull())
            .select(*best_cols)
        )

    # k > 1: `near` feeds two consumers (the guard's per-point stats and
    # the covered rows) — persist so the candidate join + top-k execute
    # once. At cluster scale this is a spill-safe MEMORY_AND_DISK of the
    # already-pruned candidate top-k, ~|points|·k rows.
    near = near.persist()
    stats = near.groupBy(id_col).agg(
        F.count("poi_id").alias("__n"),  # count(col) skips the null row
        F.max("distance_km").alias("__dk"),
        F.min("__plat").alias("__plat"),
        F.min("__x").alias("__x"),
        F.min("__y").alias("__y"),
    )
    # fallback condition spelled null-safe: a candidate-less point has
    # __n = 0 (count of nulls) and null __dk
    fb = (F.col("__n") < k) | F.col("__dk").isNull() | (
        F.col("__dk") * 1000.0 > bound_m
    )
    missing = stats.filter(fb).select(id_col, "__x", "__y")
    covered = (
        near.filter(F.col("poi_id").isNotNull())
        .join(missing.select(id_col), id_col, "left_anti")
        .select(id_col, "poi_id", "distance_km", "distance_miles", "knn_rank")
    )
    out = covered.unionByName(finish(missing.crossJoin(F.broadcast(poi_xy))))
    # the persist above is consumed lazily by this returned plan, so the
    # operator cannot unpersist it itself; hand the caller the handle
    # (session.release_caches) for release after its terminal action
    out.__spark_graft_caches__ = [near]
    return out
