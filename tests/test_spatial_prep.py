"""Polygon-index prep + F9 simplify (VERDICT r1 items 2/3).

Pins the polygon side of the two-phase PIP join: the index is built in
one vectorized numpy pass on the driver and reaches the plan as JVM local
tables, so no Python node appears in the prep or the flagship plan; and
the cover wraps the polygon rather than its bbox, with no false
negatives, the same per polygon as over a whole table.
"""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from socialmapper_spark.geo.cells import (
    cell_np,
    decode_cell,
    polygon_cover_cells,
    ring_cover_cells,
)
from socialmapper_spark.geo.pip import points_in_polygon
from socialmapper_spark.geo.simplify import simplify_polygon, simplify_ring, simplify_rings
from socialmapper_spark.geo.wkb import polygon_to_wkb, wkb_ring_table
from socialmapper_spark.operators.spatial_join import prepare_polygons, spatial_join


def _circle(cx, cy, r, n):
    t = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    return np.stack([cx + r * np.cos(t), cy + r * np.sin(t)], axis=1)


def _area(ring):
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


class TestSimplify:
    def test_zero_tolerance_is_identity(self):
        ring = _circle(0, 0, 1.0, 64)
        assert np.array_equal(simplify_ring(ring, 0.0), ring)

    def test_collinear_points_removed_corners_kept(self):
        # square with 9 collinear points per edge — DP must keep exactly
        # the 4 corners (plus anchors, which are corners here)
        edge = np.linspace(0.0, 1.0, 11)[:-1]
        ring = np.concatenate(
            [
                np.stack([edge, np.zeros_like(edge)], axis=1),
                np.stack([np.ones_like(edge), edge], axis=1),
                np.stack([1.0 - edge, np.ones_like(edge)], axis=1),
                np.stack([np.zeros_like(edge), 1.0 - edge], axis=1),
            ]
        )
        out = simplify_ring(ring, 1e-9)
        assert out.shape[0] == 4
        assert {tuple(v) for v in out} == {(0, 0), (1, 0), (1, 1), (0, 1)}

    def test_circle_reduces_but_preserves_area(self):
        ring = _circle(10.0, 20.0, 1.0, 720)
        out = simplify_ring(ring, 0.01)
        assert 8 <= out.shape[0] < 200
        assert abs(_area(out) - _area(ring)) / _area(ring) < 0.02
        # simplified vertices are a subset of the originals (DP property)
        orig = {tuple(v) for v in ring}
        assert all(tuple(v) in orig for v in out)

    def test_tiny_rings_returned_unchanged(self):
        tri = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
        assert np.array_equal(simplify_ring(tri, 10.0), tri)

    def test_polygon_with_hole(self):
        outer = _circle(0, 0, 2.0, 360)
        hole = _circle(0, 0, 0.5, 180)
        out = simplify_polygon([outer, hole], 0.01)
        assert len(out) == 2
        assert out[0].shape[0] < 360 and out[1].shape[0] < 180


class TestPolygonCover:
    def test_diagonal_sliver_much_tighter_than_bbox(self):
        # thin diagonal strip across ~1 degree: bbox cover is O(n^2) cells,
        # polygon cover must be O(n)
        t = np.linspace(0.0, 1.0, 200)
        up = np.stack([-100.0 + t, 35.0 + t + 0.002], axis=1)
        dn = np.stack([-100.0 + t[::-1], 35.0 + t[::-1] - 0.002], axis=1)
        ring = np.concatenate([up, dn])
        tight = polygon_cover_cells([[ring]], 7)
        # the bbox cover: every cell between the bbox corners' cells
        (_, x0, y0), (_, x1, y1) = (
            decode_cell(cell_np(ring[:, 1].min(), ring[:, 0].min(), 7)),
            decode_cell(cell_np(ring[:, 1].max(), ring[:, 0].max(), 7)),
        )
        assert len(tight) < (x1 - x0 + 1) * (y1 - y0 + 1) / 5
        for _, x, y in map(decode_cell, tight):
            assert x0 <= x <= x1 and y0 <= y <= y1

    def test_cover_has_no_false_negatives(self):
        rng = np.random.default_rng(7)
        ring = _circle(-95.0, 40.0, 0.3, 33)
        cover = set(polygon_cover_cells([[ring]], 8).tolist())
        # random interior points (rejection-sampled inside the circle)
        ang = rng.uniform(0, 2 * np.pi, 5000)
        rad = 0.3 * np.sqrt(rng.uniform(0, 1, 5000)) * 0.999
        lon = -95.0 + rad * np.cos(ang)
        lat = 40.0 + rad * np.sin(ang)
        cells = cell_np(lat, lon, 8)
        assert set(cells.tolist()) <= cover

    def test_polygon_fully_inside_one_cell(self):
        ring = _circle(-95.0, 40.0, 1e-4, 16)
        cover = polygon_cover_cells([[ring]], 7)
        assert len(cover) >= 1
        assert cell_np([40.0], [-95.0], 7)[0] in set(cover.tolist())


def _multipolygon_wkb(members):
    import struct

    return b"".join(
        [struct.pack("<BII", 1, 6, len(members))] + [polygon_to_wkb(m) for m in members]
    )


def _inside_points(members, n, rng):
    """Uniform points of the members' bboxes that fall inside a member
    (exterior minus holes)."""
    xs, ys = [], []
    for rings in members:
        lo, hi = rings[0].min(axis=0), rings[0].max(axis=0)
        px, py = rng.uniform(lo[0], hi[0], n), rng.uniform(lo[1], hi[1], n)
        keep = points_in_polygon(px, py, rings)
        xs.append(px[keep])
        ys.append(py[keep])
    return np.concatenate(xs), np.concatenate(ys)


# (multi)polygons as lists of members, each [exterior, holes...]
_SHAPES = {
    "multipolygon_with_hole": [
        [_circle(-95.0, 40.0, 0.2, 40), _circle(-95.0, 40.0, 0.08, 24)],
        [_circle(-94.5, 40.1, 0.05, 12)],
    ],
    "sub_cell": [[_circle(-95.0101, 40.0101, 0.002, 9)]],
    "sliver": [[np.array([[-96.0, 39.0], [-95.2, 39.6], [-95.99, 39.001]])]],
}


class TestTableCover:
    """The whole-table cover: no false negatives for awkward shapes, and
    the same cells per polygon as the one-polygon cover."""

    @pytest.mark.parametrize("name", sorted(_SHAPES))
    def test_no_false_negatives(self, name):
        members = _SHAPES[name]
        table = wkb_ring_table([_multipolygon_wkb(members)]).opened()
        owner, cover = ring_cover_cells(table, 8)
        assert set(owner.tolist()) == {0}
        px, py = _inside_points(members, 20000, np.random.default_rng(3))
        assert len(px) > 0
        assert set(cell_np(py, px, 8).tolist()) <= set(cover.tolist())

    def test_mixed_table_matches_each_polygon(self, monkeypatch):
        from socialmapper_spark.geo import cells

        monkeypatch.setattr(cells, "_CHUNK_VERTICES", 16)  # several chunks
        names = sorted(_SHAPES) * 2
        table = wkb_ring_table([_multipolygon_wkb(_SHAPES[n]) for n in names])
        owner, cover = ring_cover_cells(table.opened(), 7)
        rng = np.random.default_rng(5)
        for i, n in enumerate(names):
            mine = cover[owner == i]
            assert np.array_equal(mine, polygon_cover_cells(_SHAPES[n], 7))
            px, py = _inside_points(_SHAPES[n], 5000, rng)
            assert set(cell_np(py, px, 7).tolist()) <= set(mine.tolist())

    def test_empty_table(self):
        owner, cover = ring_cover_cells(wkb_ring_table([]), 7)
        assert len(owner) == len(cover) == 0

    def test_empty_and_truncated_wkb(self):
        """An empty MultiPolygon parses to one empty exterior ring, which
        the cover skips and the simplify keeps; truncated coordinates
        raise instead of shifting the rings of the polygons after them."""
        import struct

        good = _multipolygon_wkb(_SHAPES["sub_cell"])
        table = wkb_ring_table([struct.pack("<BII", 1, 6, 0), good])
        assert table.poly.tolist() == [0, 1] and table.start[1] == 0
        owner, _ = ring_cover_cells(table.opened(), 7)
        assert set(owner.tolist()) == {1}
        assert simplify_rings(table, 0.001).poly.tolist() == [0, 1]
        with pytest.raises(ValueError, match="truncated"):
            wkb_ring_table([good[:-16], good])


@pytest.fixture(scope="module")
def grid_polygons(spark):
    """10k 0.01°×0.01° squares tiling a 1°×1° area, generated by a plan
    (range → mapInPandas) that ``prepare_polygons`` collects."""

    def gen(batches):
        for pdf in batches:
            i = pdf["id"].to_numpy()
            x0 = -100.0 + (i % 100) * 0.01
            y0 = 35.0 + (i // 100) * 0.01
            wkbs = [
                polygon_to_wkb(
                    [
                        np.array(
                            [
                                [x, y],
                                [x + 0.01, y],
                                [x + 0.01, y + 0.01],
                                [x, y + 0.01],
                            ]
                        )
                    ]
                )
                for x, y in zip(x0, y0)
            ]
            yield pd.DataFrame(
                {"poly_id": [f"sq{v:05d}" for v in i], "geometry_wkb": wkbs}
            )

    return (
        spark.range(10000)
        .repartition(8)
        .mapInPandas(gen, "poly_id string, geometry_wkb binary")
    )


def test_prepare_polygons_plans_no_python(spark, grid_polygons, geo_small):
    """The index over 10k polygons reaches the plan as JVM local tables:
    no Python node and no Python-row RDD scan in any of its three sides,
    nor anywhere in the flagship plan. (The broadcast joins collect these
    sides to the driver anyway.)"""
    from socialmapper_spark.pipeline import flagship_query

    python_nodes = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "Scan ExistingRDD")
    index = prepare_polygons(spark, grid_polygons)
    for df in (index.cells_df, index.geoms_df, index.meta_df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not [n for n in python_nodes if n in plan], plan
    # 10k tiny squares at res 7 → roughly 1-4 cover cells each
    n = index.cells_df.count()
    assert 10000 <= n < 50000

    plan = (
        flagship_query(
            spark,
            spark.read.parquet(f"{geo_small}/pages.parquet"),
            spark.read.parquet(f"{geo_small}/polygons.parquet"),
            spark.read.parquet(f"{geo_small}/census_long.parquet"),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not [n for n in python_nodes + ("PythonUDF",) if n in plan], plan


def test_grid_assignment_exact(spark, grid_polygons):
    """Each square-center point lands in exactly its own square."""
    pts = spark.range(500).select(
        F.concat(F.lit("p"), F.col("id")).alias("pt_id"),
        (F.lit(35.005) + F.floor(F.col("id") / 25) * 0.01).alias("lat"),
        (F.lit(-99.995) + (F.col("id") % 25) * 0.01).alias("lon"),
    )
    index = prepare_polygons(spark, grid_polygons)
    out = spatial_join(pts, index).select("pt_id", "poly_id").collect()
    assert len(out) == 500
    for r in out:
        i = int(r["pt_id"][1:])
        expect = (i // 25) * 100 + (i % 25)  # row*100 + col
        assert r["poly_id"] == f"sq{expect:05d}"


def test_simplified_index_still_assigns_interior_points(spark):
    ring = _circle(-98.0, 37.0, 0.5, 720)
    pdf = pd.DataFrame(
        {"poly_id": ["c1"], "geometry_wkb": [polygon_to_wkb([ring])]}
    )
    polygons = spark.createDataFrame(pdf)
    index = prepare_polygons(spark, polygons, simplify_tolerance_deg=0.001)
    # geometry actually shrank (edge list well below the original 720)
    n_edges = len(index.geoms_df.collect()[0]["__edges"])
    assert 3 <= n_edges < 240
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "pt_id": ["in1", "in2", "out1"],
                "lon": [-98.0, -97.8, -96.0],
                "lat": [37.0, 37.1, 37.0],
            }
        )
    )
    got = {r["pt_id"] for r in spatial_join(pts, index).collect()}
    assert got == {"in1", "in2"}


def test_grid_disk_col_matches_python_twin(spark):
    """Pure-Catalyst k-ring expansion = the numpy/python grid_disk,
    including longitude wrap and pole truncation."""
    from socialmapper_spark.geo.cells import cell_np, grid_disk, grid_disk_col

    pts = [
        (35.78, -78.64),   # interior
        (0.0, 179.99),     # anti-meridian wrap
        (89.9, 10.0),      # near-pole truncation
        (-89.9, -170.0),   # south pole truncation + wrap
    ]
    cells = [int(cell_np(la, lo, 7)) for la, lo in pts]
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    got = {
        r["cell"]: sorted(r["disk"])
        for r in df.select(
            "cell", grid_disk_col(F.col("cell"), 7, 3).alias("disk")
        ).collect()
    }
    for c in cells:
        assert got[c] == sorted(grid_disk(c, 3)), f"mismatch for cell {c}"


def test_flagship_plan_zero_per_row_python(spark, geo_small):
    """north_star: 'zero per-row Python'. The flagship plan must contain
    no Arrow/Batch Python eval on the page side, and its joins are
    broadcast hash joins."""
    from socialmapper_spark.pipeline import flagship_query

    plan = (
        flagship_query(
            spark,
            spark.read.parquet(f"{geo_small}/pages.parquet"),
            spark.read.parquet(f"{geo_small}/polygons.parquet"),
            spark.read.parquet(f"{geo_small}/census_long.parquet"),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_knn_kring_plan_stays_in_plan(spark, geo_small):
    """The POI ring expansion must be pure Catalyst: no ExistingRDD scan
    (driver-built rows) anywhere in the kring candidate plan, and the
    candidate join must be a broadcast hash join."""
    from socialmapper_spark.operators.knn import knn_join
    from socialmapper_spark.pipeline import geoparse_pages

    pages = spark.read.parquet(f"{geo_small}/pages.parquet")
    pois = spark.read.parquet(f"{geo_small}/pois.parquet").filter(F.col("lat") <= 90)
    # rings pinned: auto-sizing on this sparse fixture would (correctly)
    # degrade to the broadcast plan — this test asserts the kring plan shape
    out = knn_join(spark, geoparse_pages(pages), pois, k=1, strategy="kring", rings=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Generate explode" in plan  # the in-plan grid_disk expansion
    # top-1 is one pass: the guard-failed points join every POI by a hash
    # join and a second min(struct) on the same partitioning picks the
    # winner — no cache, union, nested loop or third shuffle
    out.collect()
    nodes = list(_walk(spark, out._jdf.queryExecution().executedPlan()))
    kinds = [_kind(n) for n in nodes]
    for gone in ("InMemoryTableScanExec", "UnionExec", "BroadcastNestedLoopJoinExec"):
        assert gone not in kinds
    assert kinds.count("ArrowEvalPythonExec") == 1
    shuffles = sorted(
        re.match(r"Exchange hashpartitioning\(url#\d+, \d+\), (\w+)", n.simpleString(25)).group(1)
        for n in nodes
        if _kind(n) == "ShuffleExchangeExec"
    )
    assert shuffles == ["ENSURE_REQUIREMENTS", "REPARTITION_BY_COL"]


def test_knn_kring_top1_fallback_is_exact(spark, geo_small):
    """One ring over geo_small's few POIs leaves most points without a
    provably nearest candidate, so they take the k=1 fallback. Its rows
    equal the broadcast plan's, distances bit for bit, and a POI pair
    sharing a location resolves by the (distance, poi_id) tie-break."""
    from socialmapper_spark.operators.knn import knn_join
    from socialmapper_spark.pipeline import geoparse_pages

    pages = geoparse_pages(spark.read.parquet(f"{geo_small}/pages.parquet"))
    pois = spark.read.parquet(f"{geo_small}/pois.parquet").filter(F.col("lat") <= 90)
    # "!" sorts before every id, so the twin wins each tie it is in
    twins = pois.withColumn("id", F.concat(F.lit("!"), F.col("id")))
    pois = pois.unionByName(twins)

    def rows(strategy, rings):
        out = knn_join(spark, pages, pois, k=1, strategy=strategy, rings=rings)
        return sorted(
            (r["url"], r["poi_id"], r["distance_km"].hex(), r["distance_miles"].hex(), r["knn_rank"])
            for r in out.collect()
        )

    got, want = rows("kring", 1), rows("broadcast", None)
    assert got == want and len(got) > 1000
    assert all(r[1].startswith("!") for r in got)
    # past one ring's provable reach (~1.75 km here) the guard fails
    assert sum(float.fromhex(r[2]) > 1.75 for r in got) > len(got) // 2


def _walk(spark, node, seen=None):
    """Every node of an executed plan, through AQE final plans and query
    stages, visiting each cached relation's plan once."""
    seen = set() if seen is None else seen
    yield node
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif kind.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif kind == "InMemoryTableScanExec":
        cached = node.relation().cachedPlan()
        key = spark._jvm.java.lang.System.identityHashCode(cached)
        kids = [] if key in seen else [cached]
        seen.add(key)
    else:
        kids = [node.children().apply(i) for i in range(node.children().size())]
    for kid in kids:
        yield from _walk(spark, kid, seen)


def _kind(node):
    return node.getClass().getSimpleName()


@pytest.mark.parametrize("strategy,rings", [("broadcast", None), ("kring", 4)])
def test_knn_python_stage_reads_one_coalesced_shuffle(spark, geo_small, strategy, rings):
    """The kNN plan has one Arrow UDF (the page side's Albers projection),
    fed by an AQE-coalesced read of a repartition on the point id, so
    its task count follows the projected bytes, not the pages' splits.
    The POI side is a local table (projected on the driver), never a
    cached relation."""
    from socialmapper_spark.operators.knn import knn_join
    from socialmapper_spark.pipeline import geoparse_pages
    from socialmapper_spark.session import release_caches

    pages = spark.read.parquet(f"{geo_small}/pages.parquet")
    pois = spark.read.parquet(f"{geo_small}/pois.parquet").filter(F.col("lat") <= 90)
    out = knn_join(spark, geoparse_pages(pages), pois, k=1, strategy=strategy, rings=rings)
    out.collect()
    nodes = list(_walk(spark, out._jdf.queryExecution().executedPlan()))
    release_caches(out)
    udfs = [n for n in nodes if _kind(n) == "ArrowEvalPythonExec"]
    assert len(udfs) == 1
    read = udfs[0].child()
    assert _kind(read) == "AQEShuffleReadExec"
    exchange = read.child().plan()
    assert _kind(exchange) == "ShuffleExchangeExec"
    assert re.match(r"Exchange hashpartitioning\(url#\d+, \d+\), REPARTITION_BY_COL",
                    exchange.simpleString(25))
    broadcasts = [n for n in nodes if _kind(n) == "BroadcastExchangeExec"]
    assert broadcasts
    for b in broadcasts:
        below = {_kind(n) for n in _walk(spark, b)}
        assert "LocalTableScanExec" in below
        assert "InMemoryTableScanExec" not in below


def test_knn_driver_projection_matches_arrow_udf(spark):
    """The driver-side POI projection equals the in-plan Arrow UDF's bit
    for bit: the same numpy call on the same float64 values."""
    from socialmapper_spark.fixtures import geo_dir_for
    from socialmapper_spark.operators.knn import _albers_udf, _poi_side

    pois = spark.read.parquet(f"{geo_dir_for('sf0.01')}/pois.parquet").filter(
        F.col("lat") <= 90
    )
    side, n, _, _ = _poi_side(spark, pois)
    driver = side.select("poi_id", "poi_x", "poi_y").toPandas().sort_values("poi_id")
    udf = (
        pois.select(F.col("id").alias("poi_id"), _albers_udf()(F.col("lat"), F.col("lon")).alias("xy"))
        .select("poi_id", F.col("xy.x").alias("poi_x"), F.col("xy.y").alias("poi_y"))
        .toPandas()
        .sort_values("poi_id")
    )
    assert n == len(udf) == len(driver) > 0
    assert list(driver["poi_id"]) == list(udf["poi_id"])
    for c in ("poi_x", "poi_y"):
        assert np.array_equal(
            driver[c].to_numpy().view(np.int64), udf[c].to_numpy().view(np.int64)
        )


def test_knn_ignores_null_and_nan_pois(spark, geo_small):
    """A POI with a NULL or NaN coordinate has no distance to anything;
    it must not change any point's answer (a NaN x/y used to reach Arrow
    as NULL and win every min(struct)), and a table of only such POIs
    gives no rows."""
    from socialmapper_spark.operators.knn import knn_join
    from socialmapper_spark.pipeline import geoparse_pages
    from socialmapper_spark.session import local_frame, release_caches

    pages = geoparse_pages(spark.read.parquet(f"{geo_small}/pages.parquet"))
    pois = spark.read.parquet(f"{geo_small}/pois.parquet").filter(F.col("lat") <= 90)
    bad = local_frame(
        spark,
        [("nullpoi", None, None), ("nanpoi", float("nan"), -78.9)],
        "id string, lat double, lon double",
    )
    dirty = pois.unionByName(bad, allowMissingColumns=True)
    for strategy, rings in (("broadcast", None), ("kring", None), ("kring", 2)):
        want = knn_join(spark, pages, pois, k=1, strategy=strategy, rings=rings)
        got = knn_join(spark, pages, dirty, k=1, strategy=strategy, rings=rings)
        rows = sorted(map(tuple, got.collect()))
        assert rows == sorted(map(tuple, want.collect())) and len(rows) > 1000
        release_caches(want)
        release_caches(got)
        # nothing valid left: no POI to be near (auto rings used to divide by 0)
        none = knn_join(spark, pages, bad, k=1, strategy=strategy, rings=rings)
        assert none.count() == 0
        release_caches(none)


def test_page_assignments_stream_equals_batch(spark, geo_small):
    """The batch assignment plan run on a pages stream (stream-static
    broadcast joins, append mode) must equal the batch run row-for-row,
    over every output column."""
    from socialmapper_spark.pipeline import page_assignments
    from socialmapper_spark.streaming import drain, parquet_stream

    pages = spark.read.parquet(f"{geo_small}/pages.parquet")
    polygons = spark.read.parquet(f"{geo_small}/polygons.parquet")
    batch_df = page_assignments(spark, pages, polygons)
    source = parquet_stream(spark, str(geo_small), "pages.parquet")
    stream_df = drain(page_assignments(spark, source, polygons), "append")
    assert stream_df.columns == batch_df.columns
    assert "travel_time_minutes" in batch_df.columns
    batch = sorted(map(tuple, batch_df.collect()), key=repr)
    stream = sorted(map(tuple, stream_df.collect()), key=repr)
    assert stream == batch and len(batch) > 1000


def test_knn_kring_at_20k_pois_matches_broadcast(spark, geo_small):
    """The kring scale path must stay exact at a POI cardinality where
    the broadcast cross-join would be the wrong plan (20k POIs, generated
    in-plan)."""
    from socialmapper_spark.operators.knn import knn_join
    from socialmapper_spark.pipeline import geoparse_pages

    pois = spark.range(20000).select(
        F.concat(F.lit("poi"), F.col("id")).alias("id"),
        (F.lit(35.0) + F.pmod(F.xxhash64(F.col("id")), F.lit(100000)) / 100000.0).alias("lat"),
        (F.lit(-79.5) + F.pmod(F.xxhash64(F.col("id") + 7), F.lit(150000)) / 100000.0).alias("lon"),
    )
    probes = geoparse_pages(
        spark.read.parquet(f"{geo_small}/pages.parquet")
    ).filter(F.col("lat").isNotNull()).limit(300)
    a = {
        r["url"]: (r["poi_id"], round(r["distance_km"], 9))
        for r in knn_join(spark, probes, pois, k=1, strategy="kring").collect()
    }
    b = {
        r["url"]: (r["poi_id"], round(r["distance_km"], 9))
        for r in knn_join(spark, probes, pois, k=1, strategy="broadcast").collect()
    }
    assert a == b and len(a) == 300


def test_spatial_join_empty_polygon_table(spark, geo_small):
    """An empty polygon side must yield an empty result, not a crash."""
    from socialmapper_spark.operators.spatial_join import prepare_polygons, spatial_join
    from socialmapper_spark.pipeline import geoparse_pages

    polys = spark.read.parquet(f"{geo_small}/polygons.parquet").filter(F.lit(False))
    index = prepare_polygons(spark, polys)
    pts = geoparse_pages(spark.read.parquet(f"{geo_small}/pages.parquet")).filter(
        F.col("lat").isNotNull()
    )
    assert spatial_join(pts, index, cell="cell_r7").count() == 0
