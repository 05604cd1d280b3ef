"""Unit tests for the pure-numpy geo kernel (SURVEY.md §7.1 M0)."""

import numpy as np
import pytest

from socialmapper_spark.geo import (
    albers5070_forward,
    cell_bounds,
    cell_center,
    cell_np,
    cell_size_deg,
    cell_to_parent,
    convex_hull,
    decode_cell,
    geoparse_py,
    grid_disk,
    points_in_polygon,
    polygon_to_wkb,
    wkb_to_rings,
)
from socialmapper_spark.geo.cells import encode_ixy


class TestCells:
    def test_roundtrip(self):
        cell = int(cell_np(35.78, -78.64, 9))
        res, ix, iy = decode_cell(cell)
        assert res == 9
        lat_min, lat_max, lon_min, lon_max = cell_bounds(cell)
        assert lat_min <= 35.78 < lat_max
        assert lon_min <= -78.64 < lon_max
        assert lat_max - lat_min == pytest.approx(cell_size_deg(9))

    def test_center_reencodes_to_same_cell(self):
        for lat, lon, r in [(35.5, -79.0, 7), (0.0, 0.0, 8), (-45.2, 170.9, 9)]:
            cell = int(cell_np(lat, lon, r))
            clat, clon = cell_center(cell)
            assert int(cell_np(clat, clon, r)) == cell

    def test_parent_contains_child(self):
        cell9 = int(cell_np(35.78, -78.64, 9))
        cell7 = cell_to_parent(cell9, 7)
        assert decode_cell(cell7)[0] == 7
        # child's center must fall inside the parent's bounds
        clat, clon = cell_center(cell9)
        lat_min, lat_max, lon_min, lon_max = cell_bounds(cell7)
        assert lat_min <= clat < lat_max and lon_min <= clon < lon_max
        # and parent computed directly from the point agrees
        assert int(cell_np(35.78, -78.64, 7)) == cell7

    def test_grid_disk_counts_and_adjacency(self):
        cell = int(cell_np(35.5, -79.0, 8))
        assert grid_disk(cell, 0) == [cell]
        ring1 = grid_disk(cell, 1)
        assert len(ring1) == 9 and cell in ring1
        assert len(grid_disk(cell, 2)) == 25
        # every disk-1 member is at most one cell-size away in each axis
        _, ix, iy = decode_cell(cell)
        for c in ring1:
            _, jx, jy = decode_cell(c)
            assert abs(jx - ix) <= 1 and abs(jy - iy) <= 1

    def test_lon_wrap(self):
        east = int(cell_np(0.0, 179.999, 7))
        disk = grid_disk(east, 1)
        assert len(disk) == 9  # wraps across the antimeridian, no loss

    def test_pole_clamp(self):
        assert decode_cell(int(cell_np(90.0, 0.0, 7)))[2] == (1 << 13) - 1
        assert decode_cell(int(cell_np(-90.0, 0.0, 7)))[2] == 0

    def test_vectorized_matches_scalar(self):
        rng = np.random.default_rng(1)
        lats = rng.uniform(-89, 89, 100)
        lons = rng.uniform(-179, 179, 100)
        vec = cell_np(lats, lons, 9)
        for i in range(100):
            assert int(cell_np(lats[i], lons[i], 9)) == int(vec[i])
        # ids are valid per encode_ixy roundtrip
        for c in vec[:10]:
            r, ix, iy = decode_cell(int(c))
            assert encode_ixy(r, ix, iy) == int(c)


class TestPIP:
    def test_square(self):
        ring = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])
        px = np.array([0.5, 1.5, -0.1, 0.99])
        py = np.array([0.5, 0.5, 0.5, 0.99])
        assert points_in_polygon(px, py, [ring]).tolist() == [True, False, False, True]

    def test_hole(self):
        outer = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
        hole = np.array([[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0]])
        px = np.array([2.0, 0.5, 3.5])
        py = np.array([2.0, 0.5, 3.5])
        assert points_in_polygon(px, py, [outer, hole]).tolist() == [False, True, True]

    def test_concave(self):
        # L-shape: point in the notch is outside
        ring = np.array(
            [[0, 0], [3, 0], [3, 1], [1, 1], [1, 3], [0, 3]], dtype=float
        )
        px = np.array([2.0, 0.5, 2.0])
        py = np.array([0.5, 2.0, 2.0])
        assert points_in_polygon(px, py, [ring]).tolist() == [True, True, False]


class TestWKB:
    def test_roundtrip_polygon(self):
        ring = np.array([[-79.0, 35.5], [-78.9, 35.5], [-78.9, 35.6]])
        buf = polygon_to_wkb([ring])
        polys = wkb_to_rings(buf)
        assert len(polys) == 1
        got = polys[0][0]
        assert got.shape == (4, 2)  # closed on write
        np.testing.assert_array_equal(got[:3], ring)
        np.testing.assert_array_equal(got[3], ring[0])

    def test_holes(self):
        outer = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
        hole = np.array([[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0]])
        polys = wkb_to_rings(polygon_to_wkb([outer, hole]))
        assert len(polys[0]) == 2


class TestHull:
    def test_square_with_interior(self):
        pts = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0.5, 0.5], [0.2, 0.8]], float)
        hull = convex_hull(pts)
        assert hull.shape[0] == 4
        assert {tuple(p) for p in hull} == {(0, 0), (1, 0), (1, 1), (0, 1)}


class TestAlbers:
    def test_known_points(self):
        # sanity: the projection origin maps to (0, 0)
        x, y = albers5070_forward(23.0, -96.0)
        assert abs(float(x)) < 1e-6 and abs(float(y)) < 1e-6
        # Raleigh-ish point: well-known EPSG:5070 ballpark (x ~1.5-1.6e6, y ~1.5-1.6e6)
        x, y = albers5070_forward(35.78, -78.64)
        assert 1.4e6 < float(x) < 1.7e6
        assert 1.4e6 < float(y) < 1.7e6

    def test_equal_area_distance_sanity(self):
        # 1 degree of latitude ≈ 111 km in any sane projection
        x1, y1 = albers5070_forward(35.0, -79.0)
        x2, y2 = albers5070_forward(36.0, -79.0)
        d = float(np.hypot(x2 - x1, y2 - y1)) / 1000.0
        assert 110.0 < d < 112.5


class TestGeoparse:
    def test_coord_extraction(self):
        lat, lon, m = geoparse_py("located at 35.123456, -78.654321 on the map")
        assert lat == 35.123456 and lon == -78.654321 and m == []

    def test_out_of_range_first_match_yields_null(self):
        lat, lon, m = geoparse_py("bogus 95.000000, -78.000000 then 35.0000, -78.0000")
        assert lat is None and lon is None

    def test_mention_fallback_and_order(self):
        lat, lon, m = geoparse_py("I drove from Raleigh to Apex yesterday")
        # canonical gazetteer order: Apex before Raleigh
        assert m == ["Apex", "Raleigh"]
        from socialmapper_spark.geo.geoparse import GAZETTEER

        assert (lat, lon) == GAZETTEER["Apex"]

    def test_coords_beat_mentions(self):
        lat, lon, m = geoparse_py("Durham sits at 35.994000, -78.898600 downtown")
        assert lat == 35.994 and m == ["Durham"]

    def test_no_signal(self):
        assert geoparse_py("nothing geographic here") == (None, None, [])
        assert geoparse_py(None) == (None, None, [])

    def test_byte_identical_rerun(self):
        text = "near Cary at 35.791500, -78.781200 article 7"
        assert geoparse_py(text) == geoparse_py(text)
