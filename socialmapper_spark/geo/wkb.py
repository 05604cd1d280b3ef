"""Minimal WKB (well-known binary) Polygon/MultiPolygon codec.

Geometry travels through the engine as a WKB ``binary`` column (SURVEY.md
§1.2) — standard little-endian ISO WKB, interoperable with GeoPandas /
DuckDB-spatial / Sedona if a user brings real block-group shapefiles.
Only Polygon (type 3) and MultiPolygon (type 6) are needed; shapely is
not installed, so this is a small struct codec. A whole column decodes
into one :class:`RingTable` of flat arrays for vectorized work, and
:func:`polygon_measures` computes every polygon's area and centroid from
one in a single pass.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Sequence

import numpy as np

from socialmapper_spark.geo.albers import albers5070_forward, albers5070_inverse

_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


def polygon_to_wkb(rings: list[np.ndarray]) -> bytes:
    """[exterior, holes...] (each (n,2) float64, unclosed OK) → WKB Polygon.

    Rings are closed on write (first vertex appended) per spec.
    """
    out = [struct.pack("<BI", 1, _WKB_POLYGON), struct.pack("<I", len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        out.append(struct.pack("<I", ring.shape[0]))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


@dataclass
class RingTable:
    """The rings of many polygons in flat arrays, in table order: polygon,
    then member, then ring. Ring ``r`` owns vertices
    ``xy[start[r]:start[r + 1]]`` and belongs to polygon ``poly[r]``;
    ``exterior[r]`` marks the first ring of each member. A member with no
    rings, or a MultiPolygon with no members, holds one empty exterior
    ring, so every polygon owns at least one ring."""

    xy: np.ndarray
    start: np.ndarray
    poly: np.ndarray
    exterior: np.ndarray

    def successor(self) -> np.ndarray:
        """Index of each vertex's successor: the next vertex of its ring,
        wrapping from the last back to the first. Vertex ``i`` and
        ``successor()[i]`` are the ends of one ring edge."""
        lo, hi = self.start[:-1], self.start[1:]
        nxt = np.arange(len(self.xy)) + 1
        nxt[hi[hi > lo] - 1] = lo[hi > lo]
        return nxt

    def rings(self, a: int, b: int) -> "RingTable":
        """Rings ``a`` to ``b - 1``."""
        lo, hi = self.start[a], self.start[b]
        return RingTable(self.xy[lo:hi], self.start[a : b + 1] - lo,
                         self.poly[a:b], self.exterior[a:b])

    def exteriors(self) -> "RingTable":
        """The exterior rings that have vertices."""
        n = np.diff(self.start)
        ring = self.exterior & (n > 0)
        start = np.concatenate([[0], np.cumsum(n[ring])])
        return RingTable(self.xy[np.repeat(ring, n)], start, self.poly[ring], self.exterior[ring])

    def opened(self) -> "RingTable":
        """Drop each ring's closing vertex where it repeats the first."""
        lo, hi = self.start[:-1], self.start[1:]
        closed = hi > lo
        closed[closed] = (self.xy[lo[closed]] == self.xy[hi[closed] - 1]).all(axis=1)
        keep = np.ones(len(self.xy), dtype=bool)
        keep[hi[closed] - 1] = False
        start = self.start - np.concatenate([[0], np.cumsum(closed)])
        return RingTable(self.xy[keep], start, self.poly, self.exterior)


def _ring_spans(buf: bytes) -> list[list[tuple[int, int]]]:
    """Members → rings → (byte offset of the first coordinate, vertex count)."""
    byte_order, geom_type = struct.unpack_from("<BI", buf, 0)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    geom_type &= 0xFF  # strip any SRID/dimension flag bits
    if geom_type == _WKB_POLYGON:
        n_members, off = 1, 0
    elif geom_type == _WKB_MULTIPOLYGON:
        (n_members,) = struct.unpack_from("<I", buf, 5)
        off = 9
    else:
        raise ValueError(f"unsupported WKB geometry type {geom_type}")
    members = []
    for _ in range(n_members):
        off += 5  # each polygon's own byte order + type header
        (n_rings,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings = []
        for _ in range(n_rings):
            (n_pts,) = struct.unpack_from("<I", buf, off)
            rings.append((off + 4, n_pts))
            off += 4 + n_pts * 16
        members.append(rings)
    if off > len(buf):
        raise ValueError("truncated WKB")
    return members


def wkb_to_rings(buf: bytes) -> list[list[np.ndarray]]:
    """WKB → list of polygons, each a list [exterior, holes...].

    A Polygon yields a single-element list; MultiPolygon yields one entry
    per member polygon. Coordinates come back as (x=lon, y=lat) float64.
    """
    return [
        [
            np.frombuffer(buf, dtype="<f8", count=n * 2, offset=off).reshape(n, 2).copy()
            for off, n in rings
        ]
        for rings in _ring_spans(buf)
    ]


def wkb_ring_table(wkbs: Sequence[bytes]) -> RingTable:
    """Parse a column of WKB polygons into one :class:`RingTable`, rings as
    stored (closed or not). Only the headers are walked per ring; the
    coordinates of the whole column are joined and decoded in one pass."""
    chunks: list[bytes] = []
    counts: list[int] = []
    poly: list[int] = []
    exterior: list[bool] = []
    for p, buf in enumerate(wkbs):
        for rings in _ring_spans(buf) or [[]]:
            for r, (off, n) in enumerate(rings or [(0, 0)]):
                chunks.append(buf[off : off + n * 16])
                counts.append(n)
                poly.append(p)
                exterior.append(r == 0)
    xy = np.frombuffer(b"".join(chunks), dtype="<f8").astype(np.float64).reshape(-1, 2)
    start = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=start[1:])
    return RingTable(
        xy, start, np.asarray(poly, dtype=np.int64), np.asarray(exterior, dtype=bool)
    )


def polygon_measures(rings: RingTable) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Each polygon's EPSG:5070 area in km² and area-weighted centroid as
    (lat, lon) degrees — the reference's ``to_crs(5070).area / 1e6``
    (api/client.py:292-301) and ``to_crs(5070).centroid`` back to 4326
    (distance/__init__.py:133-138) over a whole table in one pass.

    Every vertex is projected once; the shoelace terms of each ring edge
    (a vertex and its :meth:`RingTable.successor`) are summed per ring
    with ``np.add.reduceat``, and the rings of a polygon combine in table
    order with ``np.bincount``: exteriors add their absolute area, holes
    subtract it. A ring's sums depend only on its own vertices and a
    polygon's only on its own rings, so a polygon's measures are the same
    bits wherever it sits in the table. Rings of zero area add nothing to
    the centroid; where a polygon's signed area sums to 0 its centroid is
    NaN.
    """
    x, y = albers5070_forward(rings.xy[:, 1], rings.xy[:, 0])
    nxt = rings.successor()
    cross = x * y[nxt] - x[nxt] * y
    n = np.diff(rings.start)
    full = n > 0

    def per_ring(v: np.ndarray) -> np.ndarray:
        out = np.zeros(len(n))
        if full.any():
            out[full] = np.add.reduceat(v, rings.start[:-1][full])
        return out

    a = per_ring(cross) / 2.0
    w = np.where(rings.exterior, np.abs(a), -np.abs(a))
    area = np.bincount(rings.poly, w) / 1e6
    some = a != 0.0
    with np.errstate(divide="ignore", invalid="ignore"):
        cx = np.where(some, per_ring((x + x[nxt]) * cross) / (6.0 * a) * w, 0.0)
        cy = np.where(some, per_ring((y + y[nxt]) * cross) / (6.0 * a) * w, 0.0)
        sa = np.bincount(rings.poly, np.where(some, w, 0.0))
        none = sa == 0.0
        lat, lon = albers5070_inverse(np.where(none, np.nan, np.bincount(rings.poly, cx) / sa),
                                      np.where(none, np.nan, np.bincount(rings.poly, cy) / sa))
    return area, lat, lon
