"""F9 geometry simplification — Douglas-Peucker, pure numpy.

Reference semantics: polygons are simplified once before the expensive
spatial join to shrink geometry payloads
(/root/reference/socialmapper/census/services/spatial_block_group_service.py:89-90
``geometry.simplify(tolerance, preserve_topology=True)`` and
/root/reference/socialmapper/isochrone/__init__.py:136-139). The reference
delegates to shapely/GEOS; here it is an original iterative
Douglas-Peucker over numpy vertex arrays (no GEOS wheel in the
container), run once per ring by the polygon prep.

Differences from GEOS, documented: plain DP does not guarantee topology
preservation for pathological self-near rings; for the convex-ish
isochrone hulls and small census polygons this engine targets, DP with a
modest tolerance is the same operation. Rings that would collapse below
4 closed vertices are returned unsimplified (the preserve-topology
backstop GEOS also applies).
"""

from __future__ import annotations

import numpy as np

from socialmapper_spark.geo.wkb import RingTable


def _perp_dist(pts: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Perpendicular distance of each point to the line through a-b.

    Falls back to euclidean distance to ``a`` when a == b (degenerate
    chord, e.g. the closure vertex of a ring).
    """
    d = b - a
    norm = np.hypot(d[0], d[1])
    if norm == 0.0:
        return np.hypot(pts[:, 0] - a[0], pts[:, 1] - a[1])
    return np.abs(d[0] * (a[1] - pts[:, 1]) - d[1] * (a[0] - pts[:, 0])) / norm


def _dp_mask(pts: np.ndarray, i0: int, i1: int, tol: float, keep: np.ndarray) -> None:
    """Mark kept vertices of pts[i0..i1] (endpoints pre-kept), iteratively."""
    stack = [(i0, i1)]
    while stack:
        a, b = stack.pop()
        if b <= a + 1:
            continue
        seg = pts[a + 1 : b]
        dist = _perp_dist(seg, pts[a], pts[b])
        imax = int(np.argmax(dist))
        if dist[imax] > tol:
            m = a + 1 + imax
            keep[m] = True
            stack.append((a, m))
            stack.append((m, b))


def simplify_ring(ring: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker simplify one ring (open or closed input, open output).

    The ring is anchored at vertex 0 and at the vertex farthest from it
    (the standard closed-ring DP split), then each half is simplified
    independently. tol is in the ring's coordinate units (degrees here).
    """
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    n = ring.shape[0]
    if tol <= 0.0 or n <= 4:
        return ring
    far = int(
        np.argmax(np.hypot(ring[:, 0] - ring[0, 0], ring[:, 1] - ring[0, 1]))
    )
    if far == 0:  # all vertices identical
        return ring
    closed = np.vstack([ring, ring[:1]])
    keep = np.zeros(n + 1, dtype=bool)
    keep[[0, far, n]] = True
    _dp_mask(closed, 0, far, tol, keep)
    _dp_mask(closed, far, n, tol, keep)
    out = ring[keep[:n]]
    if out.shape[0] < 3:
        return ring
    return out


def simplify_polygon(rings: list[np.ndarray], tol: float) -> list[np.ndarray]:
    """Simplify [exterior, holes...]; holes that collapse (<3 pts) drop."""
    if tol <= 0.0:
        return rings
    out = [simplify_ring(rings[0], tol)]
    for hole in rings[1:]:
        s = simplify_ring(hole, tol)
        if s.shape[0] >= 3:
            out.append(s)
    return out


def simplify_rings(rings: RingTable, tol: float) -> RingTable:
    """:func:`simplify_polygon` over every member of a ring table."""
    xy, poly, exterior = [], [], []
    bounds = np.append(np.flatnonzero(rings.exterior), len(rings.poly))
    for a, b in zip(bounds[:-1], bounds[1:]):
        member = [rings.xy[rings.start[r] : rings.start[r + 1]] for r in range(a, b)]
        kept = simplify_polygon(member, tol)
        xy += kept
        poly += [rings.poly[a]] * len(kept)
        exterior += [True] + [False] * (len(kept) - 1)
    return RingTable(
        np.concatenate(xy) if xy else np.empty((0, 2)),
        np.cumsum([0] + [len(r) for r in xy]),
        np.asarray(poly, dtype=np.int64),
        np.asarray(exterior, dtype=bool),
    )
