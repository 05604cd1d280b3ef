"""Deterministic hierarchical cell index (H3-style API, square grid).

The container has no ``h3`` wheel, so per SURVEY.md §7.3.1 we use the
documented deterministic fallback: an equirectangular power-of-two grid
with the same API surface the engine needs from H3 — ``latlng_to_cell``
(here :func:`cell_np` / :func:`cell_col`), ``grid_disk`` (square k-ring),
``cell_to_parent`` — and the same role in the engine: locality key for
salted hash joins, prefilter key for the two-phase PIP join, and k-ring
expansion for kNN (reference kNN semantics: brute-force min distance,
``/root/reference/socialmapper/distance/engine.py:54-85``).

Layout (all exact integer/power-of-two arithmetic, identical in numpy
int64/float64 and Spark long/double — the Spark column expression and the
numpy twin are bit-identical by construction):

- cell edge at resolution r: ``360 / 2**(r+7)`` degrees
  (r7≈0.0220°, r8≈0.0110°, r9≈0.0055° — comparable in area to H3 res 7/8/9)
- ``ix = floor((lon+180)/size) mod 2**(r+7)``  (longitude wraps)
- ``iy = clamp(floor((lat+90)/size), 0, 2**(r+6)-1)``
- ``cell_id = r * 2**58 + ix * 2**29 + iy``  (fits in int64 for r ≤ 22)

Parent/child: one resolution step halves the cell edge, so the parent
index is ``ix >> 1, iy >> 1`` — a pure arithmetic truncation that Catalyst
evaluates JVM-side with no UDF.

This module is the only one that knows the bit layout. Every other use
builds on its three spellings of the codec, each an encode
(lat/lon → ix, iy → id) and a decode (id → ix, iy):

- Python ints and numpy arrays: :func:`decode_cell` / :func:`encode_ixy`,
  :func:`cell_ixy_np` / :func:`cell_np` — the fixtures' goldens, the
  driver-side polygon cover, perfbench's generator;
- Catalyst: :func:`decode_cell_col` / :func:`encode_ixy_col`, with
  :func:`cell_col`, :func:`grid_disk_col` and :func:`cell_to_parent_col`
  on them — geoparse, the PIP prefilter, kNN rings, the raster operators,
  the pages table's partition column;
- DuckDB SQL: :func:`cell_ixy_sql` / :func:`encode_ixy_sql` — the oracle
  twins in ``__spark_entry__.py``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from socialmapper_spark.geo.wkb import RingTable

_IX_BITS = 29
_R_SHIFT = 2**58
_IX_SHIFT = 2**_IX_BITS
MAX_RES = 22
_CHUNK_VERTICES = 1 << 16  # ring_cover_cells' scratch-memory bound


def cell_size_deg(res: int) -> float:
    """Cell edge length in degrees at resolution ``res`` (exact binary)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution out of range: {res}")
    return 360.0 / (1 << (res + 7))


def _nx(res: int) -> int:
    return 1 << (res + 7)


def _ny(res: int) -> int:
    return 1 << (res + 6)


# ---------------------------------------------------------------------------
# numpy twin (oracle / golden generation / driver-side polygon prep)
# ---------------------------------------------------------------------------

def cell_ixy_np(lat, lon, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Grid indices (ix, iy) for float64 lat/lon arrays: longitude wraps,
    latitude clamps to the grid's rows."""
    size = cell_size_deg(res)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    ix = np.floor((lon + 180.0) / size).astype(np.int64) % _nx(res)
    iy = np.clip(np.floor((lat + 90.0) / size).astype(np.int64), 0, _ny(res) - 1)
    return ix, iy


def cell_np(lat, lon, res: int) -> np.ndarray:
    """Vectorized cell id for float64 lat/lon arrays. Mirrors cell_col."""
    ix, iy = cell_ixy_np(lat, lon, res)
    return np.int64(res) * _R_SHIFT + ix * _IX_SHIFT + iy


def decode_cell(cell: int) -> tuple[int, int, int]:
    """cell id → (res, ix, iy)."""
    cell = int(cell)
    res = cell // _R_SHIFT
    rem = cell % _R_SHIFT
    return res, rem // _IX_SHIFT, rem % _IX_SHIFT


def encode_ixy(res: int, ix: int, iy: int) -> int:
    """(res, ix, iy) → cell id; ``ix`` wraps, ``iy`` must be on the grid."""
    return res * _R_SHIFT + (ix % _nx(res)) * _IX_SHIFT + iy


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """cell id → (lat_min, lat_max, lon_min, lon_max)."""
    res, ix, iy = decode_cell(cell)
    size = cell_size_deg(res)
    lon_min = ix * size - 180.0
    lat_min = iy * size - 90.0
    return lat_min, lat_min + size, lon_min, lon_min + size


def cell_center(cell: int) -> tuple[float, float]:
    lat_min, lat_max, lon_min, lon_max = cell_bounds(cell)
    return (lat_min + lat_max) / 2.0, (lon_min + lon_max) / 2.0


def cell_to_parent(cell: int, parent_res: int) -> int:
    res, ix, iy = decode_cell(cell)
    if parent_res > res:
        raise ValueError(f"parent_res {parent_res} > res {res}")
    dr = res - parent_res
    return encode_ixy(parent_res, ix >> dr, iy >> dr)


def grid_disk(cell: int, k: int) -> list[int]:
    """All cells within Chebyshev distance k (the square k-ring disk).

    Longitude wraps; rows whose iy falls off the poles are dropped.
    Deterministic order: dy-major then dx, like H3's ring ordering is
    fixed — callers must not rely on a particular order anyway.
    """
    res, ix, iy = decode_cell(cell)
    out = []
    for dy in range(-k, k + 1):
        y = iy + dy
        if y < 0 or y >= _ny(res):
            continue
        out.extend(encode_ixy(res, ix + dx, y) for dx in range(-k, k + 1))
    return out


def _run_ranks(counts: np.ndarray) -> np.ndarray:
    """0, 1, ..., counts[i] - 1 for each run i, concatenated."""
    return np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)


def _first_center_at_or_after(x: np.ndarray, size: float, origin: float) -> np.ndarray:
    """Smallest grid index ``g`` whose cell center ``(g + 0.5) * size -
    origin`` (the exact float expression the cover tests) is ``>= x``."""
    g = np.floor((x + origin) / size - 0.5).astype(np.int64) - 1
    for _ in range(3):  # the float estimate is off by at most a step or two
        g += (g + 0.5) * size - origin < x
    return g


def ring_cover_cells(rings: RingTable, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Cells intersecting each polygon of a ring table — (polygon index,
    cell id) pairs, unique and sorted, vectorized over the whole table
    (no per-polygon numpy calls). The cover is the union of two parts per
    exterior ring, both over-approximations of nothing but the ring (no
    false negatives, SURVEY.md §4 O3):

    - boundary: each edge is cut into pieces no longer than one cell per
      axis, and each piece adds the (≤2×2) cells of its own bbox — a tight
      superset of the edge's supercover, O(perimeter / cell size), so a long
      diagonal edge does not inflate the cover like a bbox would;
    - interior: the cells of the ring's bbox whose center is inside the
      ring by the even-odd rule, found per cell row by scanline: the
      crossings ``(y1 > cy) != (y2 > cy)`` of a row, sorted, pair up into
      the spans of inside centers. The crossing x is the same float
      expression ``points_in_ring`` evaluates, so the verdicts agree with
      testing every bbox center.

    Holes are not subtracted: cells inside a hole are false positives the
    exact refine removes, the safe direction. The pass runs over chunks of
    whole polygons of about ``_CHUNK_VERTICES`` vertices each, which bounds
    its scratch memory on a nationwide table.
    """
    if not np.isfinite(rings.xy).all():
        raise ValueError("polygon coordinates must be finite (see validate_geometries)")
    rings = rings.exteriors()
    n = len(rings.poly)
    firsts = np.flatnonzero(np.diff(rings.poly, prepend=-1) != 0)
    at = np.searchsorted(rings.start[firsts], np.arange(0, rings.start[-1], _CHUNK_VERTICES))
    cuts = np.unique(np.concatenate([firsts[np.minimum(at, len(firsts) - 1)], [0, n]]))
    if n and (int(rings.poly.max()) + 1) * _nx(res) * _ny(res) >= 1 << 63:
        raise ValueError(f"too many polygons for one resolution-{res} cover")
    parts = [_cover_chunk(rings.rings(a, b), res) for a, b in zip(cuts[:-1], cuts[1:])]
    if not parts:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate([p[0] for p in parts]), np.concatenate([p[1] for p in parts])


def _cover_chunk(rings: RingTable, res: int) -> tuple[np.ndarray, np.ndarray]:
    """:func:`ring_cover_cells` over non-empty exterior rings that hold
    every ring of their polygons (at least one)."""
    size = cell_size_deg(res)
    nx, ny = _nx(res), _ny(res)
    n_vert = np.diff(rings.start)
    ring = np.repeat(np.arange(len(n_vert)), n_vert)
    x1, y1 = rings.xy[:, 0], rings.xy[:, 1]
    nxt = rings.successor()
    x2, y2 = x1[nxt], y1[nxt]

    # boundary pieces
    npiece = np.maximum(
        1,
        np.ceil(np.maximum(np.abs(x2 - x1), np.abs(y2 - y1)) / size).astype(np.int64),
    )
    e = np.repeat(np.arange(len(ring)), npiece)
    k = _run_ranks(npiece)
    t0 = k / npiece[e]
    t1 = (k + 1) / npiece[e]
    ax = x1[e] + (x2[e] - x1[e]) * t0
    ay = y1[e] + (y2[e] - y1[e]) * t0
    bx = x1[e] + (x2[e] - x1[e]) * t1
    by = y1[e] + (y2[e] - y1[e]) * t1
    px0 = np.floor((np.minimum(ax, bx) + 180.0) / size).astype(np.int64)
    px1 = np.floor((np.maximum(ax, bx) + 180.0) / size).astype(np.int64)
    py0 = np.floor((np.minimum(ay, by) + 90.0) / size).astype(np.int64)
    py1 = np.floor((np.maximum(ay, by) + 90.0) / size).astype(np.int64)
    # each piece spans at most 2 cells per axis; emit its distinct bbox corners
    wide, tall = px1 != px0, py1 != py0
    both = wide & tall
    parts_ix = [px0, px1[wide], px0[tall], px1[both]]
    parts_iy = [py0, py0[wide], py1[tall], py1[both]]
    pr = ring[e]
    parts_ring = [pr, pr[wide], pr[tall], pr[both]]

    # interior: per ring bbox in cell indices, then the crossings of every
    # edge with the cell-center rows it spans
    lo = rings.start[:-1]
    ix0 = np.floor((np.minimum.reduceat(x1, lo) + 180.0) / size).astype(np.int64)
    ix1 = np.floor((np.maximum.reduceat(x1, lo) + 180.0) / size).astype(np.int64)
    iy0 = np.floor((np.minimum.reduceat(y1, lo) + 90.0) / size).astype(np.int64)
    iy1 = np.floor((np.maximum.reduceat(y1, lo) + 90.0) / size).astype(np.int64)
    r0 = _first_center_at_or_after(np.minimum(y1, y2), size, 90.0)
    nrow = _first_center_at_or_after(np.maximum(y1, y2), size, 90.0) - r0
    ce = np.repeat(np.arange(len(ring)), nrow)
    gy = _run_ranks(nrow) + r0[ce]
    cy = (gy + 0.5) * size - 90.0
    cr = ring[ce]
    hit = ((y1[ce] > cy) != (y2[ce] > cy)) & (gy >= iy0[cr]) & (gy <= iy1[cr])
    ce, gy, cy, cr = ce[hit], gy[hit], cy[hit], cr[hit]
    xint = (x2[ce] - x1[ce]) * (cy - y1[ce]) / (y2[ce] - y1[ce]) + x1[ce]
    order = np.lexsort((xint, gy, cr))
    # a closed ring crosses each row an even number of times, so after the
    # sort the crossings of every (ring, row) pair up from an even offset
    span_a = xint[order[0::2]]
    span_b = xint[order[1::2]]
    span_ring = cr[order[0::2]]
    span_row = gy[order[0::2]]
    g0 = np.maximum(_first_center_at_or_after(span_a, size, 180.0), ix0[span_ring])
    g1 = np.minimum(_first_center_at_or_after(span_b, size, 180.0), ix1[span_ring] + 1)
    width = np.maximum(g1 - g0, 0)
    s = np.repeat(np.arange(len(width)), width)
    parts_ix.append(_run_ranks(width) + g0[s])
    parts_iy.append(span_row[s])
    parts_ring.append(span_ring[s])

    ix = np.concatenate(parts_ix) % nx
    iy = np.clip(np.concatenate(parts_iy), 0, ny - 1)
    who = rings.poly[np.concatenate(parts_ring)]
    key = np.unique((who * nx + ix) * ny + iy)
    who, rem = np.divmod(key, nx * ny)
    ix, iy = np.divmod(rem, ny)
    return who, np.int64(res) * _R_SHIFT + ix * _IX_SHIFT + iy


def polygon_cover_cells(polys: list[list[np.ndarray]], res: int) -> np.ndarray:
    """Cells intersecting one polygon (not just its bbox) — sorted int64
    ids; :func:`ring_cover_cells` over a one-polygon table. ``polys`` is a
    list of MultiPolygon members, each [exterior, holes...]."""
    exts = [np.asarray(rings[0], dtype=np.float64) for rings in polys]
    n = len(exts)
    table = RingTable(np.concatenate(exts), np.cumsum([0] + [len(r) for r in exts]),
                      np.zeros(n, dtype=np.int64), np.ones(n, dtype=bool))
    return ring_cover_cells(table, res)[1]


# ---------------------------------------------------------------------------
# Spark column expressions (pure Catalyst — no UDF on the hot path)
# ---------------------------------------------------------------------------

def decode_cell_col(cell: Column) -> tuple[Column, Column]:
    """(ix, iy) long columns of a cell id column — the Catalyst twin of
    :func:`decode_cell`. Exact integer ops only: ``shiftright`` floors the
    non-negative ``pmod`` remainder by 2^29, and since 2^58 is a multiple
    of 2^29, ``cell % 2^29`` is ``iy``."""
    ix = F.shiftright(F.pmod(cell, F.lit(_R_SHIFT)), _IX_BITS).cast("long")
    iy = F.pmod(cell, F.lit(_IX_SHIFT)).cast("long")
    return ix, iy


def encode_ixy_col(res: int, ix: Column, iy: Column) -> Column:
    """Cell id column from grid index columns already on the grid (no
    wrap, unlike :func:`encode_ixy`)."""
    return (
        F.lit(res).cast("long") * F.lit(_R_SHIFT)
        + ix.cast("long") * F.lit(_IX_SHIFT)
        + iy.cast("long")
    )


def cell_col(lat: Column, lon: Column, res: int) -> Column:
    """Cell id as a pure column expression (whole-stage-codegen friendly).

    Bit-identical to :func:`cell_np`: same float64 ops (power-of-two
    divisor → exact), same int64 arithmetic.
    """
    size = cell_size_deg(res)
    ix = F.pmod(F.floor((lon + F.lit(180.0)) / F.lit(size)), F.lit(_nx(res)))
    iy = F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(size)), F.lit(0)),
        F.lit(_ny(res) - 1),
    )
    return encode_ixy_col(res, ix, iy)


def grid_disk_col(cell: Column, res: int, k: int) -> Column:
    """array<long> of all cells within Chebyshev distance ``k`` — the pure
    Catalyst twin of :func:`grid_disk` (longitude wraps via pmod, rows off
    the poles drop out as filtered NULLs). Keeping the k-ring expansion
    inside the plan means a million-POI table explodes distributed on
    executors instead of in a driver loop."""
    ix, iy = decode_cell_col(cell)
    ny = F.lit(_ny(res))
    arr = F.flatten(
        F.transform(
            F.sequence(F.lit(-k), F.lit(k)),
            lambda dy: F.transform(
                F.sequence(F.lit(-k), F.lit(k)),
                lambda dx: F.when(
                    ((iy + dy) >= 0) & ((iy + dy) < ny),
                    encode_ixy_col(res, F.pmod(ix + dx, F.lit(_nx(res))), iy + dy),
                ),
            ),
        )
    )
    return F.filter(arr, lambda c: c.isNotNull())


def cell_to_parent_col(cell: Column, res: int, parent_res: int) -> Column:
    """Parent cell id as a column expression (res is statically known)."""
    dr = res - parent_res
    ix, iy = decode_cell_col(cell)
    return encode_ixy_col(parent_res, F.shiftright(ix, dr), F.shiftright(iy, dr))


# ---------------------------------------------------------------------------
# DuckDB SQL twins (the oracles in __spark_entry__.py)
# ---------------------------------------------------------------------------

def cell_ixy_sql(lat: str, lon: str, res: int) -> tuple[str, str]:
    """DuckDB twin of :func:`cell_ixy_np` — (ix, iy) bigint expressions
    over the SQL expressions ``lat``/``lon``. DuckDB's ``%`` truncates, so
    the longitude wrap adds ``nx`` back before a second ``%``."""
    size = cell_size_deg(res)
    nx = _nx(res)
    ix = f"((cast(floor(({lon}+180.0)/{size}) as bigint) % {nx} + {nx}) % {nx})"
    iy = f"least(greatest(cast(floor(({lat}+90.0)/{size}) as bigint),0),{_ny(res) - 1})"
    return ix, iy


def encode_ixy_sql(res: int, ix: str, iy: str) -> str:
    """DuckDB twin of :func:`encode_ixy_col`: bigint cell id from grid
    index expressions already on the grid."""
    return f"(cast({res} as bigint)*{_R_SHIFT} + ({ix})*{_IX_SHIFT} + ({iy}))"
