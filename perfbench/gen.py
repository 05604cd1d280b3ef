"""Seeded input generator and oracle for the three benchmark workloads.

Every table is a pure function of ``(workload, seed)``. Expected outputs
come from the package's numpy/pure-Python twins (``geoparse_py``,
``cell_np``, ``points_in_polygon``, ``albers5070_forward``), never from
the Spark engine under test.

Layout of one generated workload directory::

    pages.parquet/part-NN.parquet        # PAGE_FILES files, one scan task each
    polygons.parquet/part-NN.parquet     # POLYGON_FILES files
    census_long.parquet, pois.parquet
    expected.parquet                     # assignments / kNN rows / flagship rows
    meta.json                   # sizes and input/oracle checksums

Run ``python3 perfbench/gen.py --workload W --seed N --out DIR`` to write
one directory by hand; ``run.py`` calls :func:`ensure` with a per-seed
cache instead.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import sys
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = pathlib.Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from socialmapper_spark.functions.scalar import CENSUS_SENTINELS, KM_TO_MILES  # noqa: E402
from socialmapper_spark.geo.albers import albers5070_forward  # noqa: E402
from socialmapper_spark.geo.cells import cell_np  # noqa: E402
from socialmapper_spark.geo.geoparse import GAZETTEER, geoparse_py  # noqa: E402
from socialmapper_spark.geo.hull import convex_hull  # noqa: E402
from socialmapper_spark.geo.pip import points_in_polygon  # noqa: E402
from socialmapper_spark.geo.wkb import polygon_to_wkb  # noqa: E402

GEN_VERSION = "g2"
# Inputs are split into files so that a scan has one task per file (the
# session's split size is above a file's size): 16 page files keep four
# cores busy through the pipeline, 4 polygon files spread the polygon prep.
PAGE_FILES = 16
POLYGON_FILES = 4

# synthetic NC-like bbox and the three hot urban centers of the sf0.1 shape
LAT0, LAT1 = 35.0, 36.0
LON0, LON1 = -79.5, -78.0
URBAN_CENTERS = [(35.78, -78.64), (35.99, -78.90), (35.91, -79.06)]
VARIABLES = {
    "B01003_001E": (500.0, 3000.0),
    "B19013_001E": (30000.0, 120000.0),
    "B01002_001E": (25.0, 55.0),
    "B25044_003E": (0.0, 300.0),
    "B25044_010E": (0.0, 300.0),
}
_EN = "the quick survey of local amenities and services in this area is part of our coverage"
_ES = "el informe de la zona describe los servicios que una comunidad necesita cada semana"

# Sizes keep one warm repetition at three to six seconds on four cores
# (fixed per-job cost dominates below them), so a run of well under a
# minute holds a cold and three warm repetitions.
SIZES = {
    # pages, hot share, block-group grid step (deg)
    "enrich_flagship": dict(pages=40_000, hot=0.70, bg_step=0.0357),
    # pages, polygon grid step (deg), edges per polygon
    "assign_lineage": dict(pages=10_000, hot=0.0, poly_step=0.0385, edges=(50, 101)),
    # pages, hot share, POIs
    "nearest_poi": dict(pages=6_000, hot=0.70, pois=12_000),
}
WORKLOADS = tuple(SIZES)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def _pages(rng: np.random.Generator, n: int, hot: float) -> pa.Table:
    """sf0.1-shaped pages: ``hot`` of them around 3 urban centers, 10%
    with no geo signal, 63% with a printed coordinate pair, the rest with
    gazetteer mentions only."""
    u = rng.uniform(size=n)
    c = rng.integers(0, len(URBAN_CENTERS), n)
    centers = np.array(URBAN_CENTERS)
    lat = np.where(u < hot, centers[c, 0] + rng.normal(0, 0.004, n),
                   rng.uniform(LAT0, LAT1, n))
    lon = np.where(u < hot, centers[c, 1] + rng.normal(0, 0.004, n),
                   rng.uniform(LON0, LON1, n))
    sig = rng.uniform(size=n)
    no_signal = sig < 0.10
    has_coord = ~no_signal & (sig < 0.73)
    has_mention = ~no_signal & ((rng.uniform(size=n) < 0.5) | ~has_coord)
    es = rng.uniform(size=n) < 0.1
    names = list(GAZETTEER)
    pick = rng.integers(0, len(names), size=(n, 2))
    n_mentions = rng.integers(1, 3, n)

    texts = []
    for i in range(n):
        parts = [_ES if es[i] else _EN]
        if has_mention[i]:
            parts.extend(f"near {names[pick[i, j]]} today" for j in range(n_mentions[i]))
        if has_coord[i]:
            parts.append(f"located at {lat[i]:.6f}, {lon[i]:.6f} on the map")
        parts.append(f"article {i}")
        texts.append(" ".join(parts))
    return pa.table({
        "url": pa.array([f"https://example.org/p/{i}" for i in range(n)], pa.string()),
        "warc_ts": pa.array(1750377600000000 + np.arange(n, dtype=np.int64) * 1_000_000,
                            pa.timestamp("us", tz="UTC")),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.where(es, "es", "en").tolist(), pa.string()),
    })


def _polygon_table(polys: list[dict]) -> pa.Table:
    cols = ["poly_id", "kind", "GEOID", "travel_time_minutes", "travel_mode"]
    t = {c: [p.get(c) for p in polys] for c in cols}
    return pa.table({
        "poly_id": pa.array(t["poly_id"], pa.string()),
        "kind": pa.array(t["kind"], pa.string()),
        "GEOID": pa.array(t["GEOID"], pa.string()),
        "travel_time_minutes": pa.array(t["travel_time_minutes"], pa.int32()),
        "travel_mode": pa.array(t["travel_mode"], pa.string()),
        "geometry_wkb": pa.array([polygon_to_wkb(p["rings"]) for p in polys], pa.binary()),
    })


def _square(lon_a: float, lat_a: float, step: float) -> np.ndarray:
    return np.array([[lon_a, lat_a], [lon_a + step, lat_a],
                     [lon_a + step, lat_a + step], [lon_a, lat_a + step]])


def _flagship_polygons(rng: np.random.Generator, bg_step: float) -> list[dict]:
    """4-edge block-group squares, a 0.25-degree ZCTA grid and five
    isochrone hulls, three of them over the hot urban centers."""
    polys = []
    n_lon, n_lat = round((LON1 - LON0) / bg_step), round((LAT1 - LAT0) / bg_step)
    for iy in range(n_lat):
        for ix in range(n_lon):
            k = iy * n_lon + ix
            polys.append(dict(poly_id=f"bg_{k:05d}", kind="blockgroup",
                              GEOID=f"37183{k:07d}",
                              rings=[_square(LON0 + ix * bg_step, LAT0 + iy * bg_step, bg_step)]))
    for iy in range(4):
        for ix in range(6):
            k = iy * 6 + ix
            polys.append(dict(poly_id=f"zcta_{k:03d}", kind="zcta", GEOID=f"27{k:03d}",
                              rings=[_square(LON0 + ix * 0.25, LAT0 + iy * 0.25, 0.25)]))
    anchors = [(la + 0.01, lo - 0.01) for la, lo in URBAN_CENTERS]
    anchors += [(rng.uniform(LAT0 + 0.1, LAT1 - 0.1), rng.uniform(LON0 + 0.1, LON1 - 0.1))
                for _ in range(2)]
    for j, (clat, clon) in enumerate(anchors):
        radius = 0.04 + 0.015 * j
        ang = rng.uniform(0, 2 * np.pi, 48)
        rad = radius * np.sqrt(rng.uniform(0.3, 1.0, 48))
        hull = convex_hull(np.column_stack([clon + rad * np.cos(ang), clat + rad * np.sin(ang)]))
        polys.append(dict(poly_id=f"iso_{j}", kind="isochrone", GEOID=f"ISO{j:09d}",
                          travel_time_minutes=15, travel_mode="drive", rings=[hull]))
    return polys


def _blob_polygons(rng: np.random.Generator, step: float, edges: tuple[int, int]) -> list[dict]:
    """One star-shaped polygon of 50-100 edges inside each grid cell:
    disjoint, simple, with a boundary that crosses many prefilter cells."""
    polys = []
    n_lon, n_lat = round((LON1 - LON0) / step), round((LAT1 - LAT0) / step)
    for iy in range(n_lat):
        for ix in range(n_lon):
            k = iy * n_lon + ix
            m = int(rng.integers(*edges))
            ang = np.sort(rng.uniform(0, 2 * np.pi, m))
            rad = 0.5 * step * rng.uniform(0.55, 0.98, m)
            cx, cy = LON0 + (ix + 0.5) * step, LAT0 + (iy + 0.5) * step
            ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
            polys.append(dict(poly_id=f"bg_{k:05d}", kind="blockgroup",
                              GEOID=f"37{k:010d}", rings=[ring]))
    return polys


def _census(rng: np.random.Generator, geoids: list[str]) -> pa.Table:
    """Long census table with deterministic sentinel injection."""
    g, c, v = [], [], []
    k = 0
    for geoid in geoids:
        for code, (lo, hi) in VARIABLES.items():
            val = float(np.round(rng.uniform(lo, hi), 1))
            if k % 97 == 3:
                val = -999999999.0
            elif k % 97 == 11:
                val = -666666666.0
            elif k % 97 == 23 and code.startswith("B19"):
                val = -1.0
            g.append(geoid)
            c.append(code)
            v.append(val)
            k += 1
    return pa.table({
        "geoid": pa.array(g, pa.string()),
        "variable_code": pa.array(c, pa.string()),
        "value": pa.array(v, pa.float64()),
    })


def _pois(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "id": pa.array([f"poi_{i:06d}" for i in range(n)], pa.string()),
        "lat": pa.array(rng.uniform(LAT0, LAT1, n).round(6), pa.float64()),
        "lon": pa.array(rng.uniform(LON0, LON1, n).round(6), pa.float64()),
    })


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------

def located(pages: pa.Table) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """geoparse_py over every page → (row index, lat, lon) of located pages."""
    lat = np.full(pages.num_rows, np.nan)
    lon = np.full(pages.num_rows, np.nan)
    for i, text in enumerate(pages.column("text").to_pylist()):
        la, lo, _ = geoparse_py(text)
        if la is not None:
            lat[i], lon[i] = la, lo
    idx = np.nonzero(~np.isnan(lat))[0]
    return idx, lat[idx], lon[idx]


def assignments(px: np.ndarray, py: np.ndarray, polys: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """(point index, polygon index) of every containment pair: a bbox
    window over lon-sorted points, then the exact even-odd test."""
    order = np.argsort(px, kind="stable")
    sx, sy = px[order], py[order]
    pt, pg = [], []
    for j, p in enumerate(polys):
        ext = p["rings"][0]
        cand = np.arange(np.searchsorted(sx, ext[:, 0].min(), side="left"),
                         np.searchsorted(sx, ext[:, 0].max(), side="right"))
        cand = cand[(sy[cand] >= ext[:, 1].min()) & (sy[cand] <= ext[:, 1].max())]
        hit = cand[points_in_polygon(sx[cand], sy[cand], p["rings"])]
        pt.append(order[hit])
        pg.append(np.full(hit.shape[0], j))
    return np.concatenate(pt), np.concatenate(pg)


def cleanse(code: str, value: float) -> float | None:
    """Python twin of ``cleanse_census_value``."""
    if value in CENSUS_SENTINELS:
        return None
    if code.startswith(("B19", "B25")) and value < 0:
        return None
    if value < -100000:
        return None
    return value


def flagship_expected(urls, pt, pg, polys, census: pa.Table) -> list[tuple]:
    """Per-isochrone rows of ``flagship_query`` from the assignment pairs."""
    isos: dict[str, set] = {}
    bgs: dict[str, set] = {}
    for i, j in zip(pt.tolist(), pg.tolist()):
        p = polys[j]
        if p["kind"] == "isochrone":
            isos.setdefault(urls[i], set()).add(j)
        elif p["kind"] == "blockgroup":
            bgs.setdefault(urls[i], set()).add(p["GEOID"])
    wide: dict[str, dict] = {}
    for g, c, v in zip(*(census.column(n).to_pylist() for n in ("geoid", "variable_code", "value"))):
        wide.setdefault(g, {})[c] = cleanse(c, v)
    per_iso: dict[int, tuple[int, set]] = {}
    for url, js in isos.items():
        if url not in bgs:
            continue
        for j in js:
            n, s = per_iso.get(j, (0, set()))
            per_iso[j] = (n + 1, s | bgs[url])
    rows = []
    for j, (n_pages, bg_set) in per_iso.items():
        pops = [wide.get(g, {}).get("B01003_001E") for g in bg_set]
        incs = [wide.get(g, {}).get("B19013_001E") for g in bg_set]
        pops = [Decimal(repr(x)) for x in pops if x is not None]
        incs = [Decimal(repr(x)) for x in incs if x is not None]
        rows.append((
            polys[j]["poly_id"], polys[j]["travel_time_minutes"], n_pages, len(bg_set),
            float(sum(pops)) if pops else None,
            float(sum(incs)) / len(incs) if incs else None,
        ))
    return sorted(rows)


def knn_expected(qx: np.ndarray, qy: np.ndarray,
                 poi_x: np.ndarray, poi_y: np.ndarray, chunk: int = 20_000):
    """Exact nearest POI per point with the (distance, poi_id) tie-break.

    POI ids must sort like their row index (zero-padded), so the index is
    the tie-break key. POIs are bucketed on a square grid of ``g`` meters;
    a point's best candidate from its 3×3 bucket block is final when it is
    nearer than ``g`` (every POI outside the block is at least ``g``
    away). The few points that fail that test are brute-forced.
    """
    g = 2000.0
    bx, by = np.floor(poi_x / g).astype(np.int64), np.floor(poi_y / g).astype(np.int64)
    x0, y0 = bx.min() - 3, by.min() - 3
    w, h = bx.max() - x0 + 4, by.max() - y0 + 4
    key = (bx - x0) * h + (by - y0)
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    starts = np.searchsorted(key_s, np.arange(w * h), "left")
    ends = np.searchsorted(key_s, np.arange(w * h), "right")

    best_d = np.empty(qx.shape[0])
    best_j = np.empty(qx.shape[0], dtype=np.int64)
    for s in range(0, qx.shape[0], chunk):
        cx, cy = qx[s:s + chunk], qy[s:s + chunk]
        raw_x = np.floor(cx / g).astype(np.int64) - x0
        raw_y = np.floor(cy / g).astype(np.int64) - y0
        px, py = np.clip(raw_x, 1, w - 2), np.clip(raw_y, 1, h - 2)
        # a clipped point's block is off-center: its candidate proves nothing
        clipped = (px != raw_x) | (py != raw_y)
        pt_list, j_list = [], []
        for dx in range(-1, 2):
            for dy in range(-1, 2):
                b = (px + dx) * h + (py + dy)
                cnt = ends[b] - starts[b]
                rep = np.repeat(np.arange(cx.shape[0]), cnt)
                off = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
                pt_list.append(rep)
                j_list.append(order[starts[b][rep] + off])
        pt = np.concatenate(pt_list)
        jj = np.concatenate(j_list)
        dxm, dym = cx[pt] - poi_x[jj], cy[pt] - poi_y[jj]
        d = np.sqrt(dxm * dxm + dym * dym) / 1000.0
        srt = np.lexsort((jj, d, pt))
        first = np.ones(srt.shape[0], dtype=bool)
        first[1:] = pt[srt][1:] != pt[srt][:-1]
        sel = srt[first]
        bd = np.full(cx.shape[0], np.inf)
        bj = np.full(cx.shape[0], -1)
        bd[pt[sel]] = d[sel]
        bj[pt[sel]] = jj[sel]
        for i in np.nonzero(clipped | ~(bd * 1000.0 < g - 1.0))[0]:
            dxm, dym = cx[i] - poi_x, cy[i] - poi_y
            dd = np.sqrt(dxm * dxm + dym * dym) / 1000.0
            k = int(np.argmin(dd))  # the first minimum: lowest index wins ties
            bd[i], bj[i] = dd[k], k
        best_d[s:s + chunk], best_j[s:s + chunk] = bd, bj
    return best_j, best_d


# ---------------------------------------------------------------------------
# per-workload generation
# ---------------------------------------------------------------------------

def _digest(paths: list[pathlib.Path]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def generate(workload: str, seed: int, out: pathlib.Path) -> dict:
    """Write one workload's inputs and expected output into ``out``."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    size = SIZES[workload]
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    out.mkdir(parents=True, exist_ok=True)
    inputs = []

    def write(name: str, table: pa.Table, parts: int = 1) -> None:
        if parts == 1:
            pq.write_table(table, out / name)
            inputs.append(out / name)
            return
        (out / name).mkdir()
        step = -(-table.num_rows // parts)
        for k in range(parts):
            path = out / name / f"part-{k:02d}.parquet"
            pq.write_table(table.slice(k * step, step), path)
            inputs.append(path)

    pages = _pages(rng, size["pages"], size["hot"])
    write("pages.parquet", pages, PAGE_FILES)
    urls = pages.column("url").to_pylist()
    idx, lat, lon = located(pages)
    meta = {"workload": workload, "seed": seed, "version": GEN_VERSION,
            "pages": pages.num_rows, "located": int(idx.shape[0])}

    if workload == "nearest_poi":
        pois = _pois(rng, size["pois"])
        write("pois.parquet", pois)
        poi_ids = np.array(pois.column("id").to_pylist())
        poi_x, poi_y = albers5070_forward(pois.column("lat").to_numpy(), pois.column("lon").to_numpy())
        qx, qy = albers5070_forward(lat, lon)
        j, d = knn_expected(qx, qy, poi_x, poi_y)
        expected = pa.table({
            "url": pa.array([urls[i] for i in idx], pa.string()),
            "poi_id": pa.array(poi_ids[j].tolist(), pa.string()),
            "distance_km": pa.array(d, pa.float64()),
            "distance_miles": pa.array(d * KM_TO_MILES, pa.float64()),
        })
        meta["pois"] = pois.num_rows
    else:
        if workload == "enrich_flagship":
            polys = _flagship_polygons(rng, size["bg_step"])
        else:
            polys = _blob_polygons(rng, size["poly_step"], size["edges"])
        write("polygons.parquet", _polygon_table(polys), POLYGON_FILES)
        census = _census(rng, [p["GEOID"] for p in polys if p["kind"] == "blockgroup"])
        write("census_long.parquet", census)
        pt, pg = assignments(lon, lat, polys)
        pt = idx[pt]
        meta["polygons"] = len(polys)
        meta["edges"] = int(sum(p["rings"][0].shape[0] for p in polys))
        meta["assignments"] = int(pt.shape[0])
        meta["cells_r7"] = int(np.unique(cell_np(lat, lon, 7)).shape[0])
        if workload == "enrich_flagship":
            rows = flagship_expected(urls, pt, pg, polys, census)
            expected = pa.table({
                "iso_id": pa.array([r[0] for r in rows], pa.string()),
                "travel_time_minutes": pa.array([r[1] for r in rows], pa.int32()),
                "n_pages": pa.array([r[2] for r in rows], pa.int64()),
                "n_block_groups": pa.array([r[3] for r in rows], pa.int64()),
                "total_population": pa.array([r[4] for r in rows], pa.float64()),
                "median_household_income": pa.array([r[5] for r in rows], pa.float64()),
            })
        else:
            expected = pa.table({
                "url": pa.array([urls[i] for i in pt], pa.string()),
                "poly_id": pa.array([polys[j]["poly_id"] for j in pg], pa.string()),
            })
    pq.write_table(expected, out / "expected.parquet")
    meta["expected_rows"] = expected.num_rows
    meta["input_sha"] = _digest(inputs)
    meta["oracle_sha"] = _digest([out / "expected.parquet"])
    (out / "meta.json").write_text(json.dumps(meta, indent=1, sort_keys=True))
    return meta


def ensure(workload: str, seed: int, cache: pathlib.Path) -> tuple[pathlib.Path, dict]:
    """Generate into ``cache`` once per (workload, seed, version, sizes)."""
    tag = hashlib.sha256(repr(SIZES[workload]).encode()).hexdigest()[:8]
    out = cache / f"{workload}-s{seed}-{GEN_VERSION}-{tag}"
    meta_path = out / "meta.json"
    if not meta_path.exists():
        tmp = cache / f".tmp-{workload}-s{seed}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(workload, seed, tmp)
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    return out, json.loads(meta_path.read_text())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.workload, args.seed, pathlib.Path(args.out)), sort_keys=True))


if __name__ == "__main__":
    main()
