"""Deterministic geospatial fixture generation (seed 42) + numpy goldens.

Per FIXTURES.md: the driver's TPC-H-ish tables cover relational parity;
the geospatial tables (`pages`, `polygons`, `pois`, `census_long`) are
synthesized here, deterministically, at a scale matched to the driver's
sf directory. Golden outputs (geoparse, PIP assignments, kNN) are produced
by an INDEPENDENT brute-force numpy implementation of the reference
semantics — these parquet files are what `oracle_sql()` reads for the
non-SQL-expressible spatial operators, and what the pytest suite pins.

Layout: <repo>/data/geo/<sfname>/{pages,polygons,pois,census_long,
golden_geoparsed,golden_assignments,golden_knn}.parquet

Everything is a pure function of the scale name; a version marker file
invalidates stale caches when generation logic changes.
"""

from __future__ import annotations

import math
import pathlib
import re as _re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from socialmapper_spark.geo.albers import albers5070_forward
from socialmapper_spark.geo.geoparse import GAZETTEER, geoparse_py
from socialmapper_spark.geo.hull import convex_hull
from socialmapper_spark.geo.pip import points_in_polygon
from socialmapper_spark.geo.wkb import (
    polygon_measures,
    polygon_to_wkb,
    wkb_ring_table,
    wkb_to_rings,
)
from socialmapper_spark.functions.scalar import KM_TO_MILES

FIXTURE_VERSION = "v7"
DATA_ROOT = pathlib.Path(__file__).resolve().parents[1] / "data"
GEO_ROOT = DATA_ROOT / "geo"

# bbox: synthetic NC-like grid (FIXTURES.md §2)
LAT0, LAT1 = 35.0, 36.0
LON0, LON1 = -79.5, -78.0
GRID_STEP = 0.05  # block-group cell edge in degrees

PAGE_COUNTS = {"sf0.001": 2_000, "sf0.01": 60_000, "sf0.1": 600_000}
POI_COUNTS = {"sf0.001": 5, "sf0.01": 5, "sf0.1": 50}

# three dense "urban" centers for Zipf-style hot-cell skew (70% of rows)
URBAN_CENTERS = [(35.78, -78.64), (35.99, -78.90), (35.91, -79.06)]

VARIABLE_CODES = ["B01003_001E", "B19013_001E", "B01002_001E", "B25044_003E", "B25044_010E"]

EPOCH_US = 1750377600000000  # 2025-06-20T00:00:00Z in microseconds

_EN_FILLER = "the quick survey of local amenities and services in this area is part of our coverage"
_ES_FILLER = "el informe de la zona describe los servicios que una comunidad necesita cada semana"


def sf_name_from_dir(sf_dir: str) -> str:
    """The scale a driver sf dir names; any other name raises, since its
    tables would be checked against another scale's fixtures."""
    name = pathlib.Path(sf_dir).name
    if name not in PAGE_COUNTS:
        raise ValueError(f"{sf_dir}: unknown scale {name!r}; known scales: {', '.join(PAGE_COUNTS)}")
    return name


def geo_dir_for(sf_dir: str) -> pathlib.Path:
    """Ensure fixtures exist for the driver sf dir; return their directory."""
    name = sf_name_from_dir(sf_dir)
    out = GEO_ROOT / name
    marker = out / f".{FIXTURE_VERSION}"
    if not marker.exists():
        generate(name)
    return out


# ---------------------------------------------------------------------------
# generation
# ---------------------------------------------------------------------------

def _gen_polygons(rng: np.random.Generator, pois: dict) -> tuple[pa.Table, list]:
    """Block-group grid + isochrone hulls. Returns (table, parsed_polys)."""
    ids, kinds, geoids, states, counties, tracts, blkgrps = [], [], [], [], [], [], []
    ttimes, tmodes, wkbs = [], [], []
    polys = []  # (poly_id, kind, geoid, rings) for golden computation

    n_lon = round((LON1 - LON0) / GRID_STEP)  # 30
    n_lat = round((LAT1 - LAT0) / GRID_STEP)  # 20
    for iy in range(n_lat):
        for ix in range(n_lon):
            lon_a, lat_a = LON0 + ix * GRID_STEP, LAT0 + iy * GRID_STEP
            ring = np.array(
                [
                    [lon_a, lat_a],
                    [lon_a + GRID_STEP, lat_a],
                    [lon_a + GRID_STEP, lat_a + GRID_STEP],
                    [lon_a, lat_a + GRID_STEP],
                ]
            )
            tract = f"{(iy * n_lon + ix) // 9 + 100:06d}"
            bg = str((iy * n_lon + ix) % 9 + 1)
            geoid = f"37183{tract}{bg}"
            pid = f"bg_{iy:02d}_{ix:02d}"
            ids.append(pid)
            kinds.append("blockgroup")
            geoids.append(geoid)
            states.append("37")
            counties.append("183")
            tracts.append(tract)
            blkgrps.append(bg)
            ttimes.append(None)
            tmodes.append(None)
            wkbs.append(polygon_to_wkb([ring]))
            polys.append((pid, "blockgroup", geoid, [ring]))

    # ZCTAs (S6): a coarser 0.25° grid over the same region — 6×4 = 24
    # cells. GEOIDs follow the reference's state→prefix map
    # (zcta_service.py:65-73): NC ZCTAs start 27/28; the last two cells
    # deliberately get the South-Carolina prefix 29 so the prefix filter
    # has rows to exclude. No rng draws here (keeps every other fixture
    # byte-identical across versions).
    ZSTEP = 5 * GRID_STEP
    for iy in range(4):
        for ix in range(6):
            lon_a, lat_a = LON0 + ix * ZSTEP, LAT0 + iy * ZSTEP
            ring = np.array(
                [
                    [lon_a, lat_a],
                    [lon_a + ZSTEP, lat_a],
                    [lon_a + ZSTEP, lat_a + ZSTEP],
                    [lon_a, lat_a + ZSTEP],
                ]
            )
            idx = iy * 6 + ix
            prefix = "29" if idx >= 22 else ("27" if ix < 3 else "28")
            geoid = f"{prefix}{idx:03d}"
            pid = f"zcta_{geoid}"
            ids.append(pid)
            kinds.append("zcta")
            geoids.append(geoid)
            states.append("45" if prefix == "29" else "37")
            counties.append(None)
            tracts.append(None)
            blkgrps.append(None)
            ttimes.append(None)
            tmodes.append(None)
            wkbs.append(polygon_to_wkb([ring]))
            polys.append((pid, "zcta", geoid, [ring]))

    # isochrones: convex hulls of seeded point clouds around the first 5 POIs
    # (reference algorithm: hull of reached nodes, clustering.py:403-418).
    for j in range(min(5, len(pois["lat"]))):
        clat, clon = pois["lat"][j], pois["lon"][j]
        # radius grows with j so isochrones 3 and 4 overlap (FIXTURES.md §3)
        radius = 0.04 + 0.015 * j
        ang = rng.uniform(0, 2 * np.pi, 48)
        rad = radius * np.sqrt(rng.uniform(0.3, 1.0, 48))
        cloud = np.column_stack([clon + rad * np.cos(ang), clat + rad * np.sin(ang)])
        hull = convex_hull(cloud)
        pid = f"iso_{j}"
        ids.append(pid)
        kinds.append("isochrone")
        geoids.append(f"ISO{j:09d}")
        states.append("37")
        counties.append("183")
        tracts.append(None)
        blkgrps.append(None)
        ttimes.append(15)
        tmodes.append("drive")
        wkbs.append(polygon_to_wkb([hull]))
        polys.append((pid, "isochrone", f"ISO{j:09d}", [hull]))

    table = pa.table(
        {
            "poly_id": pa.array(ids, pa.string()),
            "kind": pa.array(kinds, pa.string()),
            "GEOID": pa.array(geoids, pa.string()),
            "STATE": pa.array(states, pa.string()),
            "COUNTY": pa.array(counties, pa.string()),
            "TRACT": pa.array(tracts, pa.string()),
            "BLKGRP": pa.array(blkgrps, pa.string()),
            "travel_time_minutes": pa.array(ttimes, pa.int32()),
            "travel_mode": pa.array(tmodes, pa.string()),
            "geometry_wkb": pa.array(wkbs, pa.binary()),
        }
    )
    return table, polys


def _gen_pois(rng: np.random.Generator, n: int) -> dict:
    lat = rng.uniform(LAT0 + 0.1, LAT1 - 0.1, n)
    lon = rng.uniform(LON0 + 0.1, LON1 - 0.1, n)
    # anchor the first POIs near the dense urban centers so their isochrones
    # actually cover page mass (the flagship query aggregates within them)
    for j, (clat, clon) in enumerate(URBAN_CENTERS[: min(n, len(URBAN_CENTERS))]):
        lat[j] = clat + 0.01
        lon[j] = clon - 0.01
    names = [f"POI {i}" for i in range(n)]
    rows = {
        "id": [f"custom_{i}" for i in range(n)],
        "name": names,
        "type": ["custom"] * n,
        "lat": lat.round(6),
        "lon": lon.round(6),
        "state": ["NC"] * n,
    }
    return rows


def _build_texts(rng, n, lat, lon, has_coord, has_mention, lang):
    """Deterministic page text. Coordinates printed '%.6f, %.6f'."""
    gaz_names = list(GAZETTEER)
    mention_pick = rng.integers(0, len(gaz_names), size=(n, 2))
    n_mentions = rng.integers(1, 3, size=n)
    texts = []
    for i in range(n):
        parts = [_ES_FILLER if lang[i] == "es" else _EN_FILLER]
        if has_mention[i]:
            for j in range(n_mentions[i]):
                parts.append(f"near {gaz_names[mention_pick[i, j]]} today")
        if has_coord[i]:
            parts.append(f"located at {lat[i]:.6f}, {lon[i]:.6f} on the map")
        parts.append(f"article {i}")
        texts.append(" ".join(parts))
    return texts


def generate(name: str) -> pathlib.Path:
    n = PAGE_COUNTS[name]
    out = GEO_ROOT / name
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(42)

    # --- pois ------------------------------------------------------------
    pois = _gen_pois(rng, POI_COUNTS[name])
    poi_table = pa.table(
        {k: pa.array(v) for k, v in pois.items()}
    )
    # one invalid row to exercise P1 quarantine (lat=95.0, FIXTURES.md §4)
    bad = pa.table(
        {
            "id": ["custom_invalid"],
            "name": ["Invalid POI"],
            "type": ["custom"],
            "lat": [95.0],
            "lon": [-78.9],
            "state": ["NC"],
        }
    )
    pq.write_table(pa.concat_tables([poi_table, bad]), out / "pois.parquet")

    # --- polygons ---------------------------------------------------------
    poly_table, polys = _gen_polygons(rng, pois)
    pq.write_table(poly_table, out / "polygons.parquet")

    # --- pages -------------------------------------------------------------
    u = rng.uniform(0, 1, n)
    urban_idx = rng.integers(0, len(URBAN_CENTERS), n)
    centers = np.array(URBAN_CENTERS)
    lat = np.where(
        u < 0.7,
        centers[urban_idx, 0] + rng.normal(0, 0.004, n),
        rng.uniform(LAT0, LAT1, n),
    ).round(6)
    lon = np.where(
        u < 0.7,
        centers[urban_idx, 1] + rng.normal(0, 0.004, n),
        rng.uniform(LON0, LON1, n),
    ).round(6)

    sig = rng.uniform(0, 1, n)
    no_signal = sig < 0.10
    has_coord = (~no_signal) & (sig < 0.10 + 0.63)  # 70% of signal rows
    has_mention = (~no_signal) & (rng.uniform(0, 1, n) < 0.5)
    has_mention |= (~no_signal) & ~has_coord  # mention-only rows need ≥1 mention
    lang = np.where(rng.uniform(0, 1, n) < 0.9, "en", "es")

    texts = _build_texts(rng, n, lat, lon, has_coord, has_mention, lang)
    urls = [f"https://example.org/nc/page/{i}" for i in range(n)]
    htmls = [b"<html><body>" + t.encode() + b"</body></html>" for t in texts]
    ts = pa.array(EPOCH_US + np.arange(n, dtype=np.int64) * 1_000_000,
                  pa.timestamp("us", tz="UTC"))
    pages = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": ts,
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
        }
    )
    # small row groups: splittable input → full parallelism on local[32]
    # (row groups are the minimum split granularity for parquet scans)
    pq.write_table(pages, out / "pages.parquet", row_group_size=16384)

    # --- census_long --------------------------------------------------------
    def census_table(geoids):
        g_list, c_list, v_list = [], [], []
        ranges = {
            "B01003_001E": (500.0, 3000.0),
            "B19013_001E": (30000.0, 120000.0),
            "B01002_001E": (25.0, 55.0),
            "B25044_003E": (0.0, 300.0),
            "B25044_010E": (0.0, 300.0),
        }
        k = 0
        for g in geoids:
            for code in VARIABLE_CODES:
                lo, hi = ranges[code]
                val = float(np.round(rng.uniform(lo, hi), 1))
                # deterministic sentinel injection (pins P3 cleansing)
                if k % 97 == 3:
                    val = -999999999.0
                elif k % 97 == 11:
                    val = -666666666.0
                elif k % 97 == 23 and code.startswith("B19"):
                    val = -1.0
                elif k % 97 == 31:
                    val = -222222222.0
                g_list.append(g)
                c_list.append(code)
                v_list.append(val)
                k += 1
        return pa.table(
            {
                "geoid": pa.array(g_list, pa.string()),
                "variable_code": pa.array(c_list, pa.string()),
                "value": pa.array(v_list, pa.float64()),
                "year": pa.array([2023] * len(g_list), pa.int32()),
                "dataset": pa.array(["acs/acs5"] * len(g_list), pa.string()),
            }
        )

    geoids = [p[2] for p in polys if p[1] == "blockgroup"]
    pq.write_table(census_table(geoids), out / "census_long.parquet")

    # ZCTA-level census values (S6 cleanse twin input, zcta_service.py:352-359)
    # — generated AFTER census_long so its rng draws leave it unchanged
    zcta_geoids = [p[2] for p in polys if p[1] == "zcta"]
    pq.write_table(census_table(zcta_geoids), out / "census_zcta_long.parquet")

    # --- goldens (independent brute-force numpy implementation) -------------
    _write_goldens(out, urls, texts, polys, pois)

    (out / f".{FIXTURE_VERSION}").touch()
    return out


def _write_goldens(out, urls, texts, polys, pois):
    # golden geoparse: pure-Python twin, row at a time (the honest oracle)
    g_lat, g_lon, g_mentions = [], [], []
    for t in texts:
        la, lo, m = geoparse_py(t)
        g_lat.append(la)
        g_lon.append(lo)
        g_mentions.append(m)
    geop = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "lat": pa.array(g_lat, pa.float64()),
            "lon": pa.array(g_lon, pa.float64()),
            "mentions": pa.array(g_mentions, pa.list_(pa.string())),
        }
    )
    pq.write_table(geop, out / "golden_geoparsed.parquet")

    lat_arr = np.array([x if x is not None else np.nan for x in g_lat])
    lon_arr = np.array([x if x is not None else np.nan for x in g_lon])
    has = ~np.isnan(lat_arr)
    idx = np.nonzero(has)[0]
    px, py = lon_arr[has], lat_arr[has]

    # golden PIP assignments: brute force every polygon vs every point
    a_url, a_pid, a_geoid, a_kind = [], [], [], []
    for pid, kind, geoid, rings in polys:
        mask = points_in_polygon(px, py, rings)
        for j in np.nonzero(mask)[0]:
            a_url.append(urls[idx[j]])
            a_pid.append(pid)
            a_geoid.append(geoid)
            a_kind.append(kind)
    assign = pa.table(
        {
            "url": pa.array(a_url, pa.string()),
            "poly_id": pa.array(a_pid, pa.string()),
            "GEOID": pa.array(a_geoid, pa.string()),
            "kind": pa.array(a_kind, pa.string()),
        }
    )
    pq.write_table(assign, out / "golden_assignments.parquet")

    # golden kNN (k=1): brute-force min Euclidean distance in EPSG:5070 km
    # (reference semantics: distance/engine.py:54-109), km→miles ×0.621371.
    poi_x, poi_y = albers5070_forward(np.asarray(pois["lat"]), np.asarray(pois["lon"]))
    pg_x, pg_y = albers5070_forward(py, px)
    d2 = (pg_x[:, None] - poi_x[None, :]) ** 2 + (pg_y[:, None] - poi_y[None, :]) ** 2
    nearest = np.argmin(d2, axis=1)
    dist_km = np.sqrt(d2[np.arange(d2.shape[0]), nearest]) / 1000.0
    knn = pa.table(
        {
            "url": pa.array([urls[i] for i in idx], pa.string()),
            "poi_id": pa.array([pois["id"][j] for j in nearest], pa.string()),
            "distance_km": pa.array(dist_km, pa.float64()),
            "distance_miles": pa.array(dist_km * KM_TO_MILES, pa.float64()),
        }
    )
    pq.write_table(knn, out / "golden_knn.parquet")


# ---------------------------------------------------------------------------
# text/similarity goldens over the DRIVER's documents/embeddings tables —
# independent pure-Python twins of the Spark operators (dedup.py,
# similarity.py). Deterministic; used as oracles for non-SQL-expressible ops.
# ---------------------------------------------------------------------------

TEXT_ROOT = DATA_ROOT / "text"
TEXT_GOLDEN_VERSION = "v7"
COSINE_QUERY_IDS = [0, 1, 2, 3, 4]
COSINE_K = 10


def _minhash_py(text: str) -> tuple[list[int], list[str]]:
    import hashlib

    from socialmapper_spark.operators.dedup import (
        BANDS,
        NUM_PERM,
        ROWS_PER_BAND,
        SHINGLE_K,
        md5_hash60_py,
    )

    # re.ASCII pins \s to Java's whitespace class — str.split() would also
    # split on Unicode spaces (NBSP etc.) that the Spark twin's regex keeps
    norm = _re.sub(r"\s+", " ", text, flags=_re.ASCII).strip(' ').lower()
    words = norm.split(" ")
    if len(words) >= SHINGLE_K:
        shingles = list(
            dict.fromkeys(
                " ".join(words[i : i + SHINGLE_K])
                for i in range(len(words) - SHINGLE_K + 1)
            )
        )
    else:
        shingles = [norm]
    sig = [min(md5_hash60_py(i, s) for s in shingles) for i in range(NUM_PERM)]
    bands = [
        hashlib.md5(
            ",".join(str(v) for v in sig[j * ROWS_PER_BAND : (j + 1) * ROWS_PER_BAND]).encode()
        ).hexdigest()
        for j in range(BANDS)
    ]
    return sig, bands


def _shingle_set_py(text: str) -> set[str]:
    from socialmapper_spark.operators.dedup import SHINGLE_K

    norm = _re.sub(r"\s+", " ", text, flags=_re.ASCII).strip(' ').lower()
    words = norm.split(" ")
    if len(words) >= SHINGLE_K:
        return {
            " ".join(words[i : i + SHINGLE_K])
            for i in range(len(words) - SHINGLE_K + 1)
        }
    return {norm}


def _fold_dot(a, b) -> float:
    """Dimension-sequential float64 dot — the engine's accumulation order."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def cosine_topk_py(
    vecs: dict[int, list[float]],
    query_ids: list[int],
    k: int,
    allowed: dict[int, set[int]] | None = None,
) -> list[tuple[int, int, float, int]]:
    """Pure-Python twin of the three similarity searches
    (``operators.similarity``): (query_id, vec_id, cosine, rank) rows.

    The candidates of query q are every other vector, or only those in
    ``allowed[q]`` (the LSH/IVF probe sets, :func:`lsh_probe_sets` /
    :func:`ivf_probe_sets`). The cosine is the sequential fold over the
    numpy query norm, rounded HALF_UP to 9 dp like Spark's round; ranks
    order it descending, ties by ascending vec_id. A candidate with a
    non-finite cosine is skipped; a query whose norm is 0 or not finite
    raises ValueError.
    """
    rows = []
    for qid in query_ids:
        q = vecs[qid]
        qn = float(np.sqrt(np.dot(q, q)))
        if not 0.0 < qn < math.inf:
            raise ValueError(f"query vector {qid} has zero or non-finite norm")
        scored = []
        for vid, v in vecs.items():
            if vid == qid or (allowed is not None and vid not in allowed[qid]):
                continue
            den = math.sqrt(_fold_dot(v, v)) * qn
            cos = _fold_dot(v, q) / den if den else math.nan
            if math.isfinite(cos):
                scored.append((_round_half_up(cos, 9), vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        rows += [(qid, vid, cos, r) for r, (cos, vid) in enumerate(scored[:k], 1)]
    return rows


def lsh_probe_sets(
    vecs: dict[int, list[float]], query_ids: list[int]
) -> dict[int, set[int]]:
    """Per query, the ids in its LSH bucket or at Hamming distance 1."""
    from socialmapper_spark.operators.similarity import (
        LSH_BITS,
        _planes,
        lsh_bucket_py,
    )

    planes = _planes(len(vecs[query_ids[0]]))
    bucket_of = {vid: lsh_bucket_py(np.array(v), planes) for vid, v in vecs.items()}
    out = {}
    for qid in query_ids:
        qb = bucket_of[qid]
        probe = {qb} | {qb ^ (1 << i) for i in range(LSH_BITS)}
        out[qid] = {vid for vid, b in bucket_of.items() if b in probe}
    return out


def ivf_probe_sets(
    vecs: dict[int, list[float]], query_ids: list[int]
) -> dict[int, set[int]]:
    """Per query, the ids in its IVF_NPROBE nearest inverted lists — the
    engine's coarse quantizer (shared driver-prep code) trained on the
    id-ordered corpus, full-matrix assignment with 6-dp-rounded scores
    (batch-shape independent by construction)."""
    from socialmapper_spark.operators.similarity import (
        IVF_NPROBE,
        ivf_assignment_scores,
        train_ivf_centroids,
    )

    ids = sorted(vecs)
    mat = np.array([vecs[v] for v in ids], dtype=np.float64)
    cent = train_ivf_centroids(mat)
    assign = np.argmin(ivf_assignment_scores(mat, cent), axis=1)
    out = {}
    for qid in query_ids:
        q = np.array(vecs[qid], dtype=np.float64)
        qscores = ivf_assignment_scores(q[None, :], cent)[0]
        probe = set(np.argsort(qscores, kind="stable")[:IVF_NPROBE].tolist())
        out[qid] = {vid for vid, a in zip(ids, assign.tolist()) if a in probe}
    return out


def ensure_text_goldens(sf_dir: str) -> pathlib.Path:
    """Goldens for minhash pairs / jaccard / simhash / cosine / lsh-ann /
    ivf-ann over the driver's documents+embeddings tables at ``sf_dir``."""
    import duckdb

    from socialmapper_spark.operators.dedup import simhash64_py
    from socialmapper_spark.operators.similarity import _planes

    name = pathlib.Path(sf_dir).name
    out = TEXT_ROOT / name
    marker = out / f".{TEXT_GOLDEN_VERSION}"
    if marker.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)

    docs = duckdb.sql(
        f"select doc_id, text from read_parquet('{sf_dir}/documents.parquet') order by doc_id"
    ).fetchall()

    # minhash bands + candidate pairs + jaccard verify (+ winnowing)
    from socialmapper_spark.operators.dedup import winnow_py

    buckets: dict[tuple[int, str], list[int]] = {}
    shingle_sets: dict[int, set[str]] = {}
    sim_rows = []
    win_ids, win_fps = [], []
    for doc_id, text in docs:
        _, bands = _minhash_py(text)
        for j, key in enumerate(bands):
            buckets.setdefault((j, key), []).append(doc_id)
        shingle_sets[doc_id] = _shingle_set_py(text)
        sim_rows.append((doc_id, simhash64_py(text)))
        for fp in winnow_py(text):
            win_ids.append(doc_id)
            win_fps.append(fp)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(win_ids, pa.int64()),
                "fingerprint": pa.array(win_fps, pa.int64()),
            }
        ),
        out / "golden_winnow.parquet",
    )
    pairs = set()
    for ids in buckets.values():
        if 2 <= len(ids) <= 1000:
            ids = sorted(ids)
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    pairs.add((ids[i], ids[j]))
    pairs = sorted(pairs)
    pq.write_table(
        pa.table(
            {
                "doc_a": pa.array([a for a, _ in pairs], pa.int64()),
                "doc_b": pa.array([b for _, b in pairs], pa.int64()),
            }
        ),
        out / "golden_minhash_pairs.parquet",
    )
    jac_rows = []
    for a, b in pairs:
        sa, sb = shingle_sets[a], shingle_sets[b]
        jac = len(sa & sb) / len(sa | sb)
        if jac >= 0.3:
            jac_rows.append((a, b, jac))
    pq.write_table(
        pa.table(
            {
                "doc_a": pa.array([r[0] for r in jac_rows], pa.int64()),
                "doc_b": pa.array([r[1] for r in jac_rows], pa.int64()),
                "jaccard": pa.array([r[2] for r in jac_rows], pa.float64()),
            }
        ),
        out / "golden_jaccard.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in sim_rows], pa.int64()),
                "simhash": pa.array([r[1] for r in sim_rows], pa.int64()),
            }
        ),
        out / "golden_simhash.parquet",
    )

    # cosine top-k: exact, LSH-probed and IVF-probed — one twin
    embs = duckdb.sql(
        f"select vec_id, embedding from read_parquet('{sf_dir}/embeddings.parquet') order by vec_id"
    ).fetchall()
    vecs = {vid: [float(np.float32(x)) for x in v] for vid, v in embs}
    dim = len(next(iter(vecs.values())))
    qids = COSINE_QUERY_IDS
    for fname, allowed in [
        ("golden_cosine_topk.parquet", None),
        ("golden_lsh_ann.parquet", lsh_probe_sets(vecs, qids)),
        ("golden_ivf_ann.parquet", ivf_probe_sets(vecs, qids)),
    ]:
        rows = cosine_topk_py(vecs, qids, COSINE_K, allowed)
        pq.write_table(
            pa.table(
                {
                    "query_id": pa.array([r[0] for r in rows], pa.int64()),
                    "vec_id": pa.array([r[1] for r in rows], pa.int64()),
                    "cosine": pa.array([r[2] for r in rows], pa.float64()),
                    "rank": pa.array([r[3] for r in rows], pa.int32()),
                }
            ),
            out / fname,
        )

    # embedding-cosine near-dup pairs: banded multi-table LSH (pairs that
    # share a full r-bit sign key in ANY of the B tables, hot buckets
    # capped) with fold-exact cosine ≥ threshold — twin of
    # operators.similarity.embedding_near_dup_pairs
    from socialmapper_spark.operators.similarity import (
        NEAR_DUP_BAND_BITS,
        NEAR_DUP_MAX_BUCKET,
        NEAR_DUP_TABLES,
        NEAR_DUP_THRESHOLD,
        band_keys_py,
    )

    planes_b = _planes(dim, NEAR_DUP_TABLES * NEAR_DUP_BAND_BITS)
    band_buckets: dict[tuple[int, int], list[int]] = {}
    for vid in sorted(vecs):
        ks = band_keys_py(
            np.array(vecs[vid]), planes_b, NEAR_DUP_TABLES, NEAR_DUP_BAND_BITS
        )
        for t, key in enumerate(ks):
            band_buckets.setdefault((t, key), []).append(vid)
    cand_pairs = set()
    for ids in band_buckets.values():
        if 2 <= len(ids) <= NEAR_DUP_MAX_BUCKET:
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    cand_pairs.add((ids[i], ids[j]))
    dup_rows = []
    for a_id, b_id in sorted(cand_pairs):
        a, b = vecs[a_id], vecs[b_id]
        den = math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b))
        cos = _round_half_up(_fold_dot(a, b) / den, 9)
        if cos >= NEAR_DUP_THRESHOLD:
            dup_rows.append((a_id, b_id, cos))
    pq.write_table(
        pa.table(
            {
                "vec_a": pa.array([r[0] for r in dup_rows], pa.int64()),
                "vec_b": pa.array([r[1] for r in dup_rows], pa.int64()),
                "cosine": pa.array([r[2] for r in dup_rows], pa.float64()),
            }
        ),
        out / "golden_embedding_dup.parquet",
    )

    # near-dup GROUPS: union-find over the verified jaccard pairs (the
    # same pair set golden_jaccard records at threshold 0.3), singletons
    # included — twin of operators.dedup.dedup_groups
    from socialmapper_spark.operators.dedup import dedup_groups_py

    grp = dedup_groups_py(
        [(a, b) for a, b, _ in jac_rows], all_ids=[d for d, _ in docs]
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([g[0] for g in grp], pa.int64()),
                "group_id": pa.array([g[1] for g in grp], pa.int64()),
                "is_canonical": pa.array([g[2] for g in grp], pa.bool_()),
            }
        ),
        out / "golden_dedup_groups.parquet",
    )
    marker.touch()
    return out


def _round_half_up(x: float, places: int) -> float:
    """Twin of Spark's F.round on double: shortest-repr decimal, HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{places}"), ROUND_HALF_UP))


GEO_EXTRA_VERSION = "x10"


def ensure_geo_extras(sf_dir: str) -> pathlib.Path:
    """Extra goldens + fixture inputs for the extended operator set:
    golden_knn3 (brute-force top-3 per page), golden_area and
    golden_centroids (A3/F7 from the engine's shared polygon kernel),
    custom_coords.csv (S3 tolerant-reader input).
    Cached behind a version marker like the main fixtures."""
    out = geo_dir_for(sf_dir)
    marker = out / f".extras_{GEO_EXTRA_VERSION}"
    if marker.exists():
        return out
    import duckdb

    # --- golden_knn3: top-3 nearest POIs, tie-break (distance, poi_id) ----
    geop = duckdb.sql(
        f"select url, lat, lon from read_parquet('{out}/golden_geoparsed.parquet') "
        "where lat is not null order by url"
    ).fetchall()
    pois = duckdb.sql(
        f"select id, lat, lon from read_parquet('{out}/pois.parquet') "
        "where lat <= 90.0 order by id"
    ).fetchall()
    urls3 = [r[0] for r in geop]
    glat = np.array([r[1] for r in geop])
    glon = np.array([r[2] for r in geop])
    poi_ids = [r[0] for r in pois]
    pla = np.array([r[1] for r in pois])
    plo = np.array([r[2] for r in pois])
    gx, gy = albers5070_forward(glat, glon)
    px, py = albers5070_forward(pla, plo)
    d_km = np.sqrt((gx[:, None] - px[None, :]) ** 2 + (gy[:, None] - py[None, :]) ** 2) / 1000.0
    k3 = min(3, len(poi_ids))
    rows = {"url": [], "poi_id": [], "distance_km": [], "distance_miles": [], "knn_rank": []}
    for i in range(len(urls3)):
        order = sorted(range(len(poi_ids)), key=lambda j: (d_km[i, j], poi_ids[j]))[:k3]
        for rank, j in enumerate(order, 1):
            rows["url"].append(urls3[i])
            rows["poi_id"].append(poi_ids[j])
            rows["distance_km"].append(float(d_km[i, j]))
            rows["distance_miles"].append(float(d_km[i, j]) * KM_TO_MILES)
            rows["knn_rank"].append(rank)
    pq.write_table(
        pa.table(
            {
                "url": pa.array(rows["url"], pa.string()),
                "poi_id": pa.array(rows["poi_id"], pa.string()),
                "distance_km": pa.array(rows["distance_km"], pa.float64()),
                "distance_miles": pa.array(rows["distance_miles"], pa.float64()),
                "knn_rank": pa.array(rows["knn_rank"], pa.int32()),
            }
        ),
        out / "golden_knn3.parquet",
    )

    # --- golden_area: shoelace over isochrone WKB -------------------------
    # the per-polygon kernel is SHARED with the engine (geo.wkb.
    # polygon_measures) per the repo twin convention: on coordinates of
    # ~1.5e6 m the shoelace cancels ~8 digits, so any other summation
    # order can flip a rounded digit. A polygon's measures do not depend on
    # its table position (pinned by a test), so the poly_id order here and
    # the engine's scan order give the same bits. The golden's independence
    # lives in the orchestration (DuckDB read, grouping, Decimal exact
    # accumulation), not the per-ring float kernel.
    polys = duckdb.sql(
        f"select travel_time_minutes, travel_mode, geometry_wkb "
        f"from read_parquet('{out}/polygons.parquet') where kind = 'isochrone' "
        "order by poly_id"
    ).fetchall()
    from collections import defaultdict
    from decimal import Decimal

    iso_area = polygon_measures(wkb_ring_table([bytes(r[2]) for r in polys]))[0]
    groups: dict[tuple, list[Decimal]] = defaultdict(list)
    for (tt, tm, _), area in zip(polys, iso_area):
        groups[(tt, tm)].append(Decimal(repr(_round_half_up(float(area), 6))))
    area_rows = [
        (tt, tm, len(vals), float(sum(vals))) for (tt, tm), vals in sorted(groups.items())
    ]
    pq.write_table(
        pa.table(
            {
                "travel_time_minutes": pa.array([r[0] for r in area_rows], pa.int32()),
                "travel_mode": pa.array([r[1] for r in area_rows], pa.string()),
                "n_isochrones": pa.array([r[2] for r in area_rows], pa.int64()),
                "total_area_km2": pa.array([r[3] for r in area_rows], pa.float64()),
            }
        ),
        out / "golden_area.parquet",
    )

    # --- golden_centroids + golden_centroid_knn: F7 twin ------------------
    # centroid from the same shared kernel (geo.wkb.polygon_measures),
    # rounded half-up to 9 dp as the engine rounds, then brute-force
    # nearest POI from the ROUNDED centroid (mirroring the engine's
    # two-stage path exactly). Same shared-kernel rationale as golden_area.
    bg = duckdb.sql(
        f"select GEOID, geometry_wkb "
        f"from read_parquet('{out}/polygons.parquet') where kind = 'blockgroup' "
        "order by poly_id"
    ).fetchall()
    c_geoid = [r[0] for r in bg]
    _, bg_lat, bg_lon = polygon_measures(wkb_ring_table([bytes(r[1]) for r in bg]))
    c_lat = [_round_half_up(float(v), 9) for v in bg_lat]
    c_lon = [_round_half_up(float(v), 9) for v in bg_lon]
    pq.write_table(
        pa.table(
            {
                "GEOID": pa.array(c_geoid, pa.string()),
                "lat": pa.array(c_lat, pa.float64()),
                "lon": pa.array(c_lon, pa.float64()),
            }
        ),
        out / "golden_centroids.parquet",
    )
    cx_, cy_ = albers5070_forward(np.array(c_lat), np.array(c_lon))
    d_c = np.sqrt((cx_[:, None] - px[None, :]) ** 2 + (cy_[:, None] - py[None, :]) ** 2) / 1000.0
    rows_ck = {"GEOID": [], "poi_id": [], "distance_km": [], "distance_miles": []}
    for i in range(len(c_geoid)):
        j = min(range(len(poi_ids)), key=lambda j: (d_c[i, j], poi_ids[j]))
        rows_ck["GEOID"].append(c_geoid[i])
        rows_ck["poi_id"].append(poi_ids[j])
        rows_ck["distance_km"].append(float(d_c[i, j]))
        rows_ck["distance_miles"].append(float(d_c[i, j]) * KM_TO_MILES)
    pq.write_table(
        pa.table(
            {
                "GEOID": pa.array(rows_ck["GEOID"], pa.string()),
                "poi_id": pa.array(rows_ck["poi_id"], pa.string()),
                "distance_km": pa.array(rows_ck["distance_km"], pa.float64()),
                "distance_miles": pa.array(rows_ck["distance_miles"], pa.float64()),
            }
        ),
        out / "golden_centroid_knn.parquet",
    )

    # --- golden_classify: F16 schemes with no SQL-expressible oracle ------
    # (head_tail / fisher_jenks / natural_breaks). Cut computation SHARES
    # the engine's 1-D kernels (the repo shared-kernel twin convention —
    # see golden_area above); the golden independently re-derives the
    # cleansed wide values via DuckDB SQL and assigns bins with bisect
    # instead of the engine's Catalyst comparison chain.
    from bisect import bisect_left
    from decimal import ROUND_HALF_UP

    from socialmapper_spark.operators.classify import (
        _fisher_jenks_cuts,
        _jenks_caspall_cuts,
        _max_p_cuts,
    )

    wide_rows = duckdb.sql(
        f"""
        select * from (
            select geoid, max(case when variable_code = 'B19013_001E' then
                (case when value in (-999999999.0,-888888888.0,-666666666.0,
                                     -555555555.0,-222222222.0,-111111111.0) then null
                      when value < 0 then null
                      when value < -100000 then null
                      else value end) end) as value
            from read_parquet('{out}/census_long.parquet')
            group by geoid
        ) where value is not null order by geoid
        """
    ).fetchall()
    cg, cv = [r[0] for r in wide_rows], [float(r[1]) for r in wide_rows]

    def ht_cuts(values, max_iter=32):
        q6d = Decimal("0.000001")
        cuts, cur = [], list(values)
        for _ in range(max_iter):
            if not cur or max(cur) == min(cur):
                break
            s = sum(
                (Decimal(repr(v)).quantize(q6d, ROUND_HALF_UP) for v in cur),
                Decimal(0),
            )
            m = float(s) / len(cur)
            cuts.append(m)
            cur = [v for v in cur if v > m]
        mx = max(values)
        if not cuts or mx > cuts[-1]:
            cuts.append(mx)
        return cuts

    uniq_v, uniq_c = np.unique(np.asarray(cv), return_counts=True)
    fj = _fisher_jenks_cuts(uniq_v, uniq_c.astype(np.float64), 5)

    def nb_cuts(values, counts, k=5, max_iter=100):
        # deterministic 1-D k-means — same seeding/update as the engine
        cum = np.cumsum(counts)
        targets = (np.arange(1, k + 1) - 0.5) / k * cum[-1]
        cent = np.unique(values[np.searchsorted(cum, targets)])
        for _ in range(max_iter):
            bounds = (cent[:-1] + cent[1:]) / 2.0
            lab = np.searchsorted(bounds, values, side="right")
            new = np.array(
                [
                    np.average(values[lab == c], weights=counts[lab == c])
                    for c in range(len(cent))
                    if np.any(lab == c)
                ]
            )
            if len(new) == len(cent) and np.allclose(new, cent, rtol=0, atol=0):
                break
            cent = np.unique(new)
        bounds = (cent[:-1] + cent[1:]) / 2.0
        lab = np.searchsorted(bounds, values, side="right")
        return sorted(float(values[lab == c].max()) for c in np.unique(lab))

    cls_scheme, cls_g, cls_v, cls_b = [], [], [], []
    for scheme, cuts in [
        ("head_tail", ht_cuts(cv)),
        ("fisher_jenks", [float(c) for c in fj]),
        ("natural_breaks", nb_cuts(uniq_v, uniq_c.astype(np.float64))),
        ("jenks_caspall", _jenks_caspall_cuts(uniq_v, uniq_c.astype(np.float64), 5)),
        ("max_p", _max_p_cuts(uniq_v, uniq_c.astype(np.float64), 5)),
    ]:
        kk = len(cuts)
        for gid, v in zip(cg, cv):
            cls_scheme.append(scheme)
            cls_g.append(gid)
            cls_v.append(v)
            cls_b.append(min(bisect_left(cuts, v) + 1, kk))
    pq.write_table(
        pa.table(
            {
                "scheme": pa.array(cls_scheme, pa.string()),
                "geoid": pa.array(cls_g, pa.string()),
                "value": pa.array(cls_v, pa.float64()),
                "bin": pa.array(cls_b, pa.int32()),
            }
        ),
        out / "golden_classify.parquet",
    )

    # --- golden_zonal: per-polygon zonal statistics over the r9 raster ----
    # Independent orchestration (numpy pixel binning + brute-force
    # points_in_polygon on every polygon vs every pixel CENTER); the cell
    # math and the PIP kernel are the shared twins the engine's
    # spatial_join golden already relies on. Pixel centers are
    # (idx + 0.5) * size − origin in float64 — bit-identical to the
    # engine's Catalyst expression.
    from collections import Counter

    from socialmapper_spark.geo.cells import cell_ixy_np, cell_size_deg, encode_ixy
    from socialmapper_spark.geo.wkb import wkb_to_rings

    zsize = cell_size_deg(9)
    zcells = Counter()
    gl = duckdb.sql(
        f"select lat, lon from read_parquet('{out}/golden_geoparsed.parquet') "
        "where lat is not null"
    ).fetchall()
    zla = np.array([r[0] for r in gl])
    zlo = np.array([r[1] for r in gl])
    zix, ziy = cell_ixy_np(zla, zlo, 9)
    for ij in zip(zix.tolist(), ziy.tolist()):
        zcells[ij] += 1
    zkeys = sorted(zcells)
    zcx = np.array([(ix + 0.5) * zsize - 180.0 for ix, _ in zkeys])
    zcy = np.array([(iy + 0.5) * zsize - 90.0 for _, iy in zkeys])
    zvals = np.array([zcells[k] for k in zkeys], dtype=np.int64)
    zpolys = duckdb.sql(
        f"select poly_id, GEOID, kind, geometry_wkb "
        f"from read_parquet('{out}/polygons.parquet') order by poly_id"
    ).fetchall()
    from socialmapper_spark.geo.pip import points_in_ring

    zrows = {"poly_id": [], "GEOID": [], "kind": [], "n_pixels": [],
             "total_value": [], "mean_value": []}
    for pid, geoid, kind, wkb in zpolys:
        # even-odd over the FULL ring list (exteriors, holes, every
        # multipolygon member) — the exact twin of the engine's
        # pip_refine_expr, which folds one concatenated edge list
        mask = np.zeros(zcx.shape[0], dtype=bool)
        for polyrings in wkb_to_rings(bytes(wkb)):
            for ring in polyrings:
                mask ^= points_in_ring(zcx, zcy, ring)
        if not mask.any():
            continue
        n = int(mask.sum())
        tot = int(zvals[mask].sum())
        zrows["poly_id"].append(pid)
        zrows["GEOID"].append(geoid)
        zrows["kind"].append(kind)
        zrows["n_pixels"].append(n)
        zrows["total_value"].append(tot)
        zrows["mean_value"].append(tot / n)
    pq.write_table(
        pa.table(
            {
                "poly_id": pa.array(zrows["poly_id"], pa.string()),
                "GEOID": pa.array(zrows["GEOID"], pa.string()),
                "kind": pa.array(zrows["kind"], pa.string()),
                "n_pixels": pa.array(zrows["n_pixels"], pa.int64()),
                "total_value": pa.array(zrows["total_value"], pa.int64()),
                "mean_value": pa.array(zrows["mean_value"], pa.float64()),
            }
        ),
        out / "golden_zonal.parquet",
    )

    # --- golden_burn: polygon → r9 cells (center-rule), brute force -------
    # Independent orchestration vs the engine (bbox enumeration instead of
    # cover-children); same center arithmetic and the same even-odd ring
    # fold, so the refined sets must be identical.
    brows = {"cell": [], "poly_id": []}
    for pid, _geoid, _kind, wkb in zpolys:
        members = wkb_to_rings(bytes(wkb))
        allv = np.vstack([r for m in members for r in m])
        x0, y0 = cell_ixy_np(allv[:, 1].min(), allv[:, 0].min(), 9)
        x1, y1 = cell_ixy_np(allv[:, 1].max(), allv[:, 0].max(), 9)
        gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1), indexing="ij")
        gx, gy = gx.ravel(), gy.ravel()
        ccx = (gx + 0.5) * zsize - 180.0
        ccy = (gy + 0.5) * zsize - 90.0
        bmask = np.zeros(ccx.shape[0], dtype=bool)
        for polyrings in members:
            for ring in polyrings:
                bmask ^= points_in_ring(ccx, ccy, ring)
        for x, y in zip(gx[bmask].tolist(), gy[bmask].tolist()):
            brows["cell"].append(encode_ixy(9, x, y))
            brows["poly_id"].append(pid)
    pq.write_table(
        pa.table(
            {
                "cell": pa.array(brows["cell"], pa.int64()),
                "poly_id": pa.array(brows["poly_id"], pa.string()),
            }
        ),
        out / "golden_burn.parquet",
    )

    # --- custom_coords.csv: S3 tolerant-reader fixture --------------------
    lines = ["id,name,latitude,lng,city,rank"]
    rng = np.random.default_rng(4242)
    for i in range(10):
        la = round(float(rng.uniform(LAT0, LAT1)), 6)
        lo = round(float(rng.uniform(LON0, LON1)), 6)
        nm = f"Site {i}" if i % 3 else ""  # every 3rd row: name defaulted
        city = "Durham" if i % 4 == 0 else "Raleigh"  # S1 tag filter target
        lines.append(f"p{i:02d},{nm},{la},{lo},{city},{i}")
    lines.append("p10,No Coords,,,Durham,10")  # dropped by P2 predicate
    (out / "custom_coords.csv").write_text("\n".join(lines) + "\n")

    marker.touch()
    return out


CRAWL_VERSION = "c2"
CRAWL_HOSTS = 16


def ensure_crawl_fixture(sf_dir: str) -> pathlib.Path:
    """crawl_pages.parquet — a multi-snapshot web-crawl fixture in the
    input_hint shape (url, warc_ts, html, text, lang) for the crawl-table
    operators (operators/web.py: snapshot_dedup, host_stats).

    Unlike pages.parquet (one crawl per url), this models recrawls:
    n_urls = PAGE_COUNTS[sf]/10 urls across 16 hosts with a quadratic
    hot-host skew (host0 holds ~25% of urls — the web-domain analog of
    the urban hot-cell skew), each url crawled 1–4 times (snapshot count
    is a deterministic function of the url index), snapshot j stamped
    base_ts + j days with distinct text per snapshot. Every 17th url
    carries an explicit port and query string so host extraction is
    exercised against non-trivial authorities. Rows are shuffled so the
    file is NOT pre-grouped by url (the dedup must actually shuffle).
    Pure function of the scale name (seed 43), cached behind a marker.
    """
    out = geo_dir_for(sf_dir)
    out.mkdir(parents=True, exist_ok=True)
    marker = out / f".crawl_{CRAWL_VERSION}"
    if marker.exists():
        return out

    n_urls = max(PAGE_COUNTS[sf_name_from_dir(sf_dir)] // 10, 200)
    rng = np.random.default_rng(43)
    host_idx = np.minimum(
        (rng.uniform(0, 1, n_urls) ** 2 * CRAWL_HOSTS).astype(np.int64),
        CRAWL_HOSTS - 1,
    )
    # 1..4 snapshots, deterministic in the url index. NOTE: because
    # 2654435761 ≡ 1 (mod 4), the multiply is an identity under % 4 and
    # this is exactly 1 + i % 4 — a plain period-4 cycle over the url
    # index (and thus correlated with the i % 17 port/query branch), not
    # a pseudo-random spread. That is FINE for what the fixture needs
    # (a deterministic mix of 1–4 snapshots per url with known totals);
    # it is pinned as-is because golden row counts (15,000 raw snapshots
    # at sf0.01) and downstream oracle fixtures depend on it.
    n_snap = (1 + (np.arange(n_urls, dtype=np.uint64) * np.uint64(2654435761)) % 4).astype(
        np.int64
    )
    lang_u = np.array(["en", "es", "fr"], dtype=object)[
        np.searchsorted([0.7, 0.9], rng.uniform(0, 1, n_urls))
    ]

    def url_for(i: int, h: int) -> str:
        if i % 17 == 0:
            return f"https://host{h}.example.org:8443/item/{i}?ref=crawl"
        return f"https://host{h}.example.org/item/{i}"

    urls_u = np.array(
        [url_for(i, int(h)) for i, h in enumerate(host_idx)], dtype=object
    )
    rep = np.repeat(np.arange(n_urls), n_snap)
    snap = np.concatenate([np.arange(k) for k in n_snap])
    ts_us = EPOCH_US + rep * 1_000_000 + snap * 86_400_000_000
    texts = [
        f"crawl snapshot {int(s)} of item {int(i)} on host{int(host_idx[i])} "
        + (_EN_FILLER if lang_u[i] == "en" else _ES_FILLER)
        for i, s in zip(rep, snap)
    ]
    perm = rng.permutation(len(rep))
    tbl = pa.table(
        {
            "url": pa.array(urls_u[rep][perm], pa.string()),
            "warc_ts": pa.array(ts_us[perm], pa.timestamp("us", tz="UTC")),
            "html": pa.array(
                [b"<html><body>" + texts[j].encode() + b"</body></html>" for j in perm],
                pa.binary(),
            ),
            "text": pa.array([texts[j] for j in perm], pa.string()),
            "lang": pa.array(lang_u[rep][perm], pa.string()),
        }
    )
    # row_group_size: a row group is Spark's minimum split unit, so the
    # group count IS the fixture's max scan parallelism — 16384 capped
    # sf0.1 at 10 tasks and silently serialized every crawl-side scan
    # (measured: the admission gate ran ~9 s at BOTH 8 and 32 cores).
    # ~64 groups give full parallelism at every tested core count.
    pq.write_table(
        tbl, out / "crawl_pages.parquet",
        row_group_size=max(tbl.num_rows // 64, 256),
    )
    marker.touch()
    return out


if __name__ == "__main__":
    import sys

    for nm in sys.argv[1:] or ["sf0.001", "sf0.01"]:
        p = generate(nm)
        print("generated", p)
