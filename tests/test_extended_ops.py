"""Tests for the extended operator set (S3/P6/A3-A6/F16/T4, events,
embedding near-dup). Oracle-level parity is covered by the driver gate
(scripts/check_correctness.py); these tests pin unit-level semantics the
oracles can't see — tolerant-reader column variants, sessionization gap
edges, stream/batch equivalence, LSH pair symmetry."""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


# --- S3 custom coordinates reader -------------------------------------------

def test_custom_coords_variants(spark, tmp_path):
    from socialmapper_spark.sources import read_custom_coordinates

    p = tmp_path / "pts.json"
    p.write_text(
        '[{"y": 35.5, "x": -78.9, "name": "A", "note": "n1"},'
        ' {"latitude": 35.6, "lng": -79.0, "note": "n2"},'
        ' {"y": null, "x": -78.0, "name": "dropme"}]'
    )
    out = read_custom_coordinates(spark, str(p)).orderBy("lat").collect()
    assert len(out) == 2  # null-coordinate row dropped (P2)
    assert out[0]["lat"] == 35.5 and out[0]["lon"] == -78.9
    assert out[0]["name"] == "A" and out[0]["type"] == "custom"
    assert out[0]["tags"] == {"note": "n1"}
    # missing name/id → deterministic hash-based defaults
    assert out[1]["name"].startswith("Custom POI custom_")
    assert out[1]["id"].startswith("custom_")


def test_custom_coords_missing_coords_raises(spark, tmp_path):
    from socialmapper_spark.sources import read_custom_coordinates

    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\n")
    with pytest.raises(ValueError, match="no coordinate column"):
        read_custom_coordinates(spark, str(p))


def test_tag_filter_builds_missing_extras(spark, geo_small, tmp_path, monkeypatch):
    """The tag_filter entry reads custom_coords.csv, an extras file. On a
    fixture dir holding only the base fixtures it builds the extras
    itself, as its sibling custom_coords does, instead of failing with
    PATH_NOT_FOUND until another entry has built them."""
    import pathlib
    import shutil

    from socialmapper_spark import fixtures

    fresh = tmp_path / "sf0.001"
    shutil.copytree(geo_small, fresh)
    for marker in fresh.glob(".extras_*"):
        marker.unlink()
    (fresh / "custom_coords.csv").unlink()
    monkeypatch.setattr(fixtures, "geo_dir_for", lambda sf_dir: fresh)
    monkeypatch.syspath_prepend(str(pathlib.Path(__file__).resolve().parents[1]))
    import __spark_entry__ as e

    rows = e.q_tag_filter(spark, "sf0.001").collect()
    assert rows and {r["city"] for r in rows} == {"Durham"}
    assert (fresh / "custom_coords.csv").exists()


# --- P6 state normalization --------------------------------------------------

def test_state_normalize_all_formats(spark):
    from socialmapper_spark.functions.states import normalize_state

    df = spark.createDataFrame(
        [("a", "NC"), ("b", "37"), ("c", "North Carolina"), ("d", " ca "),
         ("e", "06"), ("f", "6"), ("g", "Atlantis")],
        "id string, state string",
    )
    rows = {r["id"]: r for r in normalize_state(spark, df).collect()}
    for rid in ("a", "b", "c"):
        assert rows[rid]["state_fips"] == "37"
        assert rows[rid]["state_abbr"] == "NC"
        assert rows[rid]["state_name"] == "North Carolina"
    for rid in ("d", "e", "f"):
        assert rows[rid]["state_fips"] == "06"
    assert rows["g"]["state_fips"] is None  # unknown → NULL, not error


# --- A3 area -----------------------------------------------------------------

def _area_km2(wkb: bytes) -> float:
    from socialmapper_spark.geo.wkb import polygon_measures, wkb_ring_table

    return polygon_measures(wkb_ring_table([wkb]))[0][0]


def test_polygon_area_shoelace():
    from socialmapper_spark.geo.albers import albers5070_forward
    from socialmapper_spark.geo.wkb import polygon_to_wkb

    ring = np.array([[-79.0, 35.0], [-78.9, 35.0], [-78.9, 35.1], [-79.0, 35.1]])
    got = _area_km2(polygon_to_wkb([ring]))
    # independent cross-product shoelace on the projected ring
    x, y = albers5070_forward(ring[:, 1], ring[:, 0])
    x = np.append(x, x[0]); y = np.append(y, y[0])
    want = 0.5 * abs(np.sum(np.cross(np.stack([x[:-1], y[:-1]], 1),
                                     np.stack([x[1:], y[1:]], 1)))) / 1e6
    # shoelace on ~1.5e6 m coordinates cancels ~8 digits; 1e-6 relative is
    # the honest agreement bound between the two formulations
    assert got == pytest.approx(want, rel=1e-6)
    # ~0.1° × 0.1° near 35N ≈ 9.1 km × 11.1 km ≈ 101 km²
    assert 95 < got < 107


def test_polygon_area_with_hole():
    from socialmapper_spark.geo.wkb import polygon_to_wkb

    outer = np.array([[-79.0, 35.0], [-78.8, 35.0], [-78.8, 35.2], [-79.0, 35.2]])
    hole = np.array([[-78.95, 35.05], [-78.85, 35.05], [-78.85, 35.15], [-78.95, 35.15]])
    full = _area_km2(polygon_to_wkb([outer]))
    holed = _area_km2(polygon_to_wkb([outer, hole]))
    inner = _area_km2(polygon_to_wkb([hole]))
    assert holed == pytest.approx(full - inner, rel=1e-9)


# --- events: sessionize + stream/batch equivalence ---------------------------

def test_sessionize_gap_semantics(spark):
    from socialmapper_spark.operators.events import sessionize

    rows = [
        (1, "2024-01-01 00:00:00", 10, "a", 1.0, "{}"),
        (2, "2024-01-01 00:29:59", 10, "a", 2.0, "{}"),  # within 30 min → same
        (3, "2024-01-01 01:00:00", 10, "a", 3.0, "{}"),  # 30:01 gap → new
        (4, "2024-01-01 00:10:00", 20, "b", 4.0, "{}"),  # other user
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize(df, gap_minutes=30).orderBy("user_id", "session_seq").collect()
    assert [(r["user_id"], r["session_seq"], r["n_events"]) for r in out] == [
        (10, 1, 2), (10, 2, 1), (20, 1, 1),
    ]
    assert out[0]["total_value"] == 3.0


def test_sessionize_exact_gap_not_split(spark):
    from socialmapper_spark.operators.events import sessionize

    rows = [
        (1, "2024-01-01 00:00:00", 1, "a", 1.0, "{}"),
        (2, "2024-01-01 00:30:00", 1, "a", 1.0, "{}"),  # exactly 30 min → same
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize(df, gap_minutes=30).collect()
    assert len(out) == 1 and out[0]["n_events"] == 2


def test_sessionize_stream_equals_batch(spark):
    from socialmapper_spark.operators.events import sessionize, sessionize_stream
    from socialmapper_spark.streaming import parquet_stream

    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    batch = {tuple(r) for r in sessionize(events).collect()}
    source = parquet_stream(spark, SF_SMALL, "events.parquet")
    stream = {tuple(r) for r in sessionize_stream(source).collect()}
    assert batch == stream and len(batch) > 0


def test_window_rollup_stream_equals_batch(spark):
    from socialmapper_spark.operators.events import window_rollup, window_rollup_stream
    from socialmapper_spark.streaming import parquet_stream

    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    batch = {tuple(r) for r in window_rollup(events).collect()}
    source = parquet_stream(spark, SF_SMALL, "events.parquet")
    stream = {tuple(r) for r in window_rollup_stream(source).collect()}
    assert batch == stream and len(batch) > 0


# --- embedding near-dup ------------------------------------------------------

def test_embedding_near_dup_matches_bruteforce(spark):
    """Banded multi-table LSH near-dup: engine rows == the numpy twin's
    rows, and banded recall ≥ the old single-6-bit-table recall on the
    same corpus (the scale fix must not cost recall)."""
    from socialmapper_spark.operators.similarity import (
        NEAR_DUP_BAND_BITS,
        NEAR_DUP_BITS,
        NEAR_DUP_TABLES,
        NEAR_DUP_THRESHOLD,
        _planes,
        band_keys_py,
        embedding_near_dup_pairs,
        lsh_bucket_py,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    got = {
        (r["vec_a"], r["vec_b"]) for r in embedding_near_dup_pairs(spark, emb).collect()
    }
    rows = emb.orderBy("vec_id").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    dim = len(next(iter(vecs.values())))
    planes = _planes(dim, NEAR_DUP_TABLES * NEAR_DUP_BAND_BITS)
    keys = {
        vid: band_keys_py(v, planes, NEAR_DUP_TABLES, NEAR_DUP_BAND_BITS)
        for vid, v in vecs.items()
    }
    ids = sorted(vecs)

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        return (va @ vb) / (np.sqrt(va @ va) * np.sqrt(vb @ vb))

    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if not any(ka == kb for ka, kb in zip(keys[a], keys[b])):
                continue
            c = cos(a, b)
            if round(c, 6) >= NEAR_DUP_THRESHOLD + 1e-6 or (
                c >= NEAR_DUP_THRESHOLD - 1e-6 and (a, b) in got
            ):
                want.add((a, b))
    # brute force with a tolerance band: every clear pair found, nothing
    # outside the band reported
    assert want <= got
    for a, b in got:
        assert cos(a, b) >= NEAR_DUP_THRESHOLD - 1e-6
        assert any(ka == kb for ka, kb in zip(keys[a], keys[b]))

    # recall vs ground truth must not regress vs the old single-table form
    truth = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if cos(a, b) >= NEAR_DUP_THRESHOLD + 1e-6
    }
    planes1 = _planes(dim, NEAR_DUP_BITS)
    b1 = {vid: lsh_bucket_py(v, planes1) for vid, v in vecs.items()}
    single = {(a, b) for (a, b) in truth if b1[a] == b1[b]}
    if truth:
        assert len(got & truth) >= len(single)


def test_embedding_near_dup_hot_bucket_cap_bounds_pairs(spark):
    """max_bucket drops degenerate buckets: with a tiny cap the operator
    must emit no pair from any over-cap bucket (bounded Σ n_b² per
    table), while default-cap output is a superset."""
    from socialmapper_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    full = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(spark, emb).collect()
    }
    capped = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(spark, emb, max_bucket=3).collect()
    }
    assert capped <= full


def test_ivf_ann_recall_vs_exact(spark):
    from socialmapper_spark.fixtures import cosine_topk_py
    from socialmapper_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    qids = [0, 1, 2]
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    exact = cosine_topk_py(vecs, qids, 10)
    approx = ivf_ann_topk(spark, emb, qids, k=10).collect()
    exact_set = {(q, v) for q, v, _, _ in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    # every approx hit carries the same cosine the exact twin computed
    exact_cos = {(q, v): c for q, v, c, _ in exact}
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        if key in exact_cos:
            assert r["cosine"] == exact_cos[key]
    # nprobe=4 of 16 lists must still recover a reasonable share of top-10
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"


# --- raster ↔ vector ---------------------------------------------------------

def test_raster_roundtrip(spark, geo_small):
    from socialmapper_spark.operators.raster import (
        rasterize_counts,
        tile_arrays,
        vectorize_threshold,
    )
    from socialmapper_spark.pipeline import geoparse_pages

    geop = geoparse_pages(spark.read.parquet(f"{geo_small}/pages.parquet"))
    n_points = geop.filter(F.col("lat").isNotNull()).count()
    raster = rasterize_counts(geop)
    # mass conservation: pixel values sum to the point count
    assert raster.agg(F.sum("value")).first()[0] == n_points
    # pixel addresses are within the 32x32 tile
    bad = raster.filter(
        (F.col("px_row") < 0) | (F.col("px_row") > 31)
        | (F.col("px_col") < 0) | (F.col("px_col") > 31)
    ).count()
    assert bad == 0
    # dense tiles carry the same mass
    tiles = tile_arrays(raster).collect()
    assert sum(sum(t["values"]) for t in tiles) == n_points
    assert all(t["side"] == 32 and len(t["values"]) == 1024 for t in tiles)
    # vectorize: every hotspot cell's bounds contain ≥ threshold points
    hot = vectorize_threshold(raster, threshold=5, with_wkb=True).collect()
    assert len(hot) > 0
    pts = geop.filter(F.col("lat").isNotNull()).select("lat", "lon").collect()
    for h in hot[:5]:
        inside = sum(
            1 for p in pts
            if h["lat_min"] <= p["lat"] < h["lat_max"]
            and h["lon_min"] <= p["lon"] < h["lon_max"]
        )
        assert inside == h["value"]
        assert h["geometry_wkb"] is not None
    # raster→vector→raster closes: hotspot cells re-encode to themselves
    from socialmapper_spark.geo.cells import cell_np

    for h in hot[:5]:
        mid_lat = (h["lat_min"] + h["lat_max"]) / 2
        mid_lon = (h["lon_min"] + h["lon_max"]) / 2
        assert int(cell_np([mid_lat], [mid_lon], 9)[0]) == h["cell"]


# --- F16 quantile bins -------------------------------------------------------

def test_quantile_bins_balanced(spark, geo_small):
    from socialmapper_spark.operators.census import pivot_census
    from socialmapper_spark.operators.stats import quantile_bins

    wide = pivot_census(spark.read.parquet(f"{geo_small}/census_long.parquet"))
    out = quantile_bins(wide, "B19013_001E", k=5)
    counts = {r["bin"]: r["n"] for r in out.groupBy("bin").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {1, 2, 3, 4, 5}
    assert max(counts.values()) - min(counts.values()) <= 1  # ntile balance


def test_quantile_bins_scale_safe_plan_and_ntile_parity(spark):
    """quantile_bins must not funnel the table through a single task (no
    un-partitioned window / SinglePartition exchange) yet still reproduce
    ntile's bucket arithmetic exactly — including boundaries that split a
    tie group, which value-based bin edges cannot express."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from socialmapper_spark.operators.stats import quantile_bins

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "geoid": [f"g{i:04d}" for i in range(997)],
            "B19013_001E": np.round(rng.uniform(1, 60, 997), 0),  # heavy ties
        }
    )
    df = spark.createDataFrame(pdf)
    out = quantile_bins(df, "B19013_001E", k=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    w = Window.orderBy(F.col("B19013_001E").asc_nulls_last(), F.col("geoid").asc())
    ref = df.select(
        "geoid",
        F.col("B19013_001E").alias("value"),
        F.ntile(7).over(w).alias("bin"),
    )
    got = {r["geoid"]: (r["value"], r["bin"]) for r in out.collect()}
    exp = {r["geoid"]: (r["value"], r["bin"]) for r in ref.collect()}
    assert got == exp


# --- P7 variable normalization ----------------------------------------------

def test_variable_normalization():
    from socialmapper_spark.functions.variables import (
        code_to_name,
        is_calculated_variable,
        is_census_code,
        normalize_variable,
        normalize_variables,
    )

    assert is_census_code("B01003_001E")
    assert not is_census_code("b01003_001e")
    assert not is_census_code("B1003_001E")
    assert normalize_variable("Total_Population") == "B01003_001E"
    assert normalize_variable("median_income") == "B19013_001E"
    # codes pass through untouched, unknown names pass through untouched
    assert normalize_variable("B99999_001E") == "B99999_001E"
    assert normalize_variable("custom_thing") == "custom_thing"
    assert is_calculated_variable("percent_without_vehicle")
    assert normalize_variable("percent_without_vehicle") == [
        "B25044_003E",
        "B25044_010E",
    ]
    # expansion + order-preserving dedup (pipeline/census.py:44-58)
    assert normalize_variables(
        ["population", "percent_without_vehicle", "B25044_003E", "total_population"]
    ) == ["B01003_001E", "B25044_003E", "B25044_010E"]
    assert code_to_name("B19013_001E") in ("median_income", "median_household_income")


def test_demographic_summary_accepts_names(spark):
    from socialmapper_spark.operators.census import demographic_summary

    df = spark.createDataFrame(
        [(100.0, 50000.0, 10.0, 5.0), (200.0, 70000.0, 20.0, None)],
        "B01003_001E double, B19013_001E double, B25044_003E double, B25044_010E double",
    )
    row = demographic_summary(
        df, ["total_population", "median_income", "percent_without_vehicle"]
    ).collect()[0]
    assert row["B01003_001E"] == 300.0
    assert row["B19013_001E"] == 60000.0
    assert row["percent_without_vehicle"] == 35.0  # 30 + 5


def test_zcta_prefix_map():
    import pytest as _pytest

    from socialmapper_spark.functions.zcta import zcta_prefixes_for_state

    assert zcta_prefixes_for_state("37") == ["27", "28"]
    assert zcta_prefixes_for_state("6") == ["90", "91", "92", "93", "94", "95", "96"]
    with _pytest.raises(ValueError):
        zcta_prefixes_for_state("99")


# --- F1 haversine (VERDICT r1: implemented but never exercised) --------------

def test_haversine_known_distances(spark):
    import math

    from socialmapper_spark.functions.scalar import EARTH_RADIUS_KM, haversine_km

    df = spark.createDataFrame(
        [
            ("raleigh_durham", 35.7796, -78.6382, 35.9940, -78.8986),
            ("equator_degree", 0.0, 0.0, 0.0, 1.0),
            ("same_point", 35.0, -79.0, 35.0, -79.0),
            ("antipodal", 0.0, 0.0, 0.0, 180.0),
        ],
        "name string, lat1 double, lon1 double, lat2 double, lon2 double",
    )
    got = {
        r["name"]: r["d"]
        for r in df.select(
            "name",
            haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d"),
        ).collect()
    }
    # python twin of the reference formula (clustering.py:185-201)
    def hav(lat1, lon1, lat2, lon2):
        rl1, rl2 = math.radians(lat1), math.radians(lat2)
        dlat, dlon = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
        a = math.sin(dlat / 2) ** 2 + math.cos(rl1) * math.cos(rl2) * math.sin(dlon / 2) ** 2
        return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(a))

    assert got["same_point"] == 0.0
    assert abs(got["equator_degree"] - math.pi * EARTH_RADIUS_KM / 180.0) < 1e-9
    assert abs(got["antipodal"] - math.pi * EARTH_RADIUS_KM) < 1e-9
    assert abs(got["raleigh_durham"] - hav(35.7796, -78.6382, 35.9940, -78.8986)) < 1e-9
    assert 30.0 < got["raleigh_durham"] < 35.0  # sanity: ~33 km


# --- F15 speed clamp ---------------------------------------------------------

def test_speed_clamp_matches_reference_rule(spark):
    from socialmapper_spark.functions.travel import (
        TRAVEL_MODE_CONFIGS,
        clamp_speed_col,
        clamp_speed_py,
    )

    rows = [
        ("walk", 1.0), ("walk", 5.0), ("walk", 99.0),
        ("bike", 1.0), ("bike", 15.0), ("bike", 50.0),
        ("drive", 10.0), ("drive", 60.0), ("drive", 200.0),
        ("rocket", 1000.0),
    ]
    df = spark.createDataFrame(rows, "travel_mode string, speed double")
    got = {
        (r["travel_mode"], r["speed"]): r["clamped"]
        for r in df.select(
            "travel_mode", "speed",
            clamp_speed_col(F.col("travel_mode"), F.col("speed")).alias("clamped"),
        ).collect()
    }
    for mode, speed in rows:
        if mode in TRAVEL_MODE_CONFIGS:
            assert got[(mode, speed)] == clamp_speed_py(mode, speed)
        else:
            assert got[(mode, speed)] is None


# --- P4 geometry validity ----------------------------------------------------

def test_validate_geometries_quarantine(spark):
    import struct

    import numpy as np

    from socialmapper_spark.geo.wkb import polygon_to_wkb
    from socialmapper_spark.operators.spatial_join import validate_geometries

    def multi(*members):
        return struct.pack("<BII", 1, 6, len(members)) + b"".join(members)

    tri = np.array([[0.0, 0.0], [1.0, 0.0], [0.5, 1.0]])
    good = polygon_to_wkb([tri])
    square = np.array([[2.0, 0.0], [4.0, 0.0], [4.0, 2.0], [2.0, 2.0]])
    hole = np.array([[2.5, 0.5], [3.5, 0.5], [3.5, 1.5], [2.5, 1.5]])
    degenerate = bytes.fromhex(
        "0103000000010000000200000000000000000000000000000000000000"
        "000000000000f03f000000000000f03f"
    )
    nan_ring = polygon_to_wkb(
        [np.array([[0.0, 0.0], [float("nan"), 0.0], [0.5, 1.0]])]
    )
    nan_hole = polygon_to_wkb([square, hole * [1.0, float("nan")]])
    inf_coord = polygon_to_wkb([np.array([[0.0, 0.0], [float("inf"), 0.0], [0.5, -float("inf")]])])
    closed = np.vstack([tri, tri[:1]])
    big_endian = struct.pack(">BIII", 0, 3, 1, len(closed)) + closed.astype(">f8").tobytes()
    df = spark.createDataFrame(
        [
            ("ok", bytearray(good)),
            ("multi_ok", bytearray(multi(good, polygon_to_wkb([square, hole])))),
            ("null_geom", None),
            ("truncated", bytearray(b"\x01\x06\x00")),
            ("two_point_ring", bytearray(degenerate)),
            ("nan_coord", bytearray(nan_ring)),
            ("no_members", bytearray(multi())),
            ("member_no_rings", bytearray(multi(good, struct.pack("<BII", 1, 3, 0)))),
            ("nan_in_hole", bytearray(nan_hole)),
            ("inf_coord", bytearray(inf_coord)),
            ("second_member_two_points", bytearray(multi(good, degenerate))),
            ("point", bytearray(struct.pack("<BIdd", 1, 1, 0.0, 0.0))),
            ("big_endian", bytearray(big_endian)),
        ],
        "poly_id string, geometry_wkb binary",
    )
    valid, invalid = validate_geometries(df)
    assert {r["poly_id"] for r in valid.collect()} == {"ok", "multi_ok"}
    assert {r["poly_id"] for r in invalid.collect()} == {
        "null_geom", "truncated", "two_point_ring", "nan_coord", "no_members",
        "member_no_rings", "nan_in_hole", "inf_coord", "second_member_two_points",
        "point", "big_endian",
    }


def test_sessionize_stream_multibatch_equals_batch(spark, tmp_path):
    """Sessions spanning micro-batch boundaries must NOT be emitted as
    split fragments: events split into 3 time-ordered files drained with
    maxFilesPerTrigger=1 (3 micro-batches) must equal the batch plan."""
    import pandas as pd

    from socialmapper_spark.operators.events import sessionize, sessionize_stream
    from socialmapper_spark.streaming import parquet_stream

    rng_rows = []
    # 20 users, sessions deliberately crossing the file split points
    base = pd.Timestamp("2024-01-01 00:00:00")
    eid = 0
    for u in range(20):
        t = base + pd.Timedelta(minutes=u * 3)
        for s in range(4):  # 4 sessions per user
            for k in range(5):  # 5 events, 10 min apart (gap stays open)
                rng_rows.append((eid, u, t, float(u + s + k) + 0.25))
                eid += 1
                t += pd.Timedelta(minutes=10)
            t += pd.Timedelta(minutes=45)  # close the session (> 30 min)
    pdf = pd.DataFrame(rng_rows, columns=["event_id", "user_id", "ts", "value"])
    pdf = pdf.sort_values("ts").reset_index(drop=True)
    d = tmp_path / "stream_in"
    d.mkdir()
    # 3 time-ordered files; per-user event order follows file order
    cut = len(pdf) // 3
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, part in enumerate([pdf[:cut], pdf[cut : 2 * cut], pdf[2 * cut :]]):
        tbl = pa.Table.from_pandas(part, preserve_index=False).set_column(
            2, "ts", pa.Array.from_pandas(part["ts"]).cast(pa.timestamp("us"))
        )
        pq.write_table(tbl, d / f"part{i}.parquet")

    events = spark.createDataFrame(pdf)
    batch = {tuple(r) for r in sessionize(events).collect()}
    stream = {
        tuple(r)
        for r in sessionize_stream(
            parquet_stream(spark, str(d), "*.parquet", max_files_per_trigger=1)
        ).collect()
    }
    assert stream == batch
    assert len(batch) == 80  # 20 users x 4 sessions


# --- F16 classification schemes ----------------------------------------------

def test_fisher_jenks_dp_optimal():
    """DP cuts must match brute-force optimal within-class SSQ partition."""
    import numpy as np
    from itertools import combinations

    from socialmapper_spark.operators.classify import _fisher_jenks_cuts

    rng = np.random.default_rng(9)
    vals = np.sort(np.round(rng.uniform(0, 100, 14), 1))
    u, c = np.unique(vals, return_counts=True)
    cuts = _fisher_jenks_cuts(u, c.astype(float), 4)

    def ssq(groups):
        return sum(((np.asarray(g) - np.mean(g)) ** 2).sum() for g in groups if len(g))

    best = None
    for idx in combinations(range(1, len(vals)), 3):
        parts_ = np.split(vals, idx)
        s = ssq(parts_)
        if best is None or s < best:
            best = s
    got = ssq(np.split(vals, np.searchsorted(vals, cuts[:-1], side="right")))
    assert abs(got - best) < 1e-9


def test_classification_schemes_partition_everything(spark, geo_small):
    """Every scheme must assign every non-null row exactly one bin in
    [1, k], and together the bins must cover the table."""
    from socialmapper_spark.operators import classify as C
    from socialmapper_spark.operators.census import pivot_census

    wide = pivot_census(spark.read.parquet(f"{geo_small}/census_long.parquet"))
    n = wide.filter(F.col("B19013_001E").isNotNull()).count()
    for fn, kmax in [
        (C.std_mean_bins, 5),
        (C.percentile_bins, 6),
        (C.box_plot_bins, 6),
        (C.maximum_breaks_bins, 5),
        (C.fisher_jenks_bins, 5),
        (C.natural_breaks_bins, 5),
        (C.defined_interval_bins, 5),
    ]:
        rows = fn(wide).collect()
        assert len(rows) == n, fn.__name__
        assert all(1 <= r["bin"] <= kmax for r in rows), fn.__name__


def test_fisher_jenks_sampled_caps_histogram(spark, geo_small):
    from socialmapper_spark.operators import classify as C
    from socialmapper_spark.operators.census import pivot_census

    wide = pivot_census(spark.read.parquet(f"{geo_small}/census_long.parquet"))
    out = C.fisher_jenks_bins(wide, sample_cap=100)
    n = wide.filter(F.col("B19013_001E").isNotNull()).count()
    assert out.count() == n  # assignment still covers every row
    assert out.agg(F.max("bin")).collect()[0][0] <= 5


# --- neighbors + bbox helpers ------------------------------------------------

def test_state_neighbors_reference_examples():
    from socialmapper_spark.functions.neighbors import (
        get_neighboring_counties,
        get_neighboring_states,
    )

    # doctest examples from reference neighbors.py:40-45
    assert get_neighboring_states("37") == ["13", "45", "47", "51"]
    assert get_neighboring_states("06") == ["04", "32", "41"]
    assert get_neighboring_states("6") == ["04", "32", "41"]  # zfill
    assert get_neighboring_states("99") == []
    # verbatim-parity note: the reference map is NOT fully symmetric
    # (e.g. FL lists AL but AL omits FL, census/__init__.py:335,343);
    # the engine reproduces the reference data as-is, asymmetries included
    from socialmapper_spark.functions.neighbors import STATE_NEIGHBORS

    assert "01" in STATE_NEIGHBORS["12"] and "12" not in STATE_NEIGHBORS["01"]
    assert len(STATE_NEIGHBORS) == 48
    # reference contract: county neighbors unimplemented upstream
    assert get_neighboring_counties("37183") == []


def test_poi_bounding_box(spark):
    from socialmapper_spark.functions.bbox import buffer_km_to_deg, poi_bounding_box

    df = spark.createDataFrame(
        [(35.0, -79.0), (36.0, -78.0), (None, -70.0)], "lat double, lon double"
    )
    row = poi_bounding_box(df, buffer_km=111.0).collect()[0]
    assert row["min_lat"] == 34.0 and row["max_lat"] == 37.0
    assert row["min_lon"] == -80.0 and row["max_lon"] == -77.0
    assert buffer_km_to_deg(5.0) == 5.0 / 111.0


def test_cluster_network_bboxes_adaptive(spark):
    from socialmapper_spark.functions.bbox import cluster_network_bboxes

    df = spark.createDataFrame(
        [("a", 35.0, -79.0), ("a", 35.2, -78.8), ("b", 36.0, -78.0)],
        "cluster string, lat double, lon double",
    )
    rows = {r["cluster"]: r for r in cluster_network_bboxes(df, "cluster").collect()}
    # adaptive buffer: 2 + 15/15 + n/10 km over 111
    ba = (2.0 + 1.0 + 2.0 / 10.0) / 111.0
    bb = (2.0 + 1.0 + 1.0 / 10.0) / 111.0
    assert abs(rows["a"]["min_lat"] - (35.0 - ba)) < 1e-12
    assert abs(rows["a"]["max_lon"] - (-78.8 + ba)) < 1e-12
    assert abs(rows["b"]["min_lat"] - (36.0 - bb)) < 1e-12
    assert rows["a"]["n_pois"] == 2 and rows["b"]["n_pois"] == 1


def test_sanitize_filename_reference_rules():
    import pytest as _pytest

    from socialmapper_spark.functions.filenames import sanitize_filename

    assert sanitize_filename("my map: v2?.png") == "my map v2.png"
    assert sanitize_filename("../../etc/passwd") == "etcpasswd"
    assert sanitize_filename("  .report. ") == "report"
    assert sanitize_filename("a\x00b<c>.csv") == "abc.csv"
    with _pytest.raises(ValueError):
        sanitize_filename("???")
    with _pytest.raises(ValueError):
        sanitize_filename("CON.txt")
    with _pytest.raises(ValueError):
        sanitize_filename("lpt1.csv")


def test_jenks_caspall_partitions_and_converges(spark, geo_small):
    from socialmapper_spark.operators.census import pivot_census
    from socialmapper_spark.operators.classify import jenks_caspall_bins

    wide = pivot_census(spark.read.parquet(f"{geo_small}/census_long.parquet"))
    out = jenks_caspall_bins(wide).collect()
    n = wide.filter(F.col("B19013_001E").isNotNull()).count()
    assert len(out) == n
    bins = {r["bin"] for r in out}
    assert bins == set(range(1, len(bins) + 1)) and 2 <= len(bins) <= 5
    # classes are contiguous in value: max of bin b < min of bin b+1
    import collections

    by_bin = collections.defaultdict(list)
    for r in out:
        by_bin[r["bin"]].append(r["value"])
    for b in range(1, len(bins)):
        assert max(by_bin[b]) < min(by_bin[b + 1])


def test_classify_fewer_distinct_values_than_classes(spark):
    """k larger than the distinct-value count must degrade to one class
    per distinct value, never divide-by-zero or emit empty classes."""
    from socialmapper_spark.operators.classify import (
        fisher_jenks_bins,
        jenks_caspall_bins,
        natural_breaks_bins,
        std_mean_bins,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0), ("c", 2.0), ("d", 2.0), ("e", 3.0)],
        "geoid string, B19013_001E double",
    )
    for fn in (fisher_jenks_bins, natural_breaks_bins, jenks_caspall_bins):
        rows = fn(df, k=5).collect()
        assert len(rows) == 5, fn.__name__
        by_val = {}
        for r in rows:
            by_val.setdefault(r["value"], set()).add(r["bin"])
        # equal values always share a bin; bins increase with value
        assert all(len(s) == 1 for s in by_val.values()), fn.__name__
        order = [next(iter(by_val[v])) for v in sorted(by_val)]
        assert order == sorted(order), fn.__name__
    assert std_mean_bins(df).count() == 5


def test_sessionize_empty_input(spark):
    from socialmapper_spark.operators.events import sessionize

    empty = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
    )
    assert sessionize(empty).count() == 0


def test_classify_all_null_variable_returns_empty(spark):
    """An all-sentinel/null variable must yield an empty frame from every
    scheme (quantile_bins behavior), never a crash."""
    from socialmapper_spark.operators import classify as C
    from socialmapper_spark.operators.stats import quantile_bins

    df = spark.createDataFrame(
        [("a", None), ("b", None)], "geoid string, B19013_001E double"
    )
    for fn in (
        quantile_bins,
        C.std_mean_bins,
        C.percentile_bins,
        C.box_plot_bins,
        C.maximum_breaks_bins,
        C.head_tail_bins,
        C.fisher_jenks_bins,
        C.natural_breaks_bins,
        C.jenks_caspall_bins,
        C.defined_interval_bins,
    ):
        assert fn(df).count() == 0, fn.__name__


def test_jenks_caspall_fixed_point_property(spark, geo_small):
    """Independent pin of the J-C cuts (the golden shares the kernel, so
    this is the non-circular check): at the fixed point every value must
    be at least as close to its own class mean as to any other class
    mean."""
    import numpy as np

    from socialmapper_spark.operators.census import pivot_census
    from socialmapper_spark.operators.classify import jenks_caspall_bins

    wide = pivot_census(spark.read.parquet(f"{geo_small}/census_long.parquet"))
    rows = jenks_caspall_bins(wide).collect()
    by_bin = {}
    for r in rows:
        by_bin.setdefault(r["bin"], []).append(r["value"])
    means = {b: float(np.mean(v)) for b, v in by_bin.items()}
    for b, vals_ in by_bin.items():
        for v in vals_:
            own = abs(v - means[b])
            assert all(
                own <= abs(v - m) + 1e-9 for bb, m in means.items() if bb != b
            ), (v, b)
