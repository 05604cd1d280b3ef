"""Tests for albers inverse/centroids (F7), export sinks (S11/S12/S14/P5),
and multimodal frame sampling."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_albers_inverse_roundtrip():
    from socialmapper_spark.geo.albers import albers5070_forward, albers5070_inverse

    rng = np.random.default_rng(7)
    lat = rng.uniform(25.0, 49.0, 500)
    lon = rng.uniform(-124.0, -67.0, 500)
    x, y = albers5070_forward(lat, lon)
    lat2, lon2 = albers5070_inverse(x, y)
    assert np.max(np.abs(lat2 - lat)) < 1e-9
    assert np.max(np.abs(lon2 - lon)) < 1e-9


def test_polygon_centroid_square():
    from socialmapper_spark.geo.wkb import polygon_measures, polygon_to_wkb, wkb_ring_table

    # a small square: projected centroid ≈ geographic center (well within
    # 1e-4 deg for a 0.02° box)
    ring = np.array([[-78.62, 35.50], [-78.60, 35.50], [-78.60, 35.52], [-78.62, 35.52]])
    _, (lat,), (lon,) = polygon_measures(wkb_ring_table([polygon_to_wkb([ring])]))
    assert lat == pytest.approx(35.51, abs=1e-4)
    assert lon == pytest.approx(-78.61, abs=1e-4)


def test_unit_centroids_inside_cells(spark, geo_small):
    from socialmapper_spark.operators.stats import unit_centroids

    polys = spark.read.parquet(f"{geo_small}/polygons.parquet")
    cents = unit_centroids(polys).collect()
    grid = {r["poly_id"]: r for r in polys.filter(F.col("kind") == "blockgroup").collect()}
    assert len(cents) == len(grid)
    # every grid cell's centroid must be inside its own 0.05° square
    from socialmapper_spark.geo.wkb import wkb_to_rings

    for r in cents:
        rings = wkb_to_rings(bytes(grid[r["poly_id"]]["geometry_wkb"]))[0][0]
        lon_min, lat_min = rings.min(axis=0)
        lon_max, lat_max = rings.max(axis=0)
        assert lat_min < r["lat"] < lat_max
        assert lon_min < r["lon"] < lon_max


def test_polygon_measures_independent_of_table_order(geo_small):
    """A polygon's measures are the same bits whether it is measured in
    the whole table, alone, or in the reversed table — what lets the
    engine (parquet order) and the goldens (poly_id order) share the
    kernel."""
    import pyarrow.parquet as pq

    from socialmapper_spark.geo.wkb import polygon_measures, polygon_to_wkb, wkb_ring_table

    outer = np.array([[-79.0, 35.0], [-78.8, 35.0], [-78.8, 35.2], [-79.0, 35.2]])
    hole = np.array([[-78.95, 35.05], [-78.85, 35.05], [-78.85, 35.15], [-78.95, 35.15]])
    member = polygon_to_wkb([outer + [0.5, 0.3]])
    multi = b"\x01\x06\x00\x00\x00\x02\x00\x00\x00" + polygon_to_wkb([outer, hole]) + member
    wkbs = pq.read_table(f"{geo_small}/polygons.parquet").column("geometry_wkb").to_pylist()
    wkbs += [polygon_to_wkb([outer, hole]), multi]
    whole = np.stack(polygon_measures(wkb_ring_table(wkbs)), axis=1)
    reversed_ = np.stack(polygon_measures(wkb_ring_table(wkbs[::-1])), axis=1)[::-1]
    alone = np.concatenate([np.stack(polygon_measures(wkb_ring_table([b])), axis=1) for b in wkbs])
    assert len(whole) == len(wkbs) and np.isfinite(whole).all()
    assert whole.tobytes() == reversed_.tobytes() == alone.tobytes()


def test_zero_area_centroid_is_null(spark):
    """A polygon whose signed projected area sums to 0 has no centroid:
    lat/lon come back NULL (not a ZeroDivisionError in a Python worker),
    and the centroid-to-POI join drops the row."""
    from socialmapper_spark.geo.wkb import polygon_to_wkb
    from socialmapper_spark.operators.knn import knn_join
    from socialmapper_spark.operators.stats import unit_centroids

    square = np.array([[-78.62, 35.50], [-78.60, 35.50], [-78.60, 35.52], [-78.62, 35.52]])
    meridian = np.array([[-96.0, 35.0], [-96.0, 35.1], [-96.0, 35.2]])
    polys = spark.createDataFrame(
        [
            ("ok", "g_ok", "blockgroup", polygon_to_wkb([square])),
            ("meridian", "g_meridian", "blockgroup", polygon_to_wkb([meridian])),
            ("filled_hole", "g_filled", "blockgroup", polygon_to_wkb([square, square])),
        ],
        "poly_id string, GEOID string, kind string, geometry_wkb binary",
    )
    cents = {r["poly_id"]: (r["lat"], r["lon"]) for r in unit_centroids(polys).collect()}
    assert cents["meridian"] == cents["filled_hole"] == (None, None)
    assert cents["ok"][0] == pytest.approx(35.51, abs=1e-4)
    pois = spark.createDataFrame([("p1", 35.5, -78.6)], "id string, lat double, lon double")
    near = knn_join(spark, unit_centroids(polys), pois, k=1, strategy="broadcast", id_col="GEOID")
    assert [r["GEOID"] for r in near.collect()] == ["g_ok"]


def test_prepare_export_columns(spark):
    from socialmapper_spark.sinks import prepare_export_columns

    df = spark.createDataFrame(
        [(b"\x00", "g1", "p1", 1.0, "x")],
        "geometry_wkb binary, GEOID string, poi_id string, distance_miles double, other string",
    )
    out = prepare_export_columns(df)
    assert "geometry_wkb" not in out.columns
    assert out.columns[:3] == ["poi_id", "GEOID", "distance_miles"]
    assert out.columns[-1] == "other"


def test_export_units_csv_and_parquet(spark, tmp_path):
    from socialmapper_spark.sinks import export_units, select_export_format

    df = spark.createDataFrame(
        [("g1", 1.5), ("g2", 2.5)], "GEOID string, distance_miles double"
    )
    assert select_export_format(df) == "csv"  # tiny → csv
    fmt = export_units(df, str(tmp_path / "out_auto"))
    assert fmt == "csv"
    back = spark.read.option("header", "true").csv(str(tmp_path / "out_auto"))
    assert back.count() == 2 and "GEOID" in back.columns
    fmt2 = export_units(df, str(tmp_path / "out_pq"), fmt="parquet")
    assert fmt2 == "parquet"
    assert spark.read.parquet(str(tmp_path / "out_pq")).count() == 2


def test_frame_sample_shape(spark, geo_small):
    import hashlib

    from socialmapper_spark.operators.multimodal import frame_sample

    pages = spark.read.parquet(f"{geo_small}/pages.parquet").limit(10)
    out = frame_sample(pages, n_frames=3).collect()
    assert len(out) == 30
    by_url = {}
    for r in out:
        by_url.setdefault(r["url"], []).append(r)
    src = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    for url, rows in by_url.items():
        assert sorted(r["frame_idx"] for r in rows) == [0, 1, 2]
        digest = hashlib.md5(src[url]).hexdigest()
        for r in rows:
            want = hashlib.md5(f"{digest}:{r['frame_idx']}".encode()).hexdigest()
            assert r["frame_md5"] == want


def test_export_units_iceberg_degrades_actionably(spark):
    """No Iceberg runtime in this container: the sink must raise a
    RuntimeError that names the missing catalog/jar, not an opaque
    ClassNotFound/unresolved-relation error."""
    import pytest as _pytest

    from socialmapper_spark.sinks import export_units_iceberg

    df = spark.createDataFrame([(1, "a")], "id int, name string")
    with _pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        export_units_iceberg(df, "local.db.units")


def test_bucketed_join_has_no_shuffle(spark, geo_small, tmp_path):
    """Two tables bucketed on the same key and bucket count must join
    without a shuffle exchange on either side — the co-located join the
    engine's storage layout is designed around."""
    from socialmapper_spark.pipeline import geoparse_pages
    from socialmapper_spark.sinks import write_bucketed

    geop = geoparse_pages(spark.read.parquet(f"{geo_small}/pages.parquet")).filter(
        F.col("lat").isNotNull()
    )
    a = geop.select("url", "cell_r7", "lat")
    b = geop.select("url", "cell_r7", "lon")
    write_bucketed(a.withColumnRenamed("url", "url_a"), "bucket_a", buckets=8)
    write_bucketed(b.withColumnRenamed("url", "url_b"), "bucket_b", buckets=8)
    ta, tb = spark.table("bucket_a"), spark.table("bucket_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = ta.join(tb, "cell_r7")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # no shuffle either side
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("drop table if exists bucket_a")
        spark.sql("drop table if exists bucket_b")


def test_cell_prefix_partition_pruning(spark, geo_small, tmp_path):
    """A region-scoped filter on the pages table's partition column must
    reach the scan as a PartitionFilter (only matching directories read)."""
    from socialmapper_spark.pipeline import geoparse_pages
    from socialmapper_spark.sources.tables import read_pages_table, write_pages_table

    geop = geoparse_pages(spark.read.parquet(f"{geo_small}/pages.parquet")).filter(
        F.col("lat").isNotNull()
    )
    out = str(tmp_path / "pages_part")
    write_pages_table(geop.select("url", "cell_r7"), out)
    back = read_pages_table(spark, out)
    one = back.select("cell_prefix").first()["cell_prefix"]
    scan = back.filter(F.col("cell_prefix") == one)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell_prefix" in plan or (
        "PartitionFilters" in plan and str(one) in plan
    )
    n_all, n_one = back.count(), scan.count()
    assert 0 < n_one < n_all
