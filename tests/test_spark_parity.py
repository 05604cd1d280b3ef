"""Catalyst-vs-numpy twin parity: cell encode and geoparse must be
bit-identical between the Spark column expressions (production path) and
the pure-Python/numpy implementations (oracle path)."""

import numpy as np
from pyspark.sql import functions as F

from socialmapper_spark.geo.cells import cell_col, cell_np, cell_to_parent, cell_to_parent_col
from socialmapper_spark.geo.geoparse import geoparse_cols, geoparse_py


def test_cell_col_matches_cell_np(spark):
    rng = np.random.default_rng(7)
    lats = rng.uniform(-89.9, 89.9, 500)
    lons = rng.uniform(-180.0, 180.0, 500)
    pdf = spark.createDataFrame(
        [(float(a), float(o)) for a, o in zip(lats, lons)], "lat double, lon double"
    )
    for r in (7, 8, 9):
        got = np.array(
            [row[0] for row in pdf.select(cell_col(F.col("lat"), F.col("lon"), r)).collect()],
            dtype=np.int64,
        )
        np.testing.assert_array_equal(got, cell_np(lats, lons, r))


def test_cell_to_parent_col_matches(spark):
    rng = np.random.default_rng(8)
    lats = rng.uniform(-89.9, 89.9, 200)
    lons = rng.uniform(-180.0, 180.0, 200)
    cells9 = cell_np(lats, lons, 9)
    df = spark.createDataFrame([(int(c),) for c in cells9], "cell long")
    got = np.array(
        [r[0] for r in df.select(cell_to_parent_col(F.col("cell"), 9, 7)).collect()],
        dtype=np.int64,
    )
    expected = np.array([cell_to_parent(int(c), 7) for c in cells9], dtype=np.int64)
    np.testing.assert_array_equal(got, expected)
    np.testing.assert_array_equal(got, cell_np(lats, lons, 7))


def test_geoparse_cols_matches_py(spark, geo_small):
    pages = spark.read.parquet(f"{geo_small}/pages.parquet").limit(400)
    cols = geoparse_cols(F.col("text"))
    rows = pages.select(
        "text", cols["lat"].alias("lat"), cols["lon"].alias("lon"),
        cols["mentions"].alias("mentions"),
    ).collect()
    for row in rows:
        exp_lat, exp_lon, exp_m = geoparse_py(row["text"])
        assert row["lat"] == exp_lat, row["text"]
        assert row["lon"] == exp_lon, row["text"]
        assert list(row["mentions"]) == exp_m, row["text"]


def test_geoparse_golden_partition_invariance(spark, geo_small):
    """Byte-identical geoparse across partition counts (north_star)."""
    pages = spark.read.parquet(f"{geo_small}/pages.parquet")
    cols = geoparse_cols(F.col("text"))

    def run(df):
        out = df.select(
            "url", cols["lat"].alias("lat"), cols["lon"].alias("lon"),
            cols["mentions"].alias("mentions"),
        )
        return sorted(
            (r["url"], r["lat"], r["lon"], tuple(r["mentions"])) for r in out.collect()
        )

    a = run(pages.repartition(2))
    b = run(pages.repartition(17))
    assert a == b
    golden = spark.read.parquet(f"{geo_small}/golden_geoparsed.parquet")
    g = sorted(
        (r["url"], r["lat"], r["lon"], tuple(r["mentions"])) for r in golden.collect()
    )
    assert a == g


def test_geoparse_pages_filtered_matches_py(spark):
    """The production path (regex once behind a Generate, then the
    ``lat IS NOT NULL`` filter every PIP entry applies) equals the Python
    twin row for row on the sf0.01 pages."""
    import pyarrow.parquet as pq

    from socialmapper_spark.fixtures import geo_dir_for
    from socialmapper_spark.pipeline import geoparse_pages

    path = f"{geo_dir_for('sf0.01')}/pages.parquet"
    got = sorted(
        (r["url"], r["lat"], r["lon"], tuple(r["mentions"]))
        for r in geoparse_pages(spark.read.parquet(path))
        .filter(F.col("lat").isNotNull())
        .select("url", "lat", "lon", "mentions")
        .collect()
    )
    t = pq.read_table(path, columns=["url", "text"]).to_pydict()
    exp = sorted(
        (url, lat, lon, tuple(m))
        for url, (lat, lon, m) in zip(t["url"], map(geoparse_py, t["text"]))
        if lat is not None
    )
    assert len(exp) > 40000
    assert got == exp
