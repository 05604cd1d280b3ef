"""Operator parity vs brute-force numpy goldens (SURVEY.md §5.2)."""

import pytest
from pyspark.sql import functions as F

from socialmapper_spark.operators.census import (
    demographic_summary,
    dedup_units,
    pivot_census,
)
from socialmapper_spark.operators.knn import knn_join
from socialmapper_spark.operators.spatial_join import prepare_polygons, spatial_join
from socialmapper_spark.pipeline import (
    flagship_query,
    geoparse_pages,
    iso_rollup,
    page_assignments,
)


@pytest.fixture(scope="module")
def tables(spark, geo_small):
    return {
        "pages": spark.read.parquet(f"{geo_small}/pages.parquet"),
        "polygons": spark.read.parquet(f"{geo_small}/polygons.parquet"),
        "pois": spark.read.parquet(f"{geo_small}/pois.parquet"),
        "census_long": spark.read.parquet(f"{geo_small}/census_long.parquet"),
        "golden_assignments": spark.read.parquet(f"{geo_small}/golden_assignments.parquet"),
        "golden_knn": spark.read.parquet(f"{geo_small}/golden_knn.parquet"),
    }


def test_spatial_join_matches_golden(spark, tables):
    """Two-phase PIP join must exactly reproduce the brute-force golden."""
    assigns = page_assignments(spark, tables["pages"], tables["polygons"])
    got = sorted(
        (r["url"], r["poly_id"], r["GEOID"], r["kind"])
        for r in assigns.select("url", "poly_id", "GEOID", "kind").collect()
    )
    exp = sorted(
        (r["url"], r["poly_id"], r["GEOID"], r["kind"])
        for r in tables["golden_assignments"].collect()
    )
    assert got == exp
    assert len(got) > 1000  # non-trivial fixture


def test_knn_broadcast_matches_golden(spark, tables):
    geop = geoparse_pages(tables["pages"])
    valid_pois = tables["pois"].filter(F.col("lat") <= 90)  # P1 quarantine
    got = {
        r["url"]: (r["poi_id"], round(r["distance_km"], 9))
        for r in knn_join(spark, geop, valid_pois, k=1, strategy="broadcast").collect()
    }
    exp = {
        r["url"]: (r["poi_id"], round(r["distance_km"], 9))
        for r in tables["golden_knn"].collect()
    }
    assert got == exp


def test_knn_kring_matches_broadcast(spark, tables):
    geop = geoparse_pages(tables["pages"]).limit(500)
    valid_pois = tables["pois"].filter(F.col("lat") <= 90)
    a = {
        (r["url"], r["knn_rank"]): (r["poi_id"], round(r["distance_km"], 9))
        for r in knn_join(spark, geop, valid_pois, k=2, strategy="broadcast").collect()
    }
    b = {
        (r["url"], r["knn_rank"]): (r["poi_id"], round(r["distance_km"], 9))
        for r in knn_join(spark, geop, valid_pois, k=2, strategy="kring").collect()
    }
    assert a == b


def test_pivot_census_cleanses_sentinels(spark, tables):
    wide = pivot_census(tables["census_long"])
    row = wide.agg(
        F.min("B01003_001E"), F.min("B19013_001E"), F.min("B01002_001E")
    ).collect()[0]
    # sentinels (-999999999 etc.) and negative B19 values must be NULL, so
    # minima stay within the generated value ranges
    assert row[0] >= 500.0
    assert row[1] >= 30000.0
    assert row[2] >= 25.0


def test_pivot_census_repeated_key_takes_max(spark):
    """A (geoid, variable_code) pair that repeats must pivot to the max of
    its cleansed values, as the DuckDB twin's max(case when ...) does, not
    to whichever row comes first. One partition, rows in input order."""
    from socialmapper_spark.session import local_frame

    long = local_frame(
        spark,
        [
            ("g1", "B01003_001E", 7.0),
            ("g1", "B01003_001E", 9.0),
            ("g2", "B01003_001E", -666666666.0),  # sentinel → NULL
            ("g2", "B01003_001E", 5.0),
        ],
        "geoid string, variable_code string, value double",
    ).coalesce(1)
    wide = pivot_census(long, ["B01003_001E"])
    assert sorted(map(tuple, wide.collect())) == [("g1", 9.0), ("g2", 5.0)]


def test_demographic_summary_dispatch(spark):
    df = spark.createDataFrame(
        [(100.0, 50000.0), (200.0, 70000.0), (None, None)],
        "B01003_001E double, B19013_001E double",
    )
    row = demographic_summary(df, ["B01003_001E", "B19013_001E"]).collect()[0]
    assert row["B01003_001E"] == 300.0  # sum
    assert row["B19013_001E"] == 60000.0  # mean


def test_dedup_units_rules(spark):
    df = spark.createDataFrame(
        [
            ("g1", "lib", "custom", "drive", 5.0, 15, 111.0, "b"),
            ("g1", "lib", "custom", "drive", 3.0, 10, 222.0, "a"),
            ("g2", "lib", "custom", "drive", 9.0, 15, 333.0, "c"),
        ],
        "census_block_group string, poi_name string, poi_type string, "
        "travel_mode string, distance_miles double, travel_time_minutes int, "
        "total_population double, url string",
    )
    out = {
        r["census_block_group"]: (r["distance_miles"], r["travel_time_minutes"], r["total_population"])
        for r in dedup_units(df, first_cols=["total_population"]).collect()
    }
    assert out["g1"] == (3.0, 10, 222.0)  # min, min, first-by-url ('a' row)
    assert out["g2"] == (9.0, 15, 333.0)


def test_flagship_query(spark, tables):
    out = flagship_query(
        spark, tables["pages"], tables["polygons"], tables["census_long"]
    ).collect()
    assert len(out) == 5  # five isochrones
    for r in out:
        assert r["travel_time_minutes"] == 15
        assert r["n_pages"] > 0
        assert r["total_population"] is not None and r["total_population"] > 0
        assert 30000.0 <= r["median_household_income"] <= 120000.0


def test_flagship_plan_parses_once_and_caches_nothing(spark, tables):
    """The coordinate regex appears once per capture group in the
    optimized plan (pushed-down filters used to copy it into every
    FilterExec), and the rollup persists nothing, so a call leaves the
    session's CacheManager as it found it."""
    spark.catalog.clearCache()
    df = flagship_query(spark, tables["pages"], tables["polygons"], tables["census_long"])
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().toString().count("regexp_extract(") == 2
    assert "InMemoryTableScan" not in qe.executedPlan().toString()
    df.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_flagship_sorts_without_range_exchange(spark, tables):
    """The one-row-per-isochrone result is sorted in one partition: the
    executed plan has no range-partitioning exchange (whose sampling job
    and map stage a global sort would start), and rows still come out
    ordered by iso_id."""
    df = flagship_query(spark, tables["pages"], tables["polygons"], tables["census_long"])
    ids = [r["iso_id"] for r in df.collect()]
    assert ids and ids == sorted(ids)
    assert "rangepartitioning" not in df._jdf.queryExecution().executedPlan().toString().lower()


def test_iso_rollup_hand_count(spark):
    """u1 lies in two isochrones and three block groups, g1 is shared by
    u1 and u2, u3 has an isochrone but no block group (so it counts
    nowhere), and g3 has no census rows (it still counts as a block
    group, with no population)."""
    assigns = spark.createDataFrame(
        [
            ("u1", "iso_a", None, "isochrone", 10),
            ("u1", "iso_b", None, "isochrone", 20),
            ("u1", "bg1", "g1", "blockgroup", None),
            ("u1", "bg2", "g2", "blockgroup", None),
            ("u1", "bg3", "g3", "blockgroup", None),
            ("u2", "iso_a", None, "isochrone", 10),
            ("u2", "bg1", "g1", "blockgroup", None),
            ("u3", "iso_b", None, "isochrone", 20),
            ("u4", "bg2", "g2", "blockgroup", None),
        ],
        "url string, poly_id string, GEOID string, kind string, travel_time_minutes int",
    )
    census = spark.createDataFrame(
        [
            ("g1", "B01003_001E", 100.0),
            ("g1", "B19013_001E", 50000.0),
            ("g2", "B01003_001E", 200.0),
            ("g2", "B19013_001E", 70000.0),
        ],
        "geoid string, variable_code string, value double",
    )
    got = [tuple(r) for r in iso_rollup(assigns, census).collect()]
    assert got == [
        ("iso_a", 10, 2, 3, 300.0, 60000.0),
        ("iso_b", 20, 1, 3, 300.0, 60000.0),
    ]


def test_spatial_join_plan_shape(spark, tables):
    """The points side must reach the join without a shuffle: broadcast
    hash join in phase 1, no Exchange on the pages scan side."""
    geop = geoparse_pages(tables["pages"]).filter(F.col("lat").isNotNull())
    index = prepare_polygons(spark, tables["polygons"])
    plan = spatial_join(geop, index, cell="cell_r7")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    first_exchange = plan.find("Exchange")
    assert first_exchange == -1 or "broadcast" in plan[first_exchange : first_exchange + 60].lower()
