"""End-to-end pipelines (SURVEY.md §3.5) — the engine's flagship query.

Flagship (SURVEY.md §7.4, mirroring reference tutorial 01 +
api/client.py:259-291): per travel-time-band (isochrone), the demographic
summary over the census block groups whose pages fall inside the band —
pages → geoparse → cell index → two-phase PIP vs isochrones AND block
groups → census pivot-join (sentinel-cleansed) → A1 aggregation
(sum population / mean income).

Plan shape at scale: each page's coordinate regex runs once, the pages
scan is joined against broadcast polygon indexes (no shuffle of the big
side), the url-level iso×blockgroup pairing shuffles only matched rows
on url, and the rollup after it is one chain of hash aggs on (iso, GEOID)
pairs — tiny, with nothing persisted. Hot-cell skew in the pages table
never reaches a shuffle boundary with the page row attached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from socialmapper_spark.geo.geoparse import geoparse_cols, pair_strings
from socialmapper_spark.operators.census import dmean, dsum, pivot_census
from socialmapper_spark.operators.spatial_join import (
    PREFILTER_RES,
    add_cells,
    prepare_polygons,
    spatial_join,
)


def geoparse_pages(pages: DataFrame) -> DataFrame:
    """pages → geoparsed(url, warc_ts, lang, lat, lon, mentions, cell_r7/8/9).

    Pure Catalyst — regexp + array ops + arithmetic; no UDF, no shuffle.
    The coordinate regex runs once per page, behind a one-row ``inline``
    ``Generate``: filters on lat/lon/cells (``lat IS NOT NULL``, a join's
    inferred ``isnotnull(cell_r7)``) cannot be pushed below it, so they
    never copy the regex (see ``geo/geoparse.py``).
    """
    raw_lat, raw_lon = pair_strings(F.col("text"))
    extracted = pages.select(
        "url", "warc_ts", "lang", "text",
        F.inline(F.array(F.struct(raw_lat.alias("raw_lat"), raw_lon.alias("raw_lon")))),
    )
    g = geoparse_cols(F.col("text"), F.col("raw_lat"), F.col("raw_lon"))
    return add_cells(extracted.select("url", "warc_ts", "lang",
                                      *[g[c].alias(c) for c in ("lat", "lon", "mentions")]))


def page_assignments(spark: SparkSession, pages: DataFrame, polygons: DataFrame) -> DataFrame:
    """pages × polygons containment → (url, poly_id, GEOID, kind, cell_r9).

    The J2 point-in-polygon assignment; output mirrors GeocodeResult
    (reference entities.py:101-113) with poly metadata joined back.
    """
    geop = geoparse_pages(pages).filter(F.col("lat").isNotNull())
    index = prepare_polygons(spark, polygons, PREFILTER_RES)
    hits = spatial_join(geop, index, cell="cell_r7")
    return hits.join(F.broadcast(index.meta_df), "poly_id").select(
        "url", "poly_id", "GEOID", "kind", "cell_r9",
        "travel_time_minutes", "travel_mode",
    )


def flagship_query(
    spark: SparkSession,
    pages: DataFrame,
    polygons: DataFrame,
    census_long: DataFrame,
) -> DataFrame:
    """Per-isochrone demographic summary (travel-time-band aggregation).

    Returns one row per isochrone poly_id:
      (iso_id, travel_time_minutes, n_pages, n_block_groups,
       total_population, median_household_income)
    ordered by iso_id. Median income is the plain mean of block-group
    medians — reference semantics, deliberately not weighted
    (api/client.py:283-286).
    """
    return iso_rollup(page_assignments(spark, pages, polygons), census_long)


def iso_rollup(assigns: DataFrame, census_long: DataFrame) -> DataFrame:
    """The flagship's rollup of (url, poly_id, GEOID, kind,
    travel_time_minutes) assignments; a page counts for an isochrone only
    if it also falls in some block group.

    One consumer chain, so nothing is persisted: the per-url agg (map-side
    combined, the only shuffle carrying urls) collects each page's
    isochrones and block groups, so the PIP join runs exactly once. Each
    (url, iso) row then posexplodes its block groups; exactly one of them
    has pos 0, so summing ``count_if(pos = 0)`` over an isochrone's
    (iso, bg) groups counts its pages. The pivot has one row per geoid, so
    after the left join ``count(*)`` counts distinct block groups. The
    result has one row per isochrone, so it is sorted in one partition: a
    global ``orderBy`` would start a range-sampling job and a map stage of
    its own.
    """
    iso = F.when(F.col("kind") == "isochrone", F.struct("poly_id", "travel_time_minutes"))
    bg = F.when(F.col("kind") == "blockgroup", F.col("GEOID"))
    per_url = (
        assigns.groupBy("url")
        .agg(F.collect_set(iso).alias("isos"), F.collect_set(bg).alias("bgs"))
        .filter((F.size("isos") > 0) & (F.size("bgs") > 0))
    )
    pairs = per_url.select(F.explode("isos").alias("iso"), "bgs").select(
        F.col("iso.poly_id").alias("iso_id"),
        F.col("iso.travel_time_minutes").alias("travel_time_minutes"),
        F.posexplode("bgs").alias("pos", "bg_geoid"),
    )
    iso_bgs = pairs.groupBy("iso_id", "travel_time_minutes", "bg_geoid").agg(
        F.count_if(F.col("pos") == 0).alias("n_first")
    )
    wide = pivot_census(census_long)
    joined = iso_bgs.join(wide, iso_bgs["bg_geoid"] == wide["geoid"], "left")
    return (
        joined.groupBy("iso_id", "travel_time_minutes")
        .agg(
            F.sum("n_first").alias("n_pages"),
            F.count("*").alias("n_block_groups"),
            dsum("B01003_001E").alias("total_population"),
            dmean("B19013_001E").alias("median_household_income"),
        )
        .coalesce(1)
        .sortWithinPartitions("iso_id")
    )
