"""Census pivot-join, dedup, and demographic aggregation (J4, A1, A2).

All pure DataFrame ops — hash aggregates and one broadcast-able equi-join;
no UDFs, no shuffles beyond the groupBy keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from socialmapper_spark.functions.scalar import cleanse_census_value

def dsum(col) -> "F.Column":
    """FP-order-independent sum: cast to decimal(20,6) (exact for census /
    TPC-H value grids), sum exactly, cast back to double. Spark's partial
    aggregation order and DuckDB's accumulation then produce IDENTICAL
    doubles — required for the driver's value-hash comparison."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.sum(c.cast("decimal(20,6)")).cast("double")


def dmean(col) -> "F.Column":
    """FP-order-independent mean of non-null values: exact decimal sum /
    non-null count, one double division at the end."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.sum(c.cast("decimal(20,6)")).cast("double") / F.count(c)


DEFAULT_VARIABLES = [
    "B01003_001E",
    "B19013_001E",
    "B01002_001E",
    "B25044_003E",
    "B25044_010E",
]


def pivot_census(census_long: DataFrame, variables: list[str] | None = None) -> DataFrame:
    """Long → wide census frame with sentinel cleansing applied first.

    Reference: values cleansed per census_service.py:262-278 (P3), then
    merged wide by GEOID (pipeline/census.py:186-219, J4). Passing the
    pivot value list keeps the plan static (no extra distinct scan). A
    repeated (geoid, variable_code) pair takes the max of its cleansed
    values, whatever the input order, as the DuckDB twin's
    ``max(case when ...)`` does.
    """
    variables = variables or DEFAULT_VARIABLES
    cleansed = census_long.withColumn(
        "value", cleanse_census_value(F.col("variable_code"), F.col("value"))
    )
    return (
        cleansed.groupBy("geoid")
        .pivot("variable_code", variables)
        .agg(F.max("value"))
    )


def dedup_units(
    df: DataFrame,
    keys: list[str] | None = None,
    min_cols: list[str] | None = None,
    first_cols: list[str] | None = None,
    order_col: str = "url",
) -> DataFrame:
    """A2 deduplication group-by (export/base.py:66-83, preparation.py:143-187).

    Reference agg rules: distance_miles→min, travel_time_minutes→min,
    census values→first, default first. Pandas ``first`` is input-order
    dependent; we pin a total order (min_by over ``order_col``) so results
    are deterministic and the DuckDB oracle (arg_min) matches exactly
    (SURVEY.md §7.3.6).
    """
    keys = keys or ["census_block_group", "poi_name", "poi_type", "travel_mode"]
    min_cols = min_cols or ["distance_miles", "travel_time_minutes"]
    first_cols = first_cols or []
    aggs = [F.min(c).alias(c) for c in min_cols if c in df.columns]
    aggs += [F.min_by(c, order_col).alias(c) for c in first_cols if c in df.columns]
    return df.groupBy(*keys).agg(*aggs)


def demographic_summary(df: DataFrame, variables: list[str] | None = None) -> DataFrame:
    """A1 demographic summary — EXACT dispatch of api/client.py:267-291:

    - B01003_001E (total population) → sum of non-null
    - B19013_001E (median income) → MEAN of non-null (deliberately NOT
      population-weighted; reference comment 'For simplicity, just take
      the mean' — replicated as-is per SURVEY.md §7.3.5)
    - every other variable → sum of non-null
    - all-null → NULL

    Variables may be human-readable names (P7, variable_service.py:99-118):
    simple names resolve to their code (column alias = code); *calculated*
    names (percent_without_vehicle → B25044_003E + B25044_010E) emit one
    column aliased by the requested name, summing the exact-decimal
    component sums so the result stays bit-identical to a decimal oracle.

    Spark's sum/avg already ignore NULLs and return NULL for all-null
    groups, matching pandas dropna semantics here.
    """
    from socialmapper_spark.functions.variables import normalize_variable

    variables = variables or [c for c in DEFAULT_VARIABLES if c in df.columns]
    aggs = []
    for var in variables:
        norm = normalize_variable(var)
        if isinstance(norm, list):
            total = F.sum(F.col(norm[0]).cast("decimal(20,6)"))
            for code in norm[1:]:
                total = total + F.sum(F.col(code).cast("decimal(20,6)"))
            aggs.append(total.cast("double").alias(var))
        elif norm == "B19013_001E":
            aggs.append(dmean(norm).alias(norm))
        else:
            aggs.append(dsum(norm).alias(norm))
    return df.agg(*aggs)
