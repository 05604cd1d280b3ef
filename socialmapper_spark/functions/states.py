"""P6 — state-format normalization (name / abbreviation / FIPS).

Reference semantics (/root/reference/socialmapper/census/services/
geography_service.py:146-260; dictionaries :26-133): detect whether a
state identifier is a full name, a USPS abbreviation, or a 2-digit FIPS
code, and convert between the three. The dictionaries are public census
facts (the 50 states + DC + PR), re-keyed here.

Spark-first: the mapping becomes a tiny broadcast dimension DataFrame and
normalization is a broadcast hash join — never a UDF. The join key is the
uppercased/trimmed input matched against all three representations via a
pre-exploded lookup table (one row per (alias → canonical) pair), so a
single equi-join handles every input format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from socialmapper_spark.session import local_frame

# (name, USPS abbreviation, FIPS) — public FIPS 5-2 / census facts
STATES: list[tuple[str, str, str]] = [
    ("Alabama", "AL", "01"), ("Alaska", "AK", "02"), ("Arizona", "AZ", "04"),
    ("Arkansas", "AR", "05"), ("California", "CA", "06"), ("Colorado", "CO", "08"),
    ("Connecticut", "CT", "09"), ("Delaware", "DE", "10"),
    ("District of Columbia", "DC", "11"), ("Florida", "FL", "12"),
    ("Georgia", "GA", "13"), ("Hawaii", "HI", "15"), ("Idaho", "ID", "16"),
    ("Illinois", "IL", "17"), ("Indiana", "IN", "18"), ("Iowa", "IA", "19"),
    ("Kansas", "KS", "20"), ("Kentucky", "KY", "21"), ("Louisiana", "LA", "22"),
    ("Maine", "ME", "23"), ("Maryland", "MD", "24"), ("Massachusetts", "MA", "25"),
    ("Michigan", "MI", "26"), ("Minnesota", "MN", "27"), ("Mississippi", "MS", "28"),
    ("Missouri", "MO", "29"), ("Montana", "MT", "30"), ("Nebraska", "NE", "31"),
    ("Nevada", "NV", "32"), ("New Hampshire", "NH", "33"), ("New Jersey", "NJ", "34"),
    ("New Mexico", "NM", "35"), ("New York", "NY", "36"),
    ("North Carolina", "NC", "37"), ("North Dakota", "ND", "38"), ("Ohio", "OH", "39"),
    ("Oklahoma", "OK", "40"), ("Oregon", "OR", "41"), ("Pennsylvania", "PA", "42"),
    ("Puerto Rico", "PR", "72"), ("Rhode Island", "RI", "44"),
    ("South Carolina", "SC", "45"), ("South Dakota", "SD", "46"),
    ("Tennessee", "TN", "47"), ("Texas", "TX", "48"), ("Utah", "UT", "49"),
    ("Vermont", "VT", "50"), ("Virginia", "VA", "51"), ("Washington", "WA", "53"),
    ("West Virginia", "WV", "54"), ("Wisconsin", "WI", "55"), ("Wyoming", "WY", "56"),
]


def state_dim(spark: SparkSession) -> DataFrame:
    """Exploded alias → canonical lookup: one row per recognizable spelling
    (upper name, abbreviation, zero-padded FIPS, bare FIPS digit)."""
    rows = []
    for name, abbr, fips in STATES:
        aliases = {name.upper(), abbr, fips}
        if fips.startswith("0"):
            aliases.add(fips.lstrip("0"))
        for a in aliases:
            rows.append((a, name, abbr, fips))
    return local_frame(
        spark, rows, "alias string, state_name string, state_abbr string, state_fips string"
    )


def normalize_state(
    spark: SparkSession, df: DataFrame, state_col: str = "state"
) -> DataFrame:
    """Attach ``state_name / state_abbr / state_fips`` via a broadcast join
    on the normalized alias. Unrecognized inputs get NULLs (left join) —
    the reference raises per-row; a distributed engine quarantines instead.
    """
    dim = state_dim(spark)
    key = F.upper(F.trim(F.col(state_col)))
    return (
        df.withColumn("__alias", key)
        .join(F.broadcast(dim), F.col("__alias") == dim["alias"], "left")
        .drop("__alias", "alias")
    )
