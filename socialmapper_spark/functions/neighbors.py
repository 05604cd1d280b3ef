"""Geographic neighbor relationships (reference neighbors API).

Reference: socialmapper/neighbors.py re-exports
census/__init__.py:330-417. State adjacency is the reference's static
48-state map (census/__init__.py:334-411, EXACT copy of the data —
these are facts about US geography, reproduced verbatim like the state
bbox table); county-level neighbors are stubbed to ``[]`` IN THE
REFERENCE ("county neighbor data is more complex", :413-417) and the
engine mirrors that contract honestly rather than inventing data.

Spark-first: the adjacency doubles as a broadcast dimension table
(state, neighbor) for semi-joins — "rows in any state adjacent to X"
prunes via a broadcast hash join, never a driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from socialmapper_spark.session import local_frame

# state FIPS -> adjacent state FIPS (census/__init__.py:334-411)
STATE_NEIGHBORS: dict[str, list[str]] = {
    "01": ["13", "28", "47"],
    "04": ["06", "08", "32", "35", "49"],
    "05": ["22", "28", "29", "40", "47", "48"],
    "06": ["04", "32", "41"],
    "08": ["04", "20", "31", "35", "49", "56"],
    "09": ["25", "36", "44"],
    "10": ["24", "34", "42"],
    "12": ["01", "13"],
    "13": ["01", "12", "37", "45", "47"],
    "16": ["30", "32", "41", "49", "53"],
    "17": ["18", "19", "26", "29", "55"],
    "18": ["17", "21", "26", "39"],
    "19": ["17", "20", "27", "29", "31", "46"],
    "20": ["08", "19", "29", "31", "40"],
    "21": ["17", "18", "28", "29", "39", "47", "51", "54"],
    "22": ["05", "28", "48"],
    "23": ["33"],
    "24": ["10", "34", "42", "51", "54"],
    "25": ["09", "33", "36", "44", "50"],
    "26": ["17", "18", "39", "55"],
    "27": ["19", "30", "38", "46", "55"],
    "28": ["01", "05", "21", "22", "47"],
    "29": ["05", "17", "19", "20", "21", "31", "40", "47"],
    "30": ["16", "27", "38", "46", "56"],
    "31": ["08", "19", "20", "29", "46", "56"],
    "32": ["04", "06", "16", "41", "49"],
    "33": ["23", "25", "50"],
    "34": ["10", "24", "36", "42"],
    "35": ["04", "08", "40", "48"],
    "36": ["09", "25", "34", "42", "50"],
    "37": ["13", "45", "47", "51"],
    "38": ["27", "30", "46"],
    "39": ["18", "21", "26", "42", "54"],
    "40": ["05", "08", "20", "29", "35", "48"],
    "41": ["06", "16", "32", "53"],
    "42": ["10", "24", "34", "36", "39", "54"],
    "44": ["09", "25"],
    "45": ["13", "37"],
    "46": ["19", "27", "30", "31", "38", "56"],
    "47": ["01", "05", "13", "21", "28", "29", "37", "51"],
    "48": ["05", "22", "35", "40"],
    "49": ["04", "08", "16", "32", "56"],
    "50": ["25", "33", "36"],
    "51": ["21", "24", "37", "47", "54"],
    "53": ["16", "41"],
    "54": ["21", "24", "39", "42", "51"],
    "55": ["17", "26", "27", "46"],
    "56": ["08", "16", "30", "31", "46", "49"],
}


def get_neighboring_states(state_fips: str) -> list[str]:
    """census/__init__.py:330-411 (unknown state -> [])."""
    return STATE_NEIGHBORS.get(state_fips.zfill(2), [])


def get_neighboring_counties(county_fips: str) -> list[str]:
    """Reference contract: county adjacency is NOT implemented upstream
    (census/__init__.py:413-417 returns []); mirrored verbatim."""
    return []


def state_neighbors_table(spark: SparkSession) -> DataFrame:
    """(state, neighbor) dimension — ~220 rows, broadcast side."""
    rows = [(s, n) for s, ns in STATE_NEIGHBORS.items() for n in ns]
    return local_frame(spark, rows, "state string, neighbor string")


def filter_to_neighboring_states(
    df: DataFrame, state_fips: str, state_col: str = "STATE"
) -> DataFrame:
    """Rows of ``df`` whose state is adjacent to ``state_fips`` — a
    broadcast IN-filter (Catalyst folds the tiny literal list)."""
    return df.filter(F.col(state_col).isin(get_neighboring_states(state_fips)))
