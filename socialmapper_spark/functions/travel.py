"""F15 — travel modes: speed validation clamp + mode dimension table.

Reference: socialmapper/isochrone/travel_modes.py. Each mode carries a
(default, min, max) speed in km/h and ``validate_speed`` clamps a
requested speed into the mode's band (travel_modes.py:41-43:
``max(min_speed, min(speed, max_speed))``). The network_type strings are
the reference's OSMnx routing profiles — kept as metadata for parity
even though this engine consumes precomputed isochrone polygons instead
of calling a router (SURVEY.md scopes out OSMnx).

Spark-first: the clamp is a pure ``greatest(least(...))`` column
expression resolved per-mode via a chained CASE; the mode table is a
3-row dimension for broadcast joins when speeds arrive as data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from socialmapper_spark.session import local_frame

# mode → (network_type, default_kmh, min_kmh, max_kmh)
# EXACT values from travel_modes.py:47-70
TRAVEL_MODE_CONFIGS: dict[str, tuple[str, float, float, float]] = {
    "walk": ("walk", 5.0, 3.0, 7.0),
    "bike": ("bike", 15.0, 8.0, 30.0),
    "drive": ("drive", 50.0, 20.0, 130.0),
}


def clamp_speed_col(mode: Column, speed: Column) -> Column:
    """validate_speed as a column expression: unknown modes → NULL."""
    expr = F.lit(None).cast("double")
    for name, (_, _, lo, hi) in reversed(TRAVEL_MODE_CONFIGS.items()):
        expr = F.when(
            mode == name,
            F.greatest(F.lit(lo), F.least(speed.cast("double"), F.lit(hi))),
        ).otherwise(expr)
    return expr


def travel_mode_table(spark: SparkSession) -> DataFrame:
    """The 3-row mode dimension (broadcast side for data-driven clamps)."""
    rows = [
        (m, nt, d, lo, hi) for m, (nt, d, lo, hi) in TRAVEL_MODE_CONFIGS.items()
    ]
    return local_frame(
        spark,
        rows,
        "travel_mode string, network_type string, default_speed_kmh double, "
        "min_speed_kmh double, max_speed_kmh double",
    )


def clamp_speed_py(mode: str, speed: float) -> float:
    """Scalar twin for goldens/tests (travel_modes.py:41-43)."""
    _, _, lo, hi = TRAVEL_MODE_CONFIGS[mode]
    return max(lo, min(speed, hi))
