"""Explicit skew handling: salted aggregation (SURVEY.md §4 O13;
north_rule: "salted hash joins on H3 cell keys ... explicit
repartitioning on cell prefix to break hot-cell skew").

Dense urban tiles concentrate most of a Common-Crawl-style corpus into a
handful of H3 cells (the synthetic fixtures put 70% of rows in 3 cells by
construction). :func:`salted_count_by_key` is a two-phase count (the
registry's ``salted_cell_counts``): stage 1 counts on (key, salt) so a
hot key's rows spread over ``n_salts`` reducers, stage 2 sums the
per-salt partials on the key alone (now at most ``n_salts`` rows per
key). The merge is exact, so results are salt-count invariant (pinned by
tests at several n_salts — the invariance SURVEY.md §5.4 requires).

Skewed joins are left to Spark: the engine's joins broadcast their small
side (no shuffle at all, as the two-phase PIP join does), and a shuffled
join's hot keys are split by AQE's skew join, on in every session
(session.py). A hand-salted join lost to AQE on a hot-key join at
local[4] (CHANGES.md), so the engine has none.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def salt_col(key: Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts): pmod(xxhash64(key), n)."""
    return F.pmod(F.xxhash64(key), F.lit(n_salts)).cast("int")


def salted_count_by_key(
    df: DataFrame, key_col: str, n_salts: int = DEFAULT_SALTS, salt_src: str | None = None
) -> DataFrame:
    """Exact per-key row count via two-phase salted aggregation.

    ``salt_src`` is the column the salt derives from (default: a row-
    unique column is best; falling back to the key itself only spreads
    rows if the source varies within a key, so pass e.g. the row id).
    """
    src = F.col(salt_src) if salt_src else F.monotonically_increasing_id().cast("string")
    stage1 = (
        df.withColumn("__salt", salt_col(src.cast("string"), n_salts))
        .groupBy(key_col, "__salt")
        .agg(F.count("*").alias("__partial"))
    )
    return stage1.groupBy(key_col).agg(F.sum("__partial").alias("n_rows"))
