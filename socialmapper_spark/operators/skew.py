"""Explicit skew handling: salted aggregation and salted join (SURVEY.md
§4 O13; north_rule: "salted hash joins on H3 cell keys
... explicit repartitioning on cell prefix to break hot-cell skew").

Dense urban tiles concentrate most of a Common-Crawl-style corpus into a
handful of H3 cells (the synthetic fixtures put 70% of rows in 3 cells by
construction). Two tools:

- :func:`salted_count_by_key` — two-phase count (the registry's
  ``salted_cell_counts``): stage 1 counts on (key, salt) so a hot key's
  rows spread over ``n_salts`` reducers, stage 2 sums the per-salt
  partials on the key alone (now at most ``n_salts`` rows per key). The
  merge is exact, so results are salt-count invariant (pinned by tests
  at several n_salts — the invariance SURVEY.md §5.4 requires).
- :func:`salted_join` — skewed equi-join: the big side gets a random-but-
  deterministic salt from a row key, the small side is replicated across
  all salts (an explicit generalized broadcast), and the join key becomes
  (key, salt). Use when the small side is too big to broadcast whole but
  the join key is skewed; with a broadcastable small side, prefer
  ``F.broadcast`` (no shuffle at all), which is what the two-phase PIP
  join does.

Note Spark's AQE skew-join (enabled in session.py) already splits skewed
SHUFFLE partitions adaptively; these explicit tools are for the cases AQE
cannot see — skew inside a single aggregation key, and map-side pressure
before the first shuffle.
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


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_src: str,
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Skew-safe inner equi-join on ``key``.

    The big side is salted from ``salt_src`` (a row-unique column so a hot
    key's rows spread uniformly); the small side is exploded across all
    ``n_salts`` salt values. Both sides then hash-partition on
    (key, salt) — a hot key occupies ``n_salts`` reducers instead of one.
    Row multiplicity is identical to the plain join (each big row meets
    each matching small row exactly once, under its own salt).
    """
    b = big.withColumn("__salt", salt_col(F.col(salt_src).cast("string"), n_salts))
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    return b.join(s, [key, "__salt"], "inner").drop("__salt")
