"""Temporal joins: as-of (most-recent-snapshot) and interval (range)
containment — the two join shapes Spark's built-in equi-join cannot
express directly and a crawl/training-data pipeline needs constantly:

- :func:`asof_join` — each left row picks the single most recent right
  row with ``right_ts <= left_ts`` per key (a crawl scheduler reading
  the latest per-host stats snapshot; a page joined to the census
  vintage in force at crawl time). The reference has no temporal joins
  (its pipeline is a single batch snapshot), so this is part of the
  training-data-pipeline extension surface; the *semantics* are the
  standard ASOF JOIN (DuckDB/QuestDB/kdb), which is also what the
  DuckDB oracle runs.
- :func:`interval_join` — each point row matches every interval row
  whose ``[start, end)`` contains its timestamp (events attributed to
  surge/maintenance/campaign windows). Spark Structured Streaming ships
  stream-stream interval joins, but there is no batch interval join —
  the naive spelling is a range-predicate theta-join that Catalyst
  executes as BroadcastNestedLoopJoin (O(|P|·|I|)).

Scale design (both operators are pure Catalyst — no UDF, no window over
the big side, no driver collect):

``asof_join`` aggregates the RIGHT side to one row per key holding the
sorted snapshot array (struct(ts, payload...)), joins that dimension to
the big left side (broadcast when small, shuffle-hash otherwise — one
shuffle of the left side on the key at most, and none when the dim
broadcasts), then resolves the match per row with
``try_element_at(filter(snaps, s -> s.ts <= left_ts), -1)`` (the array
is ts-sorted, so the last qualifying element is the pick) — JVM
higher-order functions inside whole-stage codegen. Each left row scans
its key's snapshot array, so compact costs O(snapshots per key) per left
row: cheap at snapshot cadence (one per host-day ≈ 365/key/year), and
the default — it won 10 of 10 alternating pairs against union on the
sf0.1 events (0.83 s vs 0.96 s median, local[4]). On a key with many
snapshots *and* many left rows that scan turns quadratic: one key with
20k left rows × 20k snapshots takes 10.3 s compact vs 0.51 s union
(union won 10 of 10). ``strategy="union"``, the classic union-then-window
as-of, sorts the key's left and right rows together instead, so it is
O((L + R) log(L + R)) per key (one task per key) and is the choice for
dense snapshot histories. Both strategies give identical output
(cross-checked in tests, and both registered against one oracle). Ties
(two snapshots with equal ts on one key) resolve to the
lexicographically greatest payload via struct comparison —
deterministic at any parallelism.

``interval_join`` replicates each interval into the fixed-width time
buckets it covers (``sequence`` + ``explode`` — a narrow fan-out of the
small side, bounded by interval_len/bucket_width per row), assigns each
point to its single bucket, equi-joins on (keys..., bucket), and
re-checks the exact ``start <= ts < end`` predicate. Each point lives in
exactly one bucket, so matches are emitted exactly once — no dedup
shuffle. The equi-join gives Catalyst a hash-join key (AQE handles
hot-bucket skew), turning the nested-loop theta-join into one ordinary
shuffle bounded by bucket co-occurrence.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MICROS = 1_000_000


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    strategy: str = "compact",
) -> DataFrame:
    """Left as-of join: every ``left`` row, plus the payload of the most
    recent ``right`` row with ``right_ts <= left_ts`` on the same key
    (inclusive, DuckDB ``ASOF LEFT JOIN ... ON l.ts >= r.ts`` semantics);
    payload columns are NULL when no snapshot precedes the row.

    ``strategy="compact"`` (default): snapshot-array dimension +
    higher-order-function probe, O(snapshots per key) per left row.
    ``strategy="union"``: the classic tag-union-window spelling, one
    per-key sort of left + right rows; same output, and faster on keys
    with many snapshots and many left rows (module docstring).
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload = [c for c in right.columns if c not in keys and c != right_ts]
    clash = [c for c in payload + [right_ts] if c in left.columns]
    if clash:
        # both strategies would otherwise silently overwrite the left's
        # column with the picked snapshot value
        raise ValueError(
            f"asof_join: right columns {clash} collide with left columns; "
            "rename one side"
        )
    # A right row with a NULL key or NULL timestamp can never be picked
    # under the compact strategy (equi-join on NULL matches nothing; a
    # NULL ts fails `ts <= left_ts`), but the union strategy's
    # Window.partitionBy GROUPS NULL keys together and sorts NULL ts
    # first — it would pick them. Drop them up front so both strategies
    # agree row-for-row on every input (the shared-oracle contract).
    notnull = F.col(right_ts).isNotNull()
    for k in keys:
        notnull = notnull & F.col(k).isNotNull()
    right = right.filter(notnull)
    if strategy == "compact":
        snap = F.struct(F.col(right_ts).alias("ts"), *[F.col(c) for c in payload])
        dim = right.groupBy(*keys).agg(
            F.sort_array(F.collect_list(snap)).alias("__snaps")
        )
        joined = left.join(dim, keys, "left")
        # __snaps is sorted (ts, payload...) ascending, and filter preserves
        # order, so the LAST qualifying element is the max-ts / greatest-
        # payload-on-tie pick — identical semantics to
        # array_max(filter(...)) but measured ~1.7x faster at 6.4M rows:
        # the scan compares only ts instead of whole structs.
        # try_element_at: empty filtered array -> NULL (ANSI-safe).
        pick = F.try_element_at(
            F.filter("__snaps", lambda s: s["ts"] <= F.col(left_ts)), F.lit(-1)
        )
        # one projection extracting every field (a per-column withColumn
        # loop builds O(payload) nested Projects); __pick is referenced
        # len(payload)+1 times, so CollapseProject keeps it materialized
        # once instead of inlining the filter scan per column
        return joined.withColumn("__pick", pick).select(
            *left.columns,
            *[F.col("__pick")[c].alias(c) for c in payload],
            F.col("__pick")["ts"].alias(right_ts),
        )
    if strategy == "union":
        from pyspark.sql import Window

        lhs = left.select(
            *keys,
            F.col(left_ts).alias("__ts"),
            F.lit(1).alias("__side"),
            *[
                F.lit(None).cast(right.schema[c].dataType).alias(c)
                for c in payload
            ],
            F.lit(None).cast(right.schema[right_ts].dataType).alias(right_ts),
            *[F.col(c).alias(f"__l_{c}") for c in left.columns],
        )
        rhs = right.select(
            *keys,
            F.col(right_ts).alias("__ts"),
            F.lit(0).alias("__side"),
            *payload,
            F.col(right_ts),
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
                for c in left.columns
            ],
        )
        # right rows sort before left rows at equal ts (inclusive <=);
        # equal-ts right rows sort by payload so "last" == array_max tie-break.
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), F.col("__side").asc(), *payload)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = lhs.unionByName(rhs).select(
            "*",
            F.last(
                F.when(
                    F.col("__side") == 0,
                    F.struct(F.col(right_ts).alias("ts"), *payload),
                ),
                ignorenulls=True,
            )
            .over(w)
            .alias("__pick"),
        )
        out = filled.filter(F.col("__side") == 1).select(
            *[F.col(f"__l_{c}").alias(c) for c in left.columns],
            *[F.col("__pick")[c].alias(c) for c in payload],
            F.col("__pick")["ts"].alias(right_ts),
        )
        return out
    raise ValueError(f"unknown asof_join strategy: {strategy}")


def _micros(ts: Column) -> Column:
    # unix_micros only accepts TIMESTAMP; parquet fixtures read back as
    # TIMESTAMP_NTZ. The cast is exact under the engine's pinned UTC
    # session zone (session.py), and bucketing only needs a consistent
    # linearization of the time axis anyway.
    return F.unix_micros(ts.cast("timestamp"))


def _bucket(ts: Column, width_us: int) -> Column:
    # F.floor handles pre-epoch (negative) micros correctly too.
    return F.floor(_micros(ts) / F.lit(width_us)).cast("long")


def _covered_buckets(start: Column, end: Column, width_us: int) -> Column:
    """Array of bucket ids an END-EXCLUSIVE interval [start, end) covers
    (the last covered bucket is the one containing end − 1 µs) — the one
    place the −1 µs invariant lives, shared by interval_join and
    interval_overlap_join.

    Degenerate intervals (end <= start) yield an EMPTY array. The guard
    must test ``end > start`` directly, NOT ``b1 >= b0``: a degenerate
    interval whose backwards span stays INSIDE one bucket still has
    b1 == b0 and would get one replica — and the strict-inequality
    overlap formula "passes" against empty intervals, so
    interval_overlap_join would emit false pairs (caught by the
    randomized brute-force parity test). The guard also prevents the
    blow-up case: Spark's ``sequence(b0, b1)`` with b1 < b0 generates a
    DESCENDING sequence, so one corrupt row with end at epoch and start
    years later would replicate into hundreds of thousands of buckets.
    The explode then simply drops the row."""
    b0 = F.floor(_micros(start) / F.lit(width_us)).cast("long")
    b1 = F.floor((_micros(end) - F.lit(1)) / F.lit(width_us)).cast("long")
    return F.when(_micros(end) > _micros(start), F.sequence(b0, b1)).otherwise(
        F.array().cast("array<long>")
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    on: Sequence[str] = (),
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Inner interval-containment join: one output row per (point,
    interval) pair with matching keys and ``start <= ts < end``
    (end-exclusive). Columns: all point columns + all interval columns.

    ``bucket_seconds`` trades replication for join selectivity: each
    interval is replicated ``ceil(len/width)``-ish times; each point is
    hashed once. Pick the bucket width near the typical interval length.
    """
    keys = list(on)
    clash = [
        c for c in intervals.columns if c not in keys and c in points.columns
    ]
    if clash:
        # the output would otherwise carry duplicate column names that
        # only blow up downstream (AMBIGUOUS_REFERENCE / parquet write)
        raise ValueError(
            f"interval_join: interval columns {clash} collide with point "
            "columns; rename one side"
        )
    width_us = bucket_seconds * MICROS
    ivals = intervals.withColumn(
        "__bucket",
        F.explode(_covered_buckets(F.col(start_col), F.col(end_col), width_us)),
    )
    pts = points.withColumn("__bucket", _bucket(F.col(point_ts), width_us))
    cond = [pts["__bucket"] == ivals["__bucket"]] + [
        pts[k] == ivals[k] for k in keys
    ]
    joined = pts.join(ivals, cond, "inner").filter(
        (pts[point_ts] >= ivals[start_col]) & (pts[point_ts] < ivals[end_col])
    )
    out_cols = [pts[c] for c in points.columns] + [
        ivals[c] for c in intervals.columns if c not in keys
    ]
    return joined.select(*out_cols)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str = "start_ts",
    left_end: str = "end_ts",
    right_start: str = "start_ts",
    right_end: str = "end_ts",
    on: Sequence[str] = (),
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Inner interval-OVERLAP join: one output row per (left, right)
    interval pair with matching keys and ``l.start < r.end AND
    r.start < l.end`` (end-exclusive overlap — abutting intervals do
    NOT match, and a degenerate interval with ``end <= start`` is an
    EMPTY set that overlaps nothing: it gets zero bucket replicas and
    thus zero pairs, even though the raw strict-inequality formula
    would "pass" against it). Columns: all left columns + all right
    non-key columns (a name clash raises, the asof_join contract).

    Scale shape: BOTH sides replicate over the time buckets they cover
    (in-plan explode, no shuffle), Catalyst gets an equi-join on
    (bucket, keys), and the bucket-duplicate problem — an overlapping
    pair co-occurs in every shared bucket — is solved plan-side with
    zero extra exchanges: a pair is kept ONLY in the bucket containing
    ``greatest(l.start, r.start)``, the overlap's first instant, which
    every true overlap covers on both sides exactly once. The naive
    formulation needs either a BroadcastNestedLoopJoin (the range
    theta-join) or a full-row ``distinct`` after bucket joining (a
    second wide shuffle); this needs neither. Per-side replication is
    ``ceil(len/width)``-ish — pick ``bucket_seconds`` near the typical
    interval length, exactly as in :func:`interval_join`.
    """
    keys = list(on)
    clash = [
        c
        for c in right.columns
        if c not in keys and c in left.columns
    ]
    if clash:
        raise ValueError(
            f"interval_overlap_join: right columns {clash} collide with "
            "left columns; rename one side"
        )
    width_us = bucket_seconds * MICROS
    l = left.withColumn(
        "__bucket",
        F.explode(_covered_buckets(F.col(left_start), F.col(left_end), width_us)),
    )
    r = right.withColumn(
        "__bucket",
        F.explode(
            _covered_buckets(F.col(right_start), F.col(right_end), width_us)
        ),
    )
    cond = [l["__bucket"] == r["__bucket"]] + [l[k] == r[k] for k in keys]
    joined = l.join(r, cond, "inner").filter(
        (_micros(l[left_start]) < _micros(r[right_end]))
        & (_micros(r[right_start]) < _micros(l[left_end]))
        # dedup: keep the pair only in the overlap-start bucket
        & (
            l["__bucket"]
            == F.floor(
                F.greatest(_micros(l[left_start]), _micros(r[right_start]))
                / F.lit(width_us)
            ).cast("long")
        )
    )
    out_cols = [l[c] for c in left.columns] + [
        r[c] for c in right.columns if c not in keys
    ]
    return joined.select(*out_cols)
