"""Event-time windowed aggregation over the events table (batch + stream).

The reference has no event-time processing (SURVEY.md §2.10 — its
"streaming" is chunked file I/O, census/infrastructure/streaming.py), so
this operator is part of the training-data-pipeline extension surface:
tumbling-window rollups and per-user sessions of an event stream. Each is
expressed once as a batch DataFrame plan and once as a stateful
Structured Streaming plan over a frame from
:func:`socialmapper_spark.streaming.parquet_stream`, drained by
:func:`socialmapper_spark.streaming.drain`. Both produce identical rows on
a finite input (tested, also across several micro-batches), which is the
Spark unification guarantee the engine leans on: the batch twin IS the
oracle for the streaming path.

Scale notes: the batch plan is a single hash aggregate on
(window, event_type) — partial aggregation map-side, shuffle carries one
row per (hour, type) per task. The streaming plan keeps state per open
window only; the 1-hour watermark bounds state size regardless of input
length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from socialmapper_spark.operators.census import dsum
from socialmapper_spark.streaming import drain


def window_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour rollup: (hour, event_type) → count, exact sum(value).

    Hour boundaries are epoch-aligned (`date_trunc`), so the DuckDB twin
    (`date_trunc('hour', ts)`) buckets identically. The hour is emitted as
    a formatted string to keep the cross-engine value hash free of
    timestamp-type representation differences.
    """
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def window_rollup_stream(stream: DataFrame) -> DataFrame:
    """Structured Streaming twin of :func:`window_rollup` over a streaming
    events frame.

    A 1-hour watermark and a tumbling ``F.window``, drained to the end of
    the input, with the finished result re-projected to the batch schema.
    Complete output mode is used so the finite input yields every window
    (append mode would hold back windows newer than the final watermark);
    a production deployment of this operator runs append mode with the
    same watermark into a parquet/Iceberg sink.
    """
    # watermarks require TIMESTAMP (tz-aware); parquet NTZ → UTC instant.
    # The session timezone is UTC, so window starts match the batch
    # date_trunc on the NTZ column exactly. Streaming forbids
    # countDistinct, so the distinct-user dimension is handled the
    # production way: the STATEFUL level aggregates per
    # (window, event_type, user_id) — bounded state, watermark-evictable —
    # and the cheap final rollup over the materialized sink collapses the
    # user dimension (n_users = row count, exact).
    per_user = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour").alias("win"),
            F.col("event_type"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )
    return (
        drain(per_user, "complete")
        .groupBy(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            dsum("total_value").alias("total_value"),
            F.count("*").alias("n_users"),
        )
    )


def sessionize_stream(stream: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (build mandate): per-user sessionization of a streaming events frame.

    Each user's events are processed by a stateful grouped-map function
    keyed on user_id. The state store holds the user's OPEN session
    (last event µs, seq, start/end µs, count, value total as an exact
    micro-scaled long); a session row is emitted only when the gap
    CLOSES it, so a session spanning micro-batches is never emitted as
    split fragments. At stream end the still-open sessions are flushed
    by reading the checkpoint's state store (Spark's State Data Source)
    and unioned with the closed-session sink — so the result equals the
    batch :func:`sessionize` plan row-for-row regardless of how many
    micro-batches the drain used (pinned by a multi-batch test).

    Constraint (documented API boundary): micro-batches must arrive in
    per-user event-time order (true for time-ordered append logs, and for
    file streams whose files partition time ranges); NoTimeout state
    never reorders across batches. Aggregation uses the same decimal
    quantization as ``dsum`` so values are bit-identical.
    """
    import tempfile
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = (
        "user_id long, session_seq long, session_start string, "
        "session_end string, n_events long, total_value double"
    )
    state_schema = (
        "last_us long, session_seq long, start_us long, end_us long, "
        "n_events long, total_micro long"
    )

    def proc(key, pdf_iter, state: GroupState):
        import pandas as pd  # noqa: F811

        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        (user_id,) = key
        if state.exists:
            last_us, seq, start_us, end_us, n, total_micro = state.get
        else:
            last_us = None
            seq = start_us = end_us = n = total_micro = 0
        out = []
        q6 = Decimal("0.000001")

        def fmt(us):
            return pd.Timestamp(us * 1000).strftime("%Y-%m-%d %H:%M:%S.%f")

        for ts, val in zip(rows["ts"], rows["value"]):
            us = ts.value // 1000  # pandas ns → µs
            vmicro = int(
                Decimal(repr(float(val))).quantize(q6, ROUND_HALF_UP) * 1_000_000
            )
            if last_us is None:
                seq, start_us, end_us, n, total_micro = 1, us, us, 1, vmicro
            elif us - last_us > gap_us:
                # the gap closes the open session — emit it now
                out.append(
                    (user_id, seq, fmt(start_us), fmt(end_us), n, total_micro / 1e6)
                )
                seq, start_us, end_us, n, total_micro = seq + 1, us, us, 1, vmicro
            else:
                end_us, n, total_micro = us, n + 1, total_micro + vmicro
            last_us = us
        # the still-open session stays in state (flushed from the state
        # store at stream end, or continued by the next micro-batch)
        state.update((last_us, seq, start_us, end_us, n, total_micro))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "session_seq", "session_start",
                "session_end", "n_events", "total_value",
            ],
        )

    sessions = (
        stream.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            proc, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    checkpoint = tempfile.mkdtemp(prefix="sessionize_ckpt_")
    closed = drain(sessions, "append", checkpoint)
    # end-of-stream flush: open sessions live in the state store; read them
    # back with the State Data Source and finish them as closed sessions
    open_sessions = (
        stream.sparkSession.read.format("statestore")
        .load(checkpoint)
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.groupState.session_seq").alias("session_seq"),
            F.date_format(
                F.timestamp_micros(F.col("value.groupState.start_us")),
                "yyyy-MM-dd HH:mm:ss.SSSSSS",
            ).alias("session_start"),
            F.date_format(
                F.timestamp_micros(F.col("value.groupState.end_us")),
                "yyyy-MM-dd HH:mm:ss.SSSSSS",
            ).alias("session_end"),
            F.col("value.groupState.n_events").alias("n_events"),
            (F.col("value.groupState.total_micro").cast("double") / F.lit(1e6)).alias(
                "total_value"
            ),
        )
    )
    return closed.unionByName(open_sessions)


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user sessionization: a new session starts when the gap since the
    previous event exceeds ``gap_minutes``. Pure window functions (lag +
    running sum), no UDF — the standard scalable sessionization plan: one
    shuffle on user_id, all session logic inside the sorted partition.

    Output: one row per session with start/end, event count, exact value
    sum.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lit(gap_minutes * 60 * 1_000_000)  # microseconds, exact
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    with_flag = events.withColumn(
        "__new_session",
        (ts_us - F.lag(ts_us, 1).over(w) > gap).cast("int"),
    ).withColumn(
        "session_seq",
        F.sum(F.coalesce(F.col("__new_session"), F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_flag.groupBy("user_id", "session_seq")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )
