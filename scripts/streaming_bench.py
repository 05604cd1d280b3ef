"""Structured Streaming throughput bench — the streaming operator family
has row-exact oracles (six registry entries) but previously no measured
throughput; this drill times the three representative profiles at bench
scale on replicated fixtures.

  gate      — admission_gate over a stream: stateless append-mode projection
              (the continuous-ingest quality gate) into the memory sink
              the registry uses — includes the driver collect of every
              output row, so it is a SINK-bound number at 1.2M rows out.
  gate_noop — the same streaming gate into Spark's noop sink: the
              operator's intrinsic executor-side rate with the driver
              collect removed (production writes parquet/Iceberg, not
              memory).
  window    — host_daily_stream: watermark + tumbling-window aggregation.
  sessions  — sessionize_stream: custom stateful operator
              (applyInPandasWithState, per-user session state).

Each op drains its input with trigger(availableNow=True) into a memory
sink (how the registry entries run); the timed number is the full
drain, so it includes micro-batch scheduling, state-store commits and
(for sessions) the end-of-stream state flush — the costs a production
stream actually pays per batch. Fresh JVM per op (subprocess dispatch),
warm run discarded, best-of-2.

Fixtures: the sf0.1 crawl table (150k snapshots) and events table
(100k events) replicated 8x with per-copy url/user_id/ts variation so
watermark windows and state cardinality scale with the factor; written
once to /tmp as 32-file directories so the stream source parallelizes.

Usage:
  python scripts/streaming_bench.py                 # harness, writes STREAMING_BENCH.json
  python scripts/streaming_bench.py one <op> <cores>  # one timed run
  python scripts/streaming_bench.py scaling         # N-vs-4N evidence (N = nproc // 4),
                                                    # writes BENCH_SCALING_STREAMING.json
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

REPLICATE = 8
CORES = 32
FIX_DIR = f"/tmp/stream_bench_r{REPLICATE}"


def ensure_fixture() -> None:
    from pyspark.sql import functions as F

    from socialmapper_spark.fixtures import ensure_crawl_fixture, geo_dir_for
    from socialmapper_spark.session import get_spark

    if os.path.exists(f"{FIX_DIR}/.done"):
        return
    spark = get_spark(app_name="stream-fixture", master="local[8]",
                      shuffle_partitions=16)
    geo_dir_for("/root/testdata/sf0.1")
    crawl_dir = str(ensure_crawl_fixture("/root/testdata/sf0.1"))
    rep = F.explode(F.sequence(F.lit(0), F.lit(REPLICATE - 1))).alias("__r")

    crawl = spark.read.option("pathGlobFilter", "crawl_pages.parquet").parquet(
        crawl_dir
    )
    (
        crawl.select("*", rep)
        .withColumn("url", F.concat("url", F.lit("#r"), F.col("__r").cast("string")))
        # spread copies over REPLICATE hours so the 1-day windows densify
        # rather than multiply unboundedly
        .withColumn("warc_ts", F.col("warc_ts") + F.make_interval(hours=F.col("__r")))
        .drop("__r")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{FIX_DIR}/crawl_pages.parquet")
    )
    events = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    (
        events.select("*", rep)
        # distinct users per copy: state cardinality scales with the factor
        .withColumn(
            "user_id",
            F.col("user_id") + F.col("__r").cast("bigint") * F.lit(10_000_000),
        )
        .withColumn(
            "event_id",
            F.col("event_id") + F.col("__r").cast("bigint") * F.lit(1_000_000_000),
        )
        .drop("__r")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{FIX_DIR}/events.parquet")
    )
    spark.stop()
    open(f"{FIX_DIR}/.done", "w").close()


def one(op: str, cores: int) -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .getOrCreate()
    )

    from socialmapper_spark.streaming import drain, parquet_stream

    def source(table: str):
        # The replicated fixtures are directories of part files, so point
        # the source at the table directory with a part-file glob.
        return parquet_stream(spark, f"{FIX_DIR}/{table}.parquet", "*.parquet")

    def run() -> int:
        if op in ("gate", "gate_noop"):
            from socialmapper_spark.operators.web import admission_gate

            gated = admission_gate(
                source("crawl_pages"), min_chars=122, min_words=23,
                max_digit_ratio=0.05,
            )
            if op == "gate":
                return drain(gated, "append").count()
            # Intrinsic executor-side gate rate: same streaming scan and
            # gate projection, but into the noop sink so the driver-side
            # memory-sink collect (1.2M rows) is out of the measurement.
            q = gated.writeStream.format("noop").trigger(availableNow=True).start()
            q.awaitTermination()
            return 150_000 * REPLICATE  # gate emits every decision row
        if op == "window":
            from socialmapper_spark.operators.web import host_daily_stream

            out = host_daily_stream(source("crawl_pages"))
        elif op == "sessions":
            from socialmapper_spark.operators.events import sessionize_stream

            out = sessionize_stream(source("events"), gap_minutes=30)
        else:
            raise ValueError(op)
        return out.count()

    rows_out = run()  # warm (codegen + source listing)
    sec = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        run()
        sec = min(sec, time.perf_counter() - t0)
    spark.stop()
    print(json.dumps({"op": op, "cores": cores, "sec": round(sec, 3),
                      "rows_out": rows_out}))


ROWS_IN = {
    "gate": 150_000 * REPLICATE,
    "gate_noop": 150_000 * REPLICATE,
    "window": 150_000 * REPLICATE,
    "sessions": 100_000 * REPLICATE,
}


def main() -> None:
    from scaling import run_child

    ensure_fixture()
    rows_in = ROWS_IN
    results = {}
    for op in ("gate", "gate_noop", "window", "sessions"):
        r = run_child([sys.executable, __file__, "one", op, str(CORES)])
        results[op] = r
        print(f"{op}: {r['sec']} s, {r['rows_out']} rows out", file=sys.stderr)

    summary = {
        "metric": "streaming_drain_rows_per_sec",
        "cores": CORES,
        "replicate": REPLICATE,
    }
    for op, r in results.items():
        summary[f"{op}_sec"] = r["sec"]
        summary[f"{op}_rows_in"] = rows_in[op]
        summary[f"{op}_rows_out"] = r["rows_out"]
        summary[f"{op}_rows_per_sec"] = round(rows_in[op] / r["sec"], 1)
    summary["note"] = (
        "streaming throughput at bench scale: availableNow drain, fresh "
        "JVM per op, best-of-2 after a warm run, 8x-replicated sf0.1 "
        "fixtures (1.2M crawl snapshots / 800k events with per-copy "
        "url/user/ts variation so windows and state cardinality scale). "
        "gate = stateless append-mode projection into the registry's "
        "memory sink (sink-bound: the driver collects all 1.2M output "
        "rows); gate_noop = the same gate into the noop sink, i.e. the "
        "operator's intrinsic executor-side rate; window = watermark + "
        "tumbling-day agg; sessions = applyInPandasWithState per-user "
        "sessionization including the end-of-stream state-store flush "
        "and the 764k-row memory-sink collect."
    )
    with open(ROOT / "STREAMING_BENCH.json", "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))


def scaling() -> None:
    """N-vs-4N scaling evidence for the streaming family through the shared
    protocol of scripts/scaling.py (fresh JVM per run, interleaved
    big/small ordering, cooldowns, best-of-R, same-window pure-JVM
    calibration kernel as the host ceiling). Ops measured: gate_noop (the
    executor-side gate — the memory-sink gate's 1.2M-row driver collect
    is a deliberate Amdahl term the registry path pays, not the
    operator), window, and sessions (whose 764k-row collect tail is kept:
    it deflates the measured ratio, which is the conservative direction).
    """
    from scaling import child_argv, core_pair, efficiency, measure

    ensure_fixture()
    pair = small, big = core_pair(len(os.sched_getaffinity(0)))
    ops = ("gate_noop", "window", "sessions")
    jobs = {"kernel": child_argv("kernel")}
    for op in ops:
        jobs[op] = lambda cores, op=op: [sys.executable, __file__, "one", op, str(cores)]
    best = measure(jobs, pair)

    ceiling = efficiency(best, "kernel", pair)
    summary = {
        "metric": f"streaming_scaling_efficiency_{small}_to_{big}",
        "unit": "ratio",
        "host_ceiling_efficiency": round(ceiling, 3),
        "kernel_sec_small": best["kernel"][small]["sec"],
        "kernel_sec_big": best["kernel"][big]["sec"],
        "replicate": REPLICATE,
    }
    for op in ops:
        raw = efficiency(best, op, pair)
        for side, cores in (("small", small), ("big", big)):
            summary[f"{op}_sec_{side}"] = best[op][cores]["sec"]
        summary[f"{op}_raw_efficiency"] = round(raw, 3)
        summary[f"{op}_normalized_efficiency"] = round(raw / ceiling, 3)
        for side, cores in (("small", small), ("big", big)):
            summary[f"{op}_rows_per_sec_{side}"] = round(
                ROWS_IN[op] / best[op][cores]["sec"], 1
            )
    summary["value"] = summary["gate_noop_normalized_efficiency"]
    summary["note"] = (
        "streaming-family scaling evidence at "
        f"local[{small}] vs local[{big}] on the 8x-replicated fixtures "
        "(availableNow drain, fresh JVM per run, interleaved best-of-R, "
        "same-window pure-JVM kernel as the host ceiling). gate_noop is "
        "the executor-side stateless gate (noop sink); window is the "
        "watermarked tumbling-day agg (state store + one wide exchange); "
        "sessions is applyInPandasWithState sessionization whose "
        "764k-row memory-sink collect tail is deliberately kept (it "
        "deflates the ratio — conservative)."
    )
    with open(ROOT / "BENCH_SCALING_STREAMING.json", "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "one":
        one(sys.argv[2], int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "scaling":
        scaling()
    else:
        main()
