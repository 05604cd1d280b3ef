"""Measured skew-handling drill — evidences the north rule's
"partitioning / shuffle / skew handled explicitly" with wall-clock, not
just the salt-invariance unit tests.

The honest workload is a skewed shuffle JOIN: Spark's aggregation is
already skew-resilient (map-side partial aggregation pre-combines a hot
key per task, and count-distinct rewrites through an Expand keyed on
(key, value)), so a groupBy demo would be a strawman. A sort-merge join
with a Zipf-hot key is the real failure mode — every row of the hot key
lands in ONE reducer — and it is exactly the shape the engine's cell
joins would hit on dense urban tiles if the polygon side ever outgrew
broadcast range.

Three strategies on the same input, fresh JVM each (one subprocess per
strategy via __main__ dispatch), broadcast disabled so the join must
shuffle:

  plain_aqe_off — the naive plan: the hot key serializes one task.
  plain_aqe_on  — Spark's own answer: AQE OptimizeSkewedJoin splits the
                  skewed partition at runtime (spark.sql.adaptive.*).
  salted        — operators/skew.salted_join: explicit (key, salt)
                  repartitioning, for paths where AQE cannot help
                  (non-AQE engines, skew inside one map output block,
                  or when the split heuristics don't trigger).

Input: N probe rows with `frac_hot` of them on one hot cell, the rest
uniform over 100k cells; a 100k-row dim table keyed by cell. Inner
join, checksum sink. Writes SKEW_DRILL.json.

Usage:
  python scripts/skew_drill.py            # harness: run all three, write JSON
  python scripts/skew_drill.py one <strategy> <cores> <n_rows>  # one timed run
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

N_ROWS = 48_000_000
FRAC_HOT = 0.5
N_CELLS = 100_000
N_SALTS = 32
CORES = 32


def build_frames(spark, n_rows: int):
    from pyspark.sql import functions as F

    # deterministic synthetic skew: row ids below the hot fraction all
    # map to cell 0; the rest hash uniformly over N_CELLS
    probe = (
        spark.range(0, n_rows, 1, numPartitions=CORES * 4)
        .withColumn(
            "cell",
            F.when(F.col("id") < int(n_rows * FRAC_HOT), F.lit(0)).otherwise(
                F.pmod(F.xxhash64("id"), F.lit(N_CELLS))
            ),
        )
        .withColumn("payload", F.md5(F.col("id").cast("string")))
    )
    dim = (
        spark.range(0, N_CELLS, 1, numPartitions=CORES)
        .withColumnRenamed("id", "cell")
        .withColumn("attr", F.md5(F.col("cell").cast("string")))
    )
    return probe, dim


def one(strategy: str, cores: int, n_rows: int) -> None:
    from pyspark.sql import SparkSession, functions as F

    aqe = "true" if strategy == "plain_aqe_on" else "false"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        # force the shuffle join: the 100k-row dim would otherwise
        # broadcast and hide the skew entirely (which IS the engine's
        # first-choice fix — this drill measures the fallback paths)
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.skewJoin.enabled", aqe)
        .getOrCreate()
    )
    probe, dim = build_frames(spark, n_rows)
    probe.count()  # warm
    dim.count()

    def run() -> None:
        if strategy == "salted":
            from socialmapper_spark.operators.skew import salted_join

            joined = salted_join(probe, dim, key="cell", salt_src="id",
                                 n_salts=N_SALTS)
        else:
            joined = probe.join(dim, "cell", "inner")
        joined.select(
            F.bit_xor(F.xxhash64("cell", "payload", "attr")).alias("chk"),
            F.count("*").alias("rows"),
        ).collect()

    run()  # warm (codegen + shuffle files)
    sec = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        run()
        sec = min(sec, time.perf_counter() - t0)
    spark.stop()
    print(json.dumps({"strategy": strategy, "cores": cores, "sec": round(sec, 3)}))


def main() -> None:
    results = {}
    for strategy in ("plain_aqe_off", "plain_aqe_on", "salted"):
        out = subprocess.run(
            [sys.executable, __file__, "one", strategy, str(CORES), str(N_ROWS)],
            capture_output=True, text=True, timeout=1800,
        )
        lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if not lines:
            raise RuntimeError(f"{strategy}: {out.stderr[-400:]}")
        r = json.loads(lines[-1])
        results[strategy] = r["sec"]
        print(f"{strategy}: {r['sec']} s", file=sys.stderr)

    summary = {
        "metric": "skew_join_drill_sec",
        "n_rows": N_ROWS,
        "frac_hot": FRAC_HOT,
        "n_cells": N_CELLS,
        "n_salts": N_SALTS,
        "cores": CORES,
        "plain_aqe_off_sec": results["plain_aqe_off"],
        "plain_aqe_on_sec": results["plain_aqe_on"],
        "salted_sec": results["salted"],
        "speedup_aqe_vs_naive": round(
            results["plain_aqe_off"] / results["plain_aqe_on"], 2
        ),
        "speedup_salted_vs_naive": round(
            results["plain_aqe_off"] / results["salted"], 2
        ),
        "note": (
            "measured skew evidence: inner join of a 48M-row probe (50% of "
            "rows on ONE hot cell, rest uniform over 100k cells) against a "
            "100k-row dim with broadcast disabled (the drill measures the "
            "fallback paths; broadcasting the small side is the engine's "
            "first-choice fix and hides skew entirely). plain_aqe_off "
            "serializes the hot key in one reducer; plain_aqe_on lets "
            "AQE's OptimizeSkewedJoin split it at runtime; salted is "
            "operators/skew.salted_join's explicit (key,salt) spread for "
            "paths where AQE cannot apply. Fresh JVM per strategy, "
            "best-of-2 after a warm run."
        ),
    }
    with open(ROOT / "SKEW_DRILL.json", "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "one":
        one(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
    else:
        main()
