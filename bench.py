"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "pages_per_sec_flagship", "value": N, "unit": "sec",
   "queries": {name: seconds, ...}, "sf": ..., ...extras}

Headline metric: pages/sec through the full flagship pipeline
(geoparse → cell encode → two-phase PIP vs isochrones+block groups →
census pivot-join → travel-time-band aggregation) on the skewed synthetic
pages table (70% of rows in 3 hot cells — the salting/AQE path is
exercised, not dodged).

Scaling-efficiency evidence (BASELINE.json north_rule: ≥0.8 from N to
4N) comes from scripts/scaling.py, which runs each workload at N and 4N
cores in fresh JVMs and normalizes by the calibration kernel timed here
too (``kernel_sec``).
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "scripts"))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def timed(fn, *args):
    t0 = time.perf_counter()
    n = fn(*args)
    return time.perf_counter() - t0, n


def checksum_all(df, *cols: str) -> int:
    """Force-evaluate EVERY output column (or just ``cols``) through an
    xxhash64 fold, returning the row count. count() is the wrong sink for
    a non-filtering plan: Catalyst column-prunes everything the count does
    not need, so a reason-emitting funnel degenerates to a scan of its
    join keys and the bench times the pruned plan, not the operator."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count("*").alias("n"),
        # bit_xor, not sum: ANSI mode makes sum of 64-bit hashes overflow
        F.bit_xor(F.xxhash64(*(cols or df.columns))).alias("chk"),
    ).collect()[0]
    return row["n"]


def main() -> None:
    sf_dir = SF_DIR
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # sandbox files are tiny — 1 MB splits restore scan parallelism (the
    # library default is 16 MB; see session.py)
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", str(1 * 1024 * 1024))

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from socialmapper_spark.fixtures import geo_dir_for
    from socialmapper_spark.session import get_spark
    from socialmapper_spark.pipeline import flagship_query, geoparse_pages, page_assignments
    from socialmapper_spark.operators.knn import knn_join

    geo = str(geo_dir_for(sf_dir))
    spark = get_spark(app_name="bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(2 * cpus, 16))

    pages = spark.read.parquet(f"{geo}/pages.parquet")
    polygons = spark.read.parquet(f"{geo}/polygons.parquet")
    census = spark.read.parquet(f"{geo}/census_long.parquet")
    pois = spark.read.parquet(f"{geo}/pois.parquet").filter(F.col("lat") <= 90.0)
    n_pages = pages.count()  # warms the scan / JVM

    # text/crawl inputs for the curation-side entries
    from socialmapper_spark.fixtures import ensure_crawl_fixture
    from socialmapper_spark.operators.dedup import winnow_fingerprints

    # documents.parquet ships as ONE row group, and a row group is Spark's
    # minimum split unit — without this repartition every documents-side
    # entry times a single core while claiming local[32] (measured 30×
    # understatement). Production corpora arrive in many splits; the
    # repartition restores the parallelism the operator would actually
    # have, at the cost of one tiny counted shuffle outside the hot loop.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(cpus)
    n_docs = docs.count()
    events_rp = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(cpus)
    events_rp.count()
    crawl_dir = str(ensure_crawl_fixture(sf_dir))
    n_crawl = spark.read.parquet(f"{crawl_dir}/crawl_pages.parquet").count()

    # raster path import (vector→raster, pure Catalyst bit math)
    from socialmapper_spark.operators.raster import rasterize_counts

    # connected components' long-chain regime: a 3001-node path whose ids
    # are a seeded random permutation, as a JVM local table
    import random

    from socialmapper_spark.operators.dedup import dedup_groups
    from socialmapper_spark.session import local_frame

    path_ids = random.Random(11).sample(range(3001), 3001)
    cc_path = local_frame(spark, list(zip(path_ids, path_ids[1:])), "doc_a long, doc_b long")

    bench_queries = [
        # flagship: full pipeline, collect() forces execution end to end
        ("flagship", lambda: flagship_query(spark, pages, polygons, census).collect()),
        # geoparse+cells only (pure-Catalyst hot path)
        ("geoparse", lambda: geoparse_pages(pages).filter(F.col("lat").isNotNull()).count()),
        # PIP assignment throughput
        ("pip_assignments", lambda: page_assignments(spark, pages, polygons).count()),
        # kNN (k-ring scale path)
        ("knn_kring", lambda: knn_join(
            spark, geoparse_pages(pages), pois, k=1, strategy="kring").count()),
        ("rasterize", lambda: rasterize_counts(geoparse_pages(pages)).count()),
        # relational representative
        ("pricing_summary", lambda: entrymod.q_pricing_summary(spark, sf_dir).collect()),
        # winnowing fingerprints (the r3 scale-killer, now len-linear —
        # benched so the quadratic regression cannot return unseen)
        ("winnow", lambda: winnow_fingerprints(docs).count()),
        # the composed 5-stage crawl-curation pipeline (snapshot dedup →
        # gate → blocklist → host cap → canonical key) — what a real
        # training-data pipeline runs end to end. checksum sink: count()
        # would column-prune the final canonical-key projection
        ("crawl_curation", lambda: checksum_all(entrymod.q_crawl_curation(spark, sf_dir))),
        # document-side curation funnel (language → quality → repetition →
        # decontaminate → sample → scrub) — scan-side gates, one join.
        # Threads the repartitioned docs frame in (the fixture is a single
        # row group; an internal re-read would time ~1 core, r4 ADVICE).
        # checksum sink is LOAD-BEARING here: the funnel filters nothing
        # (it emits per-doc reasons), so under count() Catalyst prunes
        # EVERY text expression and the scan reads only doc_id — the r4
        # 0.97 s "corpus_curation" number was a join of ids (r5 fix)
        ("corpus_curation", lambda: checksum_all(entrymod.corpus_curation_frame(docs))),
        # raster smoothing (3×3 focal over the r9 pixel grid)
        ("focal_stats", lambda: entrymod.q_focal_stats(spark, sf_dir).count()),
        # temporal joins (r5): every event as-of joined to its user's
        # latest purchase snapshot + 45-min interval attribution. The
        # events frame is threaded in repartitioned (one-row-group file,
        # like documents above). checksum sinks: both emit non-filtering
        # projections, so count() would prune the probe/containment math
        ("asof_join", lambda: checksum_all(entrymod.asof_join_frame(events_rp))),
        ("interval_join", lambda: checksum_all(entrymod.interval_join_frame(events_rp))),
        # corpus-unigram LM quality score (r5): explode -> two combinable
        # aggs -> term-dictionary join -> per-doc agg; checksum sink
        # because the output is a non-filtering projection
        ("unigram_familiarity", lambda: checksum_all(entrymod.unigram_familiarity_frame(docs))),
        # iterative graph rank (r5): 5 integer PageRank rounds over the
        # ~66k-node item link graph (each round one hash join + one int
        # sum, plan truncated by eager localCheckpoint). count() is a
        # fine sink HERE: the per-round work is forced by the checkpoints
        # regardless of final-projection pruning.
        ("item_pagerank", lambda: entrymod.q_item_pagerank(spark, sf_dir).count()),
        # connected components, both regimes: the near-dup pairs are tiny
        # cliques (two plain hash-min rounds); the path needs the hooking
        # and pointer-jumping rounds (O(log n)). Each round ends in an eager
        # localCheckpoint, so the rounds run whatever the sink
        ("dedup_groups", lambda: checksum_all(entrymod.q_dedup_groups(spark, sf_dir))),
        ("cc_path", lambda: checksum_all(dedup_groups(cc_path))),
    ]

    # interleaved best-of-N: the sandbox host has 2-3x run-to-run noise, so
    # a single pass measures the host, not the engine. Interleaving (round-
    # robin over queries, best time kept) decorrelates slow host windows
    # from any one query — the same protocol scripts/scaling.py uses.
    rounds = int(os.environ.get("SPARK_GRAFT_ROUNDS", "3"))
    queries: dict[str, float] = {name: float("inf") for name, _ in bench_queries}
    counts: dict[str, int | None] = {}

    # in-window calibration kernel (r4 VERDICT task 6): a ~2 s pure-JVM
    # md5+xxhash fold over spark.range — the kernel scripts/scaling.py
    # calibrates against. Its best time rides along in the output JSON as
    # kernel_sec, so any cross-round "regression" can be normalized
    # against the host window it was measured in (the r3→r4 driver
    # flagship delta was 1.34× pure host noise).
    from scaling import cpu_kernel

    kernel_rows = int(os.environ.get("SPARK_GRAFT_KERNEL_ROWS", "20000000"))
    kernel, _ = cpu_kernel(spark, sf_dir, kernel_rows)

    kernel_sec = float("inf")
    for _ in range(rounds):
        t, _n = timed(kernel)
        kernel_sec = min(kernel_sec, round(t, 3))
        for name, fn in bench_queries:
            t, n = timed(fn)
            # queries that persist() intermediates leave CacheManager
            # entries keyed by logical plan that the next identical run
            # would silently reuse — every timed run must execute the
            # full pipeline
            spark.catalog.clearCache()
            queries[name] = min(queries[name], round(t, 3))
            counts[name] = n if isinstance(n, int) else None

    n_assign = counts["pip_assignments"]
    result = {
        "metric": "pages_per_sec_flagship",
        "value": round(n_pages / queries["flagship"], 1),
        "unit": "sec",
        "queries": queries,
        "sf": sf_dir,
        "cpus": cpus,
        "rounds": rounds,
        "n_pages": n_pages,
        "pip_assignments_per_sec": round(n_assign / queries["pip_assignments"], 1),
        "geoparse_pages_per_sec": round(n_pages / queries["geoparse"], 1),
        "winnow_docs_per_sec": round(n_docs / queries["winnow"], 1),
        "curation_raw_pages_per_sec": round(n_crawl / queries["crawl_curation"], 1),
        "kernel_sec": kernel_sec,
        "kernel_rows": kernel_rows,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
