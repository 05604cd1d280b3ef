"""N->4N throughput-scaling harness: one workload table, one protocol.

Usage: python scripts/scaling.py [workload ...]   (every workload if none)

Writes each named row's BENCH_SCALING*.json at the repo root and prints it
as one JSON line. The core pair is N = max(1, nproc // 4) and 4N.

Protocol (``measure``): each timed job runs in a fresh JVM (this file
re-invoked as ``child``), the core order alternates between rounds, a
cooldown follows every child, and the best of ``RUNS`` rounds is kept per
(job, cores). A child runs its job once warm, then keeps the best of two
timed runs.

  raw_efficiency        = T_N(job) / T_4N(job) / 4
  host_ceiling          = T_N(kernel) / T_4N(kernel) / 4
  normalized_efficiency = raw_efficiency / host_ceiling

The kernel is a pure-JVM md5+xxhash fold (no Python, shuffle or skew): what
the host gives ideal CPU-bound work. Shuffle-bound rows (curation, dedup)
also report a pure-JVM shuffle kernel shaped like their dominant exchange,
since on a single-disk host shuffle can scale far worse than CPU work.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import time
from dataclasses import dataclass
from typing import Callable

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from bench import SF_DIR as BENCH_SF_DIR, checksum_all  # noqa: E402
from socialmapper_spark.fixtures import ensure_crawl_fixture, geo_dir_for  # noqa: E402
from socialmapper_spark.operators.dedup import (  # noqa: E402
    dedup_groups,
    jaccard_verify,
    near_dup_pairs_minhash,
)
from socialmapper_spark.operators.graph import pagerank  # noqa: E402
from socialmapper_spark.operators.knn import knn_join  # noqa: E402
from socialmapper_spark.operators.lm import unigram_familiarity  # noqa: E402
from socialmapper_spark.operators.raster import (  # noqa: E402
    focal_stats,
    rasterize_counts,
    vectorize_threshold,
)
from socialmapper_spark.operators.sketch import cms_sketch, hll_cardinality  # noqa: E402
from socialmapper_spark.operators.temporal import interval_join  # noqa: E402
from socialmapper_spark.operators.web import page_host  # noqa: E402
from socialmapper_spark.pipeline import flagship_query, geoparse_pages, page_assignments  # noqa: E402
from socialmapper_spark.session import get_spark, release_caches  # noqa: E402

RUNS = 2
COOLDOWN_S = 20
KERNEL_ROWS = 20_000_000
SHUFFLE_ROWS = 2_000_000
PAGERANK_ROUNDS = 5
# one scale below bench.py's inputs, so a 1-core child takes about a minute
SF_DIR = str(pathlib.Path(BENCH_SF_DIR).with_name("sf0.01"))


def core_pair(nproc: int) -> tuple[int, int]:
    small = max(1, nproc // 4)
    return small, 4 * small


# calibration kernels: (spark, sf_dir, rows) -> (run, counts)

def cpu_kernel(spark, _sf_dir, rows):
    """Pure-JVM md5+xxhash fold over spark.range (bench.py's kernel_sec)."""
    df = spark.range(0, rows, 1, numPartitions=spark.sparkContext.defaultParallelism * 4)
    df.count()  # materialize the range outside the timed window

    def run():
        df.select(F.avg(F.xxhash64(F.md5(F.col("id").cast("string"))))).collect()

    return run, {"rows": rows}


def shuffle_kernel(spark, _sf_dir, rows):
    """Pure-JVM string-keyed hash agg over ~rows/8 keys with a ~300-byte
    payload: the dominant exchange shape of the curation and dedup jobs,
    with no engine code in it."""
    df = spark.range(0, rows, 1, numPartitions=spark.sparkContext.defaultParallelism * 4)
    df = df.withColumns({"key": F.md5((F.col("id") % (rows // 8)).cast("string")),
                         "payload": F.repeat(F.md5(F.col("id").cast("string")), 10)})
    df.count()

    def run():
        (df.groupBy("key")
           .agg(F.count("*").alias("c"), F.min("payload").alias("m"))
           .select(F.bit_xor(F.xxhash64("key", "c", "m"))).collect())

    return run, {"rows": rows}


def replicate(df, r: int, **vary: Callable):
    """``r`` copies of every row in ONE plan branch (a per-copy union would
    add serial driver-side planning that caps the measured ratio).
    ``vary[col](copy)`` rewrites ``col`` per copy so keys, aggregation
    cardinality and the scanned text grow with ``r`` instead of Catalyst
    hoisting per-row work above the explode. The input is spread first:
    the fixture files are one or a few splits (a parquet row group is
    Spark's minimum split), which would run every copy on a few tasks."""
    copy = F.col("__r")
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism * 4)
    out = spread.withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(r - 1))))
    return out.withColumns({c: f(copy) for c, f in vary.items()}).drop("__r")


def suffix(col: str, sep: str):
    return lambda copy: F.concat(F.col(col), F.lit(sep), copy.cast("string"))


def offset(col: str, step: int):
    return lambda copy: F.col(col) + copy.cast("long") * F.lit(step)


def read_geo(spark, sf_dir, table):
    return spark.read.parquet(f"{geo_dir_for(sf_dir)}/{table}.parquet")


def replicate_pages(spark, sf_dir, r):
    """Geo pages: per-copy url keeps per-url aggregation cardinality
    growing; the text suffix cannot add a coordinate or gazetteer match."""
    pages = read_geo(spark, sf_dir, "pages")
    return replicate(pages, r, url=suffix("url", "#r"), text=suffix("text", " #r"))


def replicate_crawl(pages, r):
    """Crawl snapshots with a per-copy host (``https://r<N>x.<host>/...``):
    a bigger crawl means more hosts, so host-keyed stages grow their key
    cardinality. Any http/https scheme is replaced, the host kept whole."""
    def host(copy):
        return F.concat(F.lit("https://r"), copy.cast("string"), F.lit("x."),
                        F.regexp_replace("url", "^https?://", ""))

    return replicate(pages, r, url=host, text=suffix("text", " r"))


def read_crawl(spark, sf_dir, r):
    crawl = spark.read.parquet(f"{ensure_crawl_fixture(sf_dir)}/crawl_pages.parquet")
    return replicate_crawl(crawl, r)


def replicate_docs(spark, sf_dir, r):
    return replicate(spark.read.parquet(f"{sf_dir}/documents.parquet"), r,
                     doc_id=offset("doc_id", 1_000_000), text=suffix("text", " r"))


# workload jobs: (spark, sf_dir, size) -> (run, counts). run() may fill
# counts and may return per-part seconds.

def flagship_job(spark, sf_dir, r):
    pages = replicate_pages(spark, sf_dir, r)
    polygons = read_geo(spark, sf_dir, "polygons")
    census = read_geo(spark, sf_dir, "census_long")

    def run():
        flagship_query(spark, pages, polygons, census).collect()

    return run, {"pages": pages.count()}


def pip_job(spark, sf_dir, r):
    pages = replicate_pages(spark, sf_dir, r)
    polygons = read_geo(spark, sf_dir, "polygons")
    counts = {"pages": pages.count()}

    def run():
        out = page_assignments(spark, pages, polygons)
        counts["assignments"] = checksum_all(out, "url", "poly_id", "GEOID", "kind")

    return run, counts


def knn_job(spark, sf_dir, r):
    """POIs stay fixed while the probe side grows (the production shape)."""
    pages = replicate_pages(spark, sf_dir, r)
    pois = read_geo(spark, sf_dir, "pois").filter(F.col("lat") <= 90.0)

    def run():
        out = knn_join(spark, geoparse_pages(pages), pois, k=1, strategy="kring")
        checksum_all(out, "url", "poi_id", "distance_km")
        release_caches(out)

    return run, {"pages": pages.count()}


def raster_job(spark, sf_dir, r):
    """Replication densifies pixels; the grid stays bounded by the
    coordinate domain."""
    pages = replicate_pages(spark, sf_dir, r)
    counts = {"pages": pages.count()}

    def run():
        raster = rasterize_counts(geoparse_pages(pages)).persist()  # feeds both outputs
        counts["pixels"] = checksum_all(focal_stats(raster), "cell", "focal_sum", "focal_mean")
        hot = vectorize_threshold(raster, threshold=50 * r)
        checksum_all(hot, "cell", "value", "lat_min", "lon_min")
        raster.unpersist()

    return run, counts


def curation_job(spark, sf_dir, r):
    pages = read_crawl(spark, sf_dir, r)

    def run():
        checksum_all(entrymod.crawl_curation_frame(spark, pages))

    return run, {"pages": pages.count()}


def corpus_job(spark, sf_dir, r):
    docs = replicate_docs(spark, sf_dir, r)

    def run():
        checksum_all(entrymod.corpus_curation_frame(docs))

    return run, {"docs": docs.count()}


def dedup_job(spark, sf_dir, r):
    """Copies of a base doc are ~0.95-Jaccard near-dups, so candidate pairs
    grow as r^2 per base doc and connected-component nodes as r."""
    docs = replicate_docs(spark, sf_dir, r).select("doc_id", "text")
    counts = {"docs": docs.count()}

    def run():
        pairs = jaccard_verify(docs, near_dup_pairs_minhash(docs), threshold=0.3)
        groups = dedup_groups(pairs.select("doc_a", "doc_b"), docs=docs)
        counts["groups"] = groups.select(
            F.bit_xor(F.xxhash64("doc_id", "group_id", "is_canonical")),
            F.count_distinct("group_id").alias("groups"),
        ).collect()[0]["groups"]

    return run, counts


def lm_job(spark, sf_dir, r):
    docs = replicate_docs(spark, sf_dir, r)

    def run():
        out = unigram_familiarity(docs)
        checksum_all(out)
        release_caches(out)

    return run, {"docs": docs.count()}


def temporal_job(spark, sf_dir, r):
    """Events grow with per-copy user/event ids (key cardinality scales);
    the per-key snapshot cadence and the interval calendar (every 100th
    BASE event opens a 45-minute window) stay fixed."""
    base = spark.read.parquet(f"{sf_dir}/events.parquet")
    events = replicate(base, r, user_id=offset("user_id", 10_000_000),
                       event_id=offset("event_id", 1_000_000_000))
    ivals = base.filter(F.col("event_id") % 100 == 0).select(
        F.col("event_id").alias("interval_id"),
        "event_type",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("end_ts"),
    )

    def run():
        t0 = time.perf_counter()
        checksum_all(entrymod.asof_join_frame(events))
        t1 = time.perf_counter()
        out = interval_join(events.select("event_id", "event_type", "ts"), ivals,
                            point_ts="ts", on=["event_type"], bucket_seconds=3600)
        checksum_all(out, "event_id", "interval_id", "ts")
        return {"asof_sec": round(t1 - t0, 3),
                "interval_sec": round(time.perf_counter() - t1, 3)}

    return run, {"events": events.count()}


def graph_job(spark, _sf_dir, n_nodes):
    """Every node links to two of 4096 hubs (item_pagerank's derivation,
    scaled): uniform join key, hot but map-side-combinable sum key."""
    ids = spark.range(0, n_nodes, 1, numPartitions=spark.sparkContext.defaultParallelism * 4)
    edges = ids.select(F.col("id").alias("src"), F.explode(F.array(
        F.pmod(F.col("id") * 31 + 7, F.lit(4096)), F.pmod(F.col("id") * 131 + 29, F.lit(4096))
    )).alias("dst"))

    def run():
        # count() suffices: the per-round eager checkpoints force every rank table
        pagerank(edges, iterations=PAGERANK_ROUNDS).count()

    return run, {"edges": edges.count()}


def sketch_job(spark, sf_dir, r):
    """HLL registers keyed (host, idx) plus the count-min table over the
    same scan; per-copy hosts and texts grow both groups and keys."""
    pages = read_crawl(spark, sf_dir, r)
    keyed = pages.select(page_host(F.col("url")).alias("host"), "text")

    def run():
        checksum_all(hll_cardinality(keyed, "text", ("host",), p=8))
        checksum_all(cms_sketch(keyed.select("host"), "host"))

    return run, {"pages": pages.count()}


@dataclass(frozen=True)
class Workload:
    name: str
    out: str                    # JSON file written at the repo root
    build: Callable             # (spark, sf_dir, size) -> (run, counts)
    size: int                   # replicate factor (graph: node count)
    unit: str                   # throughput unit, counted by the first count
    note: str                   # what the job runs and how its input grows
    shuffle: bool = False       # also report the shuffle-kernel ceiling
    rounds: int = 1             # units of work per counted row
    size_key: str = "replicate"
    extra: Callable | None = None  # (pair, sec, counts) -> extra keys


WORKLOADS = {w.name: w for w in [
    Workload("flagship", "BENCH_SCALING.json", flagship_job, 1, "pages",
             "flagship pipeline (geoparse -> cells -> two-phase PIP -> census "
             "pivot -> per-url rollup) on replicated geo pages.",
             extra=lambda pair, sec, counts: {"metric": "scaling_efficiency_%d_to_%d" % pair}),
    Workload("pip", "BENCH_SCALING_PIP.json", pip_job, 2, "pages",
             "two-phase PIP join alone (cell prefilter -> Catalyst ray-cast "
             "refine), replicated pages against the fixed polygon table.",
             extra=lambda pair, sec, counts: {
                 f"assignments_per_sec_{s}": round(counts["assignments"] / t, 1)
                 for s, t in sec.items()}),
    Workload("knn", "BENCH_SCALING_KNN.json", knn_job, 2, "pages",
             "kNN k-ring pipeline (Albers projection -> ring explode over the "
             "broadcast POIs -> top-1 per url -> exactness fallback); pages "
             "replicate, POIs stay fixed."),
    Workload("raster", "BENCH_SCALING_RASTER.json", raster_job, 2, "pages",
             "raster<->vector family (rasterize_counts -> 3x3 focal window, "
             "plus vectorize_threshold hotspots) on replicated pages."),
    Workload("curation", "BENCH_SCALING_CURATION.json", curation_job, 12, "pages",
             "5-stage crawl curation (snapshot dedup -> gate -> blocklist -> "
             "host cap -> canonical key); hosts grow with the factor.",
             shuffle=True),
    Workload("corpus", "BENCH_SCALING_CORPUS.json", corpus_job, 16, "docs",
             "6-stage document funnel (language -> quality -> repetition -> "
             "decontaminate -> sample -> PII scrub) on replicated documents."),
    Workload("dedup", "BENCH_SCALING_DEDUP.json", dedup_job, 3, "docs",
             "near-dup pipeline (minhash -> LSH banding -> capped pair join -> "
             "Jaccard verify -> hash-min components); copies are near-dups.",
             shuffle=True),
    Workload("lm", "BENCH_SCALING_LM.json", lm_job, 48, "docs",
             "unigram-LM scorer (explode -> persisted (doc, token) agg -> "
             "term-dictionary join -> per-doc agg); the dictionary grows."),
    Workload("temporal", "BENCH_SCALING_TEMPORAL.json", temporal_job, 20, "events",
             "as-of snapshot probe onto all events + 45-minute interval "
             "attribution against a fixed calendar; user/event ids vary per copy."),
    Workload("graph", "BENCH_SCALING_GRAPH.json", graph_job, 500_000, "edge_rounds",
             "5 fixed-point integer PageRank rounds over a generated "
             "2-out-edge link graph with 4096 hot hubs.",
             rounds=PAGERANK_ROUNDS, size_key="n_nodes"),
    Workload("sketch", "BENCH_SCALING_SKETCH.json", sketch_job, 24, "pages",
             "HLL registers keyed (host, idx) + 4x2048 count-min over the "
             "replicated crawl; hosts and texts vary per copy."),
]}
KERNELS = {"kernel": (cpu_kernel, KERNEL_ROWS), "shuffle": (shuffle_kernel, SHUFFLE_ROWS)}


def summarize(w: Workload, pair: tuple[int, int], best: dict) -> dict:
    """The BENCH_SCALING*.json body from the best child result per
    (job, cores): ``best[job][cores] = {"sec", "counts", ["parts"]}``."""
    small, big = pair
    sides = {"small": small, "big": big}
    sec = {s: best[w.name][c]["sec"] for s, c in sides.items()}
    counts = best[w.name][big]["counts"]
    raw, ceiling = efficiency(best, w.name, pair), efficiency(best, "kernel", pair)
    out = {
        "metric": f"{w.name}_scaling_efficiency_{small}_to_{big}",
        "value": round(raw / ceiling, 3),
        "unit": "ratio",
        "raw_efficiency": round(raw, 3),
        "host_ceiling_efficiency": round(ceiling, 3),
        "normalized_efficiency": round(raw / ceiling, 3),
        "cores": list(pair),
    }
    out.update({f"{w.name}_sec_{s}": t for s, t in sec.items()})
    if "parts" in best[w.name][big]:
        out.update({f"parts_{s}": best[w.name][c]["parts"] for s, c in sides.items()})
    out.update({f"kernel_sec_{s}": best["kernel"][c]["sec"] for s, c in sides.items()})
    if w.shuffle:
        out["shuffle_kernel_ceiling"] = round(efficiency(best, "shuffle", pair), 3)
        out.update({f"shuffle_kernel_sec_{s}": best["shuffle"][c]["sec"]
                    for s, c in sides.items()})
    work = next(iter(counts.values())) * w.rounds
    out.update({f"throughput_{s}_{w.unit}_per_sec": round(work / t, 1) for s, t in sec.items()})
    out.update({f"n_{k}": v for k, v in counts.items()})
    out[w.size_key] = w.size
    if w.rounds > 1:
        out["iterations"] = w.rounds
    if w.extra:
        out.update(w.extra(pair, sec, counts))
    out["note"] = (
        f"{w.note} local[{small}] vs local[{big}], {w.size_key} {w.size}, "
        f"{pathlib.Path(SF_DIR).name} inputs. normalized = raw / the same-window "
        "pure-JVM CPU-kernel ceiling" + (
            "; the shuffle-kernel ceiling (string-keyed hash agg, 300-byte "
            "payload) bounds the exchange-bound stages." if w.shuffle else "."))
    return out


def timed_best(spark, run: Callable, counts: dict) -> dict:
    """Warm run, then best of two timed runs; the CacheManager is cleared
    after each, because persisted intermediates are keyed by logical plan
    and an identical rerun would silently reuse them."""
    run()
    spark.catalog.clearCache()
    best = {"sec": float("inf")}
    for _ in range(2):
        t0 = time.perf_counter()
        parts = run()
        sec = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        if sec < best["sec"]:
            best = {"sec": sec, **({"parts": parts} if parts else {})}
    return {**best, "counts": counts}


def child(job: str, cores: int) -> dict:
    """One fresh-JVM measurement of ``job`` (a workload or a kernel)."""
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", str(1024 * 1024))
    build, size = KERNELS[job] if job in KERNELS else (WORKLOADS[job].build, WORKLOADS[job].size)
    spark = get_spark(app_name=f"scaling-{job}-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=max(2 * cores, 16))
    try:
        return {"cores": cores, **timed_best(spark, *build(spark, SF_DIR, size))}
    finally:
        spark.stop()


def child_argv(job: str) -> Callable[[int], list[str]]:
    return lambda cores: [sys.executable, __file__, "child", job, str(cores)]


def run_child(argv: list[str]) -> dict:
    out = subprocess.run(argv, capture_output=True, text=True, timeout=1800)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"no JSON from {argv}: {out.stderr[-600:]}")
    return json.loads(lines[-1])


def measure(jobs: dict[str, Callable[[int], list[str]]], pair: tuple[int, int]) -> dict:
    """Best child result per (job, cores): fresh JVM per child, the core
    order alternating between rounds, a cooldown after every child."""
    best: dict[str, dict[int, dict]] = {job: {} for job in jobs}
    for r in range(RUNS):
        for cores in (pair[::-1] if r % 2 == 0 else pair):
            for job, argv in jobs.items():
                res = run_child(argv(cores))
                if res["sec"] < best[job].get(cores, {"sec": float("inf")})["sec"]:
                    best[job][cores] = res
                print(f"run {r} cores {cores}: {job} {res['sec']}s", file=sys.stderr)
                time.sleep(COOLDOWN_S)
    return best


def efficiency(best: dict, job: str, pair: tuple[int, int]) -> float:
    small, big = pair
    return best[job][small]["sec"] / best[job][big]["sec"] / (big / small)


def main(names: list[str]) -> None:
    unknown = sorted(set(names) - set(WORKLOADS))
    if unknown:
        sys.exit(f"unknown workload(s) {unknown}; choose from {list(WORKLOADS)}")
    pair = core_pair(len(os.sched_getaffinity(0)))
    for name in names or list(WORKLOADS):
        w = WORKLOADS[name]
        jobs = ["kernel"] + (["shuffle"] if w.shuffle else []) + [name]
        summary = summarize(w, pair, measure({j: child_argv(j) for j in jobs}, pair))
        (ROOT / w.out).write_text(json.dumps(summary, indent=2) + "\n")
        print(json.dumps(summary))


if __name__ == "__main__":
    if sys.argv[1:2] == ["child"]:
        print(json.dumps(child(sys.argv[2], int(sys.argv[3]))))
    else:
        main(sys.argv[1:])
