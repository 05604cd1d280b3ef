"""The three benchmark workloads, written against the package's public API.

``register`` reads a workload's generated inputs into DataFrames (set-up).
Each workload then gives the benchmark:

- ``job``: one repetition of the timed Spark job;
- ``check``: compare a repetition's output with the oracle, outside the
  timed window, and report its output rows and the bytes it wrote;
- ``layers``: the forced pipeline prefixes the traced run times;
- ``counters``: per-layer work counts for the traced run.
"""

from __future__ import annotations

import os
import pathlib
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from socialmapper_spark.geo.geoparse import geoparse_cols
from socialmapper_spark.lineage import run_stage_with_lineage, verify_lineage
from socialmapper_spark.operators.census import pivot_census
from socialmapper_spark.operators.knn import knn_join
from socialmapper_spark.operators.spatial_join import prepare_polygons, spatial_join
from socialmapper_spark.pipeline import flagship_query, geoparse_pages, page_assignments
from socialmapper_spark.session import release_caches

N_BUCKETS = 8


@dataclass
class Ctx:
    """One workload's registered inputs plus its scratch output directory."""

    spark: SparkSession
    data: pathlib.Path
    work: pathlib.Path
    meta: dict
    frames: dict[str, DataFrame] = field(default_factory=dict)


@dataclass
class Layer:
    """A forced prefix of the pipeline. Its self time is its own time
    minus the times of ``bases``. ``before`` and ``after`` run outside the
    timed window; ``after`` may return work counts of the layer."""

    name: str
    run: Callable[[], Any]
    bases: tuple[str, ...] = ()
    before: Callable[[], Any] | None = None
    after: Callable[[], dict[str, float] | None] | None = None


def noop(df: DataFrame) -> None:
    """Force every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, XOR of xxhash64 over ``cols``): order-insensitive, and it
    forces every listed column, so Catalyst cannot prune the plan."""
    r = df.select(F.count("*").alias("n"),
                  F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def register(spark: SparkSession, data: pathlib.Path, work: pathlib.Path, meta: dict) -> Ctx:
    """Read every generated input; the first job pays for scanning it."""
    ctx = Ctx(spark, data, work, meta)
    for name in ("pages", "polygons", "census_long", "pois"):
        path = data / f"{name}.parquet"
        if path.exists():
            df = spark.read.parquet(str(path))
            df.createOrReplaceTempView(name)
            ctx.frames[name] = df
    return ctx


def dir_bytes(*dirs: pathlib.Path) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``dirs``."""
    size = files = 0
    for d in dirs:
        for root, _, names in os.walk(d):
            for n in names:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class Workload:
    """Defaults for the optional parts of a workload."""

    name = ""

    def cleanup(self, ctx: Ctx) -> None:
        """Remove what a repetition left behind (outside the timed window)."""

    def counters(self, ctx: Ctx) -> dict[str, float]:
        """Work counts taken with extra actions while the session is up."""
        return {}

    def log_counters(self, ctx: Ctx, stats: dict) -> dict[str, float]:
        """Work counts read from the folded event log (see eventlog.py)."""
        return {}


def _geoparse_only(pages: DataFrame) -> DataFrame:
    g = geoparse_cols(F.col("text"))
    return pages.select("url", "warc_ts", "lang", g["lat"].alias("lat"),
                        g["lon"].alias("lon"), g["mentions"].alias("mentions"))


def _assignments(ctx: Ctx) -> DataFrame:
    return page_assignments(ctx.spark, ctx.frames["pages"], ctx.frames["polygons"])


def _source_layers(ctx: Ctx) -> list[Layer]:
    pages = ctx.frames["pages"]
    return [
        Layer("sources.scan", lambda: noop(pages)),
        Layer("geoparse", lambda: noop(_geoparse_only(pages)), ("sources.scan",)),
        Layer("cells", lambda: noop(geoparse_pages(pages)), ("geoparse",)),
    ]


def _join_layers(ctx: Ctx) -> list[Layer]:
    def prep():
        index = prepare_polygons(ctx.spark, ctx.frames["polygons"])
        noop(index.cells_df)
        noop(index.geoms_df)

    def join():
        index = prepare_polygons(ctx.spark, ctx.frames["polygons"])
        geop = geoparse_pages(ctx.frames["pages"]).filter(F.col("lat").isNotNull())
        noop(spatial_join(geop, index, cell="cell_r7"))

    return [
        Layer("spatial_join.prep", prep),
        Layer("spatial_join", join, ("cells", "spatial_join.prep")),
        Layer("pipeline.assign", lambda: noop(_assignments(ctx)), ("spatial_join",)),
    ]


def _join_counters(ctx: Ctx) -> dict[str, float]:
    index = prepare_polygons(ctx.spark, ctx.frames["polygons"])
    geop = geoparse_pages(ctx.frames["pages"]).filter(F.col("lat").isNotNull())
    cand = geop.join(F.broadcast(index.cells_df), geop["cell_r7"] == index.cells_df["cell"])
    n_cand = cand.count()
    edges = (cand.join(F.broadcast(index.geoms_df), "poly_id")
             .select(F.avg(F.size("__edges")).alias("e")).collect()[0]["e"])
    hits = spatial_join(geop, index, cell="cell_r7").count()
    return {
        "spatial_join.cover_rows": index.cells_df.count(),
        "spatial_join.candidates": n_cand,
        "spatial_join.hits": hits,
        "spatial_join.hit_ratio": hits / n_cand if n_cand else 0.0,
        "spatial_join.edges_per_candidate": float(edges or 0.0),
    }


class EnrichFlagship(Workload):
    """flagship_query(...).collect() on skewed pages and ~1.2k simple polygons."""

    name = "enrich_flagship"

    def expected(self, ctx: Ctx) -> list[tuple]:
        t = pq.read_table(ctx.data / "expected.parquet")
        return [tuple(r.values()) for r in t.to_pylist()]

    def job(self, ctx: Ctx) -> list:
        f = ctx.frames
        return flagship_query(ctx.spark, f["pages"], f["polygons"], f["census_long"]).collect()

    def check(self, ctx: Ctx, result: list, expected: list[tuple]) -> tuple[bool, int, int]:
        rows = [tuple(r) for r in result]
        return rows == expected, len(rows), 0

    def layers(self, ctx: Ctx) -> list[Layer]:
        return _source_layers(ctx) + _join_layers(ctx) + [
            Layer("census.pivot", lambda: noop(pivot_census(ctx.frames["census_long"]))),
            Layer("pipeline.rollup", lambda: self.job(ctx), ("pipeline.assign", "census.pivot")),
        ]

    def counters(self, ctx: Ctx) -> dict[str, float]:
        out = _join_counters(ctx)
        out["pipeline.per_url_rows"] = _assignments(ctx).select("url").distinct().count()
        return out


class Checkpointed(Workload):
    """A job whose output is written as a resumable stage: the output frame
    goes through ``run_stage_with_lineage`` (bucketed parquet plus lineage
    rows, all buckets in one persisted commit chunk, so the frame is
    computed once), then ``verify_lineage`` re-reads both. The written
    table is checked against the oracle's fingerprint over ``checksum``."""

    stage = ""
    checksum: list[str] = []
    cell_col: str | None = None

    def output(self, ctx: Ctx) -> DataFrame:
        raise NotImplementedError

    def _paths(self, ctx: Ctx) -> tuple[pathlib.Path, pathlib.Path]:
        return ctx.work / "output", ctx.work / "lineage"

    def expected(self, ctx: Ctx) -> tuple[int, int]:
        return fingerprint(ctx.spark.read.parquet(str(ctx.data / "expected.parquet")), self.checksum)

    def _stage(self, ctx: Ctx) -> int:
        out, lin = self._paths(ctx)
        df = self.output(ctx)
        try:
            return run_stage_with_lineage(ctx.spark, df, self.stage, "url", self.checksum, str(out),
                                          str(lin), n_buckets=N_BUCKETS, cell_col=self.cell_col,
                                          chunk_size=N_BUCKETS)
        finally:
            release_caches(df)

    def _verify(self, ctx: Ctx) -> bool:
        out, lin = self._paths(ctx)
        return verify_lineage(ctx.spark, str(out), str(lin), self.stage, self.checksum, self.cell_col)

    def job(self, ctx: Ctx) -> tuple[int, bool]:
        return self._stage(ctx), self._verify(ctx)

    def check(self, ctx: Ctx, result: tuple[int, bool], expected: tuple[int, int]) -> tuple[bool, int, int]:
        out, lin = self._paths(ctx)
        buckets, verified = result
        written = fingerprint(ctx.spark.read.parquet(str(out)), self.checksum)
        size, _ = dir_bytes(out, lin)
        ok = verified and buckets == min(N_BUCKETS, expected[0]) and written == expected
        return ok, written[0], size

    def cleanup(self, ctx: Ctx) -> None:
        for p in self._paths(ctx):
            shutil.rmtree(p, ignore_errors=True)

    def lineage_layers(self, ctx: Ctx, base: str) -> list[Layer]:
        """The stage prefix on top of the ``base`` prefix, which forces the
        same output frame without writing it; then verify, a job of its own
        over what the stage wrote, timed by itself."""
        buckets: list[int] = []

        def written() -> dict[str, float]:
            size, files = dir_bytes(*self._paths(ctx))
            rows = ctx.spark.read.parquet(str(self._paths(ctx)[0])).count()
            return {
                "lineage.buckets": buckets[-1],
                "lineage.bytes_written": size,
                "lineage.files_written": files,
                "lineage.out_bytes_per_row": size / max(rows, 1),
            }

        return [
            Layer("lineage.stage", lambda: buckets.append(self._stage(ctx)), (base,),
                  before=lambda: self.cleanup(ctx), after=written),
            Layer("lineage.verify", lambda: self._verify(ctx),
                  after=lambda: self.cleanup(ctx)),
        ]


class AssignLineage(Checkpointed):
    """Production stage 1: page_assignments → run_stage_with_lineage →
    verify_lineage, on uniform pages and ~1k polygons of 50-100 edges."""

    name = "assign_lineage"
    stage = "assign"
    checksum = ["url", "poly_id"]
    cell_col = "cell_r9"

    def output(self, ctx: Ctx) -> DataFrame:
        return _assignments(ctx)

    def layers(self, ctx: Ctx) -> list[Layer]:
        return _source_layers(ctx) + _join_layers(ctx) + self.lineage_layers(ctx, "pipeline.assign")

    def counters(self, ctx: Ctx) -> dict[str, float]:
        return _join_counters(ctx)


class NearestPoi(Checkpointed):
    """knn_join(geoparse_pages(pages), pois, k=1, strategy="auto") with
    more POIs than AUTO_BROADCAST_MAX_POIS, so ``auto`` takes the k-ring
    path; its rows are checkpointed as a lineage-tracked stage."""

    name = "nearest_poi"
    stage = "nearest_poi"
    checksum = ["url", "poi_id", "distance_km", "distance_miles"]

    def output(self, ctx: Ctx) -> DataFrame:
        return knn_join(ctx.spark, geoparse_pages(ctx.frames["pages"]), ctx.frames["pois"],
                        k=1, strategy="auto")

    def layers(self, ctx: Ctx) -> list[Layer]:
        def knn():
            out = self.output(ctx)
            noop(out)
            release_caches(out)

        return (_source_layers(ctx) + [Layer("knn", knn, ("geoparse",))]
                + self.lineage_layers(ctx, "knn"))

    def log_counters(self, ctx: Ctx, stats: dict) -> dict[str, float]:
        """Operator output rows of the traced ``knn`` prefix, per repetition:
        the ring explode (Generate), the left candidate join, and the
        brute-force fallback cross join (fallback points × POIs)."""
        s, reps = stats.get("knn"), stats["reps"]
        if s is None:
            return {}
        points = ctx.meta["located"]
        return {
            "knn.ring_rows": s.rows("Generate") / reps,
            "knn.candidates_per_point": s.rows("BroadcastHashJoin", "LeftOuter") / reps / points,
            "knn.fallback_ratio": s.rows("BroadcastNestedLoopJoin") / reps / ctx.meta["pois"] / points,
        }


WORKLOADS = {w.name: w for w in (EnrichFlagship(), AssignLineage(), NearestPoi())}
