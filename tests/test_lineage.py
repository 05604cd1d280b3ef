"""Lineage emission + checkpoint resume (SURVEY.md §7.1 M5)."""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from socialmapper_spark.lineage import (
    completed_buckets,
    pending_buckets,
    pending_rows,
    run_stage_with_lineage,
    verify_lineage,
    with_bucket,
)


@pytest.fixture()
def workdir(tmp_path):
    return tmp_path


def _source(spark):
    from socialmapper_spark.pipeline import geoparse_pages
    from socialmapper_spark.fixtures import geo_dir_for

    geo = geo_dir_for("sf0.001")
    pages = spark.read.parquet(f"{geo}/pages.parquet")
    return geoparse_pages(pages).filter(F.col("lat").isNotNull()).select(
        "url", "lat", "lon", "cell_r7"
    )


def test_full_run_then_resume_is_noop(spark, workdir):
    df = _source(spark)
    out = str(workdir / "out")
    lin = str(workdir / "lineage")
    n1 = run_stage_with_lineage(
        spark, df, "geoparse", "url", ["url", "cell_r7"], out, lin,
        n_buckets=8, cell_col="cell_r7",
    )
    assert n1 == 8
    assert verify_lineage(spark, out, lin, "geoparse", ["url", "cell_r7"], "cell_r7")
    # rerun: everything committed → zero buckets processed
    n2 = run_stage_with_lineage(
        spark, df, "geoparse", "url", ["url", "cell_r7"], out, lin,
        n_buckets=8, cell_col="cell_r7",
    )
    assert n2 == 0


def test_partial_failure_resume_produces_identical_result(spark, workdir):
    df = _source(spark)
    out_a = str(workdir / "out_a")
    lin_a = str(workdir / "lin_a")
    # simulate a crash after 3 of 8 buckets: run with only buckets 0-2's data
    part = with_bucket(df, "url", 8).filter(F.col("bucket") < 3).drop("bucket")
    run_stage_with_lineage(
        spark, part, "stage1", "url", ["url"], out_a, lin_a, n_buckets=8
    )
    done = {r["bucket"] for r in completed_buckets(spark, lin_a, "stage1").collect()}
    assert done == {0, 1, 2}
    # resume with the full input: only the remaining 5 buckets run
    n = run_stage_with_lineage(
        spark, df, "stage1", "url", ["url"], out_a, lin_a, n_buckets=8
    )
    assert n == 5

    # clean single-shot run for comparison
    out_b = str(workdir / "out_b")
    lin_b = str(workdir / "lin_b")
    run_stage_with_lineage(
        spark, df, "stage1", "url", ["url"], out_b, lin_b, n_buckets=8
    )
    a = sorted(r["url"] for r in spark.read.parquet(out_a).collect())
    b = sorted(r["url"] for r in spark.read.parquet(out_b).collect())
    assert a == b
    # checksums identical across the two runs (kill/rerun idempotence)
    la = {
        (r["bucket"], r["row_count"], r["checksum"])
        for r in spark.read.parquet(lin_a).collect()
    }
    lb = {
        (r["bucket"], r["row_count"], r["checksum"])
        for r in spark.read.parquet(lin_b).collect()
    }
    assert la == lb


def test_checksum_partition_invariance(spark, workdir):
    """Same logical content → same checksums at any parallelism."""
    from socialmapper_spark.lineage import bucket_stats

    df = _source(spark)
    a = bucket_stats(
        with_bucket(df.repartition(3), "url", 4), "s", ["url"], "cell_r7"
    )
    b = bucket_stats(
        with_bucket(df.repartition(23), "url", 4), "s", ["url"], "cell_r7"
    )
    ka = {(r["bucket"], r["row_count"], r["checksum"], r["cell_min"], r["cell_max"])
          for r in a.collect()}
    kb = {(r["bucket"], r["row_count"], r["checksum"], r["cell_min"], r["cell_max"])
          for r in b.collect()}
    assert ka == kb


def test_chunked_commit_resume_skips_committed_buckets(spark, tmp_path):
    """r5: chunked commit granularity — a crash after k committed chunks
    loses only the in-flight chunk; the rerun recomputes exactly the
    never-committed buckets (lineage filter), and verify passes."""
    import pytest

    from socialmapper_spark.lineage import run_stage_with_lineage, verify_lineage

    df = spark.range(0, 2000).select(
        F.col("id").cast("string").alias("url"), (F.col("id") % 7).alias("poly_id")
    )
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_stage_with_lineage(
            spark, df, "assign", "url", ["url", "poly_id"], out, lin,
            n_buckets=16, chunk_size=4, fail_after_chunks=2,
        )
    import duckdb

    committed = duckdb.sql(
        f"select count(distinct bucket) from read_parquet('{lin}/*.parquet') "
        f"where status='committed'"
    ).fetchone()[0]
    assert committed == 8
    n = run_stage_with_lineage(
        spark, df, "assign", "url", ["url", "poly_id"], out, lin,
        n_buckets=16, chunk_size=4,
    )
    assert n == 8  # only the never-committed half recomputed
    assert verify_lineage(spark, out, lin, "assign", ["url", "poly_id"])
    # the checkpointed table is complete and exact
    assert spark.read.parquet(out).count() == 2000


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_completed_buckets_without_table_is_jvm_empty(spark, tmp_path):
    """No lineage table: an empty ``bucket int`` frame planned in the JVM
    (a list-backed ``Scan ExistingRDD`` would start a Python worker pool)."""
    done = completed_buckets(spark, str(tmp_path / "missing"), "stage1")
    assert done.schema.simpleString() == "struct<bucket:int>"
    assert done.count() == 0
    assert "ExistingRDD" not in _plan(done)


def test_fresh_stage_plan_has_no_anti_join(spark, workdir):
    """A stage with no lineage table yet writes its bucketed frame as is;
    once buckets are committed, the frame ``run_stage_with_lineage``
    writes is a filter on the pending bucket ids (read on the driver),
    not a join against the table."""
    df = _source(spark)
    out, lin = str(workdir / "out"), str(workdir / "lineage")
    fresh = pending_rows(df, "url", 8, pending_buckets(spark, lin, "geoparse", 8))
    assert "LeftAnti" not in _plan(fresh)
    assert "ExistingRDD" not in _plan(fresh)
    assert fresh.count() == df.count()
    part = with_bucket(df, "url", 8).filter(F.col("bucket") < 3).drop("bucket")
    run_stage_with_lineage(
        spark, part, "geoparse", "url", ["url", "cell_r7"], out, lin, n_buckets=8,
    )
    resumed = pending_rows(df, "url", 8, pending_buckets(spark, lin, "geoparse", 8))
    plan = _plan(resumed)
    assert "Join" not in plan
    assert re.search(r"Filter .*pmod\(xxhash64\(url.* IN \(3,4,5,6,7\)", plan), plan
    assert resumed.count() == with_bucket(df, "url", 8).filter(F.col("bucket") >= 3).count()


def test_chunked_rerun_over_empty_buckets_writes_no_chunk(spark, workdir):
    """Buckets that receive no rows commit nothing and stay pending; a
    chunked rerun of the finished stage drops them in its pass over the
    cache, so it writes no chunk (one would raise through
    ``fail_after_chunks=0``) and the output still verifies."""
    df = _source(spark).orderBy("url").limit(10)
    out, lin = str(workdir / "out"), str(workdir / "lineage")
    args = dict(n_buckets=64, chunk_size=8)
    n1 = run_stage_with_lineage(spark, df, "sparse", "url", ["url"], out, lin, **args)
    assert 0 < n1 <= 10
    assert len(pending_buckets(spark, lin, "sparse", 64)) == 64 - n1 > 8
    assert run_stage_with_lineage(spark, df, "sparse", "url", ["url"], out, lin,
                                  fail_after_chunks=0, **args) == 0
    assert verify_lineage(spark, out, lin, "sparse", ["url"])
    assert spark.read.parquet(out).count() == 10


@pytest.mark.parametrize("chunk_size", [None, 2])
def test_stage_writes_one_file_per_bucket(spark, workdir, chunk_size):
    """The write is rebalanced by bucket, so a stage over several input
    partitions lands each bucket as one file, not one per upstream task;
    each committed chunk appends one lineage file."""
    df = _source(spark).repartition(4)
    out, lin = str(workdir / "out"), str(workdir / "lineage")
    n = run_stage_with_lineage(spark, df, "geoparse", "url", ["url", "cell_r7"], out, lin,
                               n_buckets=8, cell_col="cell_r7", chunk_size=chunk_size)
    assert n == 8
    dirs = sorted(pathlib.Path(out).glob("bucket=*"))
    assert len(dirs) == 8
    assert {d.name: len(list(d.glob("*.parquet"))) for d in dirs} == {d.name: 1 for d in dirs}
    assert len(list(pathlib.Path(lin).glob("*.parquet"))) == 8 // (chunk_size or 8)
    assert verify_lineage(spark, out, lin, "geoparse", ["url", "cell_r7"], "cell_r7")


def test_stage_splits_a_bucket_above_the_advisory_size(spark, workdir):
    """A bucket larger than AQE's advisory partition size lands as several
    files, so no bucket has to fit in one write task; it still verifies.
    AQE splits a bucket at map-task boundaries, hence several input
    partitions."""
    df = _source(spark).repartition(4)
    out, lin = str(workdir / "out"), str(workdir / "lineage")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "4k")
    try:
        run_stage_with_lineage(spark, df, "geoparse", "url", ["url", "cell_r7"], out, lin,
                               n_buckets=2, cell_col="cell_r7")
    finally:
        spark.conf.unset(key)
    files = [len(list(d.glob("*.parquet"))) for d in sorted(pathlib.Path(out).glob("bucket=*"))]
    assert len(files) == 2 and min(files) > 1, files
    assert verify_lineage(spark, out, lin, "geoparse", ["url", "cell_r7"], "cell_r7")


def test_verify_lineage_flags_tampered_output(spark, workdir):
    """verify_lineage is false when a bucket's rows change or a committed
    bucket is missing from the output."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    df = _source(spark)
    out, lin = str(workdir / "out"), str(workdir / "lineage")
    args = ("geoparse", ["url", "cell_r7"], "cell_r7")
    run_stage_with_lineage(spark, df, "geoparse", "url", ["url", "cell_r7"], out, lin,
                           n_buckets=8, cell_col="cell_r7")
    assert verify_lineage(spark, out, lin, *args)
    one = pathlib.Path(out) / "bucket=1"
    table = pa.concat_tables([pq.read_table(f) for f in sorted(one.glob("*.parquet"))])
    shutil.rmtree(one)
    one.mkdir()
    pq.write_table(table.slice(1), one / "part-0.parquet")
    assert not verify_lineage(spark, out, lin, *args)
    shutil.rmtree(one)
    assert not verify_lineage(spark, out, lin, *args)


def _stage_names(spark, group: str, fn) -> list[str]:
    """Names of the stages of the jobs ``fn`` runs under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    return [tracker.getStageInfo(s).name for j in jobs for s in j.stageIds if tracker.getStageInfo(s)]


def test_verify_reads_with_the_stage_schema(spark, workdir):
    """The stage writes its schema beside the output, so verify reads the
    table without a footer-listing job; with the file gone it infers the
    schema (one ``parquet at`` job) and still verifies."""
    df = _source(spark)
    out, lin = str(workdir / "out"), str(workdir / "lineage")
    args = ("geoparse", ["url", "cell_r7"], "cell_r7")
    run_stage_with_lineage(spark, df, "geoparse", "url", ["url", "cell_r7"], out, lin,
                           n_buckets=8, cell_col="cell_r7")
    sidecar = pathlib.Path(out) / "_stage_schema.json"
    assert sidecar.is_file()
    assert spark.read.parquet(out).count() == df.count()  # Spark skips the file
    with_schema = _stage_names(spark, "verify-schema", lambda: verify_lineage(spark, out, lin, *args))
    assert with_schema and not [n for n in with_schema if n.startswith("parquet at")], with_schema
    sidecar.unlink()
    inferred = _stage_names(spark, "verify-infer", lambda: verify_lineage(spark, out, lin, *args))
    assert [n for n in inferred if n.startswith("parquet at")], inferred
    assert verify_lineage(spark, out, lin, *args)
