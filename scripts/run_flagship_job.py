"""Production job entry — `spark-submit --py-files engine.zip
scripts/run_flagship_job.py --pages ... --polygons ... --census ...
--out ...` (SURVEY.md §7.1 M6).

Stages (each resumable via the lineage checkpoint table):

  1. assign  — geoparse → cell encode → two-phase PIP join; written
               bucketed by url-hash with per-bucket lineage rows
               (row count, cell range, xxhash64-XOR checksum).
  2. rollup  — travel-time-band demographic aggregation over the
               checkpointed assignments, exported via the auto-format
               sink.

On restart after a failure, completed buckets of stage 1 are skipped
(anti-join against the lineage table) — the north_rule's
resume-without-recompute. Zero Python on executors: the polygon prep
runs on the driver and the PIP refine is a Catalyst expression.

Build the zip:  zip -r engine.zip socialmapper_spark   (from the repo root)
Local smoke:    python scripts/run_flagship_job.py --sf /root/testdata/sf0.001 --out /tmp/flagship_job
"""

from __future__ import annotations

import argparse
import pathlib
import sys

try:  # provided by `--py-files engine.zip` under spark-submit
    import socialmapper_spark  # noqa: F401
except ImportError:  # bare `python scripts/run_flagship_job.py` local smoke
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", help="fixture sf dir (driver testdata); sets all inputs")
    ap.add_argument("--pages")
    ap.add_argument("--polygons")
    ap.add_argument("--census")
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument(
        "--chunk-buckets", type=int, default=None,
        help="commit granularity: buckets per lineage commit (bounds the "
        "recompute window a crash can lose; default = whole stage)",
    )
    args = ap.parse_args()

    from socialmapper_spark.fixtures import geo_dir_for
    from socialmapper_spark.lineage import run_stage_with_lineage, verify_lineage
    from socialmapper_spark.pipeline import iso_rollup, page_assignments
    from socialmapper_spark.session import get_spark
    from socialmapper_spark.sinks import export_units

    if args.sf:
        geo = str(geo_dir_for(args.sf))
        args.pages = args.pages or f"{geo}/pages.parquet"
        args.polygons = args.polygons or f"{geo}/polygons.parquet"
        args.census = args.census or f"{geo}/census_long.parquet"
    if not (args.pages and args.polygons and args.census):
        ap.error("need --sf or all of --pages/--polygons/--census")

    spark = get_spark(app_name="flagship-job", master=args.master)
    pages = spark.read.parquet(args.pages)
    polygons = spark.read.parquet(args.polygons)
    census = spark.read.parquet(args.census)

    assign_path = f"{args.out}/assignments"
    lineage_path = f"{args.out}/lineage"

    # stage 1: resumable assignment
    assigns = page_assignments(spark, pages, polygons)
    n_done = run_stage_with_lineage(
        spark, assigns, "assign", "url", ["url", "poly_id"],
        assign_path, lineage_path, n_buckets=args.n_buckets, cell_col="cell_r9",
        chunk_size=args.chunk_buckets,
    )
    ok = verify_lineage(
        spark, assign_path, lineage_path, "assign", ["url", "poly_id"], "cell_r9"
    )
    print(f"stage assign: {n_done} buckets processed this run, lineage verified: {ok}")
    if not ok:
        raise SystemExit("lineage checksum mismatch — refusing to aggregate")

    # stage 2: travel-time-band rollup from the checkpointed table
    per_iso = iso_rollup(spark.read.parquet(assign_path), census)
    fmt = export_units(per_iso, f"{args.out}/demographics")
    print(f"stage rollup: wrote demographics as {fmt}")
    spark.stop()


if __name__ == "__main__":
    main()
