"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at one scale, then compares row count, column names, and
order-insensitive values (sorted rows, columns sorted by name, doubles
compared exactly by repr — the engine is designed to be bit-identical to
the oracle). ``--sf DIR`` (default sf0.01) sets the scale of all three
inputs together: the TPC-H views (registered over DIR like the driver
does), the ``sf_dir`` each query reads, and the fixtures and goldens
``oracle_sql(DIR)`` reads.

Usage: python scripts/check_correctness.py [--sf DIR] [query ...]
"""

from __future__ import annotations

import argparse
import math
import pathlib
import sys

import duckdb

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if v is None:
        return "\x00NULL"
    # pandas/numpy scalars (the driver fetches the oracle via pandas, which is
    # what exposes DuckDB HUGEINT -> float64 typing drift; keep that behavior)
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return repr(v)


def main(sf_dir: str, selected: list[str]) -> int:
    import os as _os

    _os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", str(1 * 1024 * 1024))

    import __spark_entry__ as entrymod
    from socialmapper_spark.session import get_spark

    from socialmapper_spark.session import release_caches

    spark = get_spark(app_name="correctness", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql(sf_dir)
    names = selected or list(qs)
    failures = 0
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            spark_rows = sdf.collect()
            # drop any persist() handles the operator attached (kring kNN,
            # host_top_terms) — a 100+-entry run would otherwise accrete
            # resident cached blocks for its whole lifetime (r4 ADVICE)
            release_caches(sdf)
            spark_cols = sdf.columns
            got = sorted(
                tuple(norm(row[c]) for c in sorted(spark_cols)) for row in spark_rows
            )
            res = con.execute(oracles[name])
            oracle_cols = [d[0] for d in res.description]
            # fetch via Arrow like the driver's hasher does — this surfaces
            # type drift (e.g. HUGEINT -> decimal) that fetchall() hides,
            # while keeping nullable BIGINT columns integral (which a pandas
            # fetch would corrupt to float64)
            tbl = res.fetch_arrow_table()
            cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
            oracle_rows = list(zip(*cols)) if cols else []
            colmap = {c.lower(): i for i, c in enumerate(oracle_cols)}
            exp = sorted(
                tuple(norm(row[colmap[c.lower()]]) for c in sorted(spark_cols))
                for row in oracle_rows
            )
            schema_ok = sorted(c.lower() for c in spark_cols) == sorted(
                c.lower() for c in oracle_cols
            )
            count_ok = len(got) == len(exp)
            values_ok = got == exp
            status = "OK" if (schema_ok and count_ok and values_ok) else "FAIL"
            if status == "FAIL":
                failures += 1
            print(
                f"  {name}: {status} rows={len(got)}/{len(exp)} schema={schema_ok} values={values_ok}"
            )
            if not values_ok and count_ok:
                for a, b in zip(got, exp):
                    if a != b:
                        print(f"    first diff:\n      spark : {a}\n      oracle: {b}")
                        break
            elif not count_ok:
                sg, se = set(got), set(exp)
                only_g = list(sg - se)[:2]
                only_e = list(se - sg)[:2]
                print(f"    only-spark: {only_g}\n    only-oracle: {only_e}")
        except Exception as e:
            failures += 1
            print(f"  {name}: ERROR {type(e).__name__}: {str(e)[:300]}")
    spark.stop()
    print(f"{'PASS' if failures == 0 else 'FAIL'} ({len(names) - failures}/{len(names)})")
    return 1 if failures else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="scale directory")
    ap.add_argument("queries", nargs="*", help="entries to check (default: all)")
    args = ap.parse_args()
    raise SystemExit(main(args.sf, args.queries))
