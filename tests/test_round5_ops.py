"""Round-5 fixes: quantization NaN/empty-vector domain guard, the
driver-compatible q_str projection, and the connected-components
convergence contract."""

import math

import pytest
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


# --- int8 quantization: domain guard (r4 ADVICE similarity.py:66) -------------

def test_quantize_nan_and_empty_vectors_null_out(spark):
    """The bit-reproducibility contract only holds for finite non-empty
    vectors; NaN-containing and empty vectors must null out all three
    outputs explicitly (not propagate engine-dependent NaN semantics)."""
    from socialmapper_spark.operators.similarity import quantize_embeddings

    rows = [
        (0, [1.0, float("nan"), 0.5]),
        (1, []),
        (2, [0.5, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    for bad in (0, 1):
        r = got[bad]
        assert r["scale"] is None and r["q"] is None and r["max_abs_err"] is None
    ok = got[2]
    assert ok["scale"] == 1.0 and ok["q"] == [64, -127]


def test_quantize_guard_matches_duckdb_twin(spark, tmp_path):
    """The guarded SQL twin nulls the same rows and produces the same
    q_str codes — including a NaN row, an empty row, and normal rows."""
    import duckdb

    from socialmapper_spark.operators.similarity import (
        quantize_embeddings,
        quantize_embeddings_sql,
    )

    rows = [
        (0, [1.0, float("nan"), 0.5]),
        (1, []),
        (2, [0.5, -1.0, 0.123456]),
        (3, [0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p = str(tmp_path / "emb.parquet")
    df.write.mode("overwrite").parquet(p)

    out = quantize_embeddings(spark.read.parquet(p)).select(
        "vec_id",
        "scale",
        F.array_join(F.transform("q", lambda x: x.cast("string")), ",").alias(
            "q_str"
        ),
        "max_abs_err",
    )
    got = {r["vec_id"]: (r["scale"], r["q_str"], r["max_abs_err"])
           for r in out.collect()}

    con = duckdb.connect()
    con.execute(
        f"create view embeddings as select * from read_parquet('{p}/*.parquet')"
    )
    sql = quantize_embeddings_sql("embeddings", codes_as_string=True)
    exp = {}
    for vec_id, scale, q_str, err in con.execute(sql).fetchall():
        exp[vec_id] = (scale, q_str, err)
    assert set(got) == set(exp)
    for k in got:
        gs, gq, ge = got[k]
        es, eq, ee = exp[k]
        assert gq == eq, (k, gq, eq)
        for a, b in ((gs, es), (ge, ee)):
            if a is None or b is None:
                assert a is None and b is None, (k, a, b)
            else:
                assert repr(a) == repr(b), (k, a, b)


def test_registry_quantize_entry_has_no_complex_columns(spark):
    """The r4 driver red row was an array<int> output column the pandas
    canonicalizer cannot hash; pin that the registry projection (and by
    extension the sweep invariant) stays flat-typed."""
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
    import __spark_entry__ as em
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = em.queries()["embedding_quantize"](spark, SF_SMALL)
    assert df.columns == ["vec_id", "scale", "q_str", "max_abs_err"]
    for f in df.schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), f


# --- CC convergence contracts (r4 ADVICE dedup.py:479) -------------------------

def _chain_pairs(spark, n=12):
    rows = [(i, i + 1) for i in range(n)]
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_cc_raises_on_non_convergence(spark):
    """Labels still changing at max_iter can split a component, and
    dedup_groups would then keep more than one canonical doc of it —
    must raise, not silently return them."""
    from socialmapper_spark.operators.dedup import dedup_groups

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_groups(_chain_pairs(spark), max_iter=1).collect()


def test_cc_hooks_chain_longer_than_max_iter(spark):
    """A 21-node chain needs 20 hash-min rounds; from round 3 on the
    labeler hooks and jumps, so max_iter = 6 is enough for the one
    union-find group."""
    from socialmapper_spark.operators.dedup import dedup_groups, dedup_groups_py

    out = sorted(map(tuple, dedup_groups(_chain_pairs(spark, n=20), max_iter=6).collect()))
    assert out == dedup_groups_py([(i, i + 1) for i in range(20)])
    assert {g for _, g, _ in out} == {0}


def test_star_cc_converged_chain_matches_hashmin(spark):
    """Once the labeler converges, its labels do not depend on how many
    rounds it was allowed: the 13-node chain at max_iter = 6 (done by the
    hooking rounds) and at max_iter = 25 (room for plain hash-min's 12
    rounds) both give the union-find group rooted at 0."""
    from socialmapper_spark.operators.dedup import dedup_groups, dedup_groups_py

    def rows(max_iter):
        return sorted(map(tuple, dedup_groups(_chain_pairs(spark), max_iter=max_iter).collect()))

    tight, loose = rows(6), rows(25)
    assert tight == loose == dedup_groups_py([(i, i + 1) for i in range(12)])
    assert tight[0] == (0, 0, True)


# --- the Catalyst cell codec at MAX_RES ----------------------------------------

def test_raster_decode_exact_at_high_res(spark):
    """Pins the exact Catalyst codec against the Python-int one at res 0,
    9 and MAX_RES = 22, on adversarial indices. At res ≥ 17 the in-res
    remainder passes 2^53, and the codec decodes with integer
    shiftright/pmod. A double-division decode would not misfloor on this
    grid either: the remainder converts to double within 16 and iy < 2^28
    keeps rem / 2^29's fraction under 0.5. So this pins the exact codec,
    not a past bug. Also runs grid_disk_col
    (across the antimeridian and on the top row) and cell_to_parent_col
    (22 → 17) at res 22 against their scalar twins."""
    from socialmapper_spark.geo.cells import (
        MAX_RES,
        cell_to_parent,
        cell_to_parent_col,
        decode_cell,
        decode_cell_col,
        encode_ixy,
        encode_ixy_col,
        grid_disk,
        grid_disk_col,
    )

    rows = []
    for res in (0, 9, MAX_RES):
        nx, ny = 1 << (res + 7), 1 << (res + 6)
        # max ix, ix patterns ending in all-ones/zeros, a dense band near
        # the top of the x range, the top and bottom rows
        ixs = [nx - 1, nx - 2, (1 << 28) - 1, 1 << 28, 123456789, 0, 1]
        iys = [ny - 1, 7, 0, 268435455, 99999999, 1, ny - 2]
        for ix, iy in zip(ixs, iys):
            ix, iy = ix % nx, min(iy, ny - 1)
            rows.append((res, encode_ixy(res, ix, iy), ix, iy))
    df = spark.createDataFrame(rows, "res int, cell long, ix long, iy long")
    gx, gy = decode_cell_col(F.col("cell"))
    got = df.select(
        "res", "cell", "ix", "iy", gx.alias("gx"), gy.alias("gy"),
        *[encode_ixy_col(r, F.col("ix"), F.col("iy")).alias(f"e{r}") for r in (0, 9, MAX_RES)],
    ).collect()
    for r in got:
        assert (r["gx"], r["gy"]) == (r["ix"], r["iy"]), dict(r.asDict())
        assert decode_cell(r["cell"]) == (r["res"], r["ix"], r["iy"])
        assert r[f"e{r['res']}"] == r["cell"]

    res = MAX_RES
    nx, ny = 1 << (res + 7), 1 << (res + 6)
    probes = [encode_ixy(res, nx - 1, ny - 1), encode_ixy(res, 0, ny - 1),
              encode_ixy(res, nx - 1, 0), encode_ixy(res, 123456789, 99999999)]
    pdf = spark.createDataFrame([(c,) for c in probes], "cell long")
    out = pdf.select(
        "cell",
        grid_disk_col(F.col("cell"), res, 1).alias("disk"),
        cell_to_parent_col(F.col("cell"), res, 17).alias("parent"),
    ).collect()
    for r in out:
        assert sorted(r["disk"]) == sorted(grid_disk(r["cell"], 1))
        assert r["parent"] == cell_to_parent(r["cell"], 17)
    assert {len(r["disk"]) for r in out} == {6, 9}  # top/bottom rows drop one row
