"""Mergeable sketches (operators/sketch.py): deterministic HLL
cardinality and count-min frequency — accuracy, merge exactness,
partitioning invariance, and a Python twin of the register rule."""

import hashlib

import pytest
from pyspark.sql import functions as F

from socialmapper_spark.operators.sketch import (
    CMS_PREFIX,
    HLL_PREFIX,
    cms_counts,
    cms_probe,
    cms_sketch,
    hll_cardinality,
    hll_estimate,
    hll_merge,
    hll_registers,
)


def _md5_60(prefix: int, s: str) -> int:
    return int(hashlib.md5(f"{prefix}:{s}".encode()).hexdigest()[:15], 16)


def hll_registers_py(keys, p):
    """Driver-side twin of the register rule (tests only)."""
    rembits = 60 - p
    regs = {}
    for k in keys:
        h = _md5_60(HLL_PREFIX, k)
        idx, rem = h >> rembits, h & ((1 << rembits) - 1)
        rho = rembits + 1 if rem == 0 else rembits + 1 - rem.bit_length()
        regs[idx] = max(regs.get(idx, 0), rho)
    return regs


@pytest.fixture(scope="module")
def keyed(spark):
    # 24k rows, 6k distinct keys across 3 groups (≫ 2.5·m at p=8)
    return (
        spark.range(24000)
        .select(
            (F.col("id") % 3).cast("string").alias("grp"),
            F.concat(F.lit("k"), (F.col("id") % 6000).cast("string")).alias("k"),
        )
        .cache()
    )


def test_hll_registers_match_python_twin(spark):
    keys = [f"key{i}" for i in range(500)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["idx"]: r["rho"]
        for r in hll_registers(df, "k", p=8).collect()
    }
    assert got == hll_registers_py(keys, p=8)


def test_hll_estimate_accuracy(spark, keyed):
    out = {
        r["grp"]: r
        for r in hll_cardinality(keyed, "k", ("grp",), p=8).collect()
    }
    exact = {
        r["grp"]: r["n"]
        for r in keyed.groupBy("grp")
        .agg(F.countDistinct("k").alias("n"))
        .collect()
    }
    assert set(out) == set(exact)
    for g, row in out.items():
        # p=8 → rse ≈ 6.5%; accept 3·rse
        assert abs(row["est_cardinality"] - exact[g]) / exact[g] < 0.20
        assert row["m"] == 256
        # harmonic_fp is consistent: zero registers contribute 2^(rembits+1)
        assert row["harmonic_fp"] >= row["zero_registers"] * (1 << 53)


def test_hll_merge_equals_whole(spark, keyed):
    a = hll_registers(keyed.filter(F.col("k") < "k3"), "k", ("grp",))
    b = hll_registers(keyed.filter(F.col("k") >= "k3"), "k", ("grp",))
    merged = sorted(
        map(tuple, hll_merge(a, b, group_cols=("grp",)).collect())
    )
    whole = sorted(map(tuple, hll_registers(keyed, "k", ("grp",)).collect()))
    assert merged == whole
    # and the estimate off merged state is identical too
    est_m = sorted(
        map(
            tuple,
            hll_estimate(hll_merge(a, b, group_cols=("grp",)), ("grp",)).collect(),
        )
    )
    est_w = sorted(map(tuple, hll_cardinality(keyed, "k", ("grp",)).collect()))
    assert est_m == est_w


def test_hll_partitioning_invariance(spark, keyed):
    one = sorted(
        map(tuple, hll_cardinality(keyed.coalesce(1), "k", ("grp",)).collect())
    )
    many = sorted(
        map(tuple, hll_cardinality(keyed.repartition(7), "k", ("grp",)).collect())
    )
    assert one == many


def test_hll_register_count_bounded(spark, keyed):
    # at most m register rows per group survive regardless of input size
    counts = (
        hll_registers(keyed, "k", ("grp",), p=6)
        .groupBy("grp")
        .count()
        .collect()
    )
    assert all(r["count"] <= 64 for r in counts)


def test_hll_p_validation(spark, keyed):
    with pytest.raises(ValueError):
        hll_registers(keyed, "k", p=3)


def test_cms_never_underestimates(spark, keyed):
    est = {r["k"]: r["est_count"] for r in cms_counts(keyed, "k").collect()}
    exact = {
        r["k"]: r["n"]
        for r in keyed.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    # CMS error contract: overestimate ≤ (e/w)·N with prob 1-e^-d per
    # key (Cormode-Muthukrishnan); at 6k keys in 2048 counters the
    # per-row load is ~3, so most keys DO collide — the min-over-d is
    # what keeps the error inside the bound, not collision absence
    bound = 2.718281828 / 2048 * 24000
    over_bound = sum(est[k] - exact[k] > bound for k in exact) / len(exact)
    assert over_bound < 0.05


def test_cms_sparse_keys_exact(spark):
    # the near-exact regime: 100 keys in 4×2048 counters — per-row
    # collision probability ~100/2048, min over 4 rows makes a wrong
    # estimate vanishingly unlikely
    df = spark.range(24000).select(
        F.concat(F.lit("k"), (F.col("id") % 100).cast("string")).alias("k")
    )
    est = {r["k"]: r["est_count"] for r in cms_counts(df, "k").collect()}
    assert est == {f"k{i}": 240 for i in range(100)}


def test_cms_forced_collisions_still_over(spark, keyed):
    est = {
        r["k"]: r["est_count"]
        for r in cms_counts(keyed, "k", d=2, w=16).collect()
    }
    exact = {
        r["k"]: r["n"]
        for r in keyed.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert all(est[k] >= exact[k] for k in exact)
    # total mass conservation per row: every counter sums the true total
    sk = cms_sketch(keyed, "k", d=2, w=16)
    per_row = {
        r["r"]: r["s"]
        for r in sk.groupBy("r").agg(F.sum("c").alias("s")).collect()
    }
    assert per_row == {0: 24000, 1: 24000}


def test_cms_absent_key_reads_zero(spark, keyed):
    sk = cms_sketch(keyed, "k", d=4, w=1 << 16)
    probe = spark.createDataFrame([("never-inserted-key-xyz",)], "k string")
    [row] = cms_probe(sk, probe, "k", d=4, w=1 << 16).collect()
    assert row["est_count"] == 0


def test_cms_weighted(spark):
    df = spark.createDataFrame(
        [("a", 5), ("a", 7), ("b", 1)], "k string, wt int"
    )
    est = {
        r["k"]: r["est_count"]
        for r in cms_counts(df, "k", weight_col="wt").collect()
    }
    assert est == {"a": 12, "b": 1}


def test_cms_merge_by_sum(spark, keyed):
    """Two sketches merge by summing counters — equal to one-shot."""
    a = cms_sketch(keyed.filter(F.col("k") < "k3"), "k")
    b = cms_sketch(keyed.filter(F.col("k") >= "k3"), "k")
    merged = (
        a.unionByName(b)
        .groupBy("r", "idx")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, cms_sketch(keyed, "k").collect())
    )


def test_hll_null_keys_skipped_in_both_twins(spark, tmp_path):
    """NULL keys are dropped before hashing in the Spark operator and the
    DuckDB twin alike: a NULL key used to leave one (idx NULL, rho NULL)
    register row, counted as occupied, so zero_registers came out one
    short in both engines."""
    import duckdb
    import pandas as pd

    from socialmapper_spark.operators.sketch import hll_sql

    keys = [f"key{i}" for i in range(500)]
    rows = [("a", k) for k in keys] + [("a", None)] * 7 + [("b", None)] * 3
    path = str(tmp_path / "keys.parquet")
    pd.DataFrame(rows, columns=["grp", "k"]).to_parquet(path)
    df = spark.read.parquet(path)

    regs = hll_registers(df, "k", ("grp",), p=8).collect()
    assert {r["idx"]: r["rho"] for r in regs} == hll_registers_py(keys, p=8)

    got = [tuple(r) for r in hll_cardinality(df, "k", ("grp",), p=8).collect()]
    twin = duckdb.sql(
        hll_sql(f"read_parquet('{path}')", "k", {"grp": "grp"}, p=8)
    ).fetchall()
    assert got == twin
    # the all-NULL group has no registers, so no estimate row
    assert [r[0] for r in got] == ["a"]
    assert got[0][2] == 256 - len(hll_registers_py(keys, p=8))
