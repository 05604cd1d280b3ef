"""Fixed-point integer PageRank (operators/graph.py)."""

from pyspark.sql import functions as F

from socialmapper_spark.operators.graph import (
    PAGERANK_DAMP_DEN,
    PAGERANK_DAMP_NUM,
    PAGERANK_SCALE,
    pagerank,
)


def pagerank_py(edges, iterations=5, scale=PAGERANK_SCALE,
                num=PAGERANK_DAMP_NUM, den=PAGERANK_DAMP_DEN):
    """Driver-side twin of the integer update rule (tests only)."""
    w = {}
    for s, d, ww in edges:
        w[(s, d)] = w.get((s, d), 0) + ww
    outw = {}
    for (s, _d), ww in w.items():
        outw[s] = outw.get(s, 0) + ww
    nodes = sorted({s for s, _ in w} | {d for _, d in w})
    base = (scale * (den - num)) // den
    r = {n: scale for n in nodes}
    for _ in range(iterations):
        inc = {n: 0 for n in nodes}
        for (s, d), ww in w.items():
            inc[d] += ((num * r[s]) // den) * ww // outw[s]
        r = {n: base + inc[n] for n in nodes}
    return r


EDGES = [
    ("a", "b", 1), ("b", "c", 2), ("c", "a", 1), ("a", "c", 1),
    ("d", "a", 3), ("e", "b", 1), ("c", "e", 4), ("a", "b", 2),
]


def test_pagerank_matches_python_twin(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string, w int")
    got = {r["node"]: r["rank_fp"] for r in pagerank(df, weight_col="w").collect()}
    assert got == pagerank_py(EDGES)


def test_pagerank_partitioning_invariant(spark):
    """Integer sums are associative — rank_fp must be bit-identical
    under any repartitioning (the reason the rule is integer at all)."""
    df = spark.createDataFrame(EDGES, "src string, dst string, w int")
    a = {r["node"]: r["rank_fp"] for r in pagerank(df, weight_col="w").collect()}
    b = {
        r["node"]: r["rank_fp"]
        for r in pagerank(df.repartition(7, "dst"), weight_col="w").collect()
    }
    assert a == b


def test_pagerank_dangling_and_unweighted(spark):
    """A node with no out-edges keeps only the base mass; omitting
    weight_col means every edge row counts 1 (parallel rows add up)."""
    rows = [("a", "b"), ("a", "b"), ("b", "c")]  # c dangles
    df = spark.createDataFrame(rows, "src string, dst string")
    got = {r["node"]: r["rank_fp"] for r in pagerank(df, iterations=3).collect()}
    exp = pagerank_py([(s, d, 1) for s, d in rows], iterations=3)
    assert got == exp
    base = (PAGERANK_SCALE * (PAGERANK_DAMP_DEN - PAGERANK_DAMP_NUM)) // PAGERANK_DAMP_DEN
    # c only ever receives; after the first round a's rank is exactly base
    assert got["a"] == base


def test_pagerank_checkpoint_interval_invariant(spark):
    """WHERE the plan is cut cannot change any rank (exact integer
    update rule) — intervals 1 and 5 must be bit-identical."""
    df = spark.createDataFrame(EDGES, "src string, dst string, w int")
    a = {r["node"]: r["rank_fp"]
         for r in pagerank(df, weight_col="w", checkpoint_interval=1).collect()}
    b = {r["node"]: r["rank_fp"]
         for r in pagerank(df, weight_col="w", checkpoint_interval=5).collect()}
    assert a == b


def test_pagerank_rejects_bad_interval(spark):
    import pytest

    df = spark.createDataFrame(EDGES, "src string, dst string, w int")
    with pytest.raises(ValueError):
        pagerank(df, checkpoint_interval=0)


def test_pagerank_float_rank_is_single_division(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string, w int")
    for r in pagerank(df, weight_col="w").collect():
        assert r["rank"] == r["rank_fp"] / PAGERANK_SCALE


def test_pagerank_int64_overflow_raises(spark):
    """A scale × weight product past int64 must fail loudly, never wrap
    into a plausible rank: the per-edge contribution is long arithmetic,
    and the session runs with ANSI mode on, so the overflow raises
    ARITHMETIC_OVERFLOW."""
    import pytest

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    scale, w = 10**12, 10**9  # damped rank × w ≈ 8.5e20 > 2**63
    df = spark.createDataFrame([("a", "b", w), ("b", "a", 1)], "src string, dst string, w long")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        pagerank(df, weight_col="w", scale=scale, iterations=1).collect()
