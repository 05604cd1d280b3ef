"""Host-graph ranking — fixed-point integer PageRank for crawl-frontier
prioritization.

A 100 TB web corpus needs a host/domain importance signal to decide what
to crawl, keep, or upsample (the CommonCrawl harmonic-centrality /
Brin-Page rank analog of the reference's cluster-importance metrics —
socialmapper has no graph code; this extends the build-mandate web
family). The reference's closest surface is the POI "importance" sort in
socialmapper/query/overpass.py (tag-weighted ordering); this replaces
that single-table heuristic with a real link-graph rank.

Why INTEGER fixed-point: distributed float sums are reduction-ORDER
dependent, so a float PageRank cannot be hash-compared across engines or
even across two runs with different partitioning. All arithmetic here is
int64: ranks are `scale`-scaled units, the damping multiply/divide is
exact integer division mirrored in the DuckDB twin
(:func:`pagerank_sql`), and the per-target sum is an associative integer
sum — bit-identical under ANY partitioning, salting, or engine. The
float `rank` output column is derived LAST (one IEEE division per row,
identical in both engines).

Overflow contract: intermediate magnitude is bounded by
``damping_num * total_rank`` for the damping step and
``dr * max_edge_weight`` for the weighting step, where ``total_rank <=
n_nodes * scale + iterations * scale`` (mass is conserved up to dangling
loss + per-node base). With the default scale 1e9 this holds to ~1e8
nodes and 1e4 max weight; for bigger graphs lower ``scale``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PAGERANK_SCALE = 10**9
PAGERANK_DAMP_NUM = 85
PAGERANK_DAMP_DEN = 100


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    scale: int = PAGERANK_SCALE,
    damping_num: int = PAGERANK_DAMP_NUM,
    damping_den: int = PAGERANK_DAMP_DEN,
    checkpoint_interval: int = 3,
) -> DataFrame:
    """(node, rank_fp, rank) after ``iterations`` synchronous PageRank
    rounds over ``edges`` — rank_fp is the exact int64 fixed-point value
    (units of 1/scale), rank = rank_fp / scale as one final IEEE
    division.

    Update rule (all integer):
      dr       = (damping_num * r) div damping_den          -- damped mass
      contrib  = (dr * w) div out_w                         -- per edge
      r'       = base + sum(contrib over in-edges)
      base     = (scale * (damping_den - damping_num)) div damping_den

    Fixed iteration count, NOT convergence detection: a rank consumer
    (crawl scheduler, sampler) wants a reproducible artifact, and T=5-10
    is the production norm. Dangling mass (nodes with no out-edges)
    evaporates, the standard simplification; ranks are therefore
    comparable within one run, not probabilities.

    Scale shape: parallel edges consolidate once into (src, dst, w) +
    a per-src out-weight — both map-side-combinable aggs — and the
    weighted-edge table is persisted, hash-partitioned on src by the
    join that builds it. Each iteration is ONE join of that table with
    the rank table (keyed src), ONE integer sum keyed dst, and a left
    join of the sums back onto the node list. The rank table is |nodes|
    rows (tiny next to the corpus: ~1e8 hosts for 1e12 pages). Executed
    plan of one round (sf0.01 item graph, local[4], 8 shuffle
    partitions): with the rank table under
    ``spark.sql.autoBroadcastJoinThreshold`` the round is the cached edge
    scan ⋈ a BroadcastExchange of the ranks, one ``Exchange
    hashpartitioning(dst)`` for the sum, and a BroadcastExchange of the
    sums into the node-list join, so the edge side never moves. With
    broadcast off (threshold -1) both joins are sort-merge joins; the
    cached edge table and node list still do not move (their cached
    partitioning satisfies the joins), and each round adds an
    ``Exchange hashpartitioning(node)`` of the rank table to the
    ``Exchange hashpartitioning(dst)`` of the sums. Plans are
    truncated with an eager localCheckpoint every ``checkpoint_interval``
    rounds (the GraphX checkpointInterval tradeoff: longer intervals cut
    job-boundary latency — measured 1.18× wall on the 60k-node item graph
    going from 1 to 3 (9.10 s → 7.70 s, best-of-2 interleaved, local[32])
    — at the cost of a deeper lineage to recompute on executor loss; at
    cluster scale with big rank tables, keep it small).
    Result values are interval-invariant: the update rule is exact
    integer math, so WHERE the plan is cut cannot change any rank.
    """
    if checkpoint_interval < 1:
        raise ValueError("checkpoint_interval must be >= 1")
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    ew = e.join(outw, "src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    base = (scale * (damping_den - damping_num)) // damping_den
    ranks = nodes.withColumn("r", F.lit(scale).cast("long")).localCheckpoint(
        eager=True
    )
    contrib_expr = F.expr(
        f"(({damping_num} * r) div {damping_den}) * w div out_w"
    ).cast("long")
    for t in range(iterations):
        inc = (
            ew.alias("e")
            .join(ranks.alias("r"), F.col("e.src") == F.col("r.node"))
            .select(F.col("e.dst").alias("dst"), contrib_expr.alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.alias("n")
            .join(inc.alias("i"), F.col("n.node") == F.col("i.dst"), "left")
            .select(
                F.col("n.node").alias("node"),
                (F.lit(base) + F.coalesce(F.col("i.c"), F.lit(0)))
                .cast("long")
                .alias("r"),
            )
        )
        if (t + 1) % checkpoint_interval == 0 and t + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    # final materialization truncates the tail lineage AND lets the
    # persisted inputs be released before the caller consumes the result
    ranks = ranks.localCheckpoint(eager=True)
    ew.unpersist()
    nodes.unpersist()
    return ranks.select(
        "node",
        F.col("r").alias("rank_fp"),
        (F.col("r").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def pagerank_sql(
    edges_cte: str,
    iterations: int = 5,
    scale: int = PAGERANK_SCALE,
    damping_num: int = PAGERANK_DAMP_NUM,
    damping_den: int = PAGERANK_DAMP_DEN,
) -> str:
    """DuckDB twin of :func:`pagerank` — generated beside the Spark loop
    so the integer update rule cannot drift. ``edges_cte`` must select
    columns (src, dst, w); the iterations are unrolled as CTEs (r0..rT).

    DuckDB notes: integer division is ``//`` (floor; all operands here
    are nonnegative, so it equals Spark's truncating ``div``), and sums
    are cast back to bigint because DuckDB widens sum() to HUGEINT.
    """
    base = (scale * (damping_den - damping_num)) // damping_den
    parts = [
        f"with e0 as ({edges_cte})",
        "e as (select src, dst, cast(sum(w) as bigint) as w from e0 group by src, dst)",
        "outw as (select src, cast(sum(w) as bigint) as out_w from e group by src)",
        "ew as (select e.src, e.dst, e.w, outw.out_w from e join outw using (src))",
        "nodes as (select src as node from e union select dst from e)",
        f"r0 as (select node, cast({scale} as bigint) as r from nodes)",
    ]
    for t in range(iterations):
        parts.append(
            f"c{t + 1} as (select ew.dst, cast(sum((({damping_num} * r{t}.r) "
            f"// {damping_den}) * ew.w // ew.out_w) as bigint) as c "
            f"from ew join r{t} on ew.src = r{t}.node group by ew.dst)"
        )
        parts.append(
            f"r{t + 1} as (select node, cast({base} + coalesce(c, 0) as bigint) as r "
            f"from nodes left join c{t + 1} on node = dst)"
        )
    return (
        ",\n".join(parts)
        + f"\nselect node, r as rank_fp, cast(r as double) / {float(scale)} as rank "
        f"from r{iterations}"
    )
