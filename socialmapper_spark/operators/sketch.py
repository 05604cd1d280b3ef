"""Mergeable sketch aggregates — deterministic HyperLogLog cardinality
and count-min frequency estimation.

At 100 TB, "how many distinct urls per host" and "how often does this
key occur" are questions you answer with a SKETCH, not an exact
aggregate: a register table of a few KB per group replaces a
distinct-shuffle over billions of rows, and — the property everything
here is built around — sketches MERGE. Daily register tables combine
into monthly cardinality with an elementwise max; two clusters' count-min
tables combine with an elementwise sum; neither re-reads the corpus.
The reference's closest surface is the exact `len(set(...))` dedup
census in socialmapper/census/ (see SURVEY.md §2 A2); this family is
the build-mandate web-scale extension of it.

Why NOT `approx_count_distinct` / Spark's built-in CountMinSketch:
their hash functions and register encodings are engine-private, so the
result cannot be checked against any other system, and two Spark
versions may disagree. Everything here is DETERMINISTIC and
cross-engine bit-exact: hashing is the repo's shared md5-60 primitive
(domain-separated prefixes 9200/9300), register updates are integer
max/sum (associative — identical under ANY partitioning), and the one
floating-point step (the HLL harmonic estimate) is a single IEEE
division of an embedded double literal by an exactly-computed int64,
mirrored token-for-token in the DuckDB twins generated beside each
operator.

Estimator domain (documented, not hidden): the HLL estimate is the RAW
Flajolet-et-al harmonic mean — the standard low-range linear-counting
correction needs ln(), whose last-ulp drift between Java and C libm
would break the cross-engine hash (the same reason operators/lm.py
avoids ln). Raw HLL is accurate for n ≳ 2.5·m; below that, exact
distinct is cheap anyway — pick p so the regime holds (rse ≈
1.04/sqrt(2^p)). `zero_registers` is emitted so a caller CAN apply
linear counting driver-side when it prefers accuracy over
cross-engine exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from socialmapper_spark.operators.dedup import _md5_hash60

HLL_PREFIX = 9200  # md5-60 domain separation (bloom uses 9100+)
CMS_PREFIX = 9300
HLL_P_DEFAULT = 8  # m = 256 registers, rse ~6.5%
CMS_D_DEFAULT = 4  # hash rows
CMS_W_DEFAULT = 2048  # counters per row


def _hll_alpha(m: int) -> float:
    """Standard HLL bias constant (Flajolet et al. 2007, §4)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    p: int = HLL_P_DEFAULT,
) -> DataFrame:
    """(group..., idx, rho) — the mergeable HLL state: per register
    index (top ``p`` bits of the 60-bit hash) the max leading-zero rank
    of the remaining ``60-p`` bits.

    Scale shape: ONE map-side-combinable aggregate (max is associative)
    keyed (group, idx) — at most ``2^p`` rows per group survive the
    combine regardless of input size, so the exchange carries KBs per
    group. This is the artifact to persist: tomorrow's registers merge
    with today's via :func:`hll_merge` without touching either scan.

    NULL keys are dropped before hashing, as ``count(distinct)`` drops
    them: a NULL key would otherwise hash to one register row with a
    NULL idx and rho, which :func:`hll_estimate` counts as an occupied
    register.
    """
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    rembits = 60 - p
    h = _md5_hash60(HLL_PREFIX, F.col(key_col).cast("string"))
    rem = h.bitwiseAND(F.lit((1 << rembits) - 1))
    rho = (
        F.when(rem == 0, F.lit(rembits + 1))
        .otherwise(F.lit(rembits + 1) - F.length(F.bin(rem)))
        .cast("int")
    )
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(
            *group_cols,
            F.shiftright(h, rembits).cast("int").alias("idx"),
            rho.alias("rho"),
        )
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*register_dfs: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Merge register tables from :func:`hll_registers` — elementwise
    max per (group, idx). Exact: merged registers are IDENTICAL to the
    registers of the concatenated inputs (max is associative and
    commutative), the property that makes incremental rollups free."""
    out = register_dfs[0]
    for r in register_dfs[1:]:
        out = out.unionByName(r)
    return out.groupBy(*group_cols, "idx").agg(F.max("rho").alias("rho"))


def hll_estimate(
    registers: DataFrame,
    group_cols: tuple[str, ...] = (),
    p: int = HLL_P_DEFAULT,
) -> DataFrame:
    """(group..., m, zero_registers, harmonic_fp, est_cardinality) from
    a register table.

    All-integer harmonic accumulation: sum(2^(rembits+1 - rho)) with an
    empty-register term of 2^(rembits+1) — max 2^61 at p=18, no
    overflow — then ONE IEEE division of the embedded
    ``alpha·m²·2^(rembits+1)`` double literal by that int64. Identical
    expression tree in :func:`hll_sql`, so the double is bit-equal in
    DuckDB."""
    m = 1 << p
    rembits = 60 - p
    full = 1 << (rembits + 1)
    numer = _hll_alpha(m) * m * m * float(full)
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").alias("_n"),
        # shiftleft's numBits arg must be a Python int in the PySpark
        # API; the per-row shift lives in SQL-expression form instead
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {rembits + 1} - rho)")
        ).alias("_s"),
    )
    return agg.select(
        *group_cols,
        F.lit(m).alias("m"),
        (F.lit(m) - F.col("_n")).cast("long").alias("zero_registers"),
        ((F.col("_s") + (F.lit(m) - F.col("_n")) * F.lit(full)).cast("long")).alias(
            "harmonic_fp"
        ),
        (
            F.lit(numer)
            / (F.col("_s") + (F.lit(m) - F.col("_n")) * F.lit(full)).cast("double")
        ).alias("est_cardinality"),
    )


def hll_cardinality(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    p: int = HLL_P_DEFAULT,
) -> DataFrame:
    """One-shot registers → estimate (see the two stages for the
    incremental/merge path)."""
    return hll_estimate(hll_registers(df, key_col, group_cols, p), group_cols, p)


def hll_sql(
    table_expr: str,
    key_expr: str,
    group_exprs: dict[str, str] | None = None,
    p: int = HLL_P_DEFAULT,
) -> str:
    """DuckDB twin of :func:`hll_cardinality` — generated beside the
    Spark operator so hash, register, and estimate definitions cannot
    drift. ``group_exprs`` maps output column name -> SQL expression."""
    m = 1 << p
    rembits = 60 - p
    full = 1 << (rembits + 1)
    numer = _hll_alpha(m) * m * m * float(full)
    g = group_exprs or {}
    gsel = "".join(f"{e} as {n}, " for n, e in g.items())
    gnames = ", ".join(g)
    gby = f"group by {gnames}" if g else ""
    gby_idx = f"group by {gnames + ', ' if g else ''}idx"
    gpfx = f"{gnames}, " if g else ""
    h = (
        f"cast(cast(('0x' || substring(md5('{HLL_PREFIX}:' || "
        f"cast({key_expr} as varchar)), 1, 15)) as ubigint) as bigint)"
    )
    return f"""
        with hashed as (
            select {gsel}{h} as h from {table_expr}
            where ({key_expr}) is not null
        ),
        regs as (
            select {gpfx}cast(h >> {rembits} as int) as idx,
                   max(case when (h & {(1 << rembits) - 1}) = 0
                            then {rembits + 1}
                            else {rembits + 1}
                                 - length(bin(h & {(1 << rembits) - 1}))
                       end) as rho
            from hashed {gby_idx}
        ),
        agg as (
            select {gpfx}count(*) as n,
                   cast(sum(cast(1 as bigint) << ({rembits + 1} - rho))
                        as bigint) as s
            from regs {gby}
        )
        select {gpfx}{m} as m,
               cast({m} - n as bigint) as zero_registers,
               cast(s + ({m} - n) * {full} as bigint) as harmonic_fp,
               {numer!r} / cast(s + ({m} - n) * {full} as double)
                   as est_cardinality
        from agg
    """


def cms_sketch(
    df: DataFrame,
    key_col: str,
    d: int = CMS_D_DEFAULT,
    w: int = CMS_W_DEFAULT,
    weight_col: str | None = None,
) -> DataFrame:
    """(r, idx, c) — a d×w count-min table: row r's counter at
    ``md5-60(9300+r : key) mod w`` accumulates the key's weight.

    ONE map-side-combinable integer sum keyed (r, idx): at most d·w
    counter rows survive the combine (64 KB at the defaults) no matter
    the input size. Two sketch tables merge by summing counters — union
    + the same groupBy. Estimates (:func:`cms_probe`) are exact-or-over,
    never under: est(k) ≥ true(k), with overestimate bounded by
    colliding mass (ε ≈ e/w of total weight at confidence 1-e^-d)."""
    wt = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    probes = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (
                            _md5_hash60(CMS_PREFIX + r, F.col(key_col).cast("string"))
                            % w
                        ).alias("idx"),
                        wt.alias("wt"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("p")
    ).select("p.*")
    return probes.groupBy("r", "idx").agg(F.sum("wt").cast("long").alias("c"))


def cms_probe(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    d: int = CMS_D_DEFAULT,
    w: int = CMS_W_DEFAULT,
) -> DataFrame:
    """(key, est_count) — min over the d counters each key hashes to.

    The sketch side is ≤ d·w rows and BROADCASTS; the probe is a
    map-side join however many keys are queried. Never-inserted keys
    read 0 via the left-join coalesce (an empty counter is a zero
    counter)."""
    kp = keys.select(key_col).distinct()
    probes = kp.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (
                            _md5_hash60(CMS_PREFIX + r, F.col(key_col).cast("string"))
                            % w
                        ).alias("idx"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("p"),
    ).select(key_col, "p.*")
    return (
        probes.join(F.broadcast(sketch), ["r", "idx"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0).cast("long"))).alias("est_count"))
    )


def cms_counts(
    df: DataFrame,
    key_col: str,
    d: int = CMS_D_DEFAULT,
    w: int = CMS_W_DEFAULT,
    weight_col: str | None = None,
) -> DataFrame:
    """Build + probe in one call: estimated frequency of every distinct
    key in ``df``. (With |keys| ≪ d·w this is near-exact; the point at
    corpus scale is probing a SMALL key set against a sketch built from
    a HUGE stream — pass your own keys to :func:`cms_probe` then.)"""
    return cms_probe(cms_sketch(df, key_col, d, w, weight_col), df, key_col, d, w)


def cms_sql(
    table_expr: str,
    key_expr: str,
    d: int = CMS_D_DEFAULT,
    w: int = CMS_W_DEFAULT,
    weight_expr: str = "1",
    out_key: str = "key",
) -> str:
    """DuckDB twin of :func:`cms_counts` (build + probe distinct keys),
    generated beside the Spark operator."""

    def bucket(r: int, kexpr: str) -> str:
        return (
            f"cast(cast(('0x' || substring(md5('{CMS_PREFIX + r}:' || "
            f"cast({kexpr} as varchar)), 1, 15)) as ubigint) % {w} as bigint)"
        )

    probe_rows = "\n            union all\n".join(
        f"            select k as {out_key}, {r} as r, {bucket(r, 'k')} as idx"
        " from keys"
        for r in range(d)
    )
    sketch_rows = "\n            union all\n".join(
        f"            select {r} as r, {bucket(r, 'k')} as idx, wt from base"
        for r in range(d)
    )
    return f"""
        with base as (
            select cast({key_expr} as varchar) as k,
                   cast({weight_expr} as bigint) as wt
            from {table_expr}
        ),
        sketch as (
            select r, idx, cast(sum(wt) as bigint) as c from (
{sketch_rows}
            ) group by r, idx
        ),
        keys as (select distinct k from base),
        probes as (
{probe_rows}
        )
        select {out_key},
               cast(min(coalesce(c, 0)) as bigint) as est_count
        from probes left join sketch using (r, idx)
        group by {out_key}
    """
