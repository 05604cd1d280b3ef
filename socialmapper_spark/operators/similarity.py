"""Similarity search over embedding columns (build mandate: ANN).

Three searches over ``embeddings(vec_id, embedding: array<float>, label)``,
all answered by one kernel (:func:`_heap_topk`):

- :func:`cosine_topk` — exact brute-force top-k per query vector.
- :func:`lsh_ann_topk` — seeded random-hyperplane LSH (sign bits → bucket
  id, a vectorized Arrow UDF); a query's candidates are the vectors in its
  bucket and in the LSH_BITS buckets at Hamming distance 1 (multi-probe).
- :func:`ivf_ann_topk` — a k-means coarse quantizer splits the corpus into
  IVF_NLIST inverted lists; a query's candidates are the vectors in its
  IVF_NPROBE nearest lists.

Query vectors are collected driver-side (queries are few) and broadcast as
one matrix; the kernel is one scan, one mapInPandas and a per-query window,
so the plan size is O(1) in the number of queries. Within its candidate set
each search is exact: it returns the rows of the pure-Python twin
``fixtures.cosine_topk_py`` that builds the goldens and that the tests
compare against.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

LSH_BITS = 12
LSH_SEED = 42


def _norm_expr(vec_col: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 max-abs quantization of an embedding column —
    the 4× memory cut a 100-TB ANN index takes before sharding:
    ``q_i = clamp(floor(x_i / scale · 127 + 0.5), −127, 127)`` with
    ``scale = max|x_i|`` per vector. floor(·+0.5) is the rounding rule
    ON PURPOSE: Spark's round() (HALF_UP) and DuckDB's round() disagree
    with each other on some half-way doubles, while floor of the same
    IEEE double is identical everywhere — so the quantized codes are
    bit-reproducible across engines and the oracle can hash them.

    Output: (id, scale double, q array<int>, max_abs_err double) where
    max_abs_err = max_i |x_i − q_i·scale/127| ≤ scale/254 + ulp (the
    round-to-nearest bound; pytest pins it). Pure Catalyst scan-side
    projection — no shuffle, no Python; dequantization is
    ``q_i · scale / 127`` with the same cross-engine exactness.

    Domain of the bit-reproducibility contract (r4 ADVICE): it holds only
    for finite, non-empty vectors. Empty vectors and vectors containing
    NaN are OUTSIDE the domain — Spark and DuckDB disagree on NaN
    ordering inside max and on floor(NaN) — so both are nulled out
    explicitly (scale/q/max_abs_err all NULL) rather than left to
    engine-dependent propagation. The SQL twin applies the same guard.
    """
    vec = F.col(vec_col)
    raw_scale = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    # Guard: empty vector → array_max returns NULL; any NaN element makes
    # raw_scale NaN (NaN sorts greatest in Spark's array_max). Null the
    # scale in both cases so every downstream output nulls with it.
    scale = F.when(F.isnan(raw_scale), F.lit(None).cast("double")).otherwise(
        raw_scale
    )
    d = embeddings.select(id_col, vec_col, scale.alias("scale"))
    qarr = F.transform(
        F.col(vec_col),
        lambda x: F.when(F.col("scale") == 0.0, F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(
                        x.cast("double") / F.col("scale") * F.lit(127.0) + F.lit(0.5)
                    ),
                ),
            )
        )
        .cast("int"),
    )
    d = d.withColumn(
        "q",
        F.when(F.col("scale").isNull(), F.lit(None).cast("array<int>")).otherwise(
            qarr
        ),
    )
    err = F.array_max(
        F.zip_with(
            F.col(vec_col),
            F.col("q"),
            lambda x, qi: F.abs(
                x.cast("double") - qi.cast("double") * F.col("scale") / F.lit(127.0)
            ),
        )
    )
    return d.select(id_col, "scale", "q", err.alias("max_abs_err"))


def quantize_embeddings_sql(
    table_expr: str = "embeddings", codes_as_string: bool = False
) -> str:
    """DuckDB twin of :func:`quantize_embeddings` — same floor-based
    rounding, same IEEE expression shapes, same NaN/empty-vector guard,
    generated beside the Spark code so the two dialects cannot drift.

    ``codes_as_string=True`` emits the codes as a comma-joined string
    column ``q_str`` instead of ``q array<int>`` — the driver's pandas
    canonicalizer cannot sort/hash list-typed columns (r4 red row), and
    int→string casting is representation-identical in both engines.
    """
    # NaN/empty guard mirrors the Spark side: list_max of an empty list is
    # NULL in DuckDB too, and any NaN element makes the raw max NaN.
    scale = (
        "(case when isnan(list_max(list_transform(embedding, "
        "x -> abs(cast(x as double))))) then null "
        "else list_max(list_transform(embedding, "
        "x -> abs(cast(x as double)))) end)"
    )
    q = (
        "case when scale is null then null else "
        "list_transform(embedding, x -> cast(case when scale = 0.0 then 0 "
        "else greatest(-127, least(127, "
        "floor(cast(x as double) / scale * 127.0 + 0.5))) end as int)) end"
    )
    err = (
        "list_max(list_transform(range(1, len(embedding) + 1), "
        "i -> abs(cast(embedding[i] as double) "
        "- cast(q[i] as double) * scale / 127.0)))"
    )
    q_proj = "array_to_string(q, ',') as q_str" if codes_as_string else "q"
    return (
        f"select vec_id, scale, {q_proj}, {err} as max_abs_err from ("
        f"select vec_id, embedding, scale, {q} as q from ("
        f"select vec_id, embedding, {scale} as scale from {table_expr}))"
    )


def cosine_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, vec_id, cosine, rank).

    ``cosine`` is rounded HALF_UP to 9 dp (Spark's ``round``) and ``rank``
    orders it descending, ties by ascending vec_id. Self-matches and
    candidates whose cosine is not finite (a zero-norm or NaN vector) are
    never returned. A query id missing from ``id_col``, or one whose
    vector has norm 0 or a non-finite norm, raises ValueError naming it.
    """
    qrows = _collect_queries(embeddings, query_ids, id_col, vec_col)
    return _heap_topk(spark, embeddings, qrows, k, id_col, vec_col)


def _heap_topk(
    spark: SparkSession,
    candidates: DataFrame,
    qrows: dict[int, np.ndarray],
    k: int,
    id_col: str,
    vec_col: str,
    key_col: str | None = None,
    probes: dict[int, list[int]] | None = None,
) -> DataFrame:
    """The one search kernel: ONE scan of ``candidates``, a broadcast
    query matrix, a per-partition :func:`_topk_cut` per query, then a
    per-query window for the final rank. Plan size is O(1) in |Q|.

    With ``key_col``/``probes`` set (the ANN searches), a row is a
    candidate for query q only when its key is in probes[q] — applied
    INSIDE the one scan, which is pre-filtered to the union of all probe
    keys so partition pruning still applies.

    Dot products and norms accumulate dimension-sequentially in float64
    and the query norm is numpy's dot, the twin's arithmetic, so emitted
    cosines are bit-identical to it.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qids = list(qrows)
    qmat = np.stack([qrows[qid] for qid in qids])  # (Q, D)
    qns = np.array([np.sqrt(np.dot(q, q)) for q in qmat])
    keys = None
    if probes is not None:
        keys = [np.asarray(probes[qid]) for qid in qids]
        union = sorted({key for qid in qids for key in probes[qid]})
        candidates = candidates.filter(F.col(key_col).isin(union))
    bc = spark.sparkContext.broadcast((qids, qmat, qns, keys))
    q9 = Decimal("0.000000001")

    def gen(batches):
        b_qids, b_qmat, b_qns, b_keys = bc.value
        pools = [[] for _ in b_qids]  # per query: (cosines, ids) survivors
        for pdf in batches:
            if len(pdf) == 0:  # empty partitions yield empty batches
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            acc = np.zeros((len(ids), len(b_qids)))
            nrm = np.zeros(len(ids))
            for d in range(mat.shape[1]):
                acc += mat[:, d : d + 1] * b_qmat[:, d]
                nrm += mat[:, d] * mat[:, d]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (np.sqrt(nrm)[:, None] * b_qns)
            row_keys = pdf[key_col].to_numpy() if b_keys is not None else None
            for j, qid in enumerate(b_qids):
                mask = (ids != qid) & np.isfinite(cos[:, j])
                if b_keys is not None:
                    mask &= np.isin(row_keys, b_keys[j])
                pools[j].append(_topk_cut(cos[mask, j], ids[mask], k))
        rows = []
        for qid, pool in zip(b_qids, pools):
            if not pool:
                continue
            cj, idj = _topk_cut(
                np.concatenate([c for c, _ in pool]),
                np.concatenate([i for _, i in pool]),
                k,
            )
            # Spark's round(col, 9): BigDecimal on the shortest repr, HALF_UP
            rows += [
                (qid, int(i), float(Decimal(repr(float(c))).quantize(q9, ROUND_HALF_UP)))
                for c, i in zip(cj, idj)
            ]
        yield pd.DataFrame(rows, columns=["query_id", "vec_id", "cosine"])

    cand = candidates.select(
        id_col, vec_col, *([key_col] if key_col else [])
    ).mapInPandas(gen, "query_id long, vec_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _topk_cut(
    cos: np.ndarray, ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """The rows that can still make the top k: every row whose cosine is
    at least the k-th largest minus 2e-9. A row more than 1e-9 below k
    others rounds (9 dp, error ≤ 5e-10 each) strictly below all of them,
    so the cut never drops a row of the rounded top k, however many
    near-ties sit at the boundary."""
    if len(cos) <= k:
        return cos, ids
    kth = np.partition(cos, len(cos) - k)[len(cos) - k]
    keep = cos >= kth - 2e-9
    return cos[keep], ids[keep]


def _planes(width: int, bits: int = LSH_BITS, seed: int = LSH_SEED) -> np.ndarray:
    """(bits, width) seeded standard-normal hyperplanes."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, width))


def _collect_queries(
    embeddings: DataFrame, query_ids: list[int], id_col: str, vec_col: str
) -> dict[int, np.ndarray]:
    """Collect the |Q| query vectors once (bounded — queries are few), in
    ``query_ids`` order. Raises ValueError naming every id that is missing
    or whose vector norm is 0 or not finite (its cosine is undefined)."""
    if not query_ids:
        raise ValueError("query_ids is empty")
    found = {
        r[id_col]: np.array(list(r[vec_col]), dtype=np.float64)
        for r in embeddings.filter(F.col(id_col).isin(query_ids)).collect()
    }
    missing = [qid for qid in query_ids if qid not in found]
    if missing:
        raise ValueError(f"query ids not found in {id_col}: {missing}")
    degenerate = [
        qid for qid in query_ids
        if not 0.0 < np.sqrt(np.dot(found[qid], found[qid])) < np.inf
    ]
    if degenerate:
        raise ValueError(
            f"query vectors with zero or non-finite norm in {id_col}: {degenerate}"
        )
    return {qid: found[qid] for qid in query_ids}


def lsh_bucket_py(vec: np.ndarray, planes: np.ndarray) -> int:
    signs = planes @ np.asarray(vec, dtype=np.float64) > 0.0
    out = 0
    for i, s in enumerate(signs):
        if s:
            out |= 1 << i
    return out


def lsh_buckets(
    spark: SparkSession,
    embeddings: DataFrame,
    planes: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``bucket`` int column: the sign bits of the vector against
    each row of ``planes`` (see :func:`_planes`), via an Arrow UDF."""
    bc = spark.sparkContext.broadcast(planes)

    @pandas_udf("int")
    def bucket(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy())  # (batch, dim) float32
        signs = mat.astype(np.float64) @ bc.value.T > 0.0  # (batch, bits)
        weights = (1 << np.arange(signs.shape[1])).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int32))

    return embeddings.withColumn("bucket", bucket(F.col(vec_col)))


def lsh_ann_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact rerank within the query's LSH bucket and
    all LSH_BITS buckets at Hamming distance 1 (multi-probe). Output and
    its rules are :func:`cosine_topk`'s over that candidate set; recall vs
    the exact search is what tests pin."""
    qrows = _collect_queries(embeddings, query_ids, id_col, vec_col)
    planes = _planes(len(next(iter(qrows.values()))))
    probes = {}
    for qid, q in qrows.items():
        qb = lsh_bucket_py(q, planes)
        probes[qid] = [qb] + [qb ^ (1 << i) for i in range(LSH_BITS)]
    bucketed = lsh_buckets(spark, embeddings, planes, vec_col)
    return _heap_topk(
        spark, bucketed, qrows, k, id_col, vec_col, "bucket", probes
    )


IVF_NLIST = 16
IVF_NPROBE = 4
IVF_SEED = 42
IVF_TRAIN_CAP = 100_000


def train_ivf_centroids(
    vecs: np.ndarray, nlist: int = IVF_NLIST, iters: int = 5, seed: int = IVF_SEED
) -> np.ndarray:
    """Deterministic Lloyd k-means for the IVF coarse quantizer.

    Driver-side prep (like polygon-index prep): trains on a bounded sample
    (the caller caps collection at IVF_TRAIN_CAP), fixed seed, fixed
    iteration count — the centroid matrix is a pure function of the
    training set, shared verbatim by the engine and the oracle twin.
    """
    rng = np.random.default_rng(seed)
    vecs = np.asarray(vecs, dtype=np.float64)
    idx = rng.choice(len(vecs), size=min(nlist, len(vecs)), replace=False)
    cent = vecs[np.sort(idx)].copy()
    for _ in range(iters):
        d2 = ((vecs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(np.round(d2, 6), axis=1)
        for c in range(len(cent)):
            members = vecs[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def ivf_assignment_scores(mat: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Rounded squared-distance scores used for cluster assignment by BOTH
    the executor UDF and the oracle twin. Rounding to 6 dp absorbs
    BLAS-blocking last-bit differences so assignment is batch-shape
    independent (ties then resolve to the lowest centroid index)."""
    d2 = (
        (cent**2).sum(axis=1)[None, :]
        - 2.0 * (mat.astype(np.float64) @ cent.T)
        + (mat.astype(np.float64) ** 2).sum(axis=1)[:, None]
    )
    return np.round(d2, 6)


def _ivf_train(embeddings: DataFrame, id_col: str, vec_col: str) -> np.ndarray:
    """Bounded, count-free training collect: deterministic hash-ordered
    top-IVF_TRAIN_CAP (TakeOrdered — a distributed heap, no full sort, no
    separate ``count()`` action to size a modulus). Collected rows are
    re-sorted by id driver-side so that whenever n ≤ cap the training
    matrix is exactly the id-ordered full corpus — the same matrix the
    oracle twin trains on."""
    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(
            F.xxhash64(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
        )
        .limit(IVF_TRAIN_CAP)
        .collect()
    )
    rows.sort(key=lambda r: r[id_col])
    train = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    return train_ivf_centroids(train)


def ivf_ann_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: a coarse k-means quantizer partitions the
    corpus into IVF_NLIST inverted lists; each query exact-reranks only
    its IVF_NPROBE nearest lists. Output and its rules are
    :func:`cosine_topk`'s over that candidate set.

    Scale shape: training samples ≤ IVF_TRAIN_CAP rows driver-side (hash
    sample — deterministic under repartitioning); assignment is one
    vectorized Arrow UDF pass (narrow); the scan is pruned to the union of
    the probed lists before the kernel. The list id doubles as a
    partition/bucket key at 100 TB scale (write the table clustered by it
    and probing prunes whole files).
    """
    qrows = _collect_queries(embeddings, query_ids, id_col, vec_col)
    cent = _ivf_train(embeddings, id_col, vec_col)
    probes = {
        qid: np.argsort(ivf_assignment_scores(q[None, :], cent)[0], kind="stable")
        .tolist()[:IVF_NPROBE]
        for qid, q in qrows.items()
    }
    bc = spark.sparkContext.broadcast(cent)

    @pandas_udf("int")
    def list_id(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy())
        scores = ivf_assignment_scores(mat, bc.value)
        return pd.Series(np.argmin(scores, axis=1).astype(np.int32))

    listed = embeddings.withColumn("ivf_list", list_id(F.col(vec_col)))
    return _heap_topk(
        spark, listed, qrows, k, id_col, vec_col, "ivf_list", probes
    )


NEAR_DUP_BITS = 6  # kept: legacy single-table bucket width (tests compare)
NEAR_DUP_THRESHOLD = 0.35
NEAR_DUP_TABLES = 4  # B independent hyperplane tables
NEAR_DUP_BAND_BITS = 8  # r sign bits per table → 256 buckets/table
NEAR_DUP_MAX_BUCKET = 1000  # hot-bucket cap (same guard as MinHash bands)


def _fold_dot(a: F.Column, b: F.Column) -> F.Column:
    """Catalyst dot product of two array columns (sequential fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def band_keys_py(vec: np.ndarray, planes: np.ndarray, tables: int, bits: int) -> list[int]:
    """Per-table band keys of one vector (scalar twin for goldens/tests).
    ``planes`` is the (tables·bits, dim) matrix; table t owns rows
    [t·bits, (t+1)·bits)."""
    signs = planes @ np.asarray(vec, dtype=np.float64) > 0.0
    w = 1 << np.arange(bits)
    return [int((signs[t * bits : (t + 1) * bits] * w).sum()) for t in range(tables)]


def lsh_band_keys(
    spark: SparkSession,
    embeddings: DataFrame,
    planes: np.ndarray,
    bits: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band_idx, band_key) — one row per hyperplane table of ``bits``
    consecutive rows of ``planes``, the sign-bit analog of
    :func:`dedup.minhash_bands`. One Arrow-batched matrix multiply per
    batch; the explode is narrow (tables ≤ 8)."""
    tables = len(planes) // bits
    bc = spark.sparkContext.broadcast(planes)

    @pandas_udf("array<int>")
    def keys(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        signs = mat @ bc.value.T > 0.0  # (batch, tables·bits)
        w = (1 << np.arange(bits)).astype(np.int64)
        per_table = [
            (signs[:, t * bits : (t + 1) * bits] @ w).astype(np.int32)
            for t in range(tables)
        ]
        arr = np.stack(per_table, axis=1)  # (batch, tables)
        return pd.Series(list(arr))

    keyed = embeddings.select(id_col, keys(F.col(vec_col)).alias("__keys"))
    return keyed.select(
        id_col, F.posexplode("__keys").alias("band_idx", "band_key")
    )


def embedding_near_dup_pairs(
    spark: SparkSession,
    embeddings: DataFrame,
    threshold: float = NEAR_DUP_THRESHOLD,
    tables: int = NEAR_DUP_TABLES,
    bits: int = NEAR_DUP_BAND_BITS,
    max_bucket: int = NEAR_DUP_MAX_BUCKET,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    observation=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — banded multi-table LSH
    (the MinHash band trick applied to hyperplane sign bits): B
    independent tables of r bits each; candidates are pairs sharing a
    full r-bit key in ANY table; exact fold-cosine ≥ threshold verifies.

    Why banded (vs the earlier single 6-bit table): with one table the
    corpus lands in only 2^bits buckets, so within-bucket pairing
    degenerates toward n²/2^bits at corpus scale, and raising bits alone
    trades recall away (P[all bits agree] = p^bits). B tables of r bits
    give P[candidate] = 1−(1−p^r)^B — at p=0.9: single-6-bit 0.53 vs
    4×8-bit 0.90 recall — while each table's 2^r-way split plus the
    ``max_bucket`` hot-bucket cap bounds Σ n_b² per table. Same guard,
    same shape, same skew story as ``near_dup_pairs_minhash``
    (dedup.py): candidate generation shuffles only (id, band_key) pairs;
    the embedding vectors join in AFTER the candidate set is distinct
    and small.

    Deterministic (seeded planes) — the fixtures twin reproduces the
    exact row set. Pass a :class:`pyspark.sql.Observation` as
    ``observation`` to report (n_buckets_dropped, n_rows_in_dropped)
    with the action (``dedup.attach_bucket_audit``) — the hot-bucket
    cap is auditable, never silent.
    """
    from socialmapper_spark.operators.dedup import attach_bucket_audit

    dim = len(embeddings.select(vec_col).first()[0])
    bands = lsh_band_keys(
        spark, embeddings, _planes(dim, tables * bits), bits, id_col, vec_col
    )
    sized = bands.groupBy("band_idx", "band_key").agg(
        F.collect_list(id_col).alias("ids"), F.count("*").alias("n")
    )
    if observation is not None:
        sized = attach_bucket_audit(sized, observation, max_bucket)
    sized = sized.filter((F.col("n") >= 2) & (F.col("n") <= max_bucket))
    cand = (
        sized.select(F.explode("ids").alias("vec_a"), "ids")
        .select("vec_a", F.explode("ids").alias("vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .distinct()
    )
    a = embeddings.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("__emb_a")
    )
    b = embeddings.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("__emb_b")
    )
    pairs = cand.join(a, "vec_a").join(b, "vec_b")
    cos = _fold_dot(F.col("__emb_a"), F.col("__emb_b")) / (
        _norm_expr(F.col("__emb_a")) * _norm_expr(F.col("__emb_b"))
    )
    return (
        pairs.withColumn("cosine", F.round(cos, 9))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("vec_a", "vec_b", "cosine")
    )
