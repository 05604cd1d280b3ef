"""Document deduplication operators for training-data pipelines.

Beyond the reference's operator set (build mandate): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification over a
``documents(doc_id, text, ...)`` table.

Design notes for the 100 TB case:

- Shingling, MinHash signatures, and band keys are pure Catalyst column
  expressions (split / transform / array_min / md5) — no Python on the
  big side, fully whole-stage-codegen.
- Candidate generation is the standard LSH band trick: explode band
  keys, self-join on (band_idx, band_key). The self-join shuffles only
  (doc_id, band_key) pairs — tiny vs the corpus — and hot buckets (boiler-
  plate text) are bounded by ``max_bucket`` to keep the join skew-safe,
  the same guard production LSH pipelines use.
- Hashes are md5-derived 60-bit ints so the DuckDB/Python oracles can
  reproduce them exactly (the container lacks xxhash/mmh3 for Python,
  and DuckDB lacks xxhash64 — md5 is the shared primitive).

MinHash spec (pinned; oracle twin in fixtures.ensure_text_goldens):
  norm(text)   = lower(trim(regexp_replace(text, '\\s+', ' ')))
  words        = split(norm, ' ')
  shingles     = distinct 3-word shingles joined by ' ';
                 if fewer than 3 words: [norm]
  h_i(s)       = int(md5(f"{i}:{s}")[:15], 16)     for i in 0..NUM_PERM-1
  sig_i        = min over shingles of h_i
  band_key_j   = md5(sig_{4j} || ',' || ... || sig_{4j+3})  j in 0..3
  near-dup     = pairs sharing ≥1 band key (doc_a < doc_b)
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS
SHINGLE_K = 3


def normalize_text(c) -> F.Column:
    return F.lower(F.trim(F.regexp_replace(c, "\\s+", " ")))


def shingles_col(c) -> F.Column:
    """Distinct 3-word shingles of normalized text (pure Catalyst;
    slice + array_join per shingle — see word_ngrams_col)."""
    norm = normalize_text(c)
    words = F.split(norm, " ")
    make = F.transform(
        F.sequence(F.lit(1), F.size(words) - (SHINGLE_K - 1)),
        lambda i: F.array_join(F.slice(words, i, SHINGLE_K), " "),
    )
    return F.when(F.size(words) >= SHINGLE_K, F.array_distinct(make)).otherwise(
        F.array(norm)
    )


def _md5_hash60(prefix: int, s: F.Column) -> F.Column:
    """int(md5(f'{prefix}:{s}')[:15], 16) as a column expression."""
    hx = F.substring(F.md5(F.concat(F.lit(f"{prefix}:"), s).cast("binary")), 1, 15)
    return F.conv(hx, 16, 10).cast("long")


def md5_hash60_py(prefix: int, s: str) -> int:
    return int(hashlib.md5(f"{prefix}:{s}".encode()).hexdigest()[:15], 16)


WINNOW_K = 8  # character k-gram length
WINNOW_W = 4  # winnowing window (guarantee span = k + w - 1 = 11 chars)


def winnow_gram_hashes_col(norm: F.Column, k: int = WINNOW_K) -> F.Column:
    """Array of md5-60 hashes of every character k-gram of an ALREADY
    normalized text column. Must be given a plain column *reference*
    (a materialized projection), never the normalization expression
    inline: Spark does not hoist lambda-invariant subexpressions out of
    higher-order functions, so an inline ``norm`` expression would be
    re-evaluated once per k-gram (the quadratic-recompute trap this
    split exists to avoid)."""
    n_grams = F.greatest(F.length(norm) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: _md5_hash60(0, norm.substr(i, F.lit(k))),
    )


def winnow_minima_col(hashes: F.Column, w: int = WINNOW_W) -> F.Column:
    """Sorted distinct minima of each w-window of a gram-hash array.
    Same materialized-reference contract as
    :func:`winnow_gram_hashes_col`: pass a column reference, or the hash
    array recomputes once per window."""
    n_win = F.greatest(F.size(hashes) - (w - 1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), n_win), lambda j: F.array_min(F.slice(hashes, j, w))
    )
    return F.array_sort(F.array_distinct(mins))


def winnow_fingerprints_col(
    c: F.Column, k: int = WINNOW_K, w: int = WINNOW_W
) -> F.Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03) as a
    pure Catalyst expression: hash every character k-gram of the
    normalized text, take the minimum of each w-window of consecutive
    gram hashes, return the sorted distinct minima.

    The classic *rolling* hash is only an efficiency trick for computing
    k-gram hashes sequentially; hashing each k-gram directly (md5-60, the
    repo's shared cross-engine primitive) yields the same fingerprint
    scheme with the same guarantee: any shared substring of length
    ≥ k+w-1 produces at least one shared fingerprint. Ties inside a
    window collapse to the same hash value, so the position-less
    fingerprint SET is tie-rule-independent.

    SCALE WARNING — parity/one-off form only. As a single nested
    expression the normalization re-evaluates per k-gram and the hash
    array per window (lambda-invariant recompute: O(len²) md5+regexp per
    row; measured ~0.85 s per 200-char doc). The corpus-scale form is
    :func:`winnow_fingerprints`, which materializes the intermediates as
    projected columns — same output, ~len-linear.
    """
    return winnow_minima_col(winnow_gram_hashes_col(normalize_text(c), k), w)


def winnow_py(text: str, k: int = WINNOW_K, w: int = WINNOW_W) -> list[int]:
    """Scalar twin of :func:`winnow_fingerprints_col` (goldens/tests).

    re.ASCII pins Python's ``\\s`` to the same class Java's regex uses
    ([ \\t\\n\\x0b\\f\\r]) — without it, Unicode whitespace like NBSP
    normalizes differently in the two engines and fingerprints diverge.
    """
    import re

    # .strip(' ') not .strip(): F.trim removes ASCII space only, while
    # Python's bare strip() removes Unicode whitespace (NBSP at string
    # edges survives the ASCII \s collapse and must survive here too)
    norm = re.sub(r"\s+", " ", text, flags=re.ASCII).strip(' ').lower()
    if len(norm) > k:
        grams = [norm[i : i + k] for i in range(len(norm) - k + 1)]
    else:
        grams = [norm]
    hashes = [md5_hash60_py(0, g) for g in grams]
    n_win = max(len(hashes) - w + 1, 1)
    return sorted({min(hashes[j : j + w]) for j in range(n_win)})


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """(doc_id, fingerprint) rows — exploded for joins/aggregation.

    Scale shape: narrow projection, no shuffle; a near-dup candidate
    pass is the same band-bucket self-join MinHash uses, keyed on
    fingerprint instead of band_key.

    The normalized text and the k-gram hash array are materialized as
    separate projected columns ON PURPOSE: Catalyst evaluates each
    projection once per row, whereas the single nested expression form
    (:func:`winnow_fingerprints_col`) re-evaluates lambda-invariant
    subtrees per array element — O(len²) md5+regexp per row, a measured
    ~1000× slowdown at 300-char docs. CollapseProject does not re-inline
    these aliases today (each intermediate is non-cheap and consumed
    inside a higher-order function); ``tests/test_round4_ops.py::
    test_winnow_materialized_is_linear_time`` pins the linear-time
    behavior so a future optimizer change that re-inlines them cannot
    land silently.
    """
    return (
        docs.withColumn("__norm", normalize_text(F.col(text_col)))
        .withColumn("__hashes", winnow_gram_hashes_col(F.col("__norm"), k))
        .select(
            id_col,
            F.explode(winnow_minima_col(F.col("__hashes"), w)).alias("fingerprint"),
        )
    )


def near_dup_pairs_winnow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 1000,
    min_shared: int = 1,
    observation=None,
) -> DataFrame:
    """(doc_a, doc_b, n_shared) — candidate near-dup pairs sharing
    ≥ ``min_shared`` winnowing fingerprints, with the shared-fingerprint
    count as the similarity signal (the MOSS-style use of winnowing:
    any shared substring of length ≥ k+w-1 guarantees ≥1 shared
    fingerprint, so this surfaces *substring-level* overlap that
    whole-document MinHash shingles dilute).

    Completes the content-defined dedup family (exact md5, MinHash/
    Jaccard, SimHash/Hamming, embedding-cosine, winnow/substring) with
    the family's shared scale shape: fingerprint extraction is a narrow
    scan-side projection (the len-linear materialized form); the
    bucket-sized self-join shuffles only (doc_id, fingerprint) pairs;
    hot buckets (boilerplate substrings) are bounded by ``max_bucket``
    with the same Observation audit as the other paths; n_shared is one
    map-side-combinable count agg keyed on the (doc_a, doc_b) pair.
    """
    fps = winnow_fingerprints(docs, id_col, text_col)  # already distinct per doc
    sized = fps.groupBy("fingerprint").agg(
        F.collect_list(id_col).alias("ids"), F.count("*").alias("n")
    )
    if observation is not None:
        sized = attach_bucket_audit(sized, observation, max_bucket)
    sized = sized.filter((F.col("n") >= 2) & (F.col("n") <= max_bucket))
    pairs = (
        sized.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return pairs.filter(F.col("n_shared") >= min_shared)


def _perm_hasher(i: int):
    """Single-parameter lambda for ``F.transform`` hashing every shingle
    under perm ``i``.

    MUST stay single-parameter. The previous form — ``lambda s, i=i:
    _md5_hash60(i, s)`` — has two parameters, so PySpark's arity sniff
    passed the array INDEX column as ``i``; ``F.lit(f"{i}:")`` then
    stringified that Column into the hash prefix (``"Column<'y_3'>:"``),
    and because the lambda-variable counter behind the ``y_N`` name is
    session-global, every signature silently depended on how many
    lambdas the session had created before — the driver-gate stayed
    green only because the documents fixture's near-dups collide under
    ANY min-hash family, and a borderline 1-shared-band pair in the
    pytest suite finally flaked. Pinned by
    tests/test_training_ops.py::test_minhash_signature_matches_python_oracle.
    """
    return lambda s: _md5_hash60(i, s)


def minhash_signature(df: DataFrame, text_col: str = "text",
                      num_perm: int = NUM_PERM) -> DataFrame:
    """Adds ``sig`` array<long> of minhash values (Catalyst only)."""
    sh = shingles_col(F.col(text_col))
    df = df.withColumn("__shingles", sh)
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("__shingles"), _perm_hasher(i)))
            for i in range(num_perm)
        ]
    )
    return df.withColumn("sig", sig).drop("__shingles")


def minhash_bands(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_idx, band_key) — one row per band."""
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("sig")[j * ROWS_PER_BAND + r].cast("string")
                            for r in range(ROWS_PER_BAND)
                        ],
                    ).cast("binary")
                ).alias("band_key"),
            )
            for j in range(BANDS)
        ]
    )
    return df.select(id_col, F.explode(bands).alias("b")).select(
        id_col, F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key")
    )


def attach_bucket_audit(sized: DataFrame, observation, max_bucket: int) -> DataFrame:
    """Attach a dropped-bucket audit to a pre-filter bucket-size frame
    (columns must include ``n`` = bucket row count). The audit rides the
    query's own action via :class:`pyspark.sql.Observation` — zero extra
    jobs, no second pass — and reports

      n_buckets_dropped  — buckets with n > max_bucket (excluded pairs)
      n_rows_in_dropped  — total rows inside those buckets

    so the hot-bucket cap is never a *silent* cap: a run that dropped
    anything surfaces the loss as a metric (``observation.get`` after the
    action). The capped operators accept ``observation=`` and thread it
    here.

    AQE caveat (behavior observed on Spark 4.1; the audit tests in
    tests/test_round4_ops.py deliberately keep their results non-empty
    because of it): if the query's FINAL result is completely empty,
    AQE's empty-relation propagation can replace the plan subtree
    containing the CollectMetrics node, and ``observation.get`` fails
    instead of returning the audit. Any run with ≥1 output row reports
    fine (the overwhelmingly common case — an empty dedup result means
    no candidate pairs at all); for audit-critical jobs that may legally
    produce zero pairs, exclude the rule:
    ``spark.sql.adaptive.optimizer.excludedRules=
    org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation``.
    """
    dropped = F.col("n") > max_bucket
    return sized.observe(
        observation,
        F.coalesce(F.sum(F.when(dropped, 1).otherwise(0)), F.lit(0)).alias(
            "n_buckets_dropped"
        ),
        F.coalesce(F.sum(F.when(dropped, F.col("n")).otherwise(0)), F.lit(0)).alias(
            "n_rows_in_dropped"
        ),
    )


def near_dup_pairs_minhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 1000,
    observation=None,
) -> DataFrame:
    """Distinct candidate near-dup pairs (doc_a < doc_b) sharing ≥1 band.

    ``max_bucket`` drops degenerate buckets (identical boilerplate shared
    by thousands of docs) whose quadratic pair blow-up would dominate the
    join at corpus scale; production near-dup pipelines apply the same
    guard. Pass a :class:`pyspark.sql.Observation` as ``observation`` to
    get (n_buckets_dropped, n_rows_in_dropped) reported with the action
    (:func:`attach_bucket_audit`) — the cap is auditable, not silent.
    """
    sig = minhash_signature(docs.select(id_col, text_col), text_col)
    bands = minhash_bands(sig, id_col)
    sized = bands.groupBy("band_idx", "band_key").agg(
        F.collect_list(id_col).alias("ids"), F.count("*").alias("n")
    )
    if observation is not None:
        sized = attach_bucket_audit(sized, observation, max_bucket)
    sized = sized.filter((F.col("n") >= 2) & (F.col("n") <= max_bucket))
    a = sized.select(F.explode("ids").alias("doc_a"), "band_idx", "band_key", "ids")
    pairs = a.select(
        "doc_a", F.explode("ids").alias("doc_b")
    ).filter(F.col("doc_a") < F.col("doc_b"))
    return pairs.distinct()


def jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs (the verify step after
    LSH candidate generation). Pure Catalyst: array_intersect/array_union."""
    sh = docs.select(
        F.col(id_col), shingles_col(F.col(text_col)).alias("sh")
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return joined.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# near-dup GROUPS — connected components over the verified pair set
# ---------------------------------------------------------------------------

def dedup_groups(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected-component grouping of verified near-dup pairs →
    ``(doc_id, group_id, is_canonical)`` — the keep/drop decision table a
    dedup pipeline actually consumes (pairs are only the intermediate).
    group_id = the component's minimum doc_id; is_canonical marks the
    kept representative (the reference's dedup keeps min-id too,
    operators/census.py A2). If ``docs`` is given, docs absent from any
    pair come out as singleton groups (their own canonical).

    Algorithm: hash-to-min label propagation — each round every node's
    label becomes the min over its own and its neighbors' labels, until a
    round changes nothing. Near-dup components are tiny dense cliques
    (band-sharing is near-transitive), so that fixed point comes in round
    2. Hash-min alone needs diameter rounds on a long chain, so from round
    3 on each round also hooks every old label onto the smallest new
    label among the nodes that carried it (root hooking, Shiloach and
    Vishkin 1982), then shortcuts ``label(u) ← min(label(u),
    label(label(u)))`` (pointer jumping). A path then takes O(log n)
    rounds whatever its id order. Each step moves a label to another node
    of the same component, so the fixed point is the component minimum;
    labels are data values, never partition-dependent, so results are
    salt/partitioning-invariant. Hitting ``max_iter`` raises RuntimeError:
    unconverged labels may split a component.

    Scale shape: a round is two hash joins + a map-side-combinable min
    aggregate keyed on doc_id (a hooking round adds one aggregate and two
    joins) and a 1-row convergence count — no driver state. The sf0.1
    near-dup pairs converge in 2 rounds; a 3001-node path takes 13 rounds
    with increasing ids and 12-13 with seeded random ids (bench.py times
    both as ``dedup_groups`` and ``cc_path``).
    """
    spark = pairs.sparkSession
    sym = (
        pairs.select(F.col("doc_a").alias("node"), F.col("doc_b").alias("peer"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("node"), F.col("doc_a").alias("peer"))
        )
        .distinct()
        .persist()
    )
    labels = (
        sym.select("node").distinct().withColumn("label", F.col("node"))
        # eager localCheckpoint: materialize AND truncate the logical plan.
        # Iterative self-joins double the lineage every round (labels feeds
        # both join inputs) — with persist() alone the analyzer still walks
        # the full 2^iter tree and a ~10-iteration chain blows the plan up.
        # Checkpointing each round keeps the plan O(1) per round;
        # superseded checkpoint blocks are dropped by Spark's
        # ContextCleaner once the frame reference is released.
        .localCheckpoint(eager=True)
    )
    changed = 1
    for rnd in range(max_iter):
        # alias-qualify both sides: labels descends from sym, so unqualified
        # column refs would be flagged as an ambiguous self-join
        nbr = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.peer") == F.col("l.node"))
            .select(F.col("e.node").alias("n"), F.col("l.label").alias("label"))
            .groupBy("n")
            .agg(F.min("label").alias("nbr_label"))
        )
        new = labels.alias("a").join(
            nbr.alias("b"), F.col("a.node") == F.col("b.n"), "left"
        ).select(
            F.col("a.node").alias("node"),
            F.col("a.label").alias("old"),
            F.least("a.label", "b.nbr_label").alias("label"),
        )
        if rnd >= 2:
            hooks = new.groupBy(F.col("old").alias("root")).agg(
                F.min("label").alias("hook")
            )
            new = new.alias("a").join(
                hooks.alias("h"), F.col("a.node") == F.col("h.root"), "left"
            ).select("a.node", "a.old", F.least("a.label", "h.hook").alias("label"))
            new = new.alias("a").join(
                new.alias("b"), F.col("a.label") == F.col("b.node"), "left"
            ).select("a.node", "a.old", F.least("a.label", "b.label").alias("label"))
        new = new.localCheckpoint(eager=True)
        if rnd >= 2:
            # the checkpoint keeps its plan's size estimate, and the
            # self-join above squares it every round until it overflows
            # the optimizer's BigInt; a fresh scan of the same rows
            # starts from the default estimate again
            new = DataFrame(
                spark._jsparkSession.createDataFrame(
                    new._jdf.javaRDD(), new._jdf.schema()
                ),
                spark,
            )
        changed = new.filter(F.col("label") < F.col("old")).limit(1).count()
        labels = new.drop("old")
        if changed == 0:
            break
    sym.unpersist()
    if changed:
        raise RuntimeError(
            f"connected components did not converge within {max_iter} "
            f"rounds (labels still changing); raise max_iter"
        )
    out = labels.select(
        F.col("node").alias(id_col),
        F.col("label").alias("group_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )
    if docs is not None:
        singles = docs.select(id_col).join(
            labels.select(F.col("node").alias(id_col)), id_col, "left_anti"
        )
        out = out.unionByName(
            singles.select(
                id_col,
                F.col(id_col).alias("group_id"),
                F.lit(True).alias("is_canonical"),
            )
        )
    # the returned plan reads the final localCheckpoint (fixed-point
    # content); its blocks are released when the frame reference drops
    return out


def dedup_groups_py(pairs: list[tuple[int, int]], all_ids=None):
    """Union-find twin of :func:`dedup_groups` (goldens/tests)."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = set(parent)
    if all_ids is not None:
        ids |= set(all_ids)
    return sorted((i, find(i), i == find(i)) for i in ids)


# ---------------------------------------------------------------------------
# Span-level dedup — the C4 recipe (remove any fixed-size span whose exact
# text occurred earlier in the corpus; first occurrence survives)
# ---------------------------------------------------------------------------

SPAN_WORDS = 10


def dedup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = SPAN_WORDS,
) -> DataFrame:
    """(id, n_spans, n_kept, text_clean) — C4-style span dedup: each doc
    is cut into consecutive ``span_words``-word spans; a span whose exact
    text appears anywhere earlier in the corpus ("earlier" = smaller
    (doc_id, span_idx), the deterministic global order) is removed, and
    the survivors are rejoined in document order. Exact-dup docs hollow
    out to ''; near-dups keep only their divergent spans.

    Scale shape (pure Catalyst): span cutting is a narrow in-plan
    transform+posexplode; the global first-occurrence is ONE hash
    aggregation keyed on ``md5(span_text)`` (map-side combinable
    min(struct) over 32-hex keys — a 128-bit content key, collision-safe
    far past 10^12 spans); the keep-filter is a shuffle join on the same
    md5 key; the rejoin is an aggregation of kept span INDICES on doc id
    plus one id-keyed join back to the span arrays. Span text itself
    crosses exactly one exchange (the final id-join that reassembles
    text_clean) instead of riding every span-keyed shuffle — at 100 TB
    the wide exchanges carry (id, span_idx, 32-hex key) rows only.
    No driver state, no Python.
    """
    words = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(words) / F.lit(span_words)).cast("long")
    spans = F.transform(
        F.sequence(F.lit(0), (n_spans - 1).cast("int")),
        lambda i: F.array_join(
            F.slice(words, i * span_words + 1, span_words), " "
        ),
    )
    base = docs.select(F.col(id_col), n_spans.alias("n_spans"), spans.alias("__spans"))
    exploded = base.select(
        id_col, F.posexplode("__spans").alias("span_idx", "span_text")
    ).select(id_col, "span_idx", F.md5(F.col("span_text")).alias("span_key"))
    first = exploded.groupBy("span_key").agg(
        F.min(F.struct(F.col(id_col), F.col("span_idx"))).alias("__first")
    )
    kept = (
        exploded.join(first, "span_key")
        .filter(
            (F.col(id_col) == F.col(f"__first.{id_col}"))
            & (F.col("span_idx") == F.col("__first.span_idx"))
        )
        .select(id_col, "span_idx")
    )
    clean = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.sort_array(F.collect_list("span_idx")).alias("__keep_idx"),
    )
    return (
        base.join(clean, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_spans"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.col("__keep_idx"),
                        lambda i: F.element_at(F.col("__spans"), i + 1),
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("text_clean"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination — flag training docs sharing any word n-gram
# with an evaluation/benchmark set (the standard pre-training hygiene step)
# ---------------------------------------------------------------------------

DECONTAM_NGRAM = 8


def word_ngrams_col(text: F.Column, n: int) -> F.Column:
    """Array of space-joined word ``n``-grams (1-based slice from an
    index sequence — in-bounds by construction, ANSI-safe; empty array
    when the text has fewer than n words).

    slice + array_join, NOT n× element_at + concat_ws: one intrinsic per
    gram instead of n bound-checked array probes — measured 4.3× faster
    end-to-end on decontaminate at 320k docs (29.9 s → 6.5 s, identical
    output checksum), and decontaminate is the corpus funnel's dominant
    stage."""
    words = F.split(text, " ")
    cnt = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(cnt, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.when(cnt >= 1, grams).otherwise(F.array().cast("array<string>"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = DECONTAM_NGRAM,
) -> DataFrame:
    """(id, contaminated, n_hit_grams) — flags every training document
    that shares ≥1 exact word ``ngram``-gram with the benchmark corpus
    (test-set decontamination; n_hit_grams counts the doc's DISTINCT
    grams that hit, the audit number reviewers ask for).

    Scale shape: the benchmark side — always tiny next to the training
    corpus — collapses to distinct grams and BROADCASTS, so the corpus
    scan joins against it map-side with no shuffle of the exploded doc
    grams; the only wide exchange is the one count aggregation keyed on
    doc id, carrying matched rows only. Everything is Catalyst; the
    gram explode is narrow.
    """
    bg = (
        benchmark.select(F.explode(word_ngrams_col(F.col(text_col), ngram)).alias("g"))
        .distinct()
    )
    dg = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams_col(F.col(text_col), ngram))).alias("g"),
    )
    hits = dg.join(F.broadcast(bg), "g").groupBy(id_col).agg(
        F.count("*").alias("n_hit_grams")
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hit_grams"), F.lit(0)).cast("long").alias("n_hit_grams"),
            (F.coalesce(F.col("n_hit_grams"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (64-bit) — vectorized pandas UDF (per-word hashing needs Python;
# Arrow-batched AND numpy-vectorized inside the batch: md5 runs once per
# *unique* word, the 64-bit sign accumulation is unpackbits + reduceat)
# ---------------------------------------------------------------------------

def simhash64_py(text: str | None) -> int:
    """Signed 64-bit simhash of word unigrams (md5-derived word hashes).

    Scalar reference twin — golden generation and tests only; the hot
    path is :func:`simhash64_batch`, which must equal this bit-for-bit.
    """
    if text is None:
        return 0
    norm = " ".join(text.split()).lower().strip()
    if not norm:
        return 0
    counts = np.zeros(64, dtype=np.int64)
    for w in norm.split(" "):
        h = int(hashlib.md5(w.encode()).hexdigest()[:16], 16)
        for b in range(64):
            counts[b] += 1 if (h >> b) & 1 else -1
    bits = 0
    for b in range(64):
        if counts[b] > 0:
            bits |= 1 << b
    # wrap to signed int64 (Spark long)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def simhash64_batch(texts) -> np.ndarray:
    """Vectorized twin of :func:`simhash64_py` over an iterable of texts.

    All integer ops (no FP), so equality with the scalar twin is exact:
    md5 per *unique* word in the batch, ``unpackbits`` into a (words, 64)
    sign matrix, per-document segment sums via ``add.reduceat``, majority
    bits packed back into a signed int64.
    """
    texts = list(texts)
    out = np.zeros(len(texts), dtype=np.int64)
    words: list[str] = []
    doc_rows: list[int] = []
    doc_lens: list[int] = []
    for i, t in enumerate(texts):
        if not isinstance(t, str):
            continue
        norm = " ".join(t.split()).lower().strip()
        if not norm:
            continue
        ws = norm.split(" ")
        words.extend(ws)
        doc_rows.append(i)
        doc_lens.append(len(ws))
    if not words:
        return out
    uniq, inv = np.unique(np.array(words, dtype=object), return_inverse=True)
    # hexdigest[:16] as int == first 8 digest bytes big-endian; reverse the
    # bytes so unpackbits(bitorder='little') yields bit b = (h >> b) & 1
    dig = b"".join(hashlib.md5(w.encode()).digest()[:8] for w in uniq)
    arr = np.frombuffer(dig, dtype=np.uint8).reshape(-1, 8)[:, ::-1]
    bits = np.unpackbits(arr, axis=1, bitorder="little")  # (U, 64) in {0, 1}
    lens = np.asarray(doc_lens, dtype=np.int64)
    ndocs = len(doc_rows)
    seg = np.repeat(np.arange(ndocs), lens)
    # per-doc popcount of set bits via bincount (beats add.reduceat on wide
    # arrays); sum of ±1 signs = 2·ones − n_words. Counts < 2^53 → float64
    # bincount weights are exact, so the >0 majority test is exact too.
    bw = bits[inv]  # (W, 64) uint8; bincount casts one column at a time
    ones = np.empty((ndocs, 64), dtype=np.float64)
    for b in range(64):
        ones[:, b] = np.bincount(seg, weights=bw[:, b], minlength=ndocs)
    sums = 2.0 * ones - lens[:, None]
    packed = np.packbits((sums > 0).astype(np.uint8), axis=1, bitorder="little")
    vals = np.ascontiguousarray(packed).view("<u8").ravel().view(np.int64)
    out[np.asarray(doc_rows)] = vals
    return out


def simhash_udf():
    @pandas_udf("long")
    def simhash(text: pd.Series) -> pd.Series:
        return pd.Series(simhash64_batch(text), index=text.index)

    return simhash


def simhash_docs(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    return docs.select(id_col, simhash_udf()(F.col(text_col)).alias("simhash"))


# ---------------------------------------------------------------------------
# SimHash near-dup pairs — Hamming-ball banding over the 64-bit signature
# ---------------------------------------------------------------------------

SIMHASH_BANDS = 4  # 4 disjoint 16-bit slices of the 64-bit signature
SIMHASH_HAMMING_MAX = SIMHASH_BANDS - 1  # pigeonhole-exact for this banding


def simhash_bands(sims: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, simhash, band_idx, band_key) — the 64-bit simhash cut into
    SIMHASH_BANDS disjoint 16-bit slices. Pure Catalyst bit math
    (arithmetic shift + mask — sign-extension bits vanish under the
    0xFFFF mask, so the slices are the unsigned bit-slices on both Spark
    and DuckDB)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.shiftright(F.col("simhash"), 16 * j)
                .bitwiseAND(F.lit(65535))
                .alias("band_key"),
            )
            for j in range(SIMHASH_BANDS)
        ]
    )
    return sims.select(id_col, "simhash", F.explode(bands).alias("b")).select(
        id_col,
        "simhash",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_key").alias("band_key"),
    )


def near_dup_pairs_simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hamming_max: int = SIMHASH_HAMMING_MAX,
    max_bucket: int = 1000,
    observation=None,
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, hamming) with simhash Hamming
    distance ≤ ``hamming_max`` — the signature-level twin of
    :func:`near_dup_pairs_minhash` (content-defined dedup family: exact
    md5, MinHash/Jaccard, SimHash/Hamming, embedding-cosine).

    Exactness: with SIMHASH_BANDS disjoint slices, any pair within
    Hamming ``hamming_max ≤ SIMHASH_BANDS − 1`` must agree on ≥1 whole
    slice (pigeonhole), so the band self-join generates ALL qualifying
    pairs — the banding is a lossless prune, not an approximation
    (pairs reachable only through buckets larger than ``max_bucket``
    excepted, the same hot-boilerplate guard as the MinHash path; pass
    an ``observation`` to surface dropped-bucket counts with the action,
    :func:`attach_bucket_audit`). NOTE for oracle parity: the registered
    ``simhash_pairs`` oracle is an unconditional brute-force all-pairs
    join, correct only while no fixture bucket exceeds ``max_bucket`` —
    ``tests/test_round4_ops.py::
    test_simhash_bucket_audit_and_gate_scale_invariant`` asserts that
    invariant at gate scale so a fixture change that overflows a bucket
    fails loudly instead of silently diverging from the oracle.

    Scale shape: one Arrow-batched UDF pass computes signatures
    (md5-per-unique-word batch kernel); everything after is Catalyst —
    the only shuffle moves (id, simhash, band_key) ≈ 24-byte rows keyed
    on band_key; the Hamming verify is bit_count(xor) inside the
    exploded bucket, never a second pass over the corpus.
    """
    if hamming_max > SIMHASH_BANDS - 1:
        raise ValueError(
            f"hamming_max={hamming_max} breaks the pigeonhole exactness "
            f"bound for {SIMHASH_BANDS} bands (max {SIMHASH_BANDS - 1})"
        )
    sims = simhash_docs(docs.select(id_col, text_col), id_col, text_col)
    bands = simhash_bands(sims, id_col)
    sized = bands.groupBy("band_idx", "band_key").agg(
        F.collect_list(F.struct(F.col(id_col), F.col("simhash"))).alias("members"),
        F.count("*").alias("n"),
    )
    if observation is not None:
        sized = attach_bucket_audit(sized, observation, max_bucket)
    sized = sized.filter((F.col("n") >= 2) & (F.col("n") <= max_bucket))
    a = sized.select(F.explode("members").alias("a"), "members")
    pairs = (
        a.select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col("a.simhash").alias("sim_a"),
            F.explode("members").alias("b"),
        )
        .filter(F.col("doc_a") < F.col(f"b.{id_col}"))
        .select(
            "doc_a",
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
    )
    # a pair may share several bands — hamming is pair-deterministic, so
    # distinct over the full row is the dedup
    return pairs.distinct()


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the 100 TB form of `decontaminate`.
#
# The exact operator broadcasts the benchmark's DISTINCT GRAM STRINGS
# (~50-100 bytes each: a 10M-gram benchmark suite is ~1 GB on every
# executor) and joins on strings. This variant broadcasts only the
# OCCUPIED BIT POSITIONS of a Bloom filter over those grams — at the
# default m=2^20 that is ≤ 2^20 longs (8 MB hard cap, usually far less)
# regardless of benchmark size — and joins on longs. Standard Bloom
# semantics: no false negatives (every contaminated doc is flagged —
# pytest pins flagged ⊇ exact-hit set), false positives at rate
# ≈ (1 - e^{-k·n/m})^k (k=3, n grams, m bits; ~0.1% at n=2^17).
#
# Everything is cross-engine deterministic: bit positions are the repo's
# shared md5-60 primitive (DuckDB: cast('0x'||substring(md5(..),1,15) as
# ubigint)), so the DuckDB oracle reproduces the false positives EXACTLY
# — the driver gate hash-checks the whole output, false positives
# included. reference: socialmapper has no decontamination; this extends
# the build-mandate dedup family (SURVEY.md "training-data ops").
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 20  # bits in the filter
BLOOM_K = 3  # hash probes per gram
BLOOM_PREFIX = 9100  # md5-60 domain-separation base (minhash uses 0..15)


def _bloom_bit(g: F.Column, i: int, m: int) -> F.Column:
    """Probe i's bit position for gram g: md5-60(f'{9100+i}:{g}') % m."""
    return _md5_hash60(BLOOM_PREFIX + i, g) % m


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = DECONTAM_NGRAM,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """(id, n_flagged_grams, flagged) — Bloom-filter screen for docs
    sharing an exact word ``ngram``-gram with the benchmark corpus.

    ``n_flagged_grams`` counts the doc's distinct grams whose ``k`` bit
    positions are ALL occupied (≥ the exact operator's n_hit_grams;
    equality iff no false positive touched the doc). Use as the cheap
    first pass at corpus scale; route the flagged minority through exact
    :func:`decontaminate` when exactness is required.

    Scale shape: the benchmark side collapses to ≤ min(k·n, m) distinct
    long bit positions and BROADCASTS (bounded by m — 8 MB at the
    default — no matter how large the benchmark set grows); the corpus
    scan explodes each doc's distinct grams to k long probes and joins
    map-side. Wide exchanges carry matched probe rows only: one keyed
    (id, gram) to check all-k, one keyed id for the doc rollup.
    """
    bg = (
        benchmark.select(F.explode(word_ngrams_col(F.col(text_col), ngram)).alias("g"))
        .distinct()
    )
    bits = (
        bg.select(
            F.explode(F.array(*[_bloom_bit(F.col("g"), i, m) for i in range(k)])).alias(
                "bit"
            )
        )
        .distinct()
    )
    dg = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams_col(F.col(text_col), ngram))).alias("g"),
    )
    probes = dg.select(
        id_col,
        "g",
        F.explode(F.array(*[_bloom_bit(F.col("g"), i, m) for i in range(k)])).alias(
            "bit"
        ),
    )
    hits = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy(id_col, "g")
        .agg(F.count("*").alias("nbits"))
        .filter(F.col("nbits") == k)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_flagged_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_flagged_grams"), F.lit(0))
            .cast("long")
            .alias("n_flagged_grams"),
            (F.coalesce(F.col("n_flagged_grams"), F.lit(0)) > 0).alias("flagged"),
        )
    )


def bloom_bit_sql(gram_expr: str, i: int, m: int = BLOOM_M) -> str:
    """DuckDB twin of :func:`_bloom_bit` — kept beside the Spark
    expression so the two hash definitions cannot drift."""
    md5_arg = f"'{BLOOM_PREFIX + i}:' || {gram_expr}"
    return (
        f"cast(cast(('0x' || substring(md5({md5_arg}), 1, 15)) as ubigint) "
        f"% {m} as bigint)"
    )
