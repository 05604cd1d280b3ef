"""Corpus-level language-model quality scoring (extension surface — the
reference has no text-corpus analog; this is the build-mandate
"quality scoring" family's LM member, the shape CCNet popularized:
score each document by how typical its tokens are of the corpus).

``unigram_familiarity`` scores every document by the average corpus
frequency of its tokens — a one-pass unigram LM over the corpus itself.
Gibberish, OCR noise, and rare-token spam score low; fluent
natural-language text scores high. It is the cheap first tier of the
perplexity-filter ladder: the full KenLM-style n-gram perplexity needs
log-probabilities, and ``ln`` is NOT bit-identical between engines
(Java ``Math.log`` vs C ``log`` can differ in the last ulp), so this
operator deliberately stays in exactly-rounded arithmetic — integer
sums plus IEEE divisions — to keep the cross-engine oracle hash exact
(the same contract quantize_embeddings documents for its floor rule).

Definition (whitespace tokens, the repo-wide word-split convention):

    tf(t)        = corpus count of token t           (exact bigint)
    familiar_sum = sum over doc tokens of tf(token)  (exact bigint)
    familiarity  = (familiar_sum / corpus_total) / n_tokens

i.e. the mean over the document's tokens of P(token) under the corpus
unigram model. Both divisions are IEEE-exactly-rounded in Spark and
DuckDB, and both engines apply them in the same left-associative
order, so the doubles hash identically.

Scale design (100 TB):
- tokens are pre-aggregated per (doc, token) FIRST — one map-side
  combinable shuffle — so the term-frequency join probes one row per
  distinct (doc, token), not one per token occurrence; that aggregate
  feeds all three consumers (probe side, dictionary, corpus total) and
  is persisted so the corpus is scanned and exploded ONCE, not three
  times (handle surfaced for ``session.release_caches``);
- the term dictionary is built with a second combinable aggregate and
  joined on the token key. At sf0.1 (and whenever it fits under the
  broadcast threshold) the join plans as a BroadcastHashJoin, so
  stopword skew never reaches a shuffle. A dictionary too big to
  broadcast (100M+ terms at web scale) plans as a shuffled join, and its
  hot stopword keys are AQE's skew-split case (AQE is on repo-wide,
  session.py; it beat a hand-salted join on a hot-key join at local[4],
  CHANGES.md). The join is not salted: on the sf0.1 documents salting lost 9 of 10
  alternating pairs for unigrams and 26 of 40 for bigrams;
- the corpus total is a ONE-ROW aggregate attached via
  broadcast(cross-join), the whitelisted one-row-frame pattern
  (operators/stats.py precedent); nothing else touches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def unigram_familiarity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
) -> DataFrame:
    """Per-document unigram-LM familiarity score →
    ``(id_col, n_tokens, familiar_sum, familiarity)``.

    ``familiarity`` is the mean corpus-unigram probability of the
    document's tokens (occurrence-weighted, so a repeated common token
    raises it); ``familiar_sum``/``n_tokens`` are the exact integer
    numerators a caller can re-normalize differently. Empty documents
    tokenize to one empty-string token (Spark ``split`` and DuckDB
    ``string_split`` agree), which simply participates as a term —
    filter upstream if that token should not score.

    ``n > 1`` scores over word n-grams instead of unigrams (the next
    rung of the CCNet ladder: bigram familiarity catches word-salad
    whose individual words are all common). Grams are built with the
    repo's slice+array_join kernel (operators/dedup.word_ngrams_col);
    a document with fewer than ``n`` words produces an empty gram
    array, so it has NO output row (the explode drops it — mirror of
    DuckDB ``unnest`` on an empty list; gate such docs upstream).
    """
    if n < 1:
        raise ValueError(f"unigram_familiarity: n must be >= 1, got {n}")
    if n == 1:
        tok_arr = F.split(F.col(text_col), " ")
    else:
        from socialmapper_spark.operators.dedup import word_ngrams_col

        tok_arr = word_ngrams_col(F.col(text_col), n)
    toks = docs.select(F.col(id_col), F.explode(tok_arr).alias("tok"))
    # doc_tok feeds three consumers (probe side, term dictionary, corpus
    # total); unpersisted, Catalyst would re-scan and re-explode the
    # corpus once per consumer — persist it and surface the handle on
    # __spark_graft_caches__ for session.release_caches (the
    # host_top_terms / kring-kNN pattern)
    doc_tok = toks.groupBy(id_col, "tok").agg(F.count("*").alias("k")).persist()
    tf = doc_tok.groupBy("tok").agg(F.sum("k").alias("tf"))
    total = tf.agg(F.sum("tf").alias("corpus_total"))
    per_doc = (
        doc_tok.join(tf, "tok")
        .groupBy(id_col)
        .agg(
            F.sum("k").alias("n_tokens"),
            F.sum(F.col("k") * F.col("tf")).alias("familiar_sum"),
        )
    )
    out = per_doc.crossJoin(F.broadcast(total)).select(
        id_col,
        "n_tokens",
        "familiar_sum",
        (
            F.col("familiar_sum").cast("double")
            / F.col("corpus_total").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("familiarity"),
    )
    out.__spark_graft_caches__ = [doc_tok]
    return out


def unigram_familiarity_sql(
    table_expr: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
) -> str:
    """DuckDB twin of :func:`unigram_familiarity` — same whitespace
    split (same `n`-gram construction for ``n > 1``, mirroring
    word_ngrams_col), same integer aggregates (HUGEINT cast back to
    BIGINT — the driver fetches via pandas, where HUGEINT drifts to
    float64), same left-associative double divisions, generated beside
    the Spark code so the dialects cannot drift."""
    if n < 1:
        raise ValueError(f"unigram_familiarity_sql: n must be >= 1, got {n}")
    if n == 1:
        tok_src = f"unnest(string_split({text_col}, ' '))"
    else:
        sp = f"string_split({text_col}, ' ')"
        gram = " || ' ' || ".join(f"{sp}[i+{j}]" for j in range(n))
        tok_src = (
            f"unnest(list_transform(range(1, (len({sp}) - {n - 1}) + 1), "
            f"i -> {gram}))"
        )
    return f"""
        with doc_tok as (
          select {id_col}, tok, cast(count(*) as bigint) as k
          from (
            select {id_col}, {tok_src} as tok
            from {table_expr}
          ) group by 1, 2
        ), tf as (
          select tok, cast(sum(k) as bigint) as tf from doc_tok group by 1
        ), tot as (
          select cast(sum(tf) as bigint) as corpus_total from tf
        )
        select d.{id_col},
               cast(sum(d.k) as bigint) as n_tokens,
               cast(sum(d.k * t.tf) as bigint) as familiar_sum,
               cast(sum(d.k * t.tf) as double)
                 / cast(any_value(tot.corpus_total) as double)
                 / cast(sum(d.k) as double) as familiarity
        from doc_tok d join tf t using (tok) cross join tot
        group by d.{id_col}
    """
