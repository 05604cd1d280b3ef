"""Crawl-table operators over the input_hint page shape
(url, warc_ts, html, text, lang): snapshot dedup, host rollups,
html→text extraction, URL canonicalization, the composite admission
gate, the domain blocklist filter, and the host-dimension enrichment.

The stateless operators (``admission_gate``, ``crawl_enrich``) run
unchanged on a batch frame or on a streaming one from
:func:`socialmapper_spark.streaming.parquet_stream`; a caller drains the
stream with :func:`socialmapper_spark.streaming.drain` in append mode.
The two stateful ones have their own stream forms, which drain
themselves: ``host_daily_stream`` (watermark + tumbling window) and
``snapshot_dedup_stream`` (``dropDuplicatesWithinWatermark``).

The reference has no crawl-table analog (its nearest dedup is the
census-unit groupBy, reference socialmapper/census/utils.py); these are
training-data-pipeline operators the build mandate adds on top, shaped
for a Common-Crawl-style table where every url appears once per crawl
snapshot and host-level statistics drive source filtering.

Scale design: both operators are SINGLE-shuffle hash aggregations keyed
on high-cardinality, low-skew columns (url; host). snapshot_dedup uses
the struct-max groupBy form instead of a row_number window on purpose:
max() partial-aggregates map-side, so each input split reduces its local
snapshots before the exchange — at 10^12 rows with ~3 snapshots/url the
shuffle carries roughly one row per (url, split) instead of every
snapshot, and no per-key sort is ever materialized. Everything is pure
Catalyst (no Python on executors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from socialmapper_spark.streaming import drain

# URI authority minus userinfo and port: the char class excludes the
# '@' userinfo terminator, the ':' port separator, and path/query/frag
# starters. RE2-safe (non-capturing group) so the same pattern runs
# verbatim in DuckDB's regexp_extract for the oracle twin.
HOST_RE = "://(?:[^/@?#]*@)?([^/:?#]+)"


def page_host(url: Column) -> Column:
    """Host (registrable authority, sans userinfo/port) of a url column."""
    return F.regexp_extract(url, HOST_RE, 1)


def snapshot_dedup(pages: DataFrame) -> DataFrame:
    """Latest-crawl-wins dedup: one row per url — the snapshot with the
    max warc_ts — plus the url's total snapshot count.

    Ordering is (warc_ts, md5(text)): the fingerprint breaks exact
    timestamp ties deterministically, so the result is a pure function
    of the table content at any parallelism. Emits the timestamp as
    epoch micros (bigint) to keep the cross-engine value hash free of
    timestamp-representation differences (events.py convention).
    """
    top = F.max(
        F.struct(
            F.unix_micros(F.col("warc_ts")).alias("ts_us"),
            F.md5(F.col("text")).alias("tb"),
            F.col("lang").alias("lang"),
            F.col("text").alias("text"),
        )
    ).alias("top")
    agg = pages.groupBy("url").agg(top, F.count("*").alias("n_snapshots"))
    return agg.select(
        "url",
        F.col("top.ts_us").alias("warc_ts_us"),
        F.col("top.lang").alias("lang"),
        F.col("top.text").alias("text"),
        "n_snapshots",
    )


def host_stats(pages: DataFrame) -> DataFrame:
    """Per-host crawl rollup: page rows, distinct urls, latest crawl
    timestamp, and English share.

    countDistinct(url) is Spark's exact two-phase distinct aggregate
    (partial distinct map-side, no extra job). en_share averages 0/1
    indicators — integer-valued double sums are exact, so the 6-dp
    rounding is stable across engines and partitionings.
    """
    return pages.groupBy(page_host(F.col("url")).alias("host")).agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("url").alias("n_urls"),
        F.max(F.unix_micros(F.col("warc_ts"))).alias("latest_ts_us"),
        F.round(F.avg((F.col("lang") == "en").cast("double")), 6).alias("en_share"),
    )


def extract_text(pages: DataFrame) -> DataFrame:
    """html (binary) → extracted text, with the per-row invariant the
    engine contract demands: extraction must be byte-identical to the
    table's `text` column per url.

    Pure Catalyst: UTF-8 decode + tag-strip regexp — no Python on
    executors, whole-stage-codegen friendly, trivially scan-parallel. A
    production extractor would add entity decoding and boilerplate
    removal behind the same column contract; `matches_text` makes the
    invariant itself a queryable (and oracle-checked) column.
    """
    extracted = F.regexp_replace(
        F.decode(F.col("html"), "UTF-8"), "<[^>]+>", ""
    )
    return pages.select(
        "url",
        extracted.alias("extracted"),
        (extracted == F.col("text")).alias("matches_text"),
    )


# query params a crawl pipeline strips before dedup/admission: tracking
# decorations that fragment url identity without changing content
TRACKING_PARAM_RE = "^(utm_[a-z]+|fbclid|gclid|msclkid|ref)="


def canonical_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL — the key a crawl-table
    dedup/admission gate actually joins on (raw urls fragment identity:
    case, default ports, tracking params, fragments, trailing slashes).

    Rules: lowercase scheme+host, strip userinfo handling from the host
    capture, drop default ports (http:80 / https:443), drop the
    fragment, drop tracking params (TRACKING_PARAM_RE), sort surviving
    query params bytewise, collapse trailing path slashes ('' → '/').
    Non-absolute inputs (no '://') pass through unchanged.

    Pure Catalyst (regexp + array ops inside whole-stage codegen) — at
    corpus scale this runs inside the scan projection, no shuffle, no
    Python. DuckDB twin: the oracle SQL in __spark_entry__ implements
    the same rules with the same regexes (both engines are RE2-family;
    no-match regexp_extract yields '' in both).
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    auth = F.regexp_extract(url, "://([^/?#]*)", 1)
    hostport = F.regexp_replace(auth, "^[^/@]*@", "")
    host = F.lower(F.regexp_replace(hostport, ":[0-9]*$", ""))
    port = F.regexp_extract(hostport, ":([0-9]+)$", 1)
    default_port = ((scheme == F.lit("http")) & (port == F.lit("80"))) | (
        (scheme == F.lit("https")) & (port == F.lit("443"))
    )
    port_part = F.when((port == F.lit("")) | default_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )
    path = F.regexp_extract(url, "://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == F.lit(""), F.lit("/")).otherwise(path)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(TRACKING_PARAM_RE),
    )
    qsorted = F.array_join(F.sort_array(params), "&")
    qpart = F.when(qsorted == F.lit(""), F.lit("")).otherwise(
        F.concat(F.lit("?"), qsorted)
    )
    return F.when(scheme == F.lit(""), url).otherwise(
        F.concat(scheme, F.lit("://"), host, port_part, path, qpart)
    )


def canonical_url_sql(expr: str = "url") -> str:
    """DuckDB twin of :func:`canonical_url`, generated here so the two
    implementations stay in one file (the language_id_sql pattern)."""
    scheme = f"lower(regexp_extract({expr}, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))"
    auth = f"regexp_extract({expr}, '://([^/?#]*)', 1)"
    hostport = f"regexp_replace({auth}, '^[^/@]*@', '')"
    host = f"lower(regexp_replace({hostport}, ':[0-9]*$', ''))"
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    default_port = (
        f"(({scheme} = 'http' and {port} = '80') or"
        f" ({scheme} = 'https' and {port} = '443'))"
    )
    port_part = (
        f"case when {port} = '' or {default_port} then '' else ':' || {port} end"
    )
    path = f"regexp_extract({expr}, '://[^/?#]*([^?#]*)', 1)"
    path = f"regexp_replace({path}, '/+$', '')"
    path = f"case when {path} = '' then '/' else {path} end"
    query = f"regexp_extract({expr}, '\\?([^#]*)', 1)"
    params = (
        f"list_filter(string_split({query}, '&'), x -> x <> '' "
        f"and not regexp_matches(x, '{TRACKING_PARAM_RE}'))"
    )
    # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — pin the Spark semantics
    qsorted = f"coalesce(array_to_string(list_sort({params}), '&'), '')"
    qpart = f"case when {qsorted} = '' then '' else '?' || {qsorted} end"
    return (
        f"case when {scheme} = '' then {expr} "
        f"else {scheme} || '://' || {host} || {port_part} || {path} || {qpart} end"
    )


def admission_gate(
    pages: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    allowed_langs: tuple[str, ...] = ("en",),
    min_chars: int = 40,
    max_chars: int = 100_000,
    min_words: int = 8,
    max_digit_ratio: float = 0.3,
) -> DataFrame:
    """Per-page admission decision: (url, keep, reason) — the composite
    quality gate a training-data pipeline runs before dedup (language,
    length bounds, word count, digit density). ``reason`` is the FIRST
    failing rule in the documented priority order ('ok' when admitted),
    so the decision is deterministic and auditable per row.

    Pure Catalyst (length/split/regexp inside whole-stage codegen) — at
    corpus scale this is a scan-side projection, no shuffle, no Python.
    The CASE short-circuits, so the digit-ratio division only evaluates
    on rows that already passed the non-empty length gate.
    """
    text = F.col(text_col)
    nchars = F.length(text)
    nwords = F.size(F.split(text, " "))
    ndigits = F.length(F.regexp_replace(text, "[^0-9]", ""))
    reason = (
        F.when(~F.col(lang_col).isin(*allowed_langs), F.lit("non_allowed_lang"))
        .when(nchars < min_chars, F.lit("too_short"))
        .when(nchars > max_chars, F.lit("too_long"))
        .when(nwords < min_words, F.lit("too_few_words"))
        .when(ndigits / nchars > max_digit_ratio, F.lit("too_many_digits"))
        .otherwise(F.lit("ok"))
    )
    return pages.select(
        "url",
        reason.alias("reason"),
        (reason == F.lit("ok")).alias("keep"),
    )


def admission_gate_sql(
    table_expr: str,
    allowed_langs: tuple[str, ...] = ("en",),
    min_chars: int = 40,
    max_chars: int = 100_000,
    min_words: int = 8,
    max_digit_ratio: float = 0.3,
) -> str:
    """DuckDB twin of :func:`admission_gate` (generated beside the Spark
    expression so the rule order cannot drift)."""
    langs = ", ".join(f"'{lang}'" for lang in allowed_langs)
    reason = f"""case
        when lang not in ({langs}) then 'non_allowed_lang'
        when length(text) < {min_chars} then 'too_short'
        when length(text) > {max_chars} then 'too_long'
        when len(string_split(text, ' ')) < {min_words} then 'too_few_words'
        when length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
             / length(text) > {max_digit_ratio} then 'too_many_digits'
        else 'ok' end"""
    return (
        f"select url, {reason} as reason, ({reason}) = 'ok' as keep "
        f"from {table_expr}"
    )


def host_suffix_chain(host: Column) -> Column:
    """['a.b.org', 'b.org', 'org'] — every registrable suffix of a host.
    The equi-joinable form of "blocked domain X covers its subdomains":
    exploding ≤ ~5 chain entries per row turns a suffix predicate into a
    hash join, the only shape that scales (a LIKE/endswith join would be
    a cross product)."""
    parts = F.split(host, "\\.")
    return F.transform(
        F.sequence(F.lit(0), F.size(parts) - 1),
        lambda i: F.array_join(F.slice(parts, i + 1, F.size(parts)), "."),
    )


def blocklist_filter(
    pages: DataFrame, blocklist: DataFrame, url_col: str = "url"
) -> DataFrame:
    """(url, host, blocked_by) — domain-blocklist decision per page.
    ``blocklist`` has one ``domain`` column; an entry blocks the exact
    host and every subdomain. ``blocked_by`` is the most specific
    (longest) matching entry, NULL when the page passes.

    Scale shape: the suffix chain explodes in-plan (narrow, ≤ chain
    length per row), the blocklist — always tiny relative to the corpus
    — broadcasts, and the most-specific-match reduction is a map-side
    combinable max(struct) keyed on url. No shuffle of the page table
    beyond the one keyed aggregation; no Python.
    """
    hosts = pages.select(
        F.col(url_col).alias("url"), page_host(F.col(url_col)).alias("host")
    )
    exploded = hosts.select(
        "url", "host", F.explode(host_suffix_chain(F.col("host"))).alias("__suffix")
    )
    matched = exploded.join(
        F.broadcast(
            blocklist.select(
                F.col("domain").alias("__suffix"), F.lit(True).alias("__hit")
            )
        ),
        "__suffix",
        "left",
    )
    return matched.groupBy("url", "host").agg(
        F.max(
            F.when(
                F.col("__hit"),
                F.struct(F.length("__suffix").alias("l"), F.col("__suffix").alias("e")),
            )
        )["e"].alias("blocked_by")
    )


def per_host_cap(pages: DataFrame, k: int = 100, url_col: str = "url") -> DataFrame:
    """(url, host, host_rank) with host_rank ≤ ``k`` — C4-style per-domain
    contribution cap: at most k pages survive per host, chosen by a
    deterministic content-blind order (md5(url), url) so the kept subset
    is stable across runs and partitionings, never "first k seen".
    Expects one row per url (run :func:`snapshot_dedup` first on
    multi-snapshot tables).

    One shuffle keyed on host, then a per-host row_number sort, so a
    mega-host's sort is one task. There is no separate mega-host path:
    at 3M urls on one host (k=100) this still beat an md5-prefix-bucketed
    exact selection in 9 of 10 alternating pairs.
    """
    from pyspark.sql import Window

    hosts = pages.select(
        F.col(url_col).alias("url"), page_host(F.col(url_col)).alias("host")
    )
    w = Window.partitionBy("host").orderBy(F.md5(F.col("url")), F.col("url"))
    return (
        hosts.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= k)
        .select("url", "host", "host_rank")
    )


def host_daily(pages: DataFrame) -> DataFrame:
    """Per-(day, host) crawl volume: page rows and English-page count.

    Day boundaries are epoch-aligned (`date_trunc`), emitted as strings
    (events.py convention) so the streaming twin's tumbling window and
    the DuckDB oracle bucket identically. All aggregates are sums —
    partial-aggregable batch-side, exact under streaming complete-mode
    snapshots.
    """
    return pages.groupBy(
        F.date_format(F.date_trunc("day", F.col("warc_ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        page_host(F.col("url")).alias("host"),
    ).agg(
        F.count("*").alias("n_pages"),
        F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
    )


def host_daily_stream(stream: DataFrame) -> DataFrame:
    """Structured Streaming twin of :func:`host_daily` over a streaming
    crawl frame — the continuous ingest form (new WARC drops append to the
    crawl table; per-host daily volume updates incrementally).

    1-day watermark + tumbling 1-day window, drained in complete output
    mode (a finite input must yield every window; production runs append
    mode with the same watermark into a parquet/Iceberg sink). Must equal
    the batch plan row-for-row, over one micro-batch or several.
    """
    agg = (
        stream.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        .withWatermark("warc_ts", "1 day")
        .groupBy(
            F.window("warc_ts", "1 day").alias("win"),
            page_host(F.col("url")).alias("host"),
        )
        .agg(
            F.count("*").alias("n_pages"),
            F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
        )
    )
    return drain(agg, "complete").select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
        "host",
        "n_pages",
        "n_en",
    )


def host_top_terms(
    pages: DataFrame, k: int = 5, min_len: int = 4, url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """(host, word, tf, dfh, score, term_rank) — the top-``k`` most
    host-characteristic terms per host: score = tf / dfh, term frequency
    within the host divided by the number of hosts carrying the term
    (reciprocal document frequency — same ordering intuition as tf-idf,
    but a single IEEE division instead of a log, so the score is
    bit-identical across engines and the oracle can hash it; logs are
    libm-dependent).

    Scale shape: ONE corpus-scale word explode (narrow) feeding ONE
    corpus-scale hash agg on (host, word) → tf, which is persisted and
    feeds BOTH consumers; dfh is derived from the tf frame itself — tf
    has exactly one row per (host, word), so ``tf.groupBy(word).count()``
    IS the distinct-host count, a vocabulary-sized agg instead of a
    second explode+shuffle of the corpus. The persist is load-bearing:
    without it Catalyst column-prunes the two tf consumers into
    non-identical subplans (the dfh branch drops count(1)), ReuseExchange
    no longer fires, and the corpus explodes twice — the r3 plan flaw.
    The handle is surfaced on ``__spark_graft_caches__`` for
    ``session.release_caches`` (the kring-kNN pattern). The tf⋈dfh join
    shuffles on word — at corpus scale the vocabulary side is
    Zipf-compact after the min_len filter and AQE handles the hot-word
    skew; top-k is a bounded per-host window.
    """
    from pyspark.sql import Window

    words = pages.select(
        page_host(F.col(url_col)).alias("host"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    ).filter(F.length("word") >= min_len)
    tf = words.groupBy("host", "word").agg(F.count("*").alias("tf")).persist()
    dfh = tf.groupBy("word").agg(F.count("*").alias("dfh"))
    scored = tf.join(dfh, "word").withColumn(
        "score", F.col("tf").cast("double") / F.col("dfh")
    )
    w = Window.partitionBy("host").orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    out = (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select("host", "word", "tf", "dfh", "score", "term_rank")
    )
    out.__spark_graft_caches__ = [tf]
    return out


def crawl_enrich(pages: DataFrame, host_dim: DataFrame) -> DataFrame:
    """Host-dimension join — the production pattern of enriching a live
    crawl stream with a precomputed reference table: pages inner-join the
    per-host rollup (:func:`host_stats` output or any host-keyed dim) on
    host, emitting (host, url, warc_ts_us, dim columns...).

    Runs on a batch or a streaming ``pages`` frame. On a stream Spark
    plans a stream-static inner equi-join with the static side broadcast
    per micro-batch — stateless, no watermark needed, append mode emits
    each page exactly once.
    """
    return pages.select(
        "url",
        F.unix_micros(F.col("warc_ts").cast("timestamp")).alias("warc_ts_us"),
        page_host(F.col("url")).alias("host"),
    ).join(F.broadcast(host_dim), "host")


def snapshot_dedup_stream(stream: DataFrame, watermark: str = "30 days") -> DataFrame:
    """Streaming ingestion-gate dedup over a streaming crawl frame:
    FIRST-seen-wins per url within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — per-url state is evicted once
    event time passes the horizon, so state stays bounded on an unbounded
    crawl stream).

    Complementary semantics to the batch :func:`snapshot_dedup`
    (latest-wins backfill): an admission gate emits a url the first time
    it is seen and suppresses recrawls inside the horizon. Which physical
    row is "first" depends on micro-batch arrival order, so the pinned
    contract is set-level: one row per url, and every emitted row exists
    in the input (no oracle twin — documented nondeterminism).
    """
    gated = (
        stream.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url"])
        .select("url", F.unix_micros(F.col("warc_ts")).alias("warc_ts_us"), "lang")
    )
    return drain(gated, "append")
