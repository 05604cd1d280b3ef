"""Crawl-table operators (operators/web.py): snapshot dedup + host stats
over the multi-snapshot crawl fixture."""

import numpy as np
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _crawl(spark):
    from socialmapper_spark.fixtures import ensure_crawl_fixture

    d = ensure_crawl_fixture(SF_SMALL)
    return spark.read.parquet(str(d / "crawl_pages.parquet"))


def test_crawl_fixture_shape_and_determinism(spark):
    from socialmapper_spark.fixtures import ensure_crawl_fixture

    df = _crawl(spark)
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
    n1 = df.count()
    ensure_crawl_fixture(SF_SMALL)  # second call: cached, same content
    assert _crawl(spark).count() == n1
    # multi-snapshot: strictly more rows than urls
    n_urls = df.select("url").distinct().count()
    assert n1 > n_urls
    # port/query urls present (host-extraction edge cases)
    assert df.filter(F.col("url").contains(":8443")).count() > 0


def test_snapshot_dedup_latest_wins(spark):
    from socialmapper_spark.operators.web import snapshot_dedup

    pages = _crawl(spark)
    out = snapshot_dedup(pages).cache()
    n_urls = pages.select("url").distinct().count()
    assert out.count() == n_urls
    # n_snapshots partitions the input exactly
    total = out.agg(F.sum("n_snapshots")).first()[0]
    assert total == pages.count()
    # kept row is the max warc_ts per url (checked against an independent agg)
    expect = (
        pages.groupBy("url")
        .agg(F.max(F.unix_micros("warc_ts")).alias("mx"))
        .collect()
    )
    got = {r["url"]: r["warc_ts_us"] for r in out.collect()}
    assert all(got[r["url"]] == r["mx"] for r in expect)
    out.unpersist()


def test_snapshot_dedup_plan_partial_agg_no_window(spark):
    """The scale contract: struct-max groupBy (map-side partial agg),
    not a row_number window — no Sort/Window node, one exchange, pure
    Catalyst (no Python on executors)."""
    from socialmapper_spark.operators.web import snapshot_dedup

    plan = (
        snapshot_dedup(_crawl(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1
    assert "partial_max" in plan or "HashAggregate" in plan


def test_host_stats_partitions_and_strips_authority(spark):
    from socialmapper_spark.operators.web import host_stats

    pages = _crawl(spark)
    out = host_stats(pages).cache()
    rows = out.collect()
    # hosts are bare authorities: no scheme, port, userinfo, or path chars
    assert all(
        not any(c in r["host"] for c in ":/@?#") and r["host"].startswith("host")
        for r in rows
    )
    assert sum(r["n_pages"] for r in rows) == pages.count()
    assert sum(r["n_urls"] for r in rows) == pages.select("url").distinct().count()
    assert all(0.0 <= r["en_share"] <= 1.0 for r in rows)
    # quadratic host skew: host0 dominates
    by_host = {r["host"]: r["n_pages"] for r in rows}
    assert by_host["host0.example.org"] == max(by_host.values())
    out.unpersist()


def test_host_daily_stream_equals_batch(spark):
    """Streaming (watermark + tumbling day window) must reproduce the
    batch host_daily rows exactly."""
    from socialmapper_spark.fixtures import ensure_crawl_fixture
    from socialmapper_spark.operators.web import host_daily, host_daily_stream
    from socialmapper_spark.streaming import parquet_stream

    d = str(ensure_crawl_fixture(SF_SMALL))
    batch = {tuple(r) for r in host_daily(_crawl(spark)).collect()}
    source = parquet_stream(spark, d, "crawl_pages.parquet")
    stream = {tuple(r) for r in host_daily_stream(source).collect()}
    assert stream == batch and len(batch) > 0


def test_snapshot_dedup_stream_one_row_per_url(spark):
    """First-seen admission gate: exactly one emitted row per url, and
    every emitted (url, warc_ts_us) pair exists in the input."""
    from socialmapper_spark.fixtures import ensure_crawl_fixture
    from socialmapper_spark.operators.web import snapshot_dedup_stream
    from socialmapper_spark.streaming import parquet_stream

    d = str(ensure_crawl_fixture(SF_SMALL))
    pages = _crawl(spark)
    source = parquet_stream(spark, d, "crawl_pages.parquet")
    out = snapshot_dedup_stream(source).collect()
    urls = [r["url"] for r in out]
    assert len(urls) == len(set(urls)) == pages.select("url").distinct().count()
    in_pairs = {
        (r["url"], r["us"])
        for r in pages.select(
            "url", F.unix_micros("warc_ts").alias("us")
        ).collect()
    }
    assert all((r["url"], r["warc_ts_us"]) in in_pairs for r in out)


def test_extract_text_byte_identical_invariant(spark):
    """The input-hint contract: tag-stripped html equals the text column
    byte-for-byte on every row."""
    from socialmapper_spark.operators.web import extract_text

    out = extract_text(_crawl(spark))
    assert out.filter(~F.col("matches_text")).count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_admission_gate_first_matching_reason(spark):
    """Every rule branch on synthetic rows; reason = FIRST failing rule."""
    from socialmapper_spark.operators.web import admission_gate

    long_text = "w " * 60  # 120 chars, 60+1 words (trailing split token)
    rows = [
        ("u1", "fr", "plenty of words here for the english gate " * 3),
        ("u2", "en", "tiny"),
        ("u3", "en", "x" * 200),                       # > max_chars=100
        ("u4", "en", " ".join(["word"] * 9)),          # ≥min_chars? 44 chars ok, 9 words < 10
        ("u5", "en", ("12345 " * 12).strip()),         # 12 words, digit ratio ≈ 0.85
        ("u6", "en", "a perfectly reasonable sentence with many good words in it"),
    ]
    df = spark.createDataFrame(rows, "url string, lang string, text string")
    out = {
        r["url"]: (r["reason"], r["keep"])
        for r in admission_gate(
            df, min_chars=5, max_chars=100, min_words=10, max_digit_ratio=0.3
        ).collect()
    }
    assert out["u1"] == ("non_allowed_lang", False)
    assert out["u2"] == ("too_short", False)
    assert out["u3"] == ("too_long", False)
    assert out["u4"] == ("too_few_words", False)
    assert out["u5"] == ("too_many_digits", False)
    assert out["u6"] == ("ok", True)


def test_blocklist_subdomains_and_longest_match(spark):
    """An entry blocks its exact host and subdomains; when several
    entries match, the most specific (longest) one wins; clean hosts
    pass with NULL; the blocklist side broadcasts."""
    from socialmapper_spark.operators.web import blocklist_filter

    pages = spark.createDataFrame(
        [
            ("https://a.b.example.org/x",),
            ("https://example.org/y",),
            ("https://clean.net/z",),
            ("https://b.example.org/w",),
        ],
        "url string",
    )
    bl = spark.createDataFrame(
        [("example.org",), ("b.example.org",)], "domain string"
    )
    out = blocklist_filter(pages, bl)
    got = {r["url"]: r["blocked_by"] for r in out.collect()}
    assert got["https://a.b.example.org/x"] == "b.example.org"  # longest wins
    assert got["https://example.org/y"] == "example.org"
    assert got["https://b.example.org/w"] == "b.example.org"
    assert got["https://clean.net/z"] is None
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "EvalPython" not in plan


def test_canonical_url_rules(spark):
    """Each canonicalization rule on a hand-built edge-case table."""
    from socialmapper_spark.operators.web import canonical_url

    cases = [
        ("HTTPS://Example.ORG/A/b/", "https://example.org/A/b"),  # case+slash
        ("http://h.org:80/x", "http://h.org/x"),          # default http port
        ("https://h.org:443/x", "https://h.org/x"),       # default https port
        ("https://h.org:8443/x", "https://h.org:8443/x"), # non-default kept
        ("https://u:p@h.org/x", "https://h.org/x"),       # userinfo stripped
        ("https://h.org", "https://h.org/"),              # empty path → /
        ("https://h.org/x?b=2&a=1#frag", "https://h.org/x?a=1&b=2"),
        ("https://h.org/x?utm_source=a&gclid=z", "https://h.org/x"),
        ("not-a-url", "not-a-url"),                       # passthrough
    ]
    df = spark.createDataFrame(cases, "url string, expect string")
    out = df.select("url", "expect", canonical_url(F.col("url")).alias("canon"))
    bad = out.filter(F.col("canon") != F.col("expect")).collect()
    assert not bad, bad
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # pure Catalyst


def test_host_top_terms_ranks_host_specific_words(spark):
    """A word unique to one host outranks corpus-wide words; ranks are
    dense 1..k; score = tf/dfh exactly."""
    from socialmapper_spark.operators.web import host_top_terms

    rows = [
        ("https://a.org/1", "zebra zebra common words here"),
        ("https://a.org/2", "zebra common words here"),
        ("https://b.org/1", "common words here banana"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out = host_top_terms(df, k=2)
    top = {
        (r["host"], r["term_rank"]): (r["word"], r["tf"], r["dfh"], r["score"])
        for r in out.collect()
    }
    assert top[("a.org", 1)] == ("zebra", 3, 1, 3.0)   # host-unique, tf=3
    assert top[("b.org", 1)] == ("banana", 1, 1, 1.0)  # host-unique beats shared
    # shared words: dfh=2 → score 0.5·tf < any unique word here
    assert top[("a.org", 2)][3] < 3.0


def test_canonical_url_idempotent(spark):
    """canonical(canonical(x)) == canonical(x) over every messy-harness
    branch — the defining property of a canonicalizer (a second pass in
    a multi-stage pipeline must be a no-op)."""
    from socialmapper_spark.operators.web import canonical_url

    base = _crawl(spark).select("url").distinct().limit(200)
    h = F.substring(F.md5(F.col("url")), 1, 1)
    messy = (
        F.when(h.isin("0", "1", "2", "3"),
               F.concat(F.upper(F.substring(F.col("url"), 1, 12)), F.expr("substring(url, 13)")))
        .when(h.isin("4", "5", "6", "7"),
              F.regexp_replace(F.col("url"), "://([^/]+)", "://$1:443"))
        .when(h.isin("8", "9", "a", "b"),
              F.concat(F.col("url"), F.lit("?utm_source=feed&b=2&a=1#frag")))
        .otherwise(F.concat(F.col("url"), F.lit("/")))
    )
    once = base.select(canonical_url(messy).alias("c1"))
    twice = once.select("c1", canonical_url(F.col("c1")).alias("c2"))
    assert twice.filter(F.col("c1") != F.col("c2")).count() == 0


def test_host_stats_port_and_bare_urls_share_host(spark):
    """host3.example.org:8443/...?ref=... and host3.example.org/... fold
    into the same host key."""
    from socialmapper_spark.operators.web import host_stats

    pages = _crawl(spark)
    hosts = {r["host"] for r in host_stats(pages).collect()}
    ported = {
        r["url"]
        for r in pages.filter(F.col("url").contains(":8443")).limit(5).collect()
    }
    for u in ported:
        bare = u.split("://")[1].split(":")[0]
        assert bare in hosts
