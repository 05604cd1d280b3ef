"""Round-4 plan-quality fixes: linear-time winnowing, md5-keyed span
dedup, connected components, dropped-bucket audits, and the
progressive PII counts."""

import time

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


# --- winnowing: linear-time materialized form ---------------------------------

def test_winnow_materialized_is_linear_time(spark):
    """r3 VERDICT measured the nested expression at ~17 s for 20 docs of
    ~200 chars (quadratic lambda-invariant recompute). The materialized
    form must chew through 10× the rows at 1.5× the length in a few
    seconds — a hard wall-clock pin so a CollapseProject regression that
    re-inlines the projected intermediates cannot land silently."""
    from socialmapper_spark.operators.dedup import winnow_fingerprints, winnow_py

    docs = [
        (i, " ".join(f"tok{(i * 31 + j) % 97}" for j in range(45)))
        for i in range(200)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.count()  # fixture materialization outside the timed window
    t0 = time.time()
    rows = winnow_fingerprints(df).groupBy("doc_id").agg(
        F.sort_array(F.collect_list("fingerprint")).alias("fp")
    ).collect()
    elapsed = time.time() - t0
    # nested form: ~0.85 s/doc → 200 docs ≈ 170 s. Linear form measured
    # ~1 s; 30 s leaves 30× headroom for host noise while still failing
    # hard on any quadratic regression.
    assert elapsed < 30, f"winnow took {elapsed:.1f}s for 200 docs — quadratic again?"
    exp = {i: winnow_py(t) for i, t in docs}
    assert len(rows) == len(docs)
    for r in rows:
        assert list(r["fp"]) == exp[r["doc_id"]]


def test_winnow_column_form_still_matches_scalar_twin(spark):
    """The parity/one-off Column form stays available and identical."""
    from socialmapper_spark.operators.dedup import winnow_fingerprints_col, winnow_py

    docs = [(0, "the quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = df.select(winnow_fingerprints_col(F.col("text")).alias("fp")).first()["fp"]
    assert list(got) == winnow_py(docs[0][1])


# --- dedup_spans: md5-keyed exchanges -----------------------------------------

def test_dedup_spans_exchanges_keyed_on_md5_not_text(spark):
    """The first-occurrence agg and keep-join must shuffle on the 32-hex
    span_key; raw span_text must never be a shuffle key (r3 VERDICT #4)."""
    from socialmapper_spark.operators.dedup import dedup_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    out = dedup_spans(docs, span_words=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "span_key" in plan
    assert "hashpartitioning(span_text" not in plan
    # semantics unchanged: doc 1's second span and doc 2's only span are
    # repeats of doc 1's first span
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_spans"] == 2 and rows[1]["n_kept"] == 1
    assert rows[1]["text_clean"] == "a b c d e f g h i j"
    assert rows[2]["n_kept"] == 0 and rows[2]["text_clean"] == ""


def test_dedup_spans_reassembly_order(spark):
    """Kept spans rejoin in document order even when several survive."""
    from socialmapper_spark.operators.dedup import dedup_spans

    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two five six")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_spans(docs, span_words=2).collect()}
    assert out[1]["text_clean"] == "one two three four"
    assert out[2]["text_clean"] == "five six"
    assert out[2]["n_spans"] == 2 and out[2]["n_kept"] == 1


# --- winnow near-dup pairs ------------------------------------------------------

def test_winnow_pairs_guarantee_and_brute_force_parity(spark):
    """Docs sharing a substring of length ≥ k+w-1 (= 11 chars) must share
    ≥1 fingerprint (the winnowing guarantee) and therefore pair; the pair
    set and shared counts must equal the brute-force computation from
    the scalar twin."""
    from socialmapper_spark.operators.dedup import near_dup_pairs_winnow, winnow_py

    shared = "identical plagiarized passage carried verbatim"
    docs = [
        (0, f"intro alpha {shared} outro one"),
        (1, f"different beginning {shared} different ending"),
        (2, "entirely unrelated content with nothing in common at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in near_dup_pairs_winnow(df).collect()
    }
    fps = {i: set(winnow_py(t)) for i, t in docs}
    exp = {}
    for a in fps:
        for b in fps:
            if a < b and fps[a] & fps[b]:
                exp[(a, b)] = len(fps[a] & fps[b])
    assert got == exp
    assert (0, 1) in got and got[(0, 1)] >= 1


def test_winnow_pairs_bucket_audit(spark):
    from socialmapper_spark.operators.dedup import near_dup_pairs_winnow

    docs = spark.createDataFrame(
        [(i, "the same boilerplate sentence repeated everywhere") for i in range(6)]
        + [(10, "first unique overlapping passage here padding"),
           (11, "first unique overlapping passage here trailer")],
        "doc_id long, text string",
    )
    obs = Observation("winnow_audit")
    pairs = near_dup_pairs_winnow(docs, max_bucket=5, observation=obs)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(10, 11)}  # the 6-doc clique's buckets all overflow
    audit = obs.get
    assert audit["n_buckets_dropped"] >= 1
    assert audit["n_rows_in_dropped"] >= 6


# --- dedup_groups: one connected-components labeler ---------------------------

def _cc_rows(pairs, **kw):
    """dedup_groups output in dedup_groups_py's sorted row shape."""
    from socialmapper_spark.operators.dedup import dedup_groups

    return sorted(map(tuple, dedup_groups(pairs, **kw).collect()))


def test_star_equals_hashmin_on_path_graph(spark):
    """A 40-node path is the adversarial case for plain hash-min (diameter
    rounds); with star-style root hooking and pointer jumping the labeler
    converges well inside max_iter = 10 and gives the labeling hash-min
    would reach, which is the union-find one."""
    from socialmapper_spark.operators.dedup import dedup_groups_py

    path_pairs = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(path_pairs, "doc_a long, doc_b long")
    got = _cc_rows(pairs, max_iter=10)
    assert got == dedup_groups_py(path_pairs)
    # every node folds into the single component rooted at 0
    assert all(g == 0 for _, g, _ in got)


def test_cc_random_id_path_matches_union_find(spark):
    """A 1001-node path whose ids are a seeded random permutation. On an
    increasing-id path pointer jumping alone halves the chain each round;
    on a random one it stalls, and only the root hooking brings it inside
    the default max_iter."""
    import random

    from socialmapper_spark.operators.dedup import dedup_groups_py
    from socialmapper_spark.session import local_frame

    ids = random.Random(1001).sample(range(1001), 1001)
    path_pairs = [(ids[i], ids[i + 1]) for i in range(1000)]
    pairs = local_frame(spark, path_pairs, "doc_a long, doc_b long")
    got = _cc_rows(pairs)
    assert got == dedup_groups_py(path_pairs)
    assert {g for _, g, _ in got} == {0}


def test_cc_size_estimate_stays_bounded(spark):
    """Each hooking round self-joins the labels. A plain localCheckpoint
    keeps its plan's size estimate, so the estimate squares every round
    (past 2^7000 in the 9 rounds this 201-node path takes). The labels
    the loop returns must stay below 2^64."""
    from socialmapper_spark.operators.dedup import dedup_groups

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    out = dedup_groups(pairs)
    size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size < 2**64
    assert out.count() == 201


def test_cc_mixed_graph_matches_union_find(spark):
    """Cliques + chains + singletons."""
    from socialmapper_spark.operators.dedup import dedup_groups_py

    edges = (
        [(1, 2), (2, 3), (1, 3)]          # triangle
        + [(10, 11), (11, 12), (12, 13)]  # chain
        + [(20, 21)]                      # pair
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 12, 13, 20, 21, 99]],
                                 "doc_id long")
    assert _cc_rows(pairs) == dedup_groups_py(edges)
    assert _cc_rows(pairs, docs=docs) == dedup_groups_py(edges, all_ids=[99])


def test_cc_matches_union_find_on_random_graphs(spark):
    """Seeded random graphs (mixed density, self-contained components,
    duplicate and reversed edges) must equal the union-find twin."""
    import random

    from socialmapper_spark.operators.dedup import dedup_groups_py

    for seed in (1, 7, 23):
        rng = random.Random(seed)
        n = 30
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(10, 50))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        assert _cc_rows(pairs) == dedup_groups_py(edges), f"seed {seed}"


def test_cc_keeps_self_pair_only_nodes(spark):
    """A node whose only pair rows are self-pairs (doc_a == doc_b) comes
    out as its own singleton group."""
    from socialmapper_spark.operators.dedup import dedup_groups_py

    edges = [(5, 5), (1, 2), (7, 7), (2, 2)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = _cc_rows(pairs)
    assert got == dedup_groups_py(edges)
    assert (5, 5, True) in got and (7, 7, True) in got


# --- dropped-bucket audits -----------------------------------------------------

def test_minhash_bucket_audit_reports_drops(spark):
    """A bucket that overflows max_bucket must surface its loss through
    the Observation (no silent caps), and the pairs it would have
    produced must be excluded."""
    from socialmapper_spark.operators.dedup import near_dup_pairs_minhash

    # 5 identical docs → every band bucket has n=5 > max_bucket=4
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text repeated verbatim everywhere") for i in range(5)]
        + [(10, "a completely different document body"),
           (11, "a completely different document body")],
        "doc_id long, text string",
    )
    obs = Observation("minhash_audit")
    pairs = near_dup_pairs_minhash(docs, max_bucket=4, observation=obs)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    audit = obs.get
    assert audit["n_buckets_dropped"] >= 1
    assert audit["n_rows_in_dropped"] >= 5
    assert got == {(10, 11)}  # the overflowing clique's pairs are gone


def test_simhash_bucket_audit_and_gate_scale_invariant(spark):
    """(a) the simhash path reports drops through the same audit; (b) at
    gate scale (the sf0.001 documents fixture with the DEFAULT cap) no
    bucket overflows — the invariant that keeps the brute-force oracle
    exact (ADVICE r3 #1)."""
    from socialmapper_spark.operators.dedup import near_dup_pairs_simhash

    # the (10, 11) twin keeps the final result non-empty: with a fully
    # empty result AQE's empty-relation propagation drops the
    # CollectMetrics node (documented in attach_bucket_audit)
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text repeated verbatim everywhere") for i in range(5)]
        + [(10, "a completely different document body"),
           (11, "a completely different document body")],
        "doc_id long, text string",
    )
    obs = Observation("simhash_audit")
    pairs = near_dup_pairs_simhash(docs, max_bucket=4, observation=obs)
    assert {(r["doc_a"], r["doc_b"]) for r in pairs.collect()} == {(10, 11)}
    assert obs.get["n_buckets_dropped"] >= 1
    assert obs.get["n_rows_in_dropped"] >= 5

    fixture = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    obs2 = Observation("simhash_gate_audit")
    near_dup_pairs_simhash(fixture, observation=obs2).count()
    audit = obs2.get
    assert audit["n_buckets_dropped"] == 0, (
        "fixture now overflows a simhash band bucket — the brute-force "
        "all-pairs oracle is no longer exact; raise max_bucket or carve "
        "the exception into the oracle"
    )


def test_embedding_dup_audit(spark):
    from socialmapper_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    obs = Observation("emb_audit")
    embedding_near_dup_pairs(spark, emb, observation=obs).count()
    audit = obs.get
    assert set(audit) == {"n_buckets_dropped", "n_rows_in_dropped"}
    assert audit["n_buckets_dropped"] == 0  # default cap holds at fixture scale


# --- PII: progressive counts ----------------------------------------------------

def test_pii_counts_are_progressive(spark):
    """A digit run inside an email local part is scrubbed as <EMAIL> and
    must NOT also count as a phone (ADVICE r3 #3); counts equal the
    number of placeholders each stage wrote."""
    from socialmapper_spark.functions.text import pii_cols

    rows = [
        (0, "mail user123456789@example.com now"),
        (1, "call +1 (415) 555-0134 or visit 10.0.0.1"),
        (2, "plain text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = pii_cols(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select("doc_id", *[c.alias(k) for k, c in cols.items()]).collect()
    }
    assert got[0]["n_emails"] == 1 and got[0]["n_phones"] == 0
    assert got[0]["text_scrubbed"] == "mail <EMAIL> now"
    assert got[1]["n_phones"] == 1 and got[1]["n_ips"] == 1
    assert got[2]["n_emails"] == got[2]["n_ips"] == got[2]["n_phones"] == 0
    # placeholder count in text_scrubbed == audit count, per category
    for i in got:
        assert got[i]["text_scrubbed"].count("<EMAIL>") == got[i]["n_emails"]
        assert got[i]["text_scrubbed"].count("<IP>") == got[i]["n_ips"]
        assert got[i]["text_scrubbed"].count("<PHONE>") == got[i]["n_phones"]


def test_pii_spark_equals_duckdb_twin(spark):
    import duckdb

    from socialmapper_spark.functions.text import pii_cols, pii_cols_sql

    rows = [
        (0, "mail user123456789@example.com now"),
        (1, "call +1 (415) 555-0134 or visit 10.0.0.1"),
        (2, "edge 999999999@10.0.0.1 and 123456789012"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = pii_cols(F.col("text"))
    got = sorted(
        map(tuple, df.select("doc_id", *[c.alias(k) for k, c in cols.items()]).collect())
    )
    con = duckdb.connect()
    con.execute("create table t(doc_id bigint, text varchar)")
    con.executemany("insert into t values (?, ?)", rows)
    exp = sorted(con.execute(f"select doc_id, {pii_cols_sql()} from t").fetchall())
    assert got == exp


# --- host_top_terms: dfh derived from tf -----------------------------------------

def test_host_top_terms_explodes_corpus_once(spark):
    """dfh is derived from the persisted tf aggregate, so the corpus-side
    explode computes once: both consumers read the tf cache
    (InMemoryTableScan) instead of re-exploding the corpus
    (r3 VERDICT #5)."""
    from socialmapper_spark.operators.web import host_top_terms
    from socialmapper_spark.session import release_caches

    pages = spark.createDataFrame(
        [(f"https://h{i % 3}.org/p{i}", f"alpha beta{i % 5} gamma delta common") for i in range(30)],
        "url string, text string",
    )
    out = host_top_terms(pages)
    try:
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        # both the dfh agg and the scored join read the tf cache
        assert plan.count("InMemoryTableScan") >= 2
        # ranking semantics unchanged: 'common'/'alpha'/'gamma'/'delta'
        # hit all 3 hosts (dfh=3)
        assert all(r["term_rank"] <= 5 for r in rows)
        for r in rows:
            if r["word"] in ("alpha", "gamma", "delta", "common"):
                assert r["dfh"] == 3
        # cache handle surfaced for release (the kring-kNN pattern)
        assert len(out.__spark_graft_caches__) == 1
    finally:
        release_caches(out)


# --- per-host cap: window selection ----------------------------------------------

def test_host_cap_keeps_first_k_in_md5_order(spark):
    """A host with more than k urls keeps exactly k, one with exactly k
    and one with fewer keep all of theirs; kept urls and their ranks
    follow the (md5(url), url) order, checked against hashlib."""
    import hashlib

    from socialmapper_spark.operators.web import per_host_cap

    k = 5
    sizes = {"big.example.org": 40, "exact.example.org": k, "small.example.org": 2}
    urls = {h: [f"https://{h}/p{i}" for i in range(n)] for h, n in sizes.items()}
    pages = spark.createDataFrame(
        [(u,) for us in urls.values() for u in us], "url string"
    )
    got = sorted(map(tuple, per_host_cap(pages, k=k).collect()))

    def order(u):
        return hashlib.md5(u.encode()).hexdigest(), u

    exp = sorted(
        (u, h, rank)
        for h, us in urls.items()
        for rank, u in enumerate(sorted(us, key=order)[:k], 1)
    )
    assert got == exp
    hosts = [r[1] for r in got]
    assert [hosts.count(h) for h in sizes] == [k, k, 2]


# --- corpus curation composition ----------------------------------------------------

def test_corpus_curation_funnel_and_plan(spark):
    """The document-side curation composition: one row per doc with a
    first-failing-stage reason; the funnel is non-trivial (some docs cut
    at language and at least one later stage, some kept); kept docs
    carry scrubbed text; the plan has zero per-row Python nodes."""
    import __spark_entry__ as entrymod

    out = entrymod.q_corpus_curation(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    docs_n = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert len(rows) == docs_n  # audit convention: every doc gets a verdict
    reasons = {r["reason"] for r in rows}
    valid = {"non_allowed_lang", "low_quality", "repetitive",
             "contaminated", "sampled_out", "ok"}
    assert reasons <= valid
    kept = [r for r in rows if r["keep"]]
    assert 0 < len(kept) < docs_n
    assert "non_allowed_lang" in reasons and len(reasons) >= 3
    for r in rows:
        assert (r["reason"] == "ok") == r["keep"]
        assert (r["text_final"] is not None) == r["keep"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# --- stream-static dimension join ---------------------------------------------------

def test_crawl_enrich_stream_equals_batch_join(spark):
    """The stream-static join must be stateless (no watermark, append
    mode) and row-equal to the same join run as a batch plan."""
    from socialmapper_spark.fixtures import ensure_crawl_fixture
    from socialmapper_spark.operators.web import crawl_enrich, host_stats
    from socialmapper_spark.streaming import drain, parquet_stream

    crawl_dir = str(ensure_crawl_fixture("sf0.001"))
    pages = spark.read.parquet(f"{crawl_dir}/crawl_pages.parquet")
    dim = host_stats(pages)
    source = parquet_stream(spark, crawl_dir, "crawl_pages.parquet")
    got = drain(crawl_enrich(source, dim), "append")
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, crawl_enrich(pages, dim).collect()))
    assert a == b and len(a) == pages.count()  # inner join loses no page


# --- raster focal stats ---------------------------------------------------------

def test_focal_stats_matches_python_twin_with_wrap_and_clamp(spark):
    """3×3 focal sum over the pixel grid == an independent dict-based
    twin, including the antimeridian wrap (lon ±180) and the pole clamp
    (iy = 0 has no southern neighbors — off-grid rows drop, zero-padded
    mean still divides by 9)."""
    from collections import defaultdict

    from socialmapper_spark.geo.cells import cell_np, decode_cell
    from socialmapper_spark.operators.raster import focal_stats, rasterize_counts

    res, nx, ny = 9, 1 << 16, 1 << 15
    pts = [
        (0.001, 179.999), (0.001, -179.999),   # straddle the antimeridian
        (-89.999, 10.0), (-89.999, 10.0),      # clamped bottom row, count 2
        (35.65, -78.78), (35.65, -78.78), (35.6501, -78.78),
    ]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = {
        r["cell"]: (r["focal_sum"], r["focal_n"], r["focal_mean"])
        for r in focal_stats(rasterize_counts(df, res=res)).collect()
    }

    counts: dict[tuple[int, int], int] = defaultdict(int)
    for lat, lon in pts:
        _, ix, iy = decode_cell(int(cell_np([lat], [lon], res)[0]))
        counts[(ix, iy)] += 1
    exp = {}
    targets = {
        ((ix + dx) % nx, iy + dy)
        for (ix, iy) in counts
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if 0 <= iy + dy < ny
    }
    for jx, jy in targets:
        vals = [
            counts[((jx - dx) % nx, jy - dy)]
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if ((jx - dx) % nx, jy - dy) in counts
        ]
        cell = res * (2**58) + jx * (2**29) + jy
        exp[cell] = (sum(vals), len(vals), sum(vals) / 9.0)
    assert got == exp
    # the two antimeridian pixels smooth into each other across the wrap
    wrap_cells = [c for c, (_s, n, _m) in got.items() if n >= 2]
    assert wrap_cells


def test_downsample_equals_direct_rasterize(spark, geo_small):
    """Pyramid identity: aggregating the r9 raster to r7 must equal
    rasterizing the points directly at r7 (exact bit-shift hierarchy),
    and chaining two levels (9→8→7) must equal one jump (9→7)."""
    from socialmapper_spark.operators.raster import downsample_counts, rasterize_counts
    from socialmapper_spark.pipeline import geoparse_pages

    geop = geoparse_pages(spark.read.parquet(f"{geo_small}/pages.parquet"))
    r9 = rasterize_counts(geop, res=9)
    down = sorted(map(tuple, downsample_counts(r9, res=9, to_res=7).collect()))
    direct = sorted(map(tuple, rasterize_counts(geop, res=7).collect()))
    assert down == direct and len(down) > 0
    two_step = sorted(
        map(
            tuple,
            downsample_counts(
                downsample_counts(r9, res=9, to_res=8), res=8, to_res=7
            ).collect(),
        )
    )
    assert two_step == direct


def test_zonal_stats_matches_golden(spark, geo_small):
    """Zonal statistics at sf0.001 == the brute-force golden (numpy PIP
    twin over every polygon × every pixel center), including the exact
    double-typed mean."""
    from socialmapper_spark.operators.raster import rasterize_counts, zonal_stats
    from socialmapper_spark.pipeline import geoparse_pages

    pages = spark.read.parquet(f"{geo_small}/pages.parquet")
    polygons = spark.read.parquet(f"{geo_small}/polygons.parquet")
    got = sorted(
        map(tuple, zonal_stats(spark, rasterize_counts(geoparse_pages(pages)),
                               polygons).collect())
    )
    exp = sorted(map(tuple, spark.read.parquet(f"{geo_small}/golden_zonal.parquet").collect()))
    assert got == exp and len(got) > 0


def test_polygon_burn_matches_golden_and_contains_zonal_pixels(spark, geo_small):
    """Burn == golden (bbox-enumeration brute force); and composition
    consistency: every pixel zonal_stats counted for a polygon is a cell
    that burns into that polygon (center-rule agreement between the two
    independent operators)."""
    from socialmapper_spark.operators.raster import (
        rasterize_counts,
        rasterize_polygons,
        zonal_stats,
    )
    from socialmapper_spark.pipeline import geoparse_pages

    polygons = spark.read.parquet(f"{geo_small}/polygons.parquet")
    burn = rasterize_polygons(spark, polygons)
    got = sorted(map(tuple, burn.collect()))
    exp = sorted(map(tuple, spark.read.parquet(f"{geo_small}/golden_burn.parquet").collect()))
    assert got == exp and len(got) > 0

    pages = spark.read.parquet(f"{geo_small}/pages.parquet")
    zon = zonal_stats(spark, rasterize_counts(geoparse_pages(pages)), polygons)
    from collections import Counter

    burn_count = Counter(p for _c, p in got)
    for r in zon.collect():
        assert r["n_pixels"] <= burn_count[r["poly_id"]]


def test_downsample_rejects_bad_res(spark):
    from socialmapper_spark.operators.raster import downsample_counts

    df = spark.createDataFrame([(0, 0, 0, 1)], "tile_id long, px_row int, px_col int, value long")
    with pytest.raises(ValueError, match="to_res"):
        downsample_counts(df, res=9, to_res=9)
    with pytest.raises(ValueError, match="tile_res"):
        downsample_counts(df, res=9, to_res=3)


# --- int8 embedding quantization ---------------------------------------------------

def test_quantize_embeddings_error_bound_and_roundtrip(spark):
    """Codes stay in [-127, 127]; the reconstruction error never exceeds
    the round-to-nearest bound scale/254 (+ float slack); a zero vector
    quantizes to all zeros with scale 0; exact ±scale elements map to
    ±127 exactly."""
    from socialmapper_spark.operators.similarity import quantize_embeddings

    rows = [
        (0, [1.0, -0.5, 0.25, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [-2.0, 2.0, 1.999, -0.001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    for i, vec in rows:
        r = got[i]
        assert all(-127 <= q <= 127 for q in r["q"])
        if all(v == 0.0 for v in vec):
            assert r["scale"] == 0.0 and all(q == 0 for q in r["q"])
            continue
        scale = max(abs(v) for v in vec)
        assert r["scale"] == scale
        assert r["max_abs_err"] <= scale / 254 * (1 + 1e-12)
        for v, q in zip(vec, r["q"]):
            if abs(v) == scale:
                assert abs(q) == 127
            assert abs(v - q * scale / 127.0) <= scale / 254 * (1 + 1e-12)


def test_quantize_fixture_embeddings_accuracy(spark):
    """On the real fixture embeddings, dequantized cosine vs the original
    stays above 0.999 for every vector (int8 is enough resolution for
    ANN recall at these dims)."""
    import numpy as np

    from socialmapper_spark.operators.similarity import quantize_embeddings

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    orig = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    for r in quantize_embeddings(emb).collect():
        x = orig[r["vec_id"]]
        if r["scale"] == 0.0:
            continue
        d = np.array(r["q"], dtype=np.float64) * r["scale"] / 127.0
        cos = float(x @ d / (np.linalg.norm(x) * np.linalg.norm(d)))
        assert cos > 0.999, (r["vec_id"], cos)


# --- BPE proxy divergence pins ----------------------------------------------------

def test_bpe_proxy_divergence(spark):
    """No tokenizer wheel ships in this container, so bpe_token_count is a
    documented pre-tokenization PROXY. Pin its counts on fixed strings —
    including the cases where a real BPE diverges (gibberish words and
    long digit runs count 1 run here but split into several merges under
    e.g. cl100k_base) — so the documented bias cannot drift."""
    from socialmapper_spark.functions.text import bpe_token_count

    rows = [
        (0, "the cat sat"),              # 3 common words: proxy 3, real BPE 3
        (1, "zqxjkvbnm lpwoeiruty"),     # gibberish: proxy 2, real BPE > 2
        (2, "1234567890123456789"),      # long digit run: proxy 1, real > 1
        (3, "hello, world!"),            # words + symbols: proxy 4
        (4, ""),                          # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", bpe_token_count(F.col("text")).alias("n")).collect()
    }
    assert got == {0: 3, 1: 2, 2: 1, 3: 4, 4: 0}
