"""Round-3 additions: similarity searches, near-dup groups, bounded
classifier histograms, max_p, and the md5 lineage twin."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from socialmapper_spark.fixtures import cosine_topk_py, ivf_probe_sets, lsh_probe_sets
from socialmapper_spark.operators.similarity import (
    cosine_topk,
    ivf_ann_topk,
    lsh_ann_topk,
)

SF_SMALL = "/root/testdata/sf0.001"


# --- similarity searches vs the pure-Python twin ---------------------------

SEARCHES = {
    "cosine": (cosine_topk, lambda vecs, qids: None),
    "lsh": (lsh_ann_topk, lsh_probe_sets),
    "ivf": (ivf_ann_topk, ivf_probe_sets),
}
EMB_SCHEMA = "vec_id long, embedding array<float>"


def _search_input(spark, name):
    """(embeddings, query ids, k) of one twin-comparison input."""
    if name == "sf0.001":  # more queries than the golden pins
        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        return emb, list(range(12)), 5
    if name == "empty_partitions":  # more partitions than rows
        emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        return emb.filter(F.col("vec_id") < 20).repartition(50), [0, 1, 2], 4
    if name == "near_tie":
        # 20 candidates in one partition whose cosines all round to 1.0 at
        # 9 dp: the lowest id wins, whatever their unrounded order
        rows = [(0, [1.0, 0.0, 0.0, 0.0])] + [
            (i, [1.0, 3e-5 * (1 - (i - 1) / 20), 0.0, 0.0]) for i in range(1, 21)
        ]
        return spark.createDataFrame(rows, EMB_SCHEMA).coalesce(1), [0], 1
    # zero_norm: a zero-norm candidate has no cosine
    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5]), (3, [0.0, 1.0])]
    return spark.createDataFrame(rows, EMB_SCHEMA).coalesce(1), [0], 3


@pytest.mark.parametrize(
    "name", ["sf0.001", "empty_partitions", "near_tie", "zero_norm"]
)
@pytest.mark.parametrize("search", sorted(SEARCHES))
def test_search_equals_twin(spark, search, name):
    """Every search returns exactly the twin's rows over its candidate
    set: the per-partition cut keeps every near-tie, empty batches are
    skipped, and a candidate with a non-finite cosine never appears."""
    emb, qids, k = _search_input(spark, name)
    fn, probe_sets = SEARCHES[search]
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    want = sorted(cosine_topk_py(vecs, qids, k, probe_sets(vecs, qids)))
    got = sorted(tuple(r) for r in fn(spark, emb, qids, k=k).collect())
    assert got == want
    if search == "cosine" and name == "near_tie":
        assert got == [(0, 1, 1.0, 1)]
    if search == "cosine" and name == "zero_norm":
        assert got == [(0, 2, 0.707106781, 1), (0, 3, 0.0, 2)]
    if search == "cosine" and name == "sf0.001":
        assert len(got) == len(qids) * k


@pytest.mark.parametrize("search", sorted(SEARCHES))
def test_degenerate_query_vector_raises(spark, search):
    """A query vector with norm 0 or a non-finite norm has no cosine: the
    driver refuses it by id instead of emitting NULL-cosine rows. An empty
    query list and k < 1 fail as loudly."""
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [float("nan"), 1.0]), (3, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, EMB_SCHEMA)
    with pytest.raises(ValueError, match=r"non-finite norm.*\[0, 2\]"):
        SEARCHES[search][0](spark, emb, [0, 2, 1], k=2)
    with pytest.raises(ValueError, match="non-finite norm"):
        cosine_topk_py(dict(rows), [0], 2)
    with pytest.raises(ValueError, match="query_ids is empty"):
        SEARCHES[search][0](spark, emb, [], k=2)
    with pytest.raises(ValueError, match="k must be >= 1"):
        SEARCHES[search][0](spark, emb, [1], k=0)


@pytest.mark.parametrize("search", sorted(SEARCHES))
def test_search_plan_is_one_scan_at_500_queries(spark, search):
    """500 query vectors must NOT produce 500 plan branches: every search
    is one scan + one mapInPandas regardless of |Q|."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    n = emb.count()
    qids = list(range(min(500, n)))
    out = SEARCHES[search][0](spark, emb, qids, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert plan.count("FlatMapGroupsInPandas") + plan.count("MapInPandas") <= 2
    # and it answers most queries (an ANN probe set can legitimately be
    # empty when the query's neighborhood holds no other vectors)
    answered = {r["query_id"] for r in out.select("query_id").distinct().collect()}
    assert answered <= set(qids)
    assert len(answered) >= 0.7 * len(qids)


# --- near-dup groups (connected components) ---------------------------------

def _groups_df(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def test_dedup_groups_transitive_fixture(spark):
    """Known transitive chain: pairs (1,2),(2,3),(7,9) + singleton 5 →
    components {1,2,3} and {7,9}; canonical = min id."""
    from socialmapper_spark.operators.dedup import dedup_groups

    pairs = _groups_df(spark, [(1, 2), (2, 3), (7, 9)])
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 7, 9]], "doc_id long")
    got = {
        (r["doc_id"], r["group_id"], r["is_canonical"])
        for r in dedup_groups(pairs, docs=docs).collect()
    }
    assert got == {
        (1, 1, True), (2, 1, False), (3, 1, False),
        (5, 5, True), (7, 7, True), (9, 7, False),
    }


def test_dedup_groups_matches_union_find_and_partition_invariance(spark):
    """Long chain + star + random edges: label propagation must equal the
    union-find twin, at 1 and at 16 shuffle partitions."""
    from socialmapper_spark.operators.dedup import dedup_groups, dedup_groups_py

    rng = np.random.default_rng(11)
    edges = [(int(i), int(i + 1)) for i in range(20, 29)]  # chain of 10
    edges += [(50, int(x)) for x in range(51, 58)]  # star
    extra = rng.integers(100, 140, size=(15, 2))
    edges += [(int(min(a, b)), int(max(a, b))) for a, b in extra if a != b]
    want = {(i, g, c) for i, g, c in dedup_groups_py(edges)}

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("1", "16"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            got = {
                (r["doc_id"], r["group_id"], r["is_canonical"])
                for r in dedup_groups(_groups_df(spark, edges)).collect()
            }
            assert got == want, f"partitions={parts}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# --- bounded classifier histograms ------------------------------------------

def test_distinct_hist_collect_is_bounded(spark):
    """A 300k-distinct-value column must never collect more than the cap:
    natural_breaks still classifies every row with ≤ k bins."""
    from socialmapper_spark.operators import classify as C

    n = 300_000
    wide = spark.range(n).select(
        F.concat(F.lit("g"), F.col("id").cast("string")).alias("geoid"),
        (F.col("id").cast("double") / 7.0).alias("B19013_001E"),
    )
    vals = C._vals(wide, "B19013_001E")
    values, counts = C._distinct_hist(vals)
    assert len(values) <= C.AUTO_DISTINCT_CAP
    assert counts.sum() > 0

    out = C.natural_breaks_bins(wide)
    assert out.count() == n
    assert out.agg(F.max("bin")).collect()[0][0] <= 5
    assert out.agg(F.min("bin")).collect()[0][0] >= 1


def test_max_p_partitions_everything(spark, geo_small):
    from socialmapper_spark.operators import classify as C
    from socialmapper_spark.operators.census import pivot_census

    wide = pivot_census(spark.read.parquet(f"{geo_small}/census_long.parquet"))
    n = wide.filter(F.col("B19013_001E").isNotNull()).count()
    rows = C.max_p_bins(wide).collect()
    assert len(rows) == n
    assert all(1 <= r["bin"] <= 5 for r in rows)


def test_quantile_bins_plan_is_narrow_after_unpersist(spark, geo_small):
    """The returned quantile_bins plan must be a plain scan + project (no
    window, no cached range shuffle) — boundary tuples are plan literals."""
    from socialmapper_spark.operators.census import pivot_census
    from socialmapper_spark.operators.stats import quantile_bins

    wide = pivot_census(spark.read.parquet(f"{geo_small}/census_long.parquet"))
    out = quantile_bins(wide)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "InMemoryTableScan" not in plan
    # ntile parity is pinned by the driver oracle; sanity check bins here
    mx = out.agg(F.max("bin"), F.min("bin")).collect()[0]
    assert mx[0] == 5 and mx[1] == 1


# --- 15-language language ID -------------------------------------------------

LANG_SAMPLES = {
    "en": "The quick brown fox was seen and that is fine with this crowd.",
    "es": "Los niños juegan en el parque para que las familias los vean como siempre.",
    "fr": "Les enfants jouent dans les jardins pour une belle journée est magnifique.",
    "de": "Der Hund und die Katze sind nicht das Problem, ein Tier ist gut.",
    "it": "Sono convinto che della musica anche gli amici per noi parlino.",
    "pt": "Você não sabe que uma vida com mais alegria são dias melhores.",
    "nl": "Het huis van een vriend is niet ver met voor de deur een tuin.",
    "ru": "Привет мир, это русский текст.",
    "el": "Γεια σου κόσμε, αυτό είναι ελληνικό κείμενο.",
    "he": "שלום עולם, זה טקסט בעברית.",
    "ar": "مرحبا بالعالم، هذا نص عربي.",
    "hi": "नमस्ते दुनिया, यह हिंदी पाठ है।",
    "ja": "こんにちは世界、これは日本語のテキストです。",
    "ko": "안녕하세요 세계, 이것은 한국어 텍스트입니다.",
    "zh": "你好世界，这是中文文本。",
    "und": "12345 67890 !!!",
}


def test_language_id_fifteen_languages(spark):
    from socialmapper_spark.functions.text import language_id

    df = spark.createDataFrame(
        [(k, v) for k, v in LANG_SAMPLES.items()], "want string, text string"
    )
    rows = df.select("want", language_id(F.col("text")).alias("got")).collect()
    assert all(r["want"] == r["got"] for r in rows), [
        (r["want"], r["got"]) for r in rows if r["want"] != r["got"]
    ]


def test_language_id_spark_equals_duckdb_twin(spark):
    """The generated SQL twin must agree with the Catalyst expression on
    every sample AND on edge cases (mixed scripts, one stray char)."""
    import duckdb
    import pandas as pd

    from socialmapper_spark.functions.text import language_id, language_id_sql

    texts = list(LANG_SAMPLES.values()) + [
        "mostly english text with one я char",
        "一 single cjk char in english the and was that",
        "",
        "καιカナ mixed greek and kana ですです",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got_spark = {
        r["i"]: r["lang"]
        for r in df.select("i", language_id(F.col("text")).alias("lang")).collect()
    }
    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})
    con = duckdb.connect()
    con.register("documents", pdf)
    got_duck = dict(
        con.sql(
            f"select i, {language_id_sql('text')} as lang from documents"
        ).fetchall()
    )
    assert got_spark == got_duck


# --- density-adaptive kNN strategy ------------------------------------------

def test_knn_kring_degrades_to_broadcast_on_sparse_pois(spark, geo_small):
    """40 POIs over a ~30°×30° box (continent scale): the capped ring
    reach cannot prove k coverage — every probe would ride the brute-force
    fallback — so auto-sized kring must emit the broadcast plan directly
    (no ring explode) with the same exact semantics."""
    from socialmapper_spark.operators.knn import knn_join
    from socialmapper_spark.pipeline import geoparse_pages

    pages = spark.read.parquet(f"{geo_small}/pages.parquet")
    pois = spark.range(40).select(
        F.concat(F.lit("poi"), F.col("id")).alias("id"),
        (F.lit(25.0) + F.pmod(F.xxhash64(F.col("id")), F.lit(30000)) / 1000.0).alias("lat"),
        (F.lit(-110.0) + F.pmod(F.xxhash64(F.col("id") + 3), F.lit(30000)) / 1000.0).alias("lon"),
    )
    probes = geoparse_pages(pages).filter(F.col("lat").isNotNull()).limit(200)
    auto = knn_join(spark, probes, pois, k=1, strategy="kring")
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" not in plan  # degraded: no ring machinery
    # and still exact vs the explicit broadcast strategy
    want = {
        r["url"]: (r["poi_id"], round(r["distance_km"], 9))
        for r in knn_join(spark, probes, pois, k=1, strategy="broadcast").collect()
    }
    got = {
        r["url"]: (r["poi_id"], round(r["distance_km"], 9)) for r in auto.collect()
    }
    assert got == want and len(got) == 200


def test_knn_kring_caches_released_via_helper(spark, geo_small):
    """k=1 kring reads its per-point top-1 once, so it persists nothing;
    k>1 persists intermediates consumed by the returned plan, and the
    attached handles + session.release_caches drop them after the
    caller's terminal action (the long-lived-session leak fix)."""
    from socialmapper_spark.operators.knn import knn_join
    from socialmapper_spark.pipeline import geoparse_pages
    from socialmapper_spark.session import release_caches

    pages = spark.read.parquet(f"{geo_small}/pages.parquet")
    pois = spark.read.parquet(f"{geo_small}/pois.parquet").filter(F.col("lat") <= 90)
    probes = geoparse_pages(pages).filter(F.col("lat").isNotNull()).limit(100)
    top1 = knn_join(spark, probes, pois, k=1, strategy="kring", rings=3)
    assert top1.count() == 100
    assert release_caches(top1) == 0
    out = knn_join(spark, probes, pois, k=2, strategy="kring", rings=3)
    assert out.count() == 200
    # one persist: the pruned per-point top-k (`near`), read by the guard's
    # stats and by the covered rows; the POI side is a driver-built local
    # table, and the probe side is single-consumer
    handles = getattr(out, "__spark_graft_caches__", [])
    assert len(handles) == 1 and all(h.is_cached for h in handles)
    assert release_caches(out) == 1
    assert not any(h.is_cached for h in handles)
    assert release_caches(probes) == 0  # frames without handles are no-ops


def test_driver_gate_entries_all_have_oracles():
    """The driver's CORRECTNESS gate checks the FIRST 50 queries() —
    every one of them must carry an oracle_sql twin (a gate slot spent
    on a rows-only check is wasted verification surface). Pins the
    registry composition against accidental reorders."""
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
    import __spark_entry__ as e

    keys = list(e.queries())
    assert len(keys) == len(set(keys))
    osql = e.oracle_sql()
    missing = [k for k in keys[:50] if k not in osql]
    assert missing == [], f"gate entries without oracles: {missing}"
