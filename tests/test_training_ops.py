"""Training-data pipeline operators: dedup, similarity, multimodal."""

import pytest
from pyspark.sql import functions as F

from socialmapper_spark.operators.dedup import (
    jaccard_verify,
    near_dup_pairs_minhash,
    simhash64_py,
    simhash_docs,
)
from socialmapper_spark.operators.multimodal import binary_metadata, decode_image
from socialmapper_spark.operators.similarity import cosine_topk, lsh_ann_topk


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "completely different text about census demographics and urban tiles"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (4, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_near_and_exact_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in near_dup_pairs_minhash(docs).collect()}
    assert (0, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup collides on ≥1 band
    assert not any(2 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_signature_matches_python_oracle(spark, docs):
    """Pins sig to the md5-60 family md5(f'{i}:{shingle}') exactly.

    Regression for the two-parameter-transform-lambda bug: PySpark's
    arity sniff passed the array INDEX column as the perm number, whose
    stringified lambda-variable name leaked into the hash prefix — and
    that name comes from a session-global counter, so the signatures
    (and hence borderline band collisions) changed with how many lambdas
    the session had created before. This comparison against the
    session-independent Python oracle fails on ANY run if that ever
    regresses; the band-collision assertions above only flaked."""
    from socialmapper_spark.fixtures import _minhash_py
    from socialmapper_spark.operators.dedup import minhash_signature

    got = {r["doc_id"]: list(r["sig"]) for r in minhash_signature(docs).collect()}
    for row in docs.collect():
        exp_sig, _ = _minhash_py(row["text"])
        assert got[row["doc_id"]] == exp_sig, row["doc_id"]


def test_jaccard_verify_scores(spark, docs):
    pairs = near_dup_pairs_minhash(docs)
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_verify(docs, pairs, threshold=0.0).collect()
    }
    assert verified[(0, 3)] == 1.0
    if (0, 1) in verified:
        assert 0.5 < verified[(0, 1)] < 1.0


def test_simhash_similarity_structure(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_docs(docs).collect()}
    assert sh[0] == sh[3]  # exact dups → identical simhash
    ham_near = bin((sh[0] ^ sh[1]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((sh[0] ^ sh[2]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated
    assert simhash64_py(None) == 0


def test_decontaminate_flags_exact_ngram_overlap(spark):
    """A doc sharing an exact 8-gram with the benchmark is flagged with
    the distinct-hit count; shorter overlaps and clean docs are not."""
    from socialmapper_spark.operators.dedup import decontaminate

    bench_text = "one two three four five six seven eight nine"
    rows = [
        (0, bench_text),                                    # the benchmark doc itself
        (1, "zzz one two three four five six seven eight"), # shares 1 eight-gram
        (2, "one two three four five six seven"),           # only 7 words — clean
        (3, "totally different words through and through"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") == 0)
    out = {
        r["doc_id"]: (r["contaminated"], r["n_hit_grams"])
        for r in decontaminate(docs, bench).collect()
    }
    assert out[0] == (True, 2)   # benchmark doc: both of its own 8-grams hit
    assert out[1] == (True, 1)
    assert out[2] == (False, 0)
    assert out[3] == (False, 0)
    plan = decontaminate(docs, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "EvalPython" not in plan


def test_per_host_cap_deterministic(spark):
    """k=1 keeps exactly one url per host, chosen by (md5(url), url) —
    stable under input order."""
    from socialmapper_spark.operators.web import per_host_cap

    urls = [(f"https://h{i % 3}.org/p{j}",) for i in range(3) for j in range(5)]
    df = spark.createDataFrame(urls, "url string").distinct()
    a = sorted(r["url"] for r in per_host_cap(df, k=1).collect())
    b = sorted(
        r["url"]
        for r in per_host_cap(df.orderBy(F.col("url").desc()), k=1).collect()
    )
    assert a == b and len(a) == 3
    ranks = [r["host_rank"] for r in per_host_cap(df, k=2).collect()]
    assert sorted(ranks) == [1, 1, 1, 2, 2, 2]


def test_stratified_keep_rates_and_determinism(spark):
    """Keep decisions are content-keyed (input-order invariant), rate 1.0
    keeps all, unknown strata drop, and realized rates track targets."""
    from socialmapper_spark.functions.text import stratified_keep

    rows = [(f"k{i}", ["en", "es", "de"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "key string, lang string")
    rates = {"en": 0.5, "es": 1.0}
    out = df.select(
        "key", "lang", stratified_keep(F.col("lang"), F.col("key"), rates).alias("keep")
    )
    kept = {(r["lang"], r["keep"]) for r in out.collect()}
    by = {
        r["lang"]: r["n"]
        for r in out.filter("keep").groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by["es"] == 1000          # rate 1.0 → everything
    assert "de" not in by            # unknown stratum → dropped
    assert 400 <= by["en"] <= 600    # ~0.5 of 1000
    # determinism: same decisions under reversed input order
    a = sorted(r["key"] for r in out.filter("keep").collect())
    b = sorted(
        r["key"]
        for r in df.orderBy(F.col("key").desc())
        .select("key", stratified_keep(F.col("lang"), F.col("key"), rates).alias("keep"))
        .filter("keep")
        .collect()
    )
    assert a == b


def test_pii_scrub_patterns(spark):
    """Emails/IPv4s/phone runs are replaced by typed placeholders with
    PROGRESSIVE counts (emails on the original text, IPs after the email
    scrub, phones after the IP scrub — each count equals the
    placeholders its stage wrote; see
    tests/test_round4_ops.py::test_pii_counts_are_progressive for the
    overlap cases); clean text passes through unchanged."""
    from socialmapper_spark.functions.text import pii_cols

    rows = [
        (0, "write j.doe+x@mail.example.com and a.b@c.io today"),
        (1, "server at 192.168.1.1 and 10.0.0.7 responded"),
        (2, "call +1 (555) 123-4567 now"),
        (3, "no personal information in this text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pc = pii_cols(F.col("text"))
    out = {
        r["doc_id"]: (r["s"], r["e"], r["i"], r["p"])
        for r in df.select(
            "doc_id",
            pc["text_scrubbed"].alias("s"),
            pc["n_emails"].alias("e"),
            pc["n_ips"].alias("i"),
            pc["n_phones"].alias("p"),
        ).collect()
    }
    assert out[0] == ("write <EMAIL> and <EMAIL> today", 2, 0, 0)
    assert out[1] == ("server at <IP> and <IP> responded", 0, 2, 0)
    assert out[2] == ("call <PHONE> now", 0, 0, 1)
    assert out[3] == ("no personal information in this text", 0, 0, 0)


def test_repetition_cols_known_values(spark):
    """Hand-computed repetition ratios, including the too-short guard."""
    from socialmapper_spark.functions.text import repetition_cols

    rows = [
        (0, "a a a a"),        # words 4/1 distinct → 0.75; 2g 3/1 → 2/3; 3g 2/1 → 0.5
        (1, "a b c d"),        # all distinct → 0.0 everywhere
        (2, "a b a b"),        # words 0.5; 2grams: [ab, ba, ab] → 1/3; 3g distinct
        (3, "x"),              # 1 word: no 2/3-grams → 0.0 guard
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rc = repetition_cols(F.col("text"))
    out = {
        r["doc_id"]: (r["w"], r["g2"], r["g3"])
        for r in df.select(
            "doc_id",
            rc["dup_word_ratio"].alias("w"),
            rc["dup_2gram_ratio"].alias("g2"),
            rc["dup_3gram_ratio"].alias("g3"),
        ).collect()
    }
    assert out[0] == (0.75, 1 - 1 / 3, 0.5)
    assert out[1] == (0.0, 0.0, 0.0)
    assert out[2] == (0.5, 1 - 2 / 3, 0.0)
    assert out[3] == (0.0, 0.0, 0.0)


def test_dedup_spans_c4_semantics(spark):
    """Global first-occurrence wins; later exact spans removed; text
    reassembled in doc order; span-less leftovers coalesce to ''."""
    from socialmapper_spark.operators.dedup import dedup_spans

    rows = [
        (0, "a b c d e f"),
        (1, "a b c d e g"),   # shares span 'a b c' with doc 0
        (2, "x y z a b c"),   # second span is exactly 'a b c' → removed
        (3, "a b c d e f"),   # exact dup of doc 0 → hollows out
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["text_clean"])
        for r in dedup_spans(df, span_words=3).collect()
    }
    assert out[0] == (2, 2, "a b c d e f")
    assert out[1] == (2, 1, "d e g")
    assert out[2] == (2, 1, "x y z")  # duplicated span dropped, rest kept
    assert out[3] == (2, 0, "")
    plan = dedup_spans(df, span_words=3)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # pure Catalyst


def test_simhash_pairs_exact_vs_bruteforce(spark, docs):
    """4×16-bit banding at Hamming ≤ 3 is pigeonhole-exact: output must
    equal the brute-force all-pairs filter over the same signatures."""
    from socialmapper_spark.operators.dedup import near_dup_pairs_simhash

    sh = {r["doc_id"]: r["simhash"] for r in simhash_docs(docs).collect()}
    ids = sorted(sh)
    expect = {
        (a, b, bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    out = near_dup_pairs_simhash(docs)
    got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in out.collect()}
    assert got == expect
    assert (0, 3, 0) in got  # exact dup at distance 0
    # only ONE Python node (the signature UDF) in the whole plan; after an
    # action AQE's toString prints Final AND Initial sections — count only
    # the final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") <= 1 and "BatchEvalPython" not in final
    with pytest.raises(ValueError):
        near_dup_pairs_simhash(docs, hamming_max=4)


def test_cosine_topk_orders_by_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # most similar to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(spark, df, [0], k=3).collect()
    order = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]
    assert out[0]["cosine"] <= 1.0


def test_lsh_ann_subset_of_exact_schema(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ann = lsh_ann_topk(spark, df, [0, 1], k=5)
    got = ann.collect()
    assert set(ann.columns) == {"query_id", "vec_id", "cosine", "rank"}
    # approximate: every returned neighbor must at least be a real row
    assert all(0 <= r["vec_id"] < 60 and r["vec_id"] != r["query_id"] for r in got)


def test_binary_metadata_plumbing(spark, geo_small):
    pages = spark.read.parquet(f"{geo_small}/pages.parquet").limit(50)
    out = binary_metadata(pages).collect()
    assert len(out) == 50
    for r in out:
        assert r["byte_len"] > 20
        assert len(r["content_md5"]) == 32
        assert 64 <= r["fake_width"] < 64 + 1920
        assert 64 <= r["fake_height"] < 64 + 1080


def test_decode_image_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_simhash_batch_equals_scalar_twin():
    """The vectorized kernel must be bit-identical to the scalar twin
    (golden parity depends on it)."""
    import numpy as np

    from socialmapper_spark.operators.dedup import simhash64_batch, simhash64_py

    rng = np.random.default_rng(5)
    vocab = ["alpha", "beta", "Gamma", "DELTA", "q", "zz", "ñandú", "東京", "a-b"]
    texts = [
        " ".join(vocab[int(j)] for j in rng.integers(0, len(vocab), int(rng.integers(0, 25))))
        for _ in range(300)
    ] + [None, "", "  \t\n ", "one", "UPPER lower UPPER"]
    got = simhash64_batch(texts)
    exp = np.array([simhash64_py(t) for t in texts], dtype=np.int64)
    assert np.array_equal(got, exp)


def test_winnow_guarantee_and_parity(spark):
    """Catalyst winnowing == scalar twin, and the winnowing guarantee
    holds: docs sharing a substring of >= k+w-1 chars share >= 1
    fingerprint."""
    from socialmapper_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
        winnow_py,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, f"intro text alpha {shared} outro one"),
        (1, f"completely different beginning {shared} and ending"),
        (2, "no overlap here at all with anything else whatsoever"),
        (3, "tiny"),
        (4, "  Spaces\tand\nCASE  normalize  "),
        (5, "spaces and case normalize"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    for doc_id, text in rows:
        assert got[doc_id] == set(winnow_py(text)), doc_id
    assert len(shared) >= WINNOW_K + WINNOW_W - 1
    assert got[0] & got[1]          # winnowing guarantee
    assert not (got[2] & got[0])    # disjoint docs don't collide
    assert got[4] == got[5]         # normalization twin of minhash's


def test_bloom_decontaminate_superset_of_exact(spark, docs):
    """Bloom screen has NO false negatives: every exact hit is flagged,
    and the flagged gram count bounds the exact hit count from above."""
    from socialmapper_spark.operators.dedup import decontaminate, decontaminate_bloom

    bench = docs.filter(F.col("doc_id").isin(0, 2))
    ex = {r["doc_id"]: r["n_hit_grams"] for r in decontaminate(docs, bench).collect()}
    bl = {
        r["doc_id"]: (r["n_flagged_grams"], r["flagged"])
        for r in decontaminate_bloom(docs, bench).collect()
    }
    assert set(ex) == set(bl)
    for d, nh in ex.items():
        nf, flagged = bl[d]
        assert nf >= nh, d
        if nh > 0:
            assert flagged, d
