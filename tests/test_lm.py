"""Unit pins for operators/lm.py — semantics on a corpus small enough
to hand-compute, plus the plan contract (no Python nodes, the one-row
total attached by broadcast)."""

import pytest
from pyspark.sql import Row, functions as F

from socialmapper_spark.operators.lm import unigram_familiarity

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def corpus(spark):
    # tf: a=3, b=2, c=1 -> corpus_total=6
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="a a b"),
            Row(doc_id=2, text="a b c"),
        ]
    )


def test_hand_computed_scores(corpus):
    out = {r.doc_id: r for r in unigram_familiarity(corpus).collect()}
    # doc 1: tokens a,a,b -> familiar_sum = 3+3+2 = 8; n=3
    assert out[1].n_tokens == 3 and out[1].familiar_sum == 8
    assert out[1].familiarity == pytest.approx(8 / 6 / 3)
    # doc 2: a,b,c -> 3+2+1 = 6; n=3
    assert out[2].familiar_sum == 6
    assert out[2].familiarity == pytest.approx(6 / 6 / 3)
    # common-token doc scores higher than the rare-token doc
    assert out[1].familiarity > out[2].familiarity


def test_repeated_common_token_raises_score(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="x x x x"), Row(doc_id=2, text="x y z w")]
    )
    out = {r.doc_id: r.familiarity for r in unigram_familiarity(docs).collect()}
    assert out[1] > out[2]


def test_empty_text_participates_as_one_token(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text=""), Row(doc_id=2, text="a")])
    out = {r.doc_id: r for r in unigram_familiarity(docs).collect()}
    # split("", " ") -> [""] in both engines: one empty-string token
    assert out[1].n_tokens == 1 and out[1].familiar_sum == 1


def test_plan_no_python_and_broadcast_total(corpus):
    plan = unigram_familiarity(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan  # the one-row total is broadcast


def test_bigram_familiarity(spark):
    # corpus bigrams: "a b" tf=2, "b c" tf=1, "b d" tf=1 -> total=4
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c"),
            Row(doc_id=2, text="a b d"),
            Row(doc_id=3, text="solo"),  # <2 words: no output row
        ]
    )
    out = {r.doc_id: r for r in unigram_familiarity(docs, n=2).collect()}
    assert set(out) == {1, 2}
    # doc 1: grams "a b"(2), "b c"(1) -> familiar_sum=3, n_tokens=2
    assert out[1].familiar_sum == 3 and out[1].n_tokens == 2
    assert out[1].familiarity == pytest.approx(3 / 4 / 2)


def test_n_below_one_rejected(spark):
    from socialmapper_spark.operators.lm import unigram_familiarity_sql

    docs = spark.createDataFrame([Row(doc_id=1, text="a")])
    with pytest.raises(ValueError, match="n must be"):
        unigram_familiarity(docs, n=0)
    with pytest.raises(ValueError, match="n must be"):
        unigram_familiarity_sql(n=0)
