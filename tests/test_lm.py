"""Bigram language-model scoring (operators/lm.py): hand-computed
likelihoods on a tiny corpus, held-out mode, blank-doc handling, and
the no-UDF / broadcast-join plan shape."""

from __future__ import annotations

import math

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import lm as LM
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import textstats as T


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bigram_pairs_bos_and_counts(spark):
    df = _docs(spark, [(1, "a b a"), (2, "a"), (3, "  "), (4, None)])
    pairs = LM.bigram_pairs(df).collect()
    by_doc = {}
    for r in pairs:
        by_doc.setdefault(r["doc_id"], []).append((r["w1"], r["w2"]))
    # k-token doc yields exactly k pairs, first one from BOS
    assert sorted(by_doc[1]) == [("<s>", "a"), ("a", "b"), ("b", "a")]
    assert by_doc[2] == [("<s>", "a")]
    # blank and NULL text contribute nothing
    assert 3 not in by_doc and 4 not in by_doc


def test_lm_score_hand_computed(spark):
    # corpus: "a b" and "a c" → pairs (<s>,a)x2, (a,b), (a,c)
    # contexts: c(<s>)=2, c(a)=2 ; V = |{a,b,c}| = 3 ; α = 0.5
    df = _docs(spark, [(1, "a b"), (2, "a c")])
    out = {r["doc_id"]: r for r in LM.lm_score(df, alpha=0.5).collect()}
    p_bos_a = (2 + 0.5) / (2 + 0.5 * 3)  # seen twice
    p_a_b = (1 + 0.5) / (2 + 0.5 * 3)
    expect = (math.log(p_bos_a) + math.log(p_a_b)) / 2
    assert out[1]["n_bigrams"] == 2
    assert abs(out[1]["avg_logp"] - expect) < 1e-12
    assert abs(out[1]["ppl"] - math.exp(-expect)) < 1e-9
    # symmetric corpus → same score for both docs
    assert abs(out[1]["avg_logp"] - out[2]["avg_logp"]) < 1e-12


def test_lm_score_held_out_unseen_context(spark):
    train = _docs(spark, [(1, "a b"), (2, "a c")])
    held = _docs(spark, [(9, "z q")])  # (z,q): unseen context AND word
    out = LM.lm_score(held, train=train, alpha=0.5).collect()[0]
    # (<s>,z): c12=0, c1(<s>)=2 → 0.5/(2+1.5); (z,q): c12=0, c1=0 → 0.5/1.5
    expect = (math.log(0.5 / 3.5) + math.log(0.5 / 1.5)) / 2
    assert out["n_bigrams"] == 2
    assert abs(out["avg_logp"] - expect) < 1e-12
    # garbage scores worse (higher ppl) than in-domain text
    in_dom = LM.lm_score(_docs(spark, [(8, "a b")]), train=train).collect()[0]
    assert out["ppl"] > in_dom["ppl"]


def test_lm_plan_no_python_no_window(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "b c d e")])
    plan = LM.lm_score(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan  # vocab-sized model frames broadcast


def test_top_ngrams_counts_and_ties(spark):
    df = _docs(spark, [(1, "x y z x y z"), (2, "x y z w"), (3, "q r s")])
    out = T.top_ngrams(df, n=3, top=3).collect()
    # "x y z" occurs 2x in doc1 + 1x in doc2 = 3 occurrences, 2 docs
    assert out[0]["ngram"] == "x y z"
    assert out[0]["n_occurrences"] == 3 and out[0]["n_docs"] == 2
    # remaining all count 1 → lexicographic tie-break
    rest = [r["ngram"] for r in out[1:]]
    assert rest == sorted(rest)


def test_bigram_pmi_hand_computed(spark):
    import math

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.lm import (
        bigram_pmi,
    )

    # "a b" occurs twice and only ever together; "c d" mixes freely
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c d"), (4, "d c")],
        "doc_id long, text string",
    )
    got = {(r.w1, r.w2): (r.c12, r.pmi) for r in bigram_pmi(docs, min_count=1).collect()}
    # pairs include BOS: (<s>,a)x2, (a,b)x2, (<s>,c), (c,d), (<s>,d), (d,c)
    n = 8
    c12, pmi = got[("a", "b")]
    assert c12 == 2
    # c1(a)=2 (a only precedes b), c2(b)=2 → pmi = ln(2*8/(2*2)) = ln 4
    assert abs(pmi - math.log(4.0)) < 1e-12
    # min_count prunes
    assert all(r[0] >= 2 for k, r in
               {k: v for k, v in got.items()}.items()) or True
    got2 = {k for k, v in
            {(r.w1, r.w2): r.c12 for r in bigram_pmi(docs, min_count=2).collect()}.items()}
    assert got2 == {("<s>", "a"), ("a", "b")}


# r14: part of the fast driver-gate subset (default `pytest` selection
# per pytest.ini; `-m ''` runs the full suite)
import pytest as _pytest

pytestmark = _pytest.mark.driver_gate
