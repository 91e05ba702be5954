"""Scalar quantization: encode bounds, reconstruction-error bound,
rerank ⊇ ADC quality, materialized-index parity, and the zero-shuffle
compressed-scan plan."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import (
    vector as V,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
    sq as SQ,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
    assert_plan_contains,
)


def _exact_dot_topk(corpus, qv, k):
    return (
        corpus.select("vec_id", V.dot(F.col("embedding"), V.vec_lit(qv)).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


def test_sq_codes_in_byte_range_and_error_bound(tables):
    corpus = tables["embeddings"].select("vec_id", "embedding")
    ranges = SQ.train_sq_ranges(corpus)
    steps = [(hi - lo) / 255.0 for lo, hi in ranges]
    codes = SQ.sq_encode(corpus, ranges)
    joined = codes.join(corpus, "vec_id").collect()
    assert len(joined) == corpus.count()
    for r in joined:
        assert all(0 <= c <= 255 for c in r.code)
        # dequantized value within half a step of the original, per dim
        for d, c in enumerate(r.code):
            approx = ranges[d][0] + c * steps[d]
            assert abs(approx - float(r.embedding[d])) <= steps[d] / 2 + 1e-9


def test_sq_adc_approximates_exact_dot(tables):
    corpus = tables["embeddings"].select("vec_id", "embedding")
    qv = corpus.filter(F.col("vec_id") == 0).first().embedding
    ranges = SQ.train_sq_ranges(corpus)
    codes = SQ.sq_encode(corpus, ranges)
    exact = {r.vec_id for r in _exact_dot_topk(corpus, qv, 10).collect()}
    approx = {r.vec_id for r in SQ.sq_adc_topk(codes, ranges, qv, k=10).collect()}
    # 8-bit quantization on 64 dims is near-lossless for ranking
    assert len(exact & approx) >= 8


def test_sq_rerank_recovers_exact_topk(tables):
    corpus = tables["embeddings"].select("vec_id", "embedding")
    qv = corpus.filter(F.col("vec_id") == 0).first().embedding
    ranges = SQ.train_sq_ranges(corpus)
    codes = SQ.sq_encode(corpus, ranges)
    rr = SQ.sq_rerank_topk(codes, corpus, ranges, qv, k=10, rerank=50).collect()
    exact = _exact_dot_topk(corpus, qv, 10).collect()
    # with a 50-deep shortlist on 500 rows the rerank is exact
    assert [r.vec_id for r in rr] == [r.vec_id for r in exact]
    for a, b in zip(rr, exact):
        assert abs(a.score - b.score) < 1e-9


def test_sq_indexed_matches_inline(tables, spark):
    corpus = tables["embeddings"].select("vec_id", "embedding")
    qv = corpus.filter(F.col("vec_id") == 0).first().embedding
    ranges = SQ.train_sq_ranges(corpus)
    tmp = tempfile.mkdtemp(prefix="sq_idx_")
    try:
        SQ.write_sq_index(corpus, tmp, ranges)
        codes = SQ.sq_encode(corpus, ranges)
        inline = SQ.sq_adc_topk(codes, ranges, qv, k=10).collect()
        indexed = SQ.sq_topk_indexed(spark, tmp, qv, k=10).collect()
        assert [(r.vec_id, round(r.score, 9)) for r in indexed] == [
            (r.vec_id, round(r.score, 9)) for r in inline
        ]
        reranked = SQ.sq_topk_indexed(
            spark, tmp, qv, k=10, rerank_corpus=corpus, rerank=50
        ).collect()
        exact = _exact_dot_topk(corpus, qv, 10).collect()
        assert [r.vec_id for r in reranked] == [r.vec_id for r in exact]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sq_scan_plan_zero_shuffle(tables):
    """The whole SQ search (encode + fold + top-k) is one JVM scan
    stage: no Exchange, no Python stage, TakeOrderedAndProject tail —
    identical physical shape to the uncompressed flagship."""
    corpus = tables["embeddings"].select("vec_id", "embedding")
    qv = corpus.filter(F.col("vec_id") == 0).first().embedding
    ranges = SQ.train_sq_ranges(corpus)
    df = SQ.sq_adc_topk(SQ.sq_encode(corpus, ranges), ranges, qv, k=10)
    plan = assert_plan_contains(df, "TakeOrderedAndProject")
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan


def test_sq_constant_dimension_encodes_zero(spark):
    rows = [(0, [1.0, 5.0]), (1, [2.0, 5.0]), (2, [3.0, 5.0])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ranges = SQ.train_sq_ranges(corpus)
    assert ranges[1] == (5.0, 5.0)
    codes = {r.vec_id: list(r.code) for r in SQ.sq_encode(corpus, ranges).collect()}
    assert codes[0] == [0, 0] and codes[2] == [255, 0]


# r14: part of the fast driver-gate subset (default `pytest` selection
# per pytest.ini; `-m ''` runs the full suite)
import pytest as _pytest

pytestmark = _pytest.mark.driver_gate
