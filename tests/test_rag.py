"""RAG pipeline (§3.3): hash embedding determinism + Python/Spark
parity, end-to-end retrieval context, and the generation stub."""

from __future__ import annotations

import math

import pytest

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.embed import (
    hash_embed_py,
    hash_embedding,
    hash_embedding_udf,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import rag


def test_hash_embedding_matches_python_mirror(spark):
    texts = ["spark window join performance", "the quick brown fox", "one"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r.text: r.e for r in df.select("text", hash_embedding("text", dim=16).alias("e")).collect()}
    for t in texts:
        expect = hash_embed_py(t, dim=16)
        assert got[t] == pytest.approx(expect, rel=1e-12), t


def test_hash_embedding_udf_bit_identical_to_expression(tables):
    """The Arrow-batched UDF form (hot path) must produce EXACTLY the
    expression form's vectors — guaranteed because every intermediate
    sum is a small integer; this test locks that in."""
    docs = tables["documents"].limit(40)
    expr = {r.doc_id: r.e for r in docs.select("doc_id", hash_embedding("text", dim=64).alias("e")).collect()}
    udf = {r.doc_id: r.e for r in docs.select("doc_id", hash_embedding_udf(dim=64)("text").alias("e")).collect()}
    assert expr == udf  # bitwise, no tolerance


def test_hash_embedding_unit_norm_and_deterministic(spark):
    df = spark.createDataFrame([("some repeated text here",)], "text string")
    a = df.select(hash_embedding("text", dim=32).alias("e")).collect()[0].e
    b = df.select(hash_embedding("text", dim=32).alias("e")).collect()[0].e
    assert a == b
    assert math.isclose(sum(x * x for x in a), 1.0, rel_tol=1e-12)


def test_rag_context_end_to_end(tables):
    out = rag.rag_context(
        tables["documents"], "spark window join performance", k=4, dim=64, max_words=32
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert row.qid == 0
    bullets = row.context.split("\n\n")
    assert len(bullets) == 4 and all(b.startswith("- ") for b in bullets)
    assert row.context in row.prompt
    assert "Question: spark window join performance" in row.prompt


def test_generate_stub_extractive(spark):
    prompts = spark.createDataFrame(
        [("Context:\n- first hit\n\n- second\n\nQuestion: q\nAnswer:",)], "prompt string"
    )
    out = rag.generate_stub(prompts).collect()[0]
    assert out.answer == "first hit"


# r14: part of the fast driver-gate subset (default `pytest` selection
# per pytest.ini; `-m ''` runs the full suite)
import pytest as _pytest

pytestmark = _pytest.mark.driver_gate
