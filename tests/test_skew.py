"""Salted skew join: result-identical to the plain join (inner and
left), refuses dim-multiplying join types, and actually splits a hot
key across salt buckets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.relational import (
    salted_join,
)

# part of the fast driver-gate subset (the default `pytest` selection
# per pytest.ini; `-m ''` runs the full suite)
pytestmark = pytest.mark.driver_gate


def _norm(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_salted_inner_equals_plain_join(tables):
    li = tables["lineitem"].select("l_orderkey", "l_linenumber", "l_partkey")
    p = tables["part"].select("p_partkey", "p_brand")
    cols = ["l_orderkey", "l_linenumber", "l_partkey", "p_brand"]
    got = salted_join(li, p, "l_partkey", "p_partkey", salts=4)
    want = li.join(p, F.col("l_partkey") == F.col("p_partkey")).drop("p_partkey")
    assert _norm(got, cols) == _norm(want, cols)


def test_salted_left_preserves_unmatched_fact_rows(spark):
    fact = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (99, "orphan")], ["k", "payload"]
    )
    dim = spark.createDataFrame([(1, "one"), (2, "two")], ["dk", "label"])
    got = salted_join(fact, dim, "k", "dk", salts=8, how="left")
    rows = sorted((r.k, r.payload, r.label) for r in got.collect())
    assert rows == [
        (1, "a", "one"),
        (1, "b", "one"),
        (2, "c", "two"),
        (99, "orphan", None),
    ]


def test_salted_join_spreads_hot_key(spark):
    # a single hot key with varying payloads must land in >1 salt bucket
    fact = spark.range(1000).select(F.lit(7).alias("k"), F.col("id"))
    salts = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(8))
    )
    n_buckets = salts.select("__salt").distinct().count()
    assert n_buckets >= 6  # 1000 hashes over 8 buckets: all ~always hit


def test_salted_join_rejects_outer_kinds(spark):
    df = spark.range(1).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_join(df, df, "k", "k", how="right")
    with pytest.raises(ValueError):
        salted_join(df, df, "k", "k", salts=0)

