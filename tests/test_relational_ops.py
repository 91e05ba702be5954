"""Round-8 relational additions: skyline (pareto_front) and the
stack-based unpivot."""

from __future__ import annotations

import pytest

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
    relational as R,
)

# part of the fast driver-gate subset (the default `pytest` selection
# per pytest.ini; `-m ''` runs the full suite)
pytestmark = pytest.mark.driver_gate


def _brute_skyline(pairs):
    pairs = set(pairs)
    out = set()
    for a in pairs:
        dominated = any(
            b[0] <= a[0] and b[1] >= a[1] and (b[0] < a[0] or b[1] > a[1])
            for b in pairs
        )
        if not dominated:
            out.add(a)
    return out


def test_pareto_front_matches_bruteforce_synthetic(spark):
    rows = [
        (1.0, 10), (1.0, 10), (2.0, 12), (2.0, 9), (3.0, 12),
        (0.5, 1), (4.0, 20), (4.5, 20), (0.5, 1), (2.5, 11),
    ]
    df = spark.createDataFrame(rows, ["price", "size"])
    got = {(r.price, r.size) for r in R.pareto_front(df, "price", "size").collect()}
    assert got == _brute_skyline(rows)


def test_pareto_front_matches_bruteforce_parts(tables):
    part = tables["part"]
    pairs = [
        (r.p_retailprice, r.p_size)
        for r in part.select("p_retailprice", "p_size").collect()
    ]
    got = {
        (r.p_retailprice, r.p_size)
        for r in R.pareto_front(part, "p_retailprice", "p_size").collect()
    }
    assert got == _brute_skyline(pairs)
    # a front is mutually non-dominating and never empty on non-empty input
    assert got


def test_unpivot_melts_wide_to_long(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0), (2, 30.0, 40.0)], ["id", "a", "b"])
    got = sorted(
        (r.id, r.metric, r.value)
        for r in R.unpivot(df, ["id"], ["a", "b"]).collect()
    )
    assert got == [
        (1, "a", 10.0), (1, "b", 20.0), (2, "a", 30.0), (2, "b", 40.0),
    ]


def test_pareto_front_ignores_null_coordinates(spark):
    df = spark.createDataFrame(
        [(1.0, 10), (None, 99), (2.0, None), (3.0, 12)],
        "price double, size int",
    )
    got = {(r.price, r.size) for r in R.pareto_front(df, "price", "size").collect()}
    assert got == {(1.0, 10), (3.0, 12)}

