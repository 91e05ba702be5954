"""Known-answer tests for the round-6 text-statistics wave:
lexical_diversity, zipf_slope, readability_scores, and the bucketed
interval join interval_join_bucketed."""
from __future__ import annotations

import math

from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.temporal import (
    interval_join_bucketed,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.textstats import (
    lexical_diversity,
    readability_scores,
    zipf_slope,
)


def test_lexical_diversity_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in lexical_diversity(df).collect()}
    # doc 1: n=4, types=2, hapax=1 (b), ttr=.5, H = log2(4) - (3log2(3))/4
    assert got[1].n_tokens == 4 and got[1].n_types == 2 and got[1].hapax == 1
    assert abs(got[1].ttr - 0.5) < 1e-12
    assert abs(got[1].entropy - (2.0 - 3 * math.log2(3) / 4)) < 1e-12
    # doc 2: uniform over 3 → H = log2(3), all hapax
    assert got[2].hapax == 3 and abs(got[2].entropy - math.log2(3)) < 1e-12
    assert abs(got[2].ttr - 1.0) < 1e-12


def test_zipf_slope_matches_least_squares(spark):
    # freq profile: "a"×8 "b"×4 "c"×2 "d"×1 → perfect log-linear, slope=-3ln2/ln... compute
    text = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = zipf_slope(df, top_n=10).collect()[0]
    xs = [math.log(r) for r in (1, 2, 3, 4)]
    ys = [math.log(f) for f in (8, 4, 2, 1)]
    mx, my = sum(xs) / 4, sum(ys) / 4
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)
    assert got.n_terms == 4
    assert abs(got.slope - slope) < 1e-9
    assert abs(got.intercept - (my - slope * mx)) < 1e-9


def test_readability_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat. it sat well!")], "doc_id long, text string"
    )
    got = readability_scores(df).collect()[0]
    assert got.n_words == 6          # "the cat sat. it sat well!"
    assert got.n_sentences == 2
    # vowel groups: e,a,a,i,a,e = 6 ≥ n_words → 6
    assert got.n_syllables == 6
    want = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert abs(got.flesch - want) < 1e-9


def test_readability_floors(spark):
    # no punctuation → 1 sentence; consonant-only word floors syllables at n_words
    df = spark.createDataFrame([(1, "zzz zzz")], "doc_id long, text string")
    got = readability_scores(df).collect()[0]
    assert got.n_sentences == 1 and got.n_words == 2 and got.n_syllables == 2

def test_interval_join_bucketed_boundaries(spark):
    facts = spark.createDataFrame(
        [(i,) for i in (3, 4, 17, 18, 32)], "day long"
    )
    ivals = spark.createDataFrame(
        [("p1", 4, 18), ("p2", 18, 32)], "promo_id string, lo long, hi long"
    )
    got = {(r.day, r.promo_id) for r in
           interval_join_bucketed(facts, ivals, "day", bucket=16).collect()}
    # lo inclusive, hi exclusive; 32 is outside p2 even though the
    # interval ends on a bucket boundary
    assert got == {(4, "p1"), (17, "p1"), (18, "p2")}


def test_interval_join_bucketed_matches_bruteforce(spark):
    facts = spark.createDataFrame([(i,) for i in range(0, 100)], "day long")
    ivals = spark.createDataFrame(
        [(f"i{k}", k * 7, k * 7 + 11) for k in range(12)],
        "promo_id string, lo long, hi long",
    )
    for bucket in (4, 16, 64):
        got = {(r.day, r.promo_id) for r in
               interval_join_bucketed(facts, ivals, "day", bucket=bucket).collect()}
        brute = {(r.day, r.promo_id) for r in
                 facts.join(ivals, (F.col("day") >= F.col("lo")) & (F.col("day") < F.col("hi"))).collect()}
        assert got == brute


# r14: part of the fast driver-gate subset (default `pytest` selection
# per pytest.ini; `-m ''` runs the full suite)
import pytest as _pytest

pytestmark = _pytest.mark.driver_gate
