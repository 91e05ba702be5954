"""As-of and range join semantics (at-or-before ties, missing
predecessors, band boundaries) and deterministic negative sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import temporal


def test_asof_join_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 100, 5), (2, 100, 10), (3, 100, 15), (4, 200, 7)],
        "event_id int, user_id int, ts long",
    )
    right = spark.createDataFrame(
        [(100, 5, 1.0), (100, 12, 2.0), (200, 99, 9.0)],
        "user_id int, ts long, value double",
    )
    out = {
        r.event_id: r.value_asof
        for r in temporal.asof_join(left, right, on="ts", by="user_id", value_cols=["value"]).collect()
    }
    assert out[1] == 1.0   # tie at ts=5 → "at or before" includes it
    assert out[2] == 1.0   # ts=10: latest right is ts=5
    assert out[3] == 2.0   # ts=15: right at 12 supersedes 5
    assert out[4] is None  # no predecessor for user 200


def test_asof_join_duplicate_right_timestamps_deterministic(spark):
    """Multiple right rows at the SAME (key, ts): the carried value must
    be the greatest value tuple (the documented tie rule) and identical
    across physical layouts — partition order must not leak through."""
    left = spark.createDataFrame([(1, 100, 10)], "event_id int, user_id int, ts long")
    dup_rows = [(100, 5, float(v)) for v in (3, 1, 2)]
    for n_parts in (1, 3):
        right = spark.createDataFrame(
            dup_rows, "user_id int, ts long, value double"
        ).repartition(n_parts)
        out = temporal.asof_join(
            left, right, on="ts", by="user_id", value_cols=["value"]
        ).collect()
        assert out[0].value_asof == 3.0, f"n_parts={n_parts}"


def test_asof_join_keeps_left_columns(spark):
    left = spark.createDataFrame([(1, 7, 10, "x")], "id int, k int, ts long, tag string")
    right = spark.createDataFrame([(7, 3, 0.5)], "k int, ts long, v double")
    row = temporal.asof_join(left, right, on="ts", by="k", value_cols=["v"]).collect()[0]
    assert (row.id, row.k, row.ts, row.tag, row.v_asof) == (1, 7, 10, "x", 0.5)


def test_range_join_band_boundaries(spark):
    facts = spark.createDataFrame(
        [(1, 0.0), (2, 49.9), (3, 50.0), (4, 150.0)], "id int, price double"
    )
    bands = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid")], "lo double, hi double, band string"
    )
    got = {
        r.id: r.band
        for r in temporal.range_join_bands(facts, bands, value_col="price").collect()
    }
    assert got == {1: "low", 2: "low", 3: "mid", 4: None}  # [lo, hi): 50→mid, 150→no band


def test_range_join_is_broadcast(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        assert_plan_contains,
    )

    facts = spark.range(100).select(F.col("id"), (F.col("id") * 1.0).alias("price"))
    bands = spark.createDataFrame([(0.0, 50.0, "low")], "lo double, hi double, band string")
    df = temporal.range_join_bands(facts, bands, value_col="price")
    assert_plan_contains(df, "BroadcastNestedLoopJoin")


def test_negative_samples_deterministic_and_excludes_positives(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.sampling import (
        negative_samples,
    )

    corpus = spark.createDataFrame([(i,) for i in range(30)], "vec_id long")
    pos = spark.createDataFrame(
        [(1, 1), (1, 5), (2, 2)], "qid long, vec_id long"
    )
    a = negative_samples(pos, corpus, k=4).collect()
    b = negative_samples(pos, corpus, k=4).collect()
    ka = {(r.qid, r.rank): r.vec_id for r in a}
    kb = {(r.qid, r.rank): r.vec_id for r in b}
    assert ka == kb                       # deterministic
    by_q = {}
    for r in a:
        by_q.setdefault(r.qid, set()).add(r.vec_id)
    assert by_q[1].isdisjoint({1, 5}) and 2 not in by_q[2]
    assert len(by_q[1]) == 4 and len(by_q[2]) == 4
    # partitioning must not change the draw
    c = {(r.qid, r.rank): r.vec_id
         for r in negative_samples(pos, corpus.repartition(7), k=4).collect()}
    assert c == ka
