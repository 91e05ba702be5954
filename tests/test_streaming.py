"""Streaming (X5): batch/stream parity for the windowed aggregation and
an end-to-end Structured Streaming ingest smoke over real parquet."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.streaming import pipeline as P

# part of the fast driver-gate subset (default `pytest` selection per
# pytest.ini; `-m ''` runs the full suite)
pytestmark = pytest.mark.driver_gate

SF_DIR = "/root/testdata/sf0.001"


def test_events_hourly_buckets_consistent(tables):
    df = P.events_hourly_buckets(tables["events"])
    rows = df.collect()
    assert len(rows) > 0
    total = sum(r.n_events for r in rows)
    assert total == tables["events"].count()


def test_events_sessionized_gap_semantics(spark):
    """Two bursts 2h apart for one user → exactly two sessions."""
    from datetime import datetime

    base = datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, base, 100, "c", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 10, 5), 100, "c", 2.0, "{}"),
        (3, datetime(2024, 1, 1, 13, 0), 100, "c", 3.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    sess = P.events_sessionized(ev, gap_minutes=30).collect()
    assert [(r.session_id, r.n_events) for r in sess] == [(1, 2), (2, 1)]


def test_stream_event_window_counts_matches_batch(spark, tables):
    """availableNow streaming run over the events parquet == the batch
    window aggregation (Structured Streaming = incremental batch plan)."""
    batch = (
        P.events_tumbling_stats(tables["events"].select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ))
        .select("window_start", "event_type", "n_events", "sum_value")
    )

    # The raw parquet stores TIMESTAMP(NANOS) which readStream can't take
    # directly with a timestamp schema; re-write a µs copy like a real
    # landing zone would.
    tmp = tempfile.mkdtemp(prefix="stream_src_")
    try:
        tables["events"].select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).write.mode("overwrite").parquet(tmp + "/src")
        sdf = P.stream_event_window_counts(spark, tmp + "/src", watermark="0 seconds")
        q = (
            sdf.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value)
            for r in spark.sql("select * from win_counts").collect()
        }
        expect = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value)
            for r in batch.collect()
        }
        assert got == expect
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_vector_ingest_end_to_end(spark):
    """File-source ingest stream: validate → normalize → shard →
    partitioned sink; all valid rows land exactly once."""
    import math

    tmp = tempfile.mkdtemp(prefix="stream_ingest_")
    try:
        src, sink, ckpt = tmp + "/src", tmp + "/sink", tmp + "/ckpt"
        df = spark.createDataFrame(
            [(i, [float(i + 1), 0.0], 0) for i in range(20)]
            + [(99, [1.0, 2.0, 3.0], 0)],  # wrong dim → rejected
            "vec_id long, embedding array<float>, label int",
        )
        df.write.mode("overwrite").parquet(src)
        q = P.stream_vector_ingest(spark, src, sink, ckpt, dim=2, n_shards=4)
        q.processAllAvailable()
        q.stop()
        out = spark.read.parquet(sink)
        rows = out.collect()
        assert len(rows) == 20  # bad-dim row rejected
        assert set(out.select("shard").distinct().toPandas()["shard"]) <= set(range(4))
        for r in rows:
            assert math.isclose(sum(x * x for x in r.embedding), 1.0, rel_tol=1e-6)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_view_click_join_matches_batch(spark, tables):
    """Watermarked stream-stream inner join, availableNow over the
    events parquet == the batch interval-join definition (on-time data
    → no watermark drops → identical pair sets)."""
    batch = {
        (r.user_id, r.view_id, r.click_id, r.gap_us)
        for r in P.view_click_pairs(tables["events"], window_minutes=120).collect()
    }
    assert batch, "fixture should produce at least one attribution pair"

    tmp = tempfile.mkdtemp(prefix="ss_join_src_")
    try:
        tables["events"].select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).write.mode("overwrite").parquet(tmp + "/src")
        sdf = P.stream_view_click_join(
            spark, tmp + "/src", window_minutes=120, watermark="10 seconds"
        )
        q = (
            sdf.writeStream.format("memory")
            .queryName("vc_join")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.user_id, r.view_id, r.click_id, r.gap_us)
            for r in spark.sql("select * from vc_join").collect()
        }
        assert got == batch
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_funnel_steps_strict_ordering(spark):
    """Stage i counts only events strictly after stage i-1; users who
    never enter stage 1 are absent; out-of-order stages don't count."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.streaming import (
        pipeline as P,
    )

    rows = [
        # user 1: full ordered funnel
        (1, 1, "view", 100), (2, 1, "click", 200), (3, 1, "purchase", 300),
        # user 2: purchase BEFORE click → only 2 stages reached
        (4, 2, "view", 100), (5, 2, "purchase", 150), (6, 2, "click", 200),
        # user 3: click only, never viewed → not in funnel
        (7, 3, "click", 100),
        # user 4: view only
        (8, 4, "view", 500),
    ]
    events = spark.createDataFrame(
        [(e, u, t, us * 1000) for e, u, t, us in rows],
        "event_id long, user_id long, event_type string, ts_ns long",
    )
    got = {r.user_id: r for r in P.funnel_steps(events, ["view", "click", "purchase"]).collect()}
    assert set(got) == {1, 2, 4}
    assert got[1].n_stages_reached == 3 and got[1].stage3_us == 300
    assert got[2].n_stages_reached == 2 and got[2].stage3_us is None
    assert got[4].n_stages_reached == 1 and got[4].stage2_us is None


def test_stream_enrich_attaches_dimension(spark):
    """Stream-static left join: enriched attributes attach per
    micro-batch; unmatched events pass with NULLs, never dropped."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="enrich_")
    src = tmp + "/src"
    try:
        dim = spark.createDataFrame(
            [(7, "gold"), (9, "bronze")], "user_id long, tier string"
        )
        spark.createDataFrame(
            [(1, 1000, 7, 1.0), (2, 2000, 8, 2.0), (3, 3000, 9, 3.0)],
            "event_id long, ts_us long, user_id long, value double",
        ).coalesce(1).write.mode("append").parquet(src)
        q = (
            P.stream_enrich(spark, src, dim, on="user_id")
            .writeStream.format("memory")
            .queryName("enriched")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = {r.event_id: r.tier for r in spark.sql("select * from enriched").collect()}
        assert rows == {1: "gold", 2: None, 3: "bronze"}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
