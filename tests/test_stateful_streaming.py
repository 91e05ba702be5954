"""Custom stateful streaming sessionization vs the batch operator: the
closed sessions a stream emits must match the batch sessionization of
the same data (minus each user's final, still-open session)."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.streaming import (
    pipeline as P,
    stateful as ST,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stream_sessionize_matches_batch_closed_sessions(spark, tables):
    events = tables["events"].select(
        "event_id", F.expr("ts_ns div 1000").alias("ts_us"), "user_id", "value"
    )
    tmp = tempfile.mkdtemp(prefix="stateful_src_")
    try:
        events.write.mode("overwrite").parquet(tmp + "/src")
        sdf = ST.stream_sessionize(spark, tmp + "/src")
        q = (
            sdf.writeStream.format("memory")
            .queryName("stream_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r.user_id, r.session_id): (r.n_events, r.session_start_us, r.session_end_us)
            for r in spark.sql("select * from stream_sessions").collect()
        }
        batch = P.events_sessionized_us(tables["events"], gap_minutes=30).collect()
        # drop each user's last session — it is still open in stream state
        last = {}
        for r in batch:
            last[r.user_id] = max(last.get(r.user_id, 0), r.session_id)
        expect = {
            (r.user_id, r.session_id): (r.n_events, r.session_start_us, r.session_end_us)
            for r in batch
            if r.session_id != last[r.user_id]
        }
        assert got == expect
        assert len(got) > 0  # the dataset must actually exercise rollover
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_dedup_ingest_drops_in_watermark_duplicates(spark):
    """Duplicate texts arriving within the watermark are dropped across
    micro-batches; distinct texts all pass."""
    import datetime

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    tmp = tempfile.mkdtemp(prefix="stream_dedup_")
    src, ckpt = tmp + "/src", tmp + "/ckpt"

    def feed(rows):
        spark.createDataFrame(
            rows, "doc_id long, ts timestamp, text string"
        ).coalesce(1).write.mode("append").parquet(src)

    try:
        feed([(1, ts(0), "alpha"), (2, ts(1), "beta"), (3, ts(2), "alpha")])
        q = (
            P.stream_dedup_ingest(spark, src, watermark="1 hour")
            .writeStream.format("memory")
            .queryName("dedup_stream")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
            # batch 2: one new text + one in-watermark duplicate
            feed([(4, ts(3), "gamma"), (5, ts(4), "beta")])
            q.processAllAvailable()
            rows = spark.sql("select * from dedup_stream").collect()
        finally:
            q.stop()
        texts = sorted(r.text for r in rows)
        assert texts == ["alpha", "beta", "gamma"]
        survivors = {r.text: r.doc_id for r in rows}
        assert survivors["alpha"] == 1  # first copy wins, later dup dropped
        assert survivors["beta"] == 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_sessionize_evicts_expired_keys(spark):
    """EventTimeTimeout eviction: a user who goes quiet must have their
    open session emitted as final (and state dropped) once the
    watermark passes last-event + gap — without any further events for
    that user."""
    T0 = 1_600_000_000_000_000  # µs
    H = 3_600 * 1_000_000
    tmp = tempfile.mkdtemp(prefix="stateful_evict_")
    src, ckpt = tmp + "/src", tmp + "/ckpt"

    def feed(rows):
        spark.createDataFrame(
            rows, "event_id long, ts_us long, user_id long, value double"
        ).coalesce(1).write.mode("append").parquet(src)

    try:
        # batch 1: user 1 (will go quiet) + user 2, both at T0
        feed([(1, T0, 1, 1.0), (2, T0, 2, 2.0)])
        q = (
            ST.stream_sessionize(spark, src, watermark="1 hour")
            .writeStream.format("memory")
            .queryName("evict_sessions")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()  # watermark after batch: T0 - 1h
            # batch 2: user 2 far in the future → watermark jumps ahead
            feed([(3, T0 + 10 * H, 2, 3.0)])
            q.processAllAvailable()  # watermark now T0 + 9h
            # batch 3: any event; during it, user 1's timeout
            # (T0 + gap) < watermark → eviction fires
            feed([(4, T0 + 10 * H + 60_000_000, 2, 4.0)])
            q.processAllAvailable()
            rows = {
                (r.user_id, r.session_id): (r.n_events, r.session_start_us, r.session_end_us)
                for r in spark.sql("select * from evict_sessions").collect()
            }
        finally:
            q.stop()
        # user 1's only session was emitted by eviction, not by rollover
        assert rows[(1, 1)] == (1, T0, T0)
        # user 2's first session closed normally via the gap break
        assert rows[(2, 1)] == (1, T0, T0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_curate_ingest_matches_batch_gate(spark):
    """A doc passes the streaming hygiene gate iff it passes the same
    batch expressions; PII is redacted in flight; the in-watermark
    duplicate of a redaction-equal doc is dropped."""
    import datetime

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    good = (
        "the quick brown fox jumps over the lazy dog and runs through the field "
        "with great speed and a lot of joy for all to see in the morning light"
    )
    rows1 = [
        (1, t0, good),
        (2, t0, "x y z"),                                   # quality gate drops
        (3, t0, good + " mail someone@example.com please"),  # redacts, passes
    ]
    rows2 = [
        # same as 3 apart from the email address -> redaction-equal dup
        (4, t0 + datetime.timedelta(minutes=1), good + " mail other@example.org please"),
    ]
    tmp = tempfile.mkdtemp(prefix="stream_curate_")
    src, ckpt = tmp + "/src", tmp + "/ckpt"
    try:
        spark.createDataFrame(rows1, "doc_id long, ts timestamp, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        q = (
            P.stream_curate_ingest(
                spark, src, min_quality=0.5, langs=["en"], dedup_watermark="1 hour"
            )
            .writeStream.format("memory")
            .queryName("curate_stream")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
            spark.createDataFrame(
                rows2, "doc_id long, ts timestamp, text string"
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            got = {r.doc_id: r.text for r in spark.sql("select * from curate_stream").collect()}
        finally:
            q.stop()
        assert set(got) == {1, 3}  # 2 failed quality; 4 deduped against 3
        assert "[EMAIL]" in got[3] and "someone@example.com" not in got[3]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_rate_limit_matches_batch(spark, tables):
    """Stream admission decisions on in-order input must equal the
    batch twin's (same quota, same tumbling windows), including across
    micro-batch boundaries where the counter lives in state."""
    events = tables["events"].select(
        "event_id", F.expr("ts_ns div 1000").alias("ts_us"), "user_id", "value"
    )
    tmp = tempfile.mkdtemp(prefix="rate_src_")
    src, ckpt = tmp + "/src", tmp + "/ckpt"
    try:
        # feed in two in-order halves so quotas straddle micro-batches
        mid = events.approxQuantile("ts_us", [0.5], 0.0)[0]
        events.filter(F.col("ts_us") <= mid).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            ST.stream_rate_limit(spark, src, max_per_window=3, window_sec=86400)
            .writeStream.format("memory")
            .queryName("rate_stream")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
            events.filter(F.col("ts_us") > mid).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q.processAllAvailable()
            got = {
                r.event_id: (r.win_start_us, r.admitted)
                for r in spark.sql("select * from rate_stream").collect()
            }
        finally:
            q.stop()
        batch = P.events_rate_limit(
            tables["events"], max_per_window=3, window_sec=86400
        ).collect()
        expect = {r.event_id: (r.win_start_us, r.admitted) for r in batch}
        assert got == expect
        admitted = sum(1 for _, a in got.values() if a)
        assert 0 < admitted < len(got)  # quota actually bites
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
