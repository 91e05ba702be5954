"""Small-file compaction: fewer files, identical data, partition
layout preserved; the constraint audit behind write-audit-publish."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import ingest as I
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.sources import maintenance as MN


def _snapshot(spark, path):
    return sorted(
        (r.vec_id, r.shard, tuple(round(x, 6) for x in r.embedding))
        for r in spark.read.parquet(path).collect()
    )


def test_compact_collection_shrinks_files_preserves_data(spark, tables):
    prepared = I.prepare_vectors(tables["embeddings"], dim=64, n_shards=4)
    tmp = tempfile.mkdtemp(prefix="compact_")
    path = tmp + "/coll"
    try:
        # simulate append-heavy fragmentation: many writer tasks per shard
        prepared.repartition(32).write.partitionBy("shard").parquet(path)
        before_files = MN.table_file_stats(spark, path)["n_files"]
        assert before_files > 8, "fixture should be fragmented"
        before = _snapshot(spark, path)

        stats = MN.compact_collection(spark, path, target_file_bytes=512 * 1024 * 1024)

        assert stats["files_before"] == before_files
        # one writer task per shard, rows fit one file each → 4 files
        assert stats["files_after"] <= 4
        assert stats["rows"] == len(before)
        assert _snapshot(spark, path) == before
        # partition directories survive (pruned scans still work)
        pruned = spark.read.parquet(path).filter(F.col("shard") == 1)
        assert pruned.count() == sum(1 for _, s, _ in before if s == 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compact_empty_and_unpartitioned(spark, tables):
    tmp = tempfile.mkdtemp(prefix="compact_plain_")
    path = tmp + "/t"
    try:
        docs = tables["documents"].select("doc_id", "text")
        docs.repartition(16).write.parquet(path)
        before = sorted((r.doc_id, r.text) for r in spark.read.parquet(path).collect())
        stats = MN.compact_collection(spark, path, partition_col=None)
        assert stats["files_after"] < stats["files_before"]
        assert sorted((r.doc_id, r.text) for r in spark.read.parquet(path).collect()) == before
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_publish_table_wap_gate(spark):
    """Clean data publishes atomically; dirty data raises, leaves the
    staging dir for inspection, and never touches the live table."""
    import glob
    import shutil
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.sources.maintenance import (
        PublishAuditError,
        publish_table,
    )

    tmp = tempfile.mkdtemp(prefix="wap_")
    path = tmp + "/t"
    try:
        clean = spark.createDataFrame([(1, 5.0), (2, 6.0)], "id long, v double")
        out = publish_table(clean, path, not_null=["id"], unique=[["id"]],
                            checks={"v_pos": F.col("v") > 0})
        assert out["rows"] == 2 and out["violations"] == []
        assert spark.read.parquet(path).count() == 2

        # dirty update: duplicate id + negative v → audit fails,
        # live table unchanged, staging left behind
        dirty = spark.createDataFrame(
            [(3, 1.0), (3, -2.0)], "id long, v double"
        )
        with pytest.raises(PublishAuditError) as ei:
            publish_table(dirty, path, not_null=["id"], unique=[["id"]],
                          checks={"v_pos": F.col("v") > 0})
        names = {v["constraint"] for v in ei.value.violations}
        assert names == {"unique(id)", "check(v_pos)"}
        live = spark.read.parquet(path)
        assert {r.id for r in live.collect()} == {1, 2}  # untouched
        assert glob.glob(path + "__staging/*.parquet")  # kept for debugging

        # clean replacement publishes over the old table
        out2 = publish_table(
            spark.createDataFrame([(9, 1.0)], "id long, v double"), path,
            not_null=["id"],
        )
        assert out2["rows"] == 1
        assert {r.id for r in spark.read.parquet(path).collect()} == {9}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_audit_constraints_hand_computed(spark):
    child = spark.createDataFrame(
        [
            (1, 10, 5.0),
            (2, 10, -1.0),   # range violation
            (3, None, 2.0),  # null fk (not an orphan: nulls skip FK check)
            (3, 99, 3.0),    # duplicate id + orphan fk (99 not in parent)
            (None, 20, 1.0), # null id
        ],
        "id long, pid long, v double",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    out = {
        r.constraint: r.n_violations
        for r in MN.audit_constraints(
            child,
            not_null=["id"],
            unique=[["id"]],
            fks={"pid": (parent, "pk")},
            checks={"v_nonneg": F.col("v") >= 0},
        ).collect()
    }
    assert out["not_null(id)"] == 1
    assert out["unique(id)"] == 1      # one extra copy of id=3
    assert out["fk(pid)"] == 1         # pid=99 orphan; NULL pid skipped
    assert out["check(v_nonneg)"] == 1


def test_audit_constraints_clean_and_empty(spark):
    df = spark.createDataFrame([(1,), (2,)], "id long")
    out = MN.audit_constraints(df, not_null=["id"], unique=[["id"]]).collect()
    assert all(r.n_violations == 0 for r in out)
    assert MN.audit_constraints(df).count() == 0


def test_audit_constraints_null_check_is_violation(spark):
    df = spark.createDataFrame([(1.0,), (None,), (-2.0,)], "v double")
    out = {r.constraint: r.n_violations for r in
           MN.audit_constraints(df, checks={"v_pos": F.col("v") > 0}).collect()}
    # NULL predicate result must count as a violation, not a pass
    assert out["check(v_pos)"] == 2
