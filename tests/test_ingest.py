"""Ingestion pipeline: dim validation, normalize-on-write, shard
assignment, chunk ids, join-back + context assembly (reference write
path §3.2 and RAG demo §3.3)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import ingest as I


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [1.0, 0.0, 0.0]), (3, [0.5, 0.5])],
        "vec_id int, embedding array<double>",
    )


def test_validate_dim_filters_and_tags(vecs):
    assert {r.vec_id for r in I.validate_dim(vecs, 2).collect()} == {1, 3}
    tagged = {r.vec_id: r.dim_ok for r in I.validate_dim(vecs, 2, reject=False).collect()}
    assert tagged == {1: True, 2: False, 3: True}


def test_prepare_vectors_normalizes_and_shards(vecs):
    out = I.prepare_vectors(vecs, dim=2, n_shards=4, id_col="vec_id").collect()
    assert {r.vec_id for r in out} == {1, 3}
    for r in out:
        assert math.isclose(sum(x * x for x in r.embedding), 1.0, rel_tol=1e-12)
        assert 0 <= r.shard < 4


def test_assign_shard_mod_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "vec_id int")
    got = {r.vec_id: r.shard for r in I.assign_shard(df, 4, how="mod").collect()}
    assert got == {i: i % 4 for i in range(10)}


def test_chunk_documents_ids_deterministic(spark):
    docs = spark.createDataFrame(
        [(7, "one two three four five")], "doc_id int, text string"
    )
    a = I.chunk_documents(docs, max_words=2).collect()
    b = I.chunk_documents(docs, max_words=2).collect()
    assert [r.chunk_id for r in a] == [r.chunk_id for r in b]  # no uuid nondeterminism
    assert [r.chunk_text for r in sorted(a, key=lambda r: r.chunk_idx)] == [
        "one two", "three four", "five",
    ]
    assert all(r.chunk_id.startswith(f"7::chunk{r.chunk_idx}::") for r in a)


def test_bulk_random_vectors_deterministic_unit(spark):
    """O20: distributed generation, deterministic under seed, unit norm."""
    a = I.bulk_random_vectors(spark, 50, dim=8, seed=42).collect()
    b = I.bulk_random_vectors(spark, 50, dim=8, seed=42).collect()
    assert [r.embedding for r in a] == [r.embedding for r in b]
    c = I.bulk_random_vectors(spark, 50, dim=8, seed=43).collect()
    assert [r.embedding for r in a] != [r.embedding for r in c]
    assert len(a) == 50
    for r in a:
        assert math.isclose(sum(x * x for x in r.embedding), 1.0, rel_tol=1e-12)


def test_collection_stats(tables):
    """O10: count/dim accessors; dim_min==dim_max on a consistent corpus."""
    row = I.collection_stats(tables["embeddings"]).collect()[0]
    assert row.n_vectors == tables["embeddings"].count()
    assert row.dim_min == row.dim_max == 64


def test_write_collection_append(spark, tmp_path):
    """O2: partitioned durable write; append is incremental (no
    full-matrix rewrite like the reference GPU path)."""
    df1 = I.prepare_vectors(
        spark.createDataFrame([(i, [float(i + 1), 1.0]) for i in range(8)],
                              "vec_id int, embedding array<double>"),
        dim=2, n_shards=4,
    )
    path = str(tmp_path / "coll")
    I.write_collection(df1, path, n_shards=4)
    assert spark.read.parquet(path).count() == 8
    df2 = I.prepare_vectors(
        spark.createDataFrame([(100, [3.0, 4.0])], "vec_id int, embedding array<double>"),
        dim=2, n_shards=4,
    )
    I.write_collection(df2, path, n_shards=4, mode="append")
    out = spark.read.parquet(path)
    assert out.count() == 9
    assert "shard" in out.columns  # partition column survives the round-trip


def test_join_back_and_assemble_context(spark):
    """RAG tail: hits joined to chunk text, assembled as score-ordered
    bullets (reference rag_demo/ask.py:24)."""
    hits = spark.createDataFrame(
        [(0, "c1", 0.9), (0, "c2", 0.95), (0, "c3", 0.1)],
        "qid int, chunk_id string, score double",
    )
    chunks = spark.createDataFrame(
        [("c1", "first"), ("c2", "second"), ("c3", "third")],
        "chunk_id string, chunk_text string",
    )
    ctx = I.assemble_context(I.join_back(hits, chunks)).collect()[0].context
    assert ctx == "- second\n\n- first\n\n- third"


def test_mean_pool_embeddings_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.ingest import (
        mean_pool_embeddings,
    )

    rows = [
        (1, "c1", [1.0, 2.0, 3.0]),
        (1, "c0", [0.5, -1.0, 2.0]),
        (1, "c2", [4.0, 0.0, -3.0]),
        (2, "c9", [7.0, 7.0, 7.0]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, chunk_id string, emb array<double>")
    out = {r.doc_id: (r.doc_emb, r.n_chunks) for r in mean_pool_embeddings(df).collect()}
    expect1 = np.mean([[0.5, -1.0, 2.0], [1.0, 2.0, 3.0], [4.0, 0.0, -3.0]], axis=0)
    assert out[1][1] == 3 and out[2][1] == 1
    assert out[1][0] == pytest.approx(list(expect1), rel=1e-12)
    assert out[2][0] == [7.0, 7.0, 7.0]


def test_upsert_collection_partition_pruned_merge(spark, tables):
    """Upsert replaces existing ids and appends new ones, rewriting
    ONLY the touched shard directories (untouched shards' files are
    byte-identical afterwards)."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    emb = tables["embeddings"].select("vec_id", "embedding", "label")
    tmp = tempfile.mkdtemp(prefix="upsert_")
    path = tmp + "/coll"
    try:
        prepared = I.prepare_vectors(emb, dim=64, n_shards=4, how="mod")
        I.write_collection(prepared, path, n_shards=4, mode="overwrite")
        n0 = spark.read.parquet(path).count()

        def shard_files():
            return {
                s: sorted(
                    (os.path.basename(f), os.path.getmtime(f))
                    for f in glob.glob(f"{path}/shard={s}/*.parquet")
                )
                for s in range(4)
            }

        before = shard_files()

        # update vec_id=0 (shard 0 under mod placement) with a changed
        # vector, insert a brand-new id landing in the same shard
        upd = spark.createDataFrame(
            [(0, [float(i) for i in range(64)], 9),
             (100004, [1.0] * 64, 9)],
            "vec_id long, embedding array<float>, label int",
        )
        stats = I.upsert_collection(spark, path, upd, n_shards=4, dim=64, how="mod")
        assert stats["touched_shards"] == [0]

        after_df = spark.read.parquet(path)
        assert after_df.count() == n0 + 1  # one replace + one insert
        got = after_df.filter(F.col("vec_id") == 0).collect()
        assert len(got) == 1 and got[0].label == 9
        # the replaced vector was re-normalized on write
        import numpy as np

        assert np.isclose(np.linalg.norm(got[0].embedding), 1.0, atol=1e-5)

        after = shard_files()
        for s in (1, 2, 3):
            assert after[s] == before[s], f"untouched shard {s} was rewritten"
        assert after[0] != before[0]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_delete_from_collection_partition_pruned(spark, tables):
    """Targeted delete removes exactly the requested ids, rewrites only
    the touched shard directories, and drops a shard directory outright
    when the delete empties it."""
    import glob
    import os
    import shutil
    import tempfile

    emb = tables["embeddings"].select("vec_id", "embedding", "label").limit(40)
    tmp = tempfile.mkdtemp(prefix="delete_")
    path = tmp + "/coll"
    try:
        prepared = I.prepare_vectors(emb, dim=64, n_shards=4, how="mod")
        I.write_collection(prepared, path, n_shards=4, mode="overwrite")
        n0 = spark.read.parquet(path).count()

        def shard_files():
            return {
                s: sorted(
                    (os.path.basename(f), os.path.getmtime(f))
                    for f in glob.glob(f"{path}/shard={s}/*.parquet")
                )
                for s in range(4)
            }

        before = shard_files()
        # vec_id 1 and 5 both land in shard 1 under mod placement
        stats = I.delete_from_collection(spark, path, [1, 5], n_shards=4, how="mod")
        assert stats["touched_shards"] == [1]
        assert stats["rows_deleted"] == 2

        after_df = spark.read.parquet(path)
        assert after_df.count() == n0 - 2
        assert after_df.filter(F.col("vec_id").isin([1, 5])).count() == 0
        after = shard_files()
        for s in (0, 2, 3):  # untouched shards byte-identical
            assert after[s] == before[s]

        # empty a whole shard: delete every remaining id in shard 1
        rest = [r.vec_id for r in after_df.filter(F.col("vec_id") % 4 == 1).collect()]
        stats2 = I.delete_from_collection(spark, path, rest, n_shards=4, how="mod")
        assert stats2["rows_deleted"] == len(rest)
        assert not glob.glob(f"{path}/shard=1/*.parquet")  # directory gone
        assert spark.read.parquet(path).filter(F.col("shard") == 1).count() == 0

        # no-op delete
        assert I.delete_from_collection(spark, path, [], n_shards=4) == {
            "touched_shards": [],
            "rows_deleted": 0,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_apply_changelog_hand_computed(spark):
    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, bal double",
    )
    changes = spark.createDataFrame(
        [
            # id 2: update then later delete → deleted
            (2, "b2", 21.0, 100, 1, "U"),
            (2, "b2", 21.0, 200, 1, "D"),
            # id 3: two same-ts updates — seq breaks the tie
            (3, "c2", 31.0, 100, 1, "U"),
            (3, "c3", 32.0, 100, 2, "U"),
            # id 4: brand-new insert
            (4, "d", 40.0, 100, 1, "I"),
        ],
        "id long, name string, bal double, ts long, seq long, op string",
    )
    got = {r.id: (r.name, r.bal) for r in I.apply_changelog(snap, changes).collect()}
    assert got == {1: ("a", 10.0), 3: ("c3", 32.0), 4: ("d", 40.0)}


def test_delete_from_collection_dataframe_ids(spark, tables):
    """Bulk erasure: ids passed as a DataFrame never ride the driver."""
    import shutil
    import tempfile

    emb = tables["embeddings"].select("vec_id", "embedding", "label").limit(20)
    tmp = tempfile.mkdtemp(prefix="delete_df_")
    path = tmp + "/coll"
    try:
        I.write_collection(
            I.prepare_vectors(emb, dim=64, n_shards=4, how="mod"),
            path, n_shards=4, mode="overwrite",
        )
        ids = spark.createDataFrame([(2,), (6,)], "vec_id long")
        stats = I.delete_from_collection(spark, path, ids, n_shards=4, how="mod")
        assert stats["rows_deleted"] == 2 and stats["touched_shards"] == [2]
        assert spark.read.parquet(path).filter(F.col("vec_id").isin([2, 6])).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_apply_changelog_null_op_upserts(spark):
    """A NULL/unknown op must upsert, never silently delete the key."""
    snap = spark.createDataFrame([(1, "a")], "id long, val string")
    ch = spark.createDataFrame(
        [(1, "a2", 100, 1, None), (2, "b", 100, 1, "X")],
        "id long, val string, ts long, seq long, op string",
    )
    got = {r.id: r.val for r in I.apply_changelog(snap, ch).collect()}
    assert got == {1: "a2", 2: "b"}


def test_delete_from_collection_string_ids(spark):
    """String-keyed collections delete via driver-side lists too."""
    import shutil
    import tempfile

    rows = [(f"doc-{i}", [float(i)] * 4) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    tmp = tempfile.mkdtemp(prefix="delete_str_")
    path = tmp + "/coll"
    try:
        I.write_collection(
            I.prepare_vectors(df, dim=4, n_shards=2, how="hash"),
            path, n_shards=2, mode="overwrite",
        )
        stats = I.delete_from_collection(spark, path, ["doc-3"], n_shards=2, how="hash")
        assert stats["rows_deleted"] == 1
        assert spark.read.parquet(path).filter(F.col("vec_id") == "doc-3").count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# r14: part of the fast driver-gate subset (default `pytest` selection
# per pytest.ini; `-m ''` runs the full suite)
import pytest as _pytest

pytestmark = _pytest.mark.driver_gate
