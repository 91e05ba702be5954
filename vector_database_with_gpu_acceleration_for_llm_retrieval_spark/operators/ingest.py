"""Ingestion pipeline: validation, normalize-on-write, sharding,
chunking, join-back, context assembly.

Reference write path (SURVEY.md §3.2): coordinator md5-routes each
record to a shard (coordinator/main.py:43-45,50), the shard validates
the dimension (shard/server.py:62-64) and appends the L2-normalized row
(fallback_numpy_index.py:10-13). The RAG demo front-end chunks
documents into fixed word windows with generated ids
(rag_demo/ingest.py:22-34).

Spark mapping: one batch DataFrame write replaces the record-at-a-time
HTTP path; placement-by-hash is ``repartition(n, shard)`` (or
``bucketBy`` for a durable co-located layout); ``meta`` is KEPT as a
real column (the reference silently drops it, shard/server.py:67 — the
RAG demo's id2text.json sidecar exists only to work around that).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import text as TX
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import vector as V

__all__ = [
    "validate_dim",
    "normalized",
    "assign_shard",
    "prepare_vectors",
    "write_collection",
    "read_collection",
    "upsert_collection",
    "delete_from_collection",
    "apply_changelog",
    "chunk_documents",
    "join_back",
    "assemble_context",
    "bulk_random_vectors",
    "collection_stats",
    "mean_pool_embeddings",
]


def validate_dim(df: DataFrame, dim: int, vec_col: str = "embedding", reject: bool = True) -> DataFrame:
    """Dimension check at ingest — the reference's per-record HTTP 400
    (shard/server.py:62-64; intended semantics of the buggy
    ``index.dim()`` call, SURVEY.md §2.1 defects).

    ``reject=True`` filters bad rows out (dataflow equivalent of
    rejecting the request); ``reject=False`` tags them with a boolean
    ``dim_ok`` column for a quarantine sink instead.
    """
    ok = F.size(F.col(vec_col)) == F.lit(dim)
    if reject:
        return df.filter(ok)
    return df.withColumn("dim_ok", ok)


def normalized(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Normalize-on-write (reference O4): store unit vectors so cosine
    at query time is a plain dot product — the reference's one real
    physical optimization (fallback_numpy_index.py:10-13), carried over
    as a pipeline design choice."""
    return df.withColumn(vec_col, V.l2_normalize(vec_col))


def assign_shard(df: DataFrame, n_shards: int, id_col: str = "vec_id", how: str = "hash") -> DataFrame:
    """Placement by key hash — the coordinator's
    ``pick_shard = md5(id) % n`` (coordinator/main.py:43-45).

    ``how='hash'`` uses ``xxhash64`` (fast JVM hash; same role as md5 —
    the reference's md5 choice is about determinism, not crypto).
    ``how='mod'`` uses ``pmod(id, n)`` for numeric ids — deterministic
    across engines, used by oracle-checked demos.
    """
    if how == "mod":
        shard = F.pmod(F.col(id_col).cast("long"), F.lit(n_shards))
    else:
        shard = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards))
    return df.withColumn("shard", shard.cast("int"))


def prepare_vectors(df: DataFrame, dim: int, n_shards: int, id_col: str = "vec_id", vec_col: str = "embedding", how: str = "hash") -> DataFrame:
    """Full insert pipeline O1+O3+O4: validate dim → normalize → assign
    shard. The physical repartition happens in :func:`write_collection`."""
    out = validate_dim(df, dim, vec_col=vec_col)
    out = normalized(out, vec_col=vec_col)
    return assign_shard(out, n_shards, id_col=id_col, how=how)


#: collection path -> its schema, as inferred on the path's first read
#: in this process (see read_collection)
_SCHEMAS: dict[str, T.StructType] = {}


def write_collection(df: DataFrame, path: str, n_shards: int, mode: str = "append") -> None:
    """Durable sharded collection: partitioned parquet, one directory
    per shard (upgrade over the reference's ephemeral in-memory matrix,
    SURVEY.md §1.3 — a shard restart there loses all data).

    ``partitionBy('shard')`` gives partition pruning for shard-local
    scans; appends are incremental (no full re-upload like the GPU
    path's re-upload-the-matrix MVP, shard_binding.cpp:40-49).
    The write forgets the schema :func:`read_collection` keeps for
    ``path``: an overwrite may change it.
    """
    try:
        (
            df.repartition(n_shards, "shard")
            .write.mode(mode)
            .partitionBy("shard")
            .parquet(path)
        )
    finally:
        _SCHEMAS.pop(path, None)


def read_collection(spark, path: str) -> DataFrame:
    """The collection at ``path`` as a DataFrame, without a schema job
    on repeated reads.

    ``spark.read.parquet`` infers the schema with a Spark job of its own
    before the query's job runs. The first read of a path in this
    process infers it; later reads pass it to ``spark.read.schema``, so
    a warm top-k is one job. Partition discovery still lists the
    ``shard=`` directories, so shard filters stay partition filters.
    :func:`write_collection` forgets the schema; upserts and deletes
    keep it by construction.
    """
    schema = _SCHEMAS.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[path] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def upsert_collection(
    spark,
    path: str,
    updates: DataFrame,
    n_shards: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    how: str = "hash",
) -> dict:
    """Keyed upsert into a sharded collection: rows with existing ids
    replace the stored rows, new ids append — the update/delete surface
    the reference lacks entirely (its store is append-only,
    SURVEY.md §1.4 "no deletes/updates").

    Partition-pruned merge: updates are routed to their shards first,
    so only the TOUCHED shard directories are read (partition filter),
    merged (anti-join on the id, then union), and rewritten — with
    ``partitionOverwriteMode=dynamic`` the untouched shards' files are
    never opened or replaced.  Cost scales with the updated shards'
    data, not the table: upserting 1k vectors into a 100 TB collection
    rewrites a few shard directories.

    Returns ``{"touched_shards": [...], "rows_written": n}``.
    """
    prepared = prepare_vectors(updates, dim, n_shards, id_col=id_col, vec_col=vec_col, how=how)
    touched = sorted(r["shard"] for r in prepared.select("shard").distinct().collect())
    if not touched:
        return {"touched_shards": [], "rows_written": 0}
    current = read_collection(spark, path).filter(F.col("shard").isin(touched))
    keep = current.join(prepared.select(id_col).distinct(), id_col, "left_anti")
    # localCheckpoint cuts the lineage back to the source path, so the
    # overwrite below doesn't read from the directory it replaces; the
    # materialized set is only the touched shards' rows, which is the
    # working set of the merge anyway.
    merged = keep.unionByName(prepared).localCheckpoint(eager=True)
    rows = merged.count()
    conf = spark.conf
    try:
        prev = conf.get("spark.sql.sources.partitionOverwriteMode")
    except Exception:
        prev = None
    try:
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            merged.repartition(len(touched), "shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path)
        )
    finally:
        if prev is None:
            conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return {"touched_shards": touched, "rows_written": rows}


def delete_from_collection(
    spark,
    path: str,
    ids: "list | DataFrame",
    n_shards: int,
    id_col: str = "vec_id",
    how: str = "hash",
) -> dict:
    """Targeted delete by id — the right-to-erasure / tombstone surface
    a durable store needs (the reference is append-only, SURVEY.md §1.4
    "no deletes/updates").

    Partition-pruned like :func:`upsert_collection`: each id is routed
    to its shard with the SAME hash the writer used, so only the shard
    directories that can contain the ids are read (partition filter),
    anti-joined, and dynamically overwritten — untouched shards' files
    are never opened. Deleting 1k ids from a 100 TB collection rewrites
    a few directories, not the table.

    Returns ``{"touched_shards": [...], "rows_deleted": n}``.
    """
    from_frame = isinstance(ids, DataFrame)
    if from_frame:
        id_frame = ids.select(F.col(ids.columns[0]).alias(id_col))
    else:
        if not ids:
            return {"touched_shards": [], "rows_deleted": 0}
        # small driver-side lists are the common interactive case; pass a
        # DataFrame for bulk erasure batches so ids never ride the driver.
        # Schema is inferred so string-keyed collections delete too.
        id_frame = spark.createDataFrame([(i,) for i in ids], [id_col])
    targets = assign_shard(id_frame, n_shards, id_col=id_col, how=how)
    touched = sorted(r["shard"] for r in targets.select("shard").distinct().collect())
    current = read_collection(spark, path).filter(F.col("shard").isin(touched))
    before = current.count()
    # a driver-side list is bounded by construction, so broadcast it; a
    # DataFrame of ids may be an arbitrarily large erasure batch — let
    # AQE pick the anti-join strategy rather than forcing a driver
    # collect of the whole frame
    erase = targets.select(id_col).distinct()
    if not from_frame:
        erase = F.broadcast(erase)
    keep = current.join(erase, id_col, "left_anti").localCheckpoint(eager=True)
    after = keep.count()
    conf = spark.conf
    try:
        prev = conf.get("spark.sql.sources.partitionOverwriteMode")
    except Exception:
        prev = None
    try:
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            keep.repartition(max(len(touched), 1), "shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path)
        )
    finally:
        if prev is None:
            conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # dynamic overwrite only rewrites partitions PRESENT in the output:
    # a shard emptied by the delete has no output rows, so its stale
    # directory must be dropped explicitly — exactly the shard a
    # right-to-erasure request cares about most
    kept_shards = {r["shard"] for r in keep.select("shard").distinct().collect()}
    emptied = [sh for sh in touched if sh not in kept_shards]
    if emptied:
        from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.sources.maintenance import (
            _fs_and_path,
        )

        fs, _, jvm = _fs_and_path(spark, path)
        for sh in emptied:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/shard={sh}"), True)
    return {"touched_shards": touched, "rows_deleted": before - after}


def bulk_random_vectors(spark, n: int, dim: int = 64, seed: int = 42) -> DataFrame:
    """Bulk deterministic pseudo-random unit-vector load (reference O20,
    scripts/load.py:12-26: ``n`` random unit vectors POSTed in batches).

    ``spark.range(n)`` + a hash-based uniform per component — fully
    distributed generation (each partition generates its own rows; no
    driver-side data), deterministic under ``seed``, and mirrorable by
    the SQL oracle (md5-derived uniforms, not engine-private RNG).
    Components are uniform in [-1, 1) then L2-normalized, which is
    distribution-different from the reference's Gaussian but serves the
    same role (random unit vectors for load/bench).

    The raw component array is projected to its OWN column before
    ``l2_normalize`` (r14): higher-order-function expressions evaluate
    interpreted with no common-subexpression elimination, so
    ``l2_normalize(complex_array_expr)`` re-evaluates the argument per
    reference and per element — for a ``dim``-wide md5-hash array that
    multiplied the hash work by O(dim) (the exact l2_normalize-over-
    complex-expression defect measured 11.5 s vs 0.9 s in the r13
    notes; at the bench's 1M-row probe this single projection split
    was the difference between minutes and seconds). Values identical:
    same expression tree, materialized once per row.
    """
    comps = F.array(
        *[
            (
                TX.portable_token_hash(
                    F.concat_ws("-", F.lit(seed), F.col("id"), F.lit(j))
                ).cast("double")
                / F.lit(float(1 << 60))
            )
            * 2.0
            - 1.0
            for j in range(dim)
        ]
    )
    return (
        spark.range(n)
        .select(F.col("id").alias("vec_id"), comps.alias("__raw"))
        .select("vec_id", V.l2_normalize(F.col("__raw")).alias("embedding"))
    )


def collection_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Count/dim accessors (reference O10: ``index.count()`` /
    ``index.dim()``, fallback_numpy_index.py:17-18, surfaced by
    ``/health`` shard/server.py:52) as one aggregate row
    ``(n_vectors, dim_min, dim_max)`` — ``dim_min == dim_max`` iff the
    collection is dimensionally consistent (the invariant the
    reference's per-insert check enforces)."""
    return df.agg(
        F.count("*").alias("n_vectors"),
        F.min(F.size(vec_col)).alias("dim_min"),
        F.max(F.size(vec_col)).alias("dim_max"),
    )


def chunk_documents(
    docs: DataFrame,
    max_words: int = 120,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-size word chunking with deterministic chunk ids.

    Reference: ``chunk(text, 120)`` (rag_demo/ingest.py:22-25) and id
    ``f"{title}::chunk{j}::{uuid4().hex[:8]}"`` (ingest.py:34). The
    uuid suffix is nondeterministic, so (SURVEY.md §7 hard-parts c) the
    suffix here is a content hash — stable across runs and engines.

    Returns ``(doc_id, chunk_idx, chunk_id, chunk_text)``.
    """
    chunks = TX.word_chunks(F.col(text_col), max_words=max_words)
    exploded = docs.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    )
    chunk_id = F.concat_ws(
        "::",
        F.col(id_col).cast("string"),
        F.concat(F.lit("chunk"), F.col("chunk_idx").cast("string")),
        F.substring(F.md5(F.col("chunk_text")), 1, 8),
    )
    return exploded.select(
        id_col,
        "chunk_idx",
        chunk_id.alias("chunk_id"),
        "chunk_text",
    )


def mean_pool_embeddings(
    chunks: DataFrame,
    group_col: str = "doc_id",
    order_col: str = "chunk_id",
    vec_col: str = "emb",
    out_col: str = "doc_emb",
) -> DataFrame:
    """Chunk embeddings → one document embedding by mean pooling (the
    standard doc-level representation when retrieval indexed chunks).

    Cross-engine determinism: the per-dimension sums fold the chunks in
    ``order_col`` order (sort_array over (order, vec) structs, then a
    sequential zip_with accumulation) — float addition order is pinned,
    so any engine summing the same chunks in the same order gets the
    same doubles. One groupBy shuffle of (group, vec) rows.
    """
    collected = chunks.groupBy(group_col).agg(
        F.sort_array(F.collect_list(F.struct(F.col(order_col), F.col(vec_col)))).alias(
            "__cv"
        ),
        F.count("*").alias("__n"),
    )
    vecs = F.transform(F.col("__cv"), lambda s: s[vec_col])
    # fold from a zero vector of the right width (element 1 exists: a
    # group always has ≥ 1 chunk)
    zero = F.transform(F.element_at(vecs, 1), lambda _: F.lit(0.0))
    summed = F.aggregate(vecs, zero, lambda acc, v: F.zip_with(acc, v, lambda x, y: x + y))
    return collected.select(
        group_col,
        F.transform(summed, lambda x: x / F.col("__n")).alias(out_col),
        F.col("__n").alias("n_chunks"),
    )


def join_back(hits: DataFrame, chunks: DataFrame, on: str = "chunk_id") -> DataFrame:
    """id→text join-back (reference O17): the demo's ``id2text`` dict
    lookup (rag_demo/ask.py:13,24) as a broadcast equi-join. The chunk
    side is the small dimension → broadcast, no shuffle of ``hits``."""
    return hits.join(F.broadcast(chunks), on=on, how="inner")


def assemble_context(
    hits_with_text: DataFrame,
    group_col: str = "qid",
    text_col: str = "chunk_text",
    order_col: str = "score",
) -> DataFrame:
    """Context assembly (reference O18): top-k hit texts joined in score
    order as ``"- <text>"`` bullets separated by blank lines
    (rag_demo/ask.py:24). sort_array over (order desc, text) structs →
    transform → array_join, all JVM-side."""
    pair = F.struct((-F.col(order_col)).alias("neg"), F.col(text_col).alias("t"))
    return (
        hits_with_text.groupBy(group_col)
        .agg(F.sort_array(F.collect_list(pair)).alias("ordered"))
        .select(
            group_col,
            F.array_join(
                F.transform(F.col("ordered"), lambda s: F.concat(F.lit("- "), s["t"])),
                "\n\n",
            ).alias("context"),
        )
    )


def apply_changelog(
    snapshot: DataFrame,
    changes: DataFrame,
    id_col: str = "id",
    ts_col: str = "ts",
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC changelog to a snapshot — the lakehouse MERGE as a
    dataflow: for each key take the LATEST change (by ``ts``, then
    ``seq`` for same-timestamp determinism); ``op='D'`` deletes the
    key, any other op upserts the change row's attributes; untouched
    snapshot rows pass through.

    Shape for scale: one shuffle of the CHANGELOG on the key (latest-
    change dedup — WindowGroupLimit prunes map-side), then the
    changed-key set anti-joins the snapshot (AQE broadcasts it when
    the delta is small — the common case) and survivors union in. The
    snapshot is never shuffled; cost scales with the delta, not the
    table. Pair with ``write_collection``'s dynamic partition
    overwrite to persist only touched shards.

    ``changes`` must carry the snapshot's columns (for upserts) plus
    ``(ts, seq, op)``. Returns the new snapshot (snapshot schema).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy(F.col(ts_col).desc(), F.col(seq_col).desc())
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    keys = latest.select(id_col)
    untouched = snapshot.join(keys, id_col, "left_anti")
    # only a literal 'D' deletes; a NULL/unknown op is an upsert, never
    # a silent drop (NULL != 'D' is NULL and would fall out of a plain
    # filter while the key still anti-joins away — data loss)
    upserts = latest.filter(~F.col(op_col).eqNullSafe("D")).select(*snapshot.columns)
    return untouched.unionByName(upserts)
