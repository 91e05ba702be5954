"""Sparse-vector (learned-sparse / SPLADE-style) retrieval.

The reference retrieves by dense embedding only (shard/search.py:24
scores a dense matrix; rag_demo/ask.py:31 embeds the question densely).
Modern vector stores additionally serve *sparse* vectors — huge-
dimensional, mostly-zero term-weight vectors (SPLADE, uniCOIL, TF-IDF)
stored as parallel ``(indices, values)`` arrays and scored by dot
product over the few shared nonzero coordinates. This module adds that
representation and its serving tier, Spark-first:

* **Representation** — ``(id, indices: array<long> ASC, values:
  array<double>)``: the Pinecone/Milvus sparse-vector shape. Indices
  are 60-bit portable term hashes (functions/text.py
  ``portable_token_hash``), so the conceptual dimensionality is 2^60
  and no vocabulary table is needed.
* **Execution** — the inverted index, which is *relational*: explode
  each vector into postings ``(id, term, weight)``; a query touches
  only the postings of ITS terms, so per-query cost is
  ``O(Σ_t df(t))`` — independent of corpus dimensionality and, with
  the materialized index, independent of corpus *size* off the
  matched postings. Scoring folds per-term products IN TERM ORDER
  (``sort_array + F.aggregate`` ≡ the SQL mirror's
  ``list_sum(list(s ORDER BY term))``) so float addition order can
  never differ between engines.
* **Scale shape** — ``sparse_knn_join`` broadcasts the *query*
  postings (|Q|·avg_nnz rows — tiny) and streams the corpus postings
  past them: one corpus scan, no corpus shuffle before the
  ``(qid, id)`` partial-aggregated groupBy, whose width is the number
  of MATCHED pairs, not |Q|·|C|. ``write_sparse_index`` persists
  postings partitioned by ``term_bucket`` so a query's terms prune to
  ≤ nnz(q) partitions before any file opens (the write_bm25_index
  layout, lexical.py:99). Hot/stop terms are the skew axis: the
  optional ``max_df`` knob drops postings of terms whose document
  frequency exceeds the cap (the classic stop-posting cut — documented
  approximation, default off = exact).

Weighting: ``w(term) = sqrt(tf)`` on both documents and queries — the
Lucene-classic sublinear TF, chosen over ``ln(1+tf)`` because IEEE
requires sqrt (unlike ln) to be correctly rounded, making weights
bit-identical across engines. Learned weights (SPLADE) would
arrive as model outputs through the same ``(indices, values)`` shape;
every operator below takes the representation, not the text, so a
learned encoder drops in without touching the serving tier (the
functions/embed.py model-seam pattern).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import text as TX

__all__ = [
    "sparse_from_text",
    "sparse_from_tokens",
    "sparse_postings",
    "sparse_query_py",
    "sparse_topk",
    "sparse_topk_text",
    "sparse_knn_join",
    "sparse_truncate",
    "sparse_postings_expr",
    "sparse_quantize",
    "sparse_dequantize",
    "write_sparse_index",
    "sparse_topk_indexed",
    "delete_from_sparse_index",
]

#: term-hash partition fan-out for the postings table — a query's terms
#: prune to ≤ nnz(q) of these partitions before any file opens.
SPARSE_TERM_BUCKETS = 64


def _term_tf(df: DataFrame, toks_col: str, id_col: str, hash: str = "portable") -> DataFrame:
    """Token-array column → ``(id, term, tf)``: one explode + one
    partial-aggregated ``(id, term)`` groupBy — the shared front half of
    :func:`sparse_from_tokens` (which assembles vectors from it) and
    :func:`sparse_topk_text` (which scores it directly)."""
    if hash == "portable":
        hash_fn = TX.portable_token_hash
    elif hash == "fast":
        hash_fn = F.xxhash64
    else:
        raise ValueError(f"hash must be 'portable' or 'fast', got {hash!r}")
    return (
        df.select(F.col(id_col), F.explode(F.col(toks_col)).alias("__tok"))
        # blank text (and leading-whitespace splits) produce '' tokens;
        # a phantom term=hash('') posting would inflate the index and
        # every df statistic, so drop them before hashing (the mirror
        # filters t <> '' at the same point)
        .filter(F.col("__tok") != "")
        .select(id_col, hash_fn(F.col("__tok")).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )


def _tf_weight(tf_col):
    # sqrt-TF (Lucene-classic sublinear TF) rather than ln(1+tf):
    # IEEE 754 requires sqrt to be correctly rounded, so JVM and any
    # libm produce the SAME double — ln is not (measured: ln(3.0)
    # differs in the last ulp between Spark's Math.log and DuckDB),
    # which would flip rounded ties at top-k boundaries.
    return F.sqrt(tf_col.cast("double"))


def sparse_from_tokens(
    df: DataFrame, toks_col: str, id_col: str = "doc_id", hash: str = "portable"
) -> DataFrame:
    """Token-array column → sparse vector ``(id, indices, values)``.

    ``indices`` = distinct 60-bit term hashes, strictly ascending;
    ``values[i] = sqrt(tf(indices[i]))``. Distinct tokens that collide
    in the hash space merge their counts (both engines hash before
    grouping, so the mirror merges identically). One explode + one
    ``(id, term)`` partial-aggregated groupBy + one per-id groupBy —
    never wider than the token stream.

    ``hash``: ``"portable"`` (default) is the md5-derived 60-bit hash
    any engine reproduces — required wherever a SQL mirror or an
    external reader re-derives terms. ``"fast"`` swaps in xxhash64 for
    hot production paths with no cross-engine contract (measured at
    the 10x-docs probe: hashing 2M tokens costs 0.56 s vs 2.7 s — the
    documented portable-hash tax, functions/text.py). The two spaces
    are INCOMPATIBLE: corpus and queries must use the same setting
    (``sparse_query_py`` is portable-only).
    """
    tf = _term_tf(df, toks_col, id_col, hash)
    pairs = tf.select(
        id_col, F.struct(F.col("term"), _tf_weight(F.col("tf")).alias("w")).alias("p")
    )
    return pairs.groupBy(id_col).agg(
        F.sort_array(F.collect_list("p")).alias("__sp")
    ).select(
        id_col,
        F.col("__sp.term").alias("indices"),
        F.col("__sp.w").alias("values"),
    )


def sparse_from_text(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    hash: str = "portable",
) -> DataFrame:
    """Text column → sparse vectors (whitespace tokens, sqrt-TF weights).

    The deterministic stand-in for a learned sparse encoder: same
    output shape a SPLADE head would produce, derived with the
    engine-portable tokenizer + hash so the DuckDB mirror re-derives it
    bit-identically.
    """
    return sparse_from_tokens(
        docs.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks")),
        "__toks",
        id_col=id_col,
        hash=hash,
    )


def sparse_postings(sv: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Sparse vectors → inverted postings ``(id, term, w)``.

    ``arrays_zip`` keeps index/value pairs aligned; one narrow explode,
    no shuffle.
    """
    z = F.arrays_zip(F.col("indices").alias("term"), F.col("values").alias("w"))
    return sv.select(F.col(id_col), F.explode(z).alias("__p")).select(
        id_col, F.col("__p.term").alias("term"), F.col("__p.w").alias("w")
    )


def sparse_query_py(text: str) -> tuple[list[int], list[float]]:
    r"""Driver-side sparse encoding of one query string — the same
    tokenizer/hash/weighting as :func:`sparse_from_text`, computed in
    Python so single-query search can inline the (tiny) query vector
    as literals (the `_query_vec` pattern). Returns ``(indices,
    values)`` with indices strictly ascending.

    Tokenization mirrors the engine EXACTLY: split on the ASCII
    whitespace class Java's ``\s`` matches (``str.split()`` would
    also split on Unicode whitespace like U+00A0, silently diverging
    from the JVM regex), empty tokens dropped (as the engine and the
    SQL mirror both drop them)."""
    import re

    toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text) if t]
    tf: dict[int, int] = {}
    for t in toks:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        tf[h] = tf.get(h, 0) + 1
    idx = sorted(tf)
    return idx, [math.sqrt(float(tf[h])) for h in idx]


def _fold_by_term(per_term: DataFrame, keys: list[str]) -> DataFrame:
    """Per-(keys) score = term-ordered sequential double fold of ``s``."""
    return per_term.groupBy(*keys).agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("term", "s"))), lambda x: x["s"]
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score")
    )


def _score_postings(
    postings: DataFrame, q_indices: list[int], q_values: list[float], id_col: str
) -> DataFrame:
    # map keys cast to long explicitly (r14, ADVICE): F.lit(small int)
    # resolves as int while the hashed term column is bigint — the
    # lookup then leans on an implicit map-key cast; make it exact
    qmap = F.create_map(
        *[c for i, v in zip(q_indices, q_values) for c in (F.lit(i).cast("long"), F.lit(v))]
    )
    per_term = (
        postings.filter(F.col("term").isin(q_indices))
        .select(id_col, "term", (F.col("w") * qmap[F.col("term")]).alias("s"))
    )
    return _fold_by_term(per_term, [id_col])


def sparse_topk(
    corpus_sv: DataFrame,
    q_indices: list[int],
    q_values: list[float],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Single-query sparse dot-product top-k → ``(id, score)``,
    score desc / id asc.

    One corpus pass: explode to postings, keep only the query's terms
    (a literal IN-list Catalyst pushes into the scan when the corpus is
    a postings read), multiply by the query weight via a literal map
    lookup, fold per doc. The only wide op is the per-doc groupBy over
    MATCHED postings — ``Σ_t df(t)`` rows, never the corpus.
    """
    if not q_indices:
        return corpus_sv.sparkSession.createDataFrame(
            [], f"{id_col} long, score double"
        )
    scored = _score_postings(sparse_postings(corpus_sv, id_col), q_indices, q_values, id_col)
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def sparse_topk_text(
    docs: DataFrame,
    q_indices: list[int],
    q_values: list[float],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash: str = "portable",
) -> DataFrame:
    """Fused rebuild-and-search: identical results to
    ``sparse_topk(sparse_from_text(docs), q, k)`` without ever
    assembling the sparse vectors.

    The composed form builds the FULL vector frame — per-doc
    ``sort_array(collect_list(...))`` over every term plus a second
    corpus-keyed shuffle — and then immediately re-explodes it to
    postings and drops every non-query term. Here the ``(id, term, tf)``
    aggregate is filtered to the query's terms and scored directly.
    Equivalence: per-(id, term) tf is unchanged (restricting to a term
    subset cannot change any term's count), weights are the same
    ``sqrt(tf)``, and the per-doc fold runs over the same matched
    postings in the same term order — asserted equal to the composed
    path in tests/test_sparse.py, and the entry shares the composed
    pipeline's oracle. Measured at sf0.1 (r13 optimization round):
    1.26 s → 0.77 s — the vector assembly was ~40 % of the composite.
    """
    if not q_indices:
        return docs.sparkSession.createDataFrame([], f"{id_col} long, score double")
    toks = docs.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks"))
    tf = _term_tf(toks, "__toks", id_col, hash).filter(F.col("term").isin(q_indices))
    # map keys cast to long (r14, ADVICE): the hashed term column is
    # bigint; int32-sized literal keys would rely on an implicit cast
    qmap = F.create_map(
        *[c for i, v in zip(q_indices, q_values) for c in (F.lit(i).cast("long"), F.lit(v))]
    )
    per_term = tf.select(
        id_col, "term", (_tf_weight(F.col("tf")) * qmap[F.col("term")]).alias("s")
    )
    scored = _fold_by_term(per_term, [id_col])
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def sparse_knn_join(
    queries_sv: DataFrame,
    corpus_sv: DataFrame,
    k: int = 5,
    qid_col: str = "qid",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Batch sparse top-k: for each query sparse vector, the k corpus
    docs with the largest sparse dot product → ``(qid, id, score,
    rank)``, rank 1-based by score desc / id asc.

    Execution: broadcast the exploded QUERY postings (|Q|·avg_nnz rows)
    and stream the corpus postings past them — one corpus scan, the
    equi-join on ``term`` is map-side, and the ``(qid, id)`` groupBy
    shuffles only MATCHED pairs (partial-aggregated map-side first).
    Docs sharing no term with a query never materialize — the
    sparse-model contract (score 0), same as the reference returning
    only scored candidates.

    ``max_df``: optional stop-posting cut — corpus terms whose document
    frequency exceeds the cap are dropped BEFORE the join (one tiny
    ``(term, df)`` aggregate, broadcast anti-join). Hot terms are the
    skew axis of any inverted index at 100 TB; the cap bounds the
    per-term match width at a documented, quantifiable recall cost
    (score loses only near-ubiquitous terms, which carry the least
    idf-style information). Default ``None`` = exact.
    """
    qpost = sparse_postings(queries_sv, qid_col).withColumnRenamed("w", "qw")
    cpost = sparse_postings(corpus_sv, id_col)
    if max_df is not None:
        hot = (
            cpost.groupBy("term")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("term")
        )
        cpost = cpost.join(F.broadcast(hot), "term", "left_anti")
    per_term = cpost.join(F.broadcast(qpost), "term").select(
        qid_col, id_col, "term", (F.col("w") * F.col("qw")).alias("s")
    )
    summed = _fold_by_term(per_term, [qid_col, id_col])
    win = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        summed.withColumn("rank", F.row_number().over(win).cast("int"))
        .filter(F.col("rank") <= k)
    )


def write_sparse_index(
    corpus_sv: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_buckets: int = SPARSE_TERM_BUCKETS,
) -> None:
    """Materialize the inverted index: postings ``(id, term, w)``
    partitioned by ``term_bucket = term mod n_buckets`` (term hashes
    are md5-uniform, so buckets balance), plus the usual sidecar meta.
    A query's terms then prune to ≤ nnz(q) partitions before any file
    opens — per-query read cost is the matched postings, independent
    of corpus size (the write_bm25_index layout, lexical.py:99).
    """
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.ann_index import (
        _write_meta,
    )

    postings = sparse_postings(corpus_sv, id_col).withColumn(
        "term_bucket", F.pmod(F.col("term"), F.lit(n_buckets))
    )
    postings.repartition("term_bucket").write.mode("overwrite").partitionBy(
        "term_bucket"
    ).parquet(path + "/postings")
    _write_meta(
        corpus_sv.sparkSession,
        path,
        {"kind": "sparse", "n_buckets": n_buckets, "id_col": id_col},
    )


def sparse_topk_indexed(
    spark,
    path: str,
    q_indices: list[int],
    q_values: list[float],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse top-k over a materialized :func:`write_sparse_index` —
    scores identical to :func:`sparse_topk` on the indexed corpus
    (same weights, same term-ordered fold), but the per-query cost is
    a term-bucket-PRUNED postings read: the bucket IN-list is computed
    from the literal query terms, so partition pruning happens at
    planning time (PartitionFilters, plan-asserted in tests)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.ann_index import (
        _read_meta,
    )

    if not q_indices:
        return spark.createDataFrame([], f"{id_col} long, score double")
    meta = _read_meta(spark, path)
    n_buckets = int(meta["n_buckets"])
    buckets = sorted({h % n_buckets for h in q_indices})
    postings = (
        spark.read.parquet(path + "/postings")
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(q_indices))
    )
    scored = _score_postings(postings, q_indices, q_values, id_col)
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def delete_from_sparse_index(spark, path: str, ids: list, id_col: str = "doc_id") -> dict:
    """Right-to-erasure maintenance for a materialized sparse index:
    one column-pruned pass locates the doomed postings, and ONLY their
    term buckets rewrite (dynamic partition overwrite via the shared
    ``_dynamic_partition_overwrite``, which also drops fully-emptied
    bucket directories). Like the BM25 sibling, erasure locality is
    per-TERM, not per-doc — a doc's postings spread across buckets.
    No corpus statistics ride in this index (weights are per-doc
    sqrt-TF), so the sidecar never goes stale. Returns
    ``{"rows_deleted", "docs_deleted", "touched_buckets"}``."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.ann_index import (
        _dynamic_partition_overwrite,
        _read_meta,
    )

    meta = _read_meta(spark, path)
    if meta.get("kind") != "sparse":
        raise ValueError(f"not a sparse index: kind={meta.get('kind')!r}")
    if not ids:
        return {"rows_deleted": 0, "docs_deleted": 0, "touched_buckets": []}
    id_frame = F.broadcast(
        spark.createDataFrame([(i,) for i in ids], [id_col]).distinct()
    )
    postings = spark.read.parquet(path + "/postings")
    doomed = postings.join(id_frame, id_col, "left_semi").localCheckpoint(eager=True)
    stats = doomed.agg(
        F.count(F.lit(1)).alias("rows"), F.count_distinct(id_col).alias("docs")
    ).collect()[0]
    if int(stats["rows"]) == 0:
        return {"rows_deleted": 0, "docs_deleted": 0, "touched_buckets": []}
    touched = sorted(
        r["term_bucket"] for r in doomed.select("term_bucket").distinct().collect()
    )
    keep = (
        postings.filter(F.col("term_bucket").isin(touched))
        .join(id_frame, id_col, "left_anti")
        .localCheckpoint(eager=True)
    )
    _dynamic_partition_overwrite(keep, path + "/postings", "term_bucket", touched)
    return {
        "rows_deleted": int(stats["rows"]),
        "docs_deleted": int(stats["docs"]),
        "touched_buckets": touched,
    }


def sparse_truncate(sv: DataFrame, m: int, id_col: str = "doc_id") -> DataFrame:
    """SPLADE-style per-document truncation: keep each vector's top
    ``m`` coordinates by weight (weight desc, term asc — fully
    deterministic), re-sorted by term. THE memory knob of a sparse
    index at 100 TB — nnz per document becomes a hard bound, so
    postings storage and every per-term match width scale with ``m``,
    not document length. Approximation quality is quantified by the
    recall entry (the family discipline: every approximate tier gets
    a measured recall next to its exact sibling)."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    post = sparse_postings(sv, id_col)
    w = Window.partitionBy(id_col).orderBy(F.desc("w"), F.asc("term"))
    kept = post.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= m
    )
    pairs = kept.select(
        id_col, F.struct(F.col("term"), F.col("w")).alias("p")
    )
    return pairs.groupBy(id_col).agg(
        F.sort_array(F.collect_list("p")).alias("__sp")
    ).select(
        id_col,
        F.col("__sp.term").alias("indices"),
        F.col("__sp.w").alias("values"),
    )


def sparse_postings_expr(toks) -> "F.Column":
    """Row-LOCAL sparse encoding of a token-array column: returns an
    ``array<struct<term, w>>`` (terms ascending, ``w = sqrt(tf)``)
    computed entirely inside array expressions — no groupBy, so it is
    legal in an append-mode STREAM projection (the
    ``stream_sparse_index_ingest`` path) and mathematically identical
    to :func:`sparse_from_tokens` (asserted in tests). Cost is
    O(nnz²) comparisons per document in the tf counting — fine for
    natural documents (nnz bounded by vocabulary per doc), and the
    batch path remains the groupBy form."""
    clean = F.filter(toks, lambda t: t != F.lit(""))
    hashes = F.transform(clean, lambda t: TX.portable_token_hash(t))
    dist = F.array_sort(F.array_distinct(hashes))
    return F.transform(
        dist,
        lambda h: F.struct(
            h.alias("term"),
            F.sqrt(
                F.size(F.filter(hashes, lambda x: x == h)).cast("double")
            ).alias("w"),
        ),
    )


def sparse_quantize(sv: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """8-bit scalar quantization of sparse weights — the postings-size
    knob orthogonal to :func:`sparse_truncate`'s nnz bound: each
    document's weights store as uint8 codes against its own max
    (``code = floor(w/max·255 + 0.5)``), 1 byte per posting instead
    of 8. Returns ``(id, indices, codes, max_w)``; reconstruct with
    :func:`sparse_dequantize`. All arithmetic is IEEE-exact and
    engine-portable (floor — never a dialect-divergent ``round``
    half-mode), so a SQL mirror re-derives codes bit-identically.
    Quality is quantified by the recall entry (the family
    discipline)."""
    # hoist the per-row max into a column FIRST: referenced inside the
    # per-element lambda, array_max would re-scan the array per element
    # (O(nnz²) per document)
    with_max = sv.withColumn("max_w", F.array_max(F.col("values")))
    dq = F.transform(
        F.col("values"),
        lambda w: F.floor(w / F.col("max_w") * 255.0 + 0.5).cast("int"),
    )
    return with_max.select(
        F.col(id_col), "indices", dq.alias("codes"), "max_w"
    )


def sparse_dequantize(sq: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Inverse of :func:`sparse_quantize`: ``w' = code·max_w/255`` —
    the ``(id, indices, values)`` frame every sparse operator accepts,
    so the quantized tier composes with top-k/join/index unchanged."""
    vals = F.transform(
        F.col("codes"), lambda c: c.cast("double") * F.col("max_w") / F.lit(255.0)
    )
    return sq.select(F.col(id_col), "indices", vals.alias("values"))
