"""Top-k search invariants (SURVEY.md §5.3): sorted/size/recall vs a
numpy brute-force oracle, the coordinator merge property, batch kNN
parity including the chunked driver path, and ANN sanity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import search as S

# part of the fast driver-gate subset (default `pytest` selection per
# pytest.ini; `-m ''` runs the full suite)
pytestmark = pytest.mark.driver_gate

K = 10


@pytest.fixture(scope="module")
def corpus(tables):
    return tables["embeddings"].select("vec_id", "embedding")


@pytest.fixture(scope="module")
def np_corpus(corpus):
    rows = corpus.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, X


def _np_topk_cosine(ids, X, q, k):
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    qn = np.asarray(q, dtype=np.float64)
    qn = qn / max(np.linalg.norm(qn), 1e-12)
    s = Xn @ qn
    order = np.lexsort((ids, -s))[:k]
    return list(ids[order])


def test_topk_sorted_size_recall(corpus, np_corpus):
    ids, X = np_corpus
    q = list(X[0])
    got = S.topk(corpus, q, k=K).collect()
    assert len(got) == K
    scores = [r.score for r in got]
    assert scores == sorted(scores, reverse=True)
    # exact index ⇒ recall 1.0 against the brute-force oracle
    assert [r.vec_id for r in got] == _np_topk_cosine(ids, X, q, K)


def test_topk_k_clamped_and_empty(corpus, spark):
    small = corpus.limit(3)
    q = [1.0] * 64
    assert S.topk(small, q, k=K).count() == 3  # O12 k-clamping
    empty = corpus.filter("vec_id < 0")
    assert S.topk(empty, q, k=K).count() == 0  # O11 short-circuit


def test_sharded_merge_equals_global(corpus, np_corpus):
    """The coordinator property (reference coordinator/main.py:75-86):
    merge of per-shard top-k == global top-k."""
    ids, X = np_corpus
    q = list(X[7])
    global_ids = [r.vec_id for r in S.topk(corpus, q, k=K).collect()]
    sharded_ids = [r.vec_id for r in S.sharded_topk(corpus, q, k=K, n_shards=8).collect()]
    assert sharded_ids == global_ids


def test_topk_l2_metric(corpus, np_corpus):
    ids, X = np_corpus
    q = list(X[3])
    got = S.topk(corpus, q, k=K, metric="l2").collect()
    d = ((X - np.asarray(q)) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))[:K]
    assert [r.vec_id for r in got] == list(ids[order])
    assert all(r.score <= 1e-9 for r in got)  # neg distance: higher is better


def test_knn_join_matches_expr_baseline(corpus, tables):
    """Pruned mapInPandas path == pure-expression window baseline."""
    queries = corpus.filter("vec_id < 6").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    fast = S.knn_join(queries, corpus, k=5, query_id="qid", query_vec="qvec")
    slow = S.knn_join_expr(queries, corpus, k=5)
    f = {(r.qid, r.rank): r.neighbor_id for r in fast.collect()}
    s = {(r.qid, r.rank): r.neighbor_id for r in slow.collect()}
    assert f == s


def test_knn_join_grouped_scopes_to_namespace(tables):
    """Grouped kNN == per-group filter + ungrouped kNN, and every
    neighbor shares its query's group; physically the group key is an
    equi-join (BroadcastHashJoin), never a cross product."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        physical_plan,
    )

    emb = tables["embeddings"]
    queries = emb.filter("vec_id < 6").select(
        "label", F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = S.knn_join_grouped(queries, emb, group_col="label", k=4)
    rows = res.collect()
    qlabel = {r.qid: r.label for r in queries.collect()}
    assert all(r.label == qlabel[r.qid] for r in rows)
    # parity vs scoping by hand, one group at a time
    for g in {r.label for r in queries.collect()}:
        byhand = S.knn_join_expr(
            queries.filter(F.col("label") == g),
            emb.filter(F.col("label") == g),
            k=4,
        )
        got = {(r.qid, r.rank): r.neighbor_id for r in rows if r.label == g}
        exp = {(r.qid, r.rank): r.neighbor_id for r in byhand.collect()}
        assert got == exp
    plan = physical_plan(res)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_knn_join_chunked_equals_unchunked(corpus):
    """|Q| above the driver-collect chunk cap: chunk-and-union must be
    exact (per-qid independence)."""
    queries = corpus.filter("vec_id < 9").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    whole = S.knn_join(queries, corpus, k=3, query_id="qid", query_vec="qvec")
    chunked = S.knn_join(queries, corpus, k=3, query_id="qid", query_vec="qvec", query_chunk=2)
    w = {(r.qid, r.rank): r.neighbor_id for r in whole.collect()}
    c = {(r.qid, r.rank): r.neighbor_id for r in chunked.collect()}
    assert w == c and len(w) == 9 * 3


def test_knn_join_empty_queries(corpus, spark):
    queries = corpus.filter("vec_id < 0").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    assert S.knn_join(queries, corpus, k=3, query_id="qid", query_vec="qvec").count() == 0


def test_collection_topk_shard_is_partition_pruned(corpus, spark, tmp_path):
    """Single-shard search over the durable collection opens only that
    shard's partition directory (reference per-shard endpoint)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import ingest as I
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        physical_plan,
    )

    prepared = I.assign_shard(I.normalized(corpus), 4, how="mod")
    path = str(tmp_path / "coll")
    I.write_collection(prepared, path, n_shards=4, mode="overwrite")
    q = [0.1] * 64
    df = S.collection_topk(spark, path, q, k=5, shard=2)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters:")[1].splitlines()[0]
    got = {r.vec_id for r in df.collect()}
    expect_universe = {r.vec_id for r in prepared.filter("shard = 2").collect()}
    assert got <= expect_universe and len(got) == 5


def test_collection_topk_warm_read_is_one_job(corpus, spark, tmp_path):
    """A warm read reuses the collection's schema, so the top-k is its
    only Spark job (no schema-inference job before it), and an
    overwrite that changes the schema is seen by the next read."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import ingest as I

    sc = spark.sparkContext
    prepared = I.assign_shard(I.normalized(corpus), 4, how="mod")
    path = str(tmp_path / "coll")
    I.write_collection(prepared, path, n_shards=4, mode="overwrite")
    S.collection_topk(spark, path, [0.1] * 64, k=5).collect()
    sc.setJobGroup("warm_collection_read", "warm collection_topk read")
    try:
        S.collection_topk(spark, path, [0.2] * 64, k=5).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("warm_collection_read")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 1

    as_string = prepared.withColumn("vec_id", F.concat(F.lit("v"), F.col("vec_id")))
    I.write_collection(as_string, path, n_shards=4, mode="overwrite")
    rows = S.collection_topk(spark, path, [0.1] * 64, k=5).collect()
    assert len(rows) == 5 and all(r.vec_id.startswith("v") for r in rows)


def test_lsh_topk_subset_of_corpus_and_recall(corpus, np_corpus):
    """ANN results are a subset of the exact candidate set; recall@k is
    measurable and ≤ 1."""
    ids, X = np_corpus
    q = list(X[0])
    planes = S.random_hyperplanes(n_planes=4, dim=64, seed=7)
    approx = S.lsh_topk(corpus, q, planes, k=K)
    exact = S.topk(corpus, q, k=K)
    rec = S.recall_at_k(
        exact.withColumnRenamed("vec_id", "neighbor_id"),
        approx.withColumnRenamed("vec_id", "neighbor_id"),
        k=K,
    ).collect()[0].recall
    assert 0.0 <= rec <= 1.0
    approx_ids = {r.vec_id for r in approx.collect()}
    assert approx_ids <= set(ids.tolist())


def test_topk_per_group_equals_filtered_topk(corpus, np_corpus):
    """Per-group window rank == running topk() on each group's filter —
    one scan replacing G scans, same results."""
    ids, X = np_corpus
    q = list(X[0])
    grouped = corpus.withColumn("g", (F.col("vec_id") % 3).cast("int"))
    got = {}
    for r in S.topk_per_group(grouped, q, "g", k=4).collect():
        got.setdefault(r.g, []).append(r.vec_id)
    for g in range(3):
        expect = [
            r.vec_id
            for r in S.topk(grouped.filter(F.col("g") == g), q, k=4).collect()
        ]
        assert got[g] == expect


def test_knn_join_broadcast_budget_split_is_exact(corpus, spark):
    """|Q| over the broadcast budget → per-split scans whose union has
    exactly the same ids/ranks as the single-broadcast path."""
    queries = corpus.filter("vec_id < 8").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    whole = S.knn_join(queries, corpus, k=3, query_id="qid", query_vec="qvec")
    split = S.knn_join(
        queries, corpus, k=3, query_id="qid", query_vec="qvec", max_broadcast_rows=3
    )
    w = {(r.qid, r.rank): r.neighbor_id for r in whole.collect()}
    s = {(r.qid, r.rank): r.neighbor_id for r in split.collect()}
    assert w == s and len(w) == 8 * 3


def test_lsh_probe_buckets_weakest_margin_order(np_corpus):
    """Probe list: query bucket first, then single-bit flips ordered by
    ascending |margin|, all distinct; two-bit flips appear only after
    every single flip."""
    ids, X = np_corpus
    q = list(X[0])
    planes = S.random_hyperplanes(n_planes=4, dim=64, seed=7)
    all_probes = S.lsh_probe_buckets(q, planes, n_probe_buckets=16)
    assert sorted(all_probes) == list(range(16))  # full coverage, no dups
    qb = all_probes[0]
    assert qb == S.lsh_probe_buckets(q, planes, 1)[0]
    # margins, same sequential fold
    margins = []
    for p in planes:
        s = 0.0
        for x, y in zip(q, p):
            s += float(x) * float(y)
        margins.append(abs(s))
    flipped_bits = [(qb ^ b).bit_length() - 1 for b in all_probes[1:5]]
    assert [margins[j] for j in flipped_bits] == sorted(margins)


def test_lsh_multiprobe_recall_is_monotone(corpus, np_corpus):
    """More probed buckets → candidate superset → recall and result
    quality can only improve (multi ≥ single, exact ⊇ both)."""
    ids, X = np_corpus
    q = list(X[0])
    planes = S.random_hyperplanes(n_planes=4, dim=64, seed=7)
    exact = S.topk(corpus, q, k=K)

    def recall(n_probe):
        approx = S.lsh_topk(corpus, q, planes, k=K, n_probe_buckets=n_probe)
        return S.recall_at_k(
            exact.withColumnRenamed("vec_id", "neighbor_id"),
            approx.withColumnRenamed("vec_id", "neighbor_id"),
            k=K,
        ).collect()[0].recall

    r1, r4, rall = recall(1), recall(4), recall(2 ** 4)
    assert r1 <= r4 <= rall
    assert rall == 1.0  # probing every one of the 2^4 buckets IS exact


def test_ivf_topk_probes_cells(corpus, np_corpus):
    ids, X = np_corpus
    q = list(X[1])
    centroids = [(i, list(X[i * 37 % len(X)])) for i in range(4)]
    out = S.ivf_topk(corpus, q, centroids, k=K, nprobe=2).collect()
    assert 0 < len(out) <= K
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)


def test_knn_classify_majority_and_weighted(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import search as S

    # corpus: 2 tight clusters on orthogonal axes with labels 0/1; one
    # noise point of label 9 near cluster 0
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 0),
            (1, [0.99, 0.1, 0.0], 0),
            (2, [0.98, 0.15, 0.0], 9),
            (10, [0.0, 1.0, 0.0], 1),
            (11, [0.1, 0.99, 0.0], 1),
            (12, [0.15, 0.98, 0.0], 1),
        ],
        "vec_id int, embedding array<double>, label int",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0]), (200, [0.05, 1.0, 0.0])],
        "qid int, embedding array<double>",
    )
    out = {r.qid: (r.pred_label, r.votes) for r in S.knn_classify(queries, corpus, k=3).collect()}
    assert out[100] == (0, 2)  # labels {0,0,9} -> majority 0
    assert out[200] == (1, 3)

    # weighted mode ranks by summed similarity first: two weak votes for
    # label 7 (0.4 + 0.4 = 0.8) lose to one strong vote for label 5 (1.0)
    corpus2 = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 5),          # sim 1.0 to the query
            (1, [0.4, 0.9165151], 7),    # sim 0.4
            (2, [0.4, -0.9165151], 7),   # sim 0.4
        ],
        "vec_id int, embedding array<double>, label int",
    )
    q2 = spark.createDataFrame([(1, [1.0, 0.0])], "qid int, embedding array<double>")
    plain = S.knn_classify(q2, corpus2, k=3).collect()[0]
    assert (plain.pred_label, plain.votes) == (7, 2)
    weighted = S.knn_classify(q2, corpus2, k=3, weighted=True).collect()[0]
    assert weighted.pred_label == 5 and abs(weighted.vote_score - 1.0) < 1e-6


def test_knn_classify_excludes_null_labels(spark):
    """NULL-labeled corpus rows carry no class information: they must
    not form a vote group (or win ties — NULL sorts first under asc)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import search as S

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 7),
            (1, [0.99, 0.05], None),
            (2, [0.98, 0.1], None),
        ],
        "vec_id int, embedding array<double>, label int",
    )
    queries = spark.createDataFrame([(1, [1.0, 0.0])], "qid int, embedding array<double>")
    rows = S.knn_classify(queries, corpus, k=3).collect()
    assert len(rows) == 1
    # 2 NULL neighbors vs 1 labeled: NULLs excluded, label 7 wins with 1 vote
    assert rows[0].pred_label == 7 and rows[0].votes == 1


def test_mrl_topk_two_tier(spark, tables):
    import numpy as np
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import search as S
    from pyspark.sql import functions as F

    emb = tables["embeddings"]
    qv = emb.filter("vec_id = 0").head()["embedding"]
    out = S.mrl_topk(emb, qv, m=16, k=5, shortlist=40).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == 0  # self survives the prefix shortlist
    rows = {r["vec_id"]: r for r in emb.select("vec_id", "embedding").collect()}
    for r in out:
        full = float(np.dot(np.asarray(rows[r["vec_id"]]["embedding"], dtype=np.float64),
                            np.asarray(qv, dtype=np.float64)))
        pref = float(np.dot(np.asarray(rows[r["vec_id"]]["embedding"][:16], dtype=np.float64),
                            np.asarray(qv[:16], dtype=np.float64)))
        assert abs(r["score"] - full) < 1e-9
        assert abs(r["prefix_score"] - pref) < 1e-9
    # shuffle-free prefix scan
    short = (
        emb.select("vec_id")
        .join(S.mrl_topk(emb, qv, m=16, k=5, shortlist=40).select("vec_id"), "vec_id")
    )
    plan = S.mrl_topk(emb, qv, m=16, k=5, shortlist=40)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and "BroadcastHashJoin" in plan


def test_ranking_metrics_hand_computed(spark):
    """nDCG@k and MRR against a hand-worked example: 3 queries, k=3."""
    import math

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        search as S,
    )

    exact = spark.createDataFrame(
        [(q, n) for q in (1, 2, 3) for n in (10, 20, 30)],
        "qid int, neighbor_id int",
    )
    approx = spark.createDataFrame(
        [
            # q1: perfect ranking
            (1, 10, 1), (1, 20, 2), (1, 30, 3),
            # q2: one relevant hit, at rank 2
            (2, 99, 1), (2, 10, 2), (2, 98, 3),
            # q3: nothing relevant
            (3, 97, 1), (3, 98, 2), (3, 99, 3),
        ],
        "qid int, neighbor_id int, rank int",
    )
    got = {r.qid: r for r in S.ranking_metrics(exact, approx, k=3).collect()}
    idcg = sum(1.0 / math.log2(r + 1) for r in (1, 2, 3))
    assert abs(got[1].ndcg - 1.0) < 1e-12 and got[1].mrr == 1.0
    assert abs(got[2].ndcg - (1.0 / math.log2(3)) / idcg) < 1e-12
    assert got[2].mrr == 0.5
    assert got[3].ndcg == 0.0 and got[3].mrr == 0.0


def test_ranking_metrics_truncates_past_k(spark):
    """An approx list longer than k must not earn credit past the
    cutoff: nDCG@k stays ≤ 1 and MRR ignores hits at rank > k
    (ADVICE round 5 — search.py ranking_metrics)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        search as S,
    )

    exact = spark.createDataFrame(
        [(1, n) for n in (10, 20)], "qid int, neighbor_id int"
    )
    # 4 approx rows for k=2: both relevant hits sit PAST the cutoff
    approx = spark.createDataFrame(
        [(1, 97, 1), (1, 98, 2), (1, 10, 3), (1, 20, 4)],
        "qid int, neighbor_id int, rank int",
    )
    got = S.ranking_metrics(exact, approx, k=2).collect()[0]
    assert got.ndcg == 0.0 and got.mrr == 0.0
    # and a perfect in-window list still scores 1.0 even with trailing junk
    approx2 = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 97, 3), (1, 98, 4)],
        "qid int, neighbor_id int, rank int",
    )
    got2 = S.ranking_metrics(exact, approx2, k=2).collect()[0]
    assert abs(got2.ndcg - 1.0) < 1e-12 and got2.mrr == 1.0


def test_more_like_these_centroid_and_exclusion(spark):
    # 2D-style toy in 64 dims: seeds point at e0; candidates at e0/e1
    import numpy as np

    def v(d, scale=1.0):
        x = [0.0] * 64
        x[d] = scale
        return x

    rows = [
        (0, v(0)), (1, v(0, 2.0)),          # seeds along dim 0
        (10, v(0, 5.0)),                     # candidate aligned with centroid
        (11, v(1)),                          # orthogonal
        (12, [0.7071] * 2 + [0.0] * 62),     # 45 degrees
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = S.more_like_these(df, [0, 1], k=3).collect()
    # seeds excluded, aligned candidate first, orthogonal last
    assert [r.vec_id for r in got] == [10, 12, 11]
    assert got[0].score == pytest.approx(1.0)
    assert got[2].score == pytest.approx(0.0, abs=1e-9)


def test_knn_join_materializes_query_plan_once(corpus, spark):
    """r8 fix: a DERIVED query frame (here a mapInPandas whose row
    throughput is counted by an accumulator) must be computed exactly
    once per knn_join call — the old shape re-ran its plan for the
    budget count, the toPandas, and once more per split filter."""

    acc = spark.sparkContext.accumulator(0)
    src = corpus.filter("vec_id < 8").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    def counted(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    derived = src.mapInPandas(counted, schema="qid long, qvec array<float>")
    # split path: 8 queries / budget 3 → 3 splits; the derived plan
    # must still run exactly once (persisted at depth 0)
    out = S.knn_join(
        derived, corpus, k=3, query_id="qid", query_vec="qvec",
        max_broadcast_rows=3,
    )
    assert out.count() == 8 * 3
    assert acc.value == 8, f"query plan ran {acc.value}/8 rows' worth"


def test_knn_join_preserves_caller_cache(corpus, spark):
    """r9 ADVICE fix: knn_join must not unpersist a query frame the
    CALLER had already cached (persist is a no-op there, but an
    unconditional unpersist would evict the caller's cache)."""
    src = corpus.filter("vec_id < 4").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cached = src.persist()
    try:
        assert S.knn_join(cached, corpus, k=2, query_id="qid",
                          query_vec="qvec").count() == 4 * 2
        assert cached.is_cached, "knn_join evicted the caller's cache"
    finally:
        cached.unpersist()


# ---------------------------------------------------------------------------
# MMR diversified top-k
# ---------------------------------------------------------------------------


def test_mmr_demotes_redundant_near_duplicates(spark):
    # two tight clusters: plain top-3 would be all of cluster A (closest
    # to the query); MMR must interleave cluster B after the first pick
    # cluster A sits OFF the query axis (so its mutual similarity ~1 is
    # far above its relevance ~0.92 and the penalty bites); cluster B is
    # equally relevant on the other side of the axis, mutual sim ~0.65
    rows = [
        (1, [0.92, 0.39, 0.0]),    # cluster A: top relevance
        (2, [0.91, 0.41, 0.0]),    # near-dup of 1
        (3, [0.90, 0.43, 0.0]),    # near-dup of 1
        (4, [0.88, -0.43, 0.0]),   # cluster B: relevant but distinct
        (5, [0.87, -0.45, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        r.id
        for r in S.mmr_topk(corpus, [1.0, 0.0, 0.0], k=3, pool=5, lam=0.7)
        .orderBy("rank")
        .collect()
    ]
    plain = [
        r.vec_id
        for r in S.topk(corpus, [1.0, 0.0, 0.0], k=3, metric="cosine").collect()
    ]
    assert plain == [1, 2, 3]       # relevance-only: the redundant cluster
    assert got[0] == 1 and 4 in got  # MMR: diversity pick surfaces
    assert got != plain

    # exact duplicates: three copies of A (ids 0-2) and one B (id 3),
    # query ≈ A; the 2nd A-copy's max-sim penalty (~1) outweighs its
    # relevance edge, so B is picked by rank 3
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.001]),
        (2, [0.999, 0.001, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.05, 0.0]
    plain = [r.vec_id for r in S.topk(corpus, q, k=3, metric="cosine").collect()]
    got = [
        r.id
        for r in S.mmr_topk(corpus, q, k=3, pool=4, lam=0.5).orderBy("rank").collect()
    ]
    assert 3 not in plain
    assert got[0] == plain[0] and 3 in got


def test_mmr_lambda_one_equals_plain_topk(spark, tables):
    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(1, 40)]
    synthetic = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb = tables["embeddings"].select("vec_id", "embedding")
    q_emb = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    for corpus, q, k, pool in [(synthetic, [1.0, 2.0, 0.5], 4, 10), (emb, q_emb, 5, 20)]:
        got = [
            r.id
            for r in S.mmr_topk(corpus, q, k=k, pool=pool, lam=1.0).orderBy("rank").collect()
        ]
        plain = [r.vec_id for r in S.topk(corpus, q, k=k, metric="cosine").collect()]
        assert got == plain


def test_mmr_knn_join_matches_per_query_mmr(tables):
    q = (
        tables["embeddings"]
        .filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    batch = {
        (r.qid, r.rank): r.id
        for r in S.mmr_knn_join(
            q, tables["embeddings"], k=4, pool=15, lam=0.7
        ).collect()
    }
    for row in q.collect():
        solo = S.mmr_topk(
            tables["embeddings"], list(row.embedding), k=4, pool=15, lam=0.7
        ).collect()
        for r in solo:
            assert batch[(row.qid, r.rank)] == r.id, (row.qid, r.rank)


def test_mutual_knn_cuts_one_way_edges(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.search import mutual_knn

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.99, 0.141]),   # mutual with 1
        (3, [0.0, 1.0]),
        (4, [0.1, 0.995]),    # mutual with 3
        (5, [0.707, 0.707]),  # points at 2, but nobody's top-1 is 5
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {(r.id_a, r.id_b) for r in mutual_knn(df, k=1).collect()}
    assert out == {(1, 2), (3, 4)}
    # k=4 over 5 points: every non-self pair is mutual -> C(5,2) edges
    assert mutual_knn(df, k=4).count() == 10


def test_nn_descent_recall_improves_and_deterministic(spark, tables):
    """NN-descent (r11): recall@k vs the exact brute-force graph
    improves monotonically with rounds and reaches a high plateau;
    the graph is a pure function of the input (partitioning-
    independent), self-free, exactly k rows per node."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        search as S,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    n = emb.count()
    k = 10
    # exact graph via the oracle-checked knn_join machinery
    q = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    exact = (
        S.knn_join(q, emb, k=k + 1, query_vec="qvec")
        .filter(F.col("qid") != F.col("neighbor_id"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("neighbor_id"))
    exact_edges = {
        (r.qid, r.neighbor_id)
        for r in exact.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .collect()
    }

    recalls = []
    for rounds in (0, 1, 2):
        g = S.nn_descent(emb, k=k, rounds=rounds).collect()  # k_build=2k default
        got = {(r.node, r.nbr) for r in g}
        # structure: k rows per node, self-free, ranks 1..k
        per_node = {}
        for r in g:
            assert r.node != r.nbr
            per_node.setdefault(r.node, []).append(r.rank)
        assert all(sorted(v) == list(range(1, k + 1)) for v in per_node.values())
        assert len(per_node) == n
        recalls.append(len(got & exact_edges) / len(exact_edges))
    assert recalls[0] < recalls[1] <= recalls[2] + 1e-9, recalls
    assert recalls[2] > 0.9, recalls  # widened-build plateau at 2 rounds
    assert recalls[0] < 0.6  # init blocking alone is far from exact
    # determinism across partitionings
    g2 = {
        (r.node, r.nbr, round(r.score, 9))
        for r in S.nn_descent(emb.repartition(7), k=k, rounds=2).collect()
    }
    g1 = {
        (r.node, r.nbr, round(r.score, 9))
        for r in S.nn_descent(emb, k=k, rounds=2).collect()
    }
    assert g1 == g2
    import pytest

    with pytest.raises(ValueError, match="k must"):
        S.nn_descent(emb, k=0)
    with pytest.raises(ValueError, match="metric"):
        S.nn_descent(emb, metric="hamming")


def test_nn_descent_near_dup_composition(spark, tables):
    """The kNN graph IS the scale path for embedding near-dup: filter
    the nn_descent edges at the cosine threshold and canonicalize —
    recall vs the exact brute-force pair set is high and measured
    (the dedup_recall self-audit pattern applied to the graph tier)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        search as S,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    # plant near-duplicates: 20 vectors re-appear with tiny jitter
    dup = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.000001)).alias(
            "embedding"
        ),
    )
    corpus = emb.unionByName(dup)
    tau = 0.999
    g = S.nn_descent(corpus, k=5, rounds=2)
    got = {
        (min(r.node, r.nbr), max(r.node, r.nbr))
        for r in g.filter(F.col("score") >= tau).collect()
    }
    # exact pair set via the oracle-checked brute-force machinery
    q = corpus.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    exact = {
        (min(r.qid, r.neighbor_id), max(r.qid, r.neighbor_id))
        for r in S.knn_join(q, corpus, k=6, query_vec="qvec")
        .filter((F.col("qid") != F.col("neighbor_id")) & (F.col("score") >= tau))
        .collect()
    }
    planted = {(i, i + 100_000) for i in range(20)}
    assert planted <= exact  # sanity: the plant is above threshold
    recall = len(got & exact) / len(exact)
    assert recall >= 0.95, (recall, len(exact))
    assert got <= exact  # no false positives: scores are exact cosines


def test_nn_descent_empty_input_schema_matches_id_type(spark):
    """Empty input must return a frame whose node/nbr types mirror the
    caller's id column (string here), so it unions with a non-empty
    run's output instead of long-vs-string clashing (r11 ADVICE)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        search as S,
    )

    schema = "doc_id string, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    g0 = S.nn_descent(empty, k=3, id_col="doc_id", vec_col="embedding")
    assert g0.count() == 0
    assert dict(g0.dtypes)["node"] == "string"
    assert dict(g0.dtypes)["nbr"] == "string"
    full = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0]), ("d", [0.1, 1.0])],
        schema,
    )
    g1 = S.nn_descent(full, k=2, id_col="doc_id", vec_col="embedding")
    # the union is the contract: same column names AND types
    assert g0.unionByName(g1).count() == g1.count() == 8
