"""Late-interaction MaxSim retrieval (operators/rag.maxsim_topk):
per-token best-alignment beats pooled single-vector retrieval on
multi-topic docs, and the plan stays one scan + one doc-keyed agg."""

from __future__ import annotations

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import rag


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_maxsim_rewards_per_token_alignment(spark):
    filler_a = " ".join(f"fillerA{i}" for i in range(6))
    filler_b = " ".join(f"fillerB{i}" for i in range(6))
    docs = _docs(
        spark,
        [
            # doc 1: both query topics, in DIFFERENT chunks (multi-topic)
            (1, f"alpha {filler_a} || beta {filler_b}".replace("||", " ")),
            # doc 2: only one topic
            (2, f"alpha {filler_a} gammagamma {filler_b}"),
            # doc 3: neither
            (3, f"{filler_a} deltadelta {filler_b}"),
        ],
    )
    out = rag.maxsim_topk(docs, "alpha beta", k=3, dim=32, max_words=8).collect()
    ranks = {r["doc_id"]: i for i, r in enumerate(out)}
    scores = {r["doc_id"]: r["score"] for r in out}
    # the doc aligning BOTH tokens (each via its own chunk) wins
    assert ranks[1] == 0
    assert scores[1] > scores[2] > scores[3]


def test_maxsim_plan_single_doc_shuffle(spark):
    docs = _docs(spark, [(1, "a b c d e f g h"), (2, "x y z w v u t s")])
    df = rag.maxsim_topk(docs, "a x", k=2, dim=16, max_words=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly one exchange: the doc-keyed aggregation
    assert plan.count("Exchange hashpartitioning") <= 1


# --- materialized index (operators/maxsim_index) -------------------------

import shutil
import tempfile

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
    maxsim_index as MI,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
    physical_plan,
)


def _corpus(spark, n=40):
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(30)) + f" tag{i % 5}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_maxsim_indexed_exactly_matches_query_time(spark):
    docs = _corpus(spark)
    tmp = tempfile.mkdtemp(prefix="maxsim_idx_")
    try:
        MI.write_maxsim_index(docs, tmp, dim=32, max_words=8, n_planes=4)
        q = "w1 w5 tag2"
        want = rag.maxsim_topk(docs, q, k=7, dim=32, max_words=8).collect()
        got = MI.maxsim_topk_indexed(spark, tmp, q, k=7).collect()
        # bit-identical: same stored hash_embedding arrays, same fold order
        assert [(r.doc_id, r.score) for r in got] == [
            (r.doc_id, r.score) for r in want
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_maxsim_indexed_bound_is_sound_per_doc(spark):
    # UB(doc) from the cell summary must dominate the exact score for
    # EVERY doc — the property the top-k pruning proof rests on
    docs = _corpus(spark, n=25)
    tmp = tempfile.mkdtemp(prefix="maxsim_ub_")
    try:
        MI.write_maxsim_index(docs, tmp, dim=32, max_words=8, n_planes=3)
        q = "w3 w11"
        exact = {
            r.doc_id: r.score
            for r in rag.maxsim_topk(docs, q, k=100, dim=32, max_words=8).collect()
        }
        # recompute UB the way the query path does
        from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.embed import (
            hash_embed_py,
        )
        import math

        q_vecs = [hash_embed_py(t, dim=32) for t in q.split()]
        cells = spark.read.parquet(tmp + "/cells").collect()
        ub = {}
        for row in cells:
            mu, r = row["mu"], float(row["r"])
            ub[int(row["cell"])] = [
                sum(a * b for a, b in zip(qv, mu))
                + r * math.sqrt(sum(x * x for x in qv))
                for qv in q_vecs
            ]
        dm = spark.read.parquet(tmp + "/docmap").collect()
        doc_cells = {}
        for row in dm:
            doc_cells.setdefault(row["doc_id"], set()).add(int(row["cell"]))
        for d, sc in exact.items():
            ubd = sum(
                max(ub[c][i] for c in doc_cells[d]) for i in range(len(q_vecs))
            )
            assert ubd >= sc - 1e-9, (d, ubd, sc)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_maxsim_rerank_read_prunes_doc_buckets(spark):
    docs = _corpus(spark)
    tmp = tempfile.mkdtemp(prefix="maxsim_pf_")
    try:
        MI.write_maxsim_index(docs, tmp, dim=32, max_words=8, n_planes=4)
        from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.embed import (
            hash_embed_py,
        )

        q_vecs = [hash_embed_py(t, dim=32) for t in ["w1", "tag2"]]
        df = MI._exact_scores(spark, tmp, q_vecs, "doc_id", 32, [1, 2, 3])
        plan = physical_plan(df)
        assert "PartitionFilters" in plan
        part = plan.split("PartitionFilters:")[1].splitlines()[0]
        assert "doc_bucket" in part  # pruning reaches the scan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_maxsim_indexed_fallback_full_scan_still_exact(spark):
    # max_candidates=0 forces the loose-bound fallback: one full index
    # scan, result still identical
    docs = _corpus(spark, n=20)
    tmp = tempfile.mkdtemp(prefix="maxsim_fb_")
    try:
        MI.write_maxsim_index(docs, tmp, dim=32, max_words=8, n_planes=3)
        q = "w2 w9"
        want = [
            (r.doc_id, r.score)
            for r in rag.maxsim_topk(docs, q, k=5, dim=32, max_words=8).collect()
        ]
        got = [
            (r.doc_id, r.score)
            for r in MI.maxsim_topk_indexed(spark, tmp, q, k=5, max_candidates=0).collect()
        ]
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
