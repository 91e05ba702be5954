"""Physical-plan shape assertions (SURVEY.md §4): the scale contract is
what the plan *does*, not what the code intends. Enforced here so a
regression that silently de-optimizes a path fails CI."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
    relational as R,
    search as S,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
    assert_plan_contains,
)

# part of the fast driver-gate subset (default `pytest` selection per
# pytest.ini; `-m ''` runs the full suite)
pytestmark = pytest.mark.driver_gate


def test_topk_compiles_to_take_ordered(tables):
    """Flagship search must be TakeOrderedAndProject — per-partition
    bounded top-k + driver merge, no global sort, no shuffle."""
    df = S.topk(tables["embeddings"], [0.1] * 64, k=10)
    assert_plan_contains(df, "TakeOrderedAndProject", absent=("Exchange",))


def test_pricing_summary_pushes_filter_and_partial_agg(tables):
    plan = assert_plan_contains(
        R.pricing_summary(tables), "HashAggregate", "PushedFilters"
    )
    # the shipdate predicate must reach the parquet scan, not sit in a
    # post-scan Filter only
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_pricing_summary_prunes_columns(tables):
    plan = assert_plan_contains(R.pricing_summary(tables), "ReadSchema")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema  # wide column pruned from scan
    assert "l_quantity" in read_schema


def test_revenue_by_nation_broadcasts_dims(tables):
    plan = assert_plan_contains(R.revenue_by_nation(tables), "BroadcastHashJoin")
    # the only sort-merge-or-shuffle join allowed is lineitem ⋈ orders
    assert plan.count("BroadcastHashJoin") >= 4


def test_join_back_is_broadcast(spark, tables):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import ingest as I

    hits = spark.createDataFrame([(0, "x", 1.0)], "qid int, chunk_id string, score double")
    chunks = I.chunk_documents(tables["documents"], max_words=50)
    df = I.join_back(hits, chunks.withColumnRenamed("chunk_id", "chunk_id"))
    assert_plan_contains(df, "BroadcastHashJoin", absent=("SortMergeJoin",))


def test_anti_join_pushes_date_filter(tables):
    """customers_without_orders: the orderdate filter must reach the
    orders scan, and the join must be an anti join (no full outer
    materialization)."""
    plan = assert_plan_contains(
        R.customers_without_orders(tables), "LeftAnti", "PushedFilters"
    )
    pushed = plan.split("PushedFilters")
    assert any("o_orderdate" in seg[:200] for seg in pushed[1:])


def test_cube_is_single_expand_pass(tables):
    """CUBE compiles to one Expand + Aggregate — no per-grouping-set
    re-scan of orders."""
    import re

    plan = assert_plan_contains(R.order_priority_cube(tables), "Expand")
    # formatted explain prints each node in the tree AND a details
    # section — count scan node headers "(n) Scan parquet"
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_knn_join_scans_corpus_once(tables):
    """Multi-chunk batch kNN must NOT rescan the corpus per query
    chunk: all chunks ride one broadcast into a single mapInPandas, so
    the plan has exactly one corpus scan and one Python worker stage
    regardless of |Q|/query_chunk."""
    import re

    q = (
        tables["embeddings"]
        .filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    # query_chunk=3 → 3 chunks of the 8 queries; still one scan
    df = S.knn_join(q, tables["embeddings"], k=3, query_chunk=3)
    plan = assert_plan_contains(df, "MapInPandas")
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1


def test_bm25_broadcasts_term_stats(tables):
    """BM25: the per-term document-frequency dimension (≤ |q| rows)
    must broadcast — the corpus side never shuffles for that join."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        lexical,
    )

    df = lexical.bm25_topk(tables["documents"], "spark join window", k=5)
    plan = assert_plan_contains(df, "BroadcastHashJoin", "TakeOrderedAndProject")
    assert "SortMergeJoin" not in plan


def test_embeddings_scan_prunes_label(tables):
    """Column pruning: a 2-column projection must not read `label`."""
    df = tables["embeddings"].select("vec_id", "embedding").limit(5)
    plan = assert_plan_contains(df, "ReadSchema")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "label" not in read_schema


def test_pq_adc_plan_shape(tables):
    """PQ read path: encode is ONE MapInPandas riding the scan (no
    shuffle before it), ADC scoring + top-k stay JVM-side as
    TakeOrderedAndProject — no second Python stage."""
    import re

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        pq as PQ,
    )

    corpus = tables["embeddings"].select("vec_id", "embedding")
    rows = corpus.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    books = PQ.codebooks_from_rows([list(r.embedding) for r in rows], 8)
    qvec = rows[0].embedding
    df = PQ.pq_adc_topk(PQ.pq_encode(corpus, books), books, qvec, k=10)
    plan = assert_plan_contains(df, "MapInPandas", "TakeOrderedAndProject")
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1
    # map-only encode + per-partition top-k merge at the driver: the
    # whole single-query PQ search plan needs zero shuffles
    assert "Exchange" not in plan


def test_pii_scrub_is_single_scan_projection(spark):
    """PII counts + redaction + digest must stay one scan, one
    projection: no Exchange, no join, no Python stage."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark import contract

    df = contract.q_pii_scrub(spark, "/root/testdata/sf0.001")
    plan = assert_plan_contains(
        df, "Scan parquet", absent=("Exchange", "Join", "Python")
    )
    tree = plan.split("(1)")[0]  # the tree block, before the node details
    assert tree.count("Scan parquet") == 1


def test_repetition_is_zero_shuffle_projection(tables):
    """All three repetition statistics are per-row expressions over the
    sorted n-gram array — the plan must be one scan with NO Exchange,
    no join, no Python stage (skew-free by construction)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        textstats as T,
    )

    # fan_out's RoundRobin Exchange (pure parallelism) is allowed; any
    # KEYED exchange (hash/range), join, agg, window, or Python stage
    # would mean the stats left the per-row projection.
    assert_plan_contains(
        T.repetition_stats(tables["documents"]),
        "Scan parquet",
        absent=(
            "hashpartitioning",
            "rangepartitioning",
            "Join",
            "Python",
            "HashAggregate",
            "Window",
        ),
    )


def test_pack_sequences_no_stratum_sequential_window(tables):
    """The data-sized window must partition by (stratum, __pid) — never
    by the stratum alone — so one dominant language can't serialize the
    cumsum through a single task. The only stratum-partitioned window
    allowed is the tiny strata x P offsets frame (input is __ptot)."""
    import re

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        sampling,
    )
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        physical_plan,
    )

    plan = physical_plan(
        sampling.pack_sequences(tables["documents"], seq_len=512, by="lang")
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, plan
    for spec in specs:
        # partition spec = everything before the first ordering term
        part = spec.split(" ASC")[0].split(" DESC")[0]
        if "__pid" in part:
            continue  # the (stratum, __pid)-keyed data window: fine
        # a stratum-only window is only legal over the offsets frame
        assert "__ptot" in spec or "_w" in spec, f"stratum-sequential window: {spec}\n{plan}"


def test_tfidf_topk_pushes_group_limit(tables):
    """Per-doc top-k must compile to WindowGroupLimit (partial group
    limit before the shuffle), not rank-then-filter over the full
    (doc, term) frame."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import lexical

    df = lexical.tfidf_top_terms(tables["documents"], k=3)
    assert_plan_contains(df, "WindowGroupLimit", absent=("CartesianProduct",))


def test_skew_report_is_take_ordered(tables):
    """The diagnostic must cost one count-shuffle + broadcast totals +
    bounded top-N merge — no global sort."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.partitioning import (
        skew_report,
    )

    df = skew_report(tables["lineitem"], ["l_suppkey"], top_n=10)
    assert_plan_contains(df, "TakeOrderedAndProject")


def test_plan_summary_structure(tables):
    """plan_summary turns the explain text into assertable numbers."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        plan_summary,
    )

    ps = plan_summary(R.revenue_by_nation(tables))
    assert ps["n_scans"] >= 5  # fact + four dims (broadcast)
    assert ps["joins"].get("BroadcastHashJoin", 0) >= 4
    # AQE plans may defer codegen annotation; the key must exist either way
    assert "wholestage_codegen" in ps
    simple = plan_summary(tables["embeddings"].select("vec_id").limit(3))
    assert simple["n_exchanges"] == 0 and not simple["has_cartesian"]
    assert simple["joins"] == {}


def test_rp_topk_is_codegen_take_ordered(tables):
    """JL projected search: the unrolled projection must stay inside
    whole-stage codegen (no HOF fallback) and compile to the same
    TakeOrderedAndProject shape as the flagship — no Exchange."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        projection as PJ,
    )

    corp = PJ.rp_embed(tables["embeddings"], out_dim=16)
    qp = PJ.rp_project_point([0.1] * 64, out_dim=16)
    df = S.topk(corp, qp, k=10, vec_col="rp")
    plan = assert_plan_contains(df, "TakeOrderedAndProject", absent=("Exchange",))
    # the projection is an Arrow-batched fold (the 1024-term unrolled
    # expression exceeded HotSpot's huge-method JIT limit — round 8);
    # the scoring scan itself must still carry a codegen id
    assert "ArrowEvalPython" in plan and "[codegen id" in plan


def test_prefix_jaccard_is_equi_join_only(tables):
    # collide-then-verify must never degrade to a cross product
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import dedup as D

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        physical_plan,
    )

    df = D.prefix_jaccard_pairs(tables["documents"], threshold=0.7)
    plan = physical_plan(df)
    assert any(
        j in plan for j in ("ShuffledHashJoin", "SortMergeJoin", "BroadcastHashJoin")
    ), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_zorder_stats_is_single_partial_agg(tables):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.layout import (
        zorder_stats,
    )

    plan = assert_plan_contains(
        zorder_stats(tables["lineitem"], "l_partkey", "l_suppkey"),
        "HashAggregate",
        absent=("CartesianProduct", "Generate"),
    )
    # one exchange for the bucket partials, one for the final tiny sort
    assert plan.count("Exchange") <= 4, plan


def test_containment_pairs_no_cross_product(tables):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import dedup as D
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        physical_plan,
    )

    df = D.containment_pairs(tables["documents"], threshold=0.8)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_snm_uses_range_exchange_no_global_window(tables):
    """Sorted-neighborhood's rank must come from the distributed-prefix
    shape: a RANGE exchange + per-partition windows — never a
    single-partition global window over the records."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import dedup as D
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        physical_plan,
    )

    df = D.sorted_neighborhood_pairs(tables["documents"], "lang", "doc_id", window=2)
    plan = physical_plan(df)
    # the range exchange + within-partition window live INSIDE the
    # checkpoint (lineage cut) — what the final plan must show is: the
    # neighborhood join is equi-key, and the only Window nodes operate
    # on the P-row partition-offset ladder (input carries __ptot), not
    # the record frame
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    for seg in plan.split("\n\n"):
        if seg.startswith("(") and "Window" in seg.splitlines()[0]:
            assert "__ptot" in seg, seg


def test_mutual_knn_single_corpus_scan(tables):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import search as S2
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        physical_plan,
    )

    df = S2.mutual_knn(tables["embeddings"], k=3)
    plan = physical_plan(df)
    # knn_join's one-scan property must survive the composition
    assert plan.count("Scan parquet") <= 1, plan


def test_nn_descent_final_plan_is_pinned(tables):
    """nn_descent joins the iterative family: every round pins, so the
    final plan reads materialized RDDs — no parquet re-scan of the
    vector source, no cartesian, no global Window."""
    from pyspark.sql import functions as F
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import search as S2
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        physical_plan,
    )

    g = S2.nn_descent(tables["embeddings"].select("vec_id", "embedding"), k=5, rounds=1)
    plan = physical_plan(g)
    assert "Scan parquet" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan


def test_sparse_retrieval_plan_shapes(spark, tables):
    """Sparse tier scale contracts: single-query top-k ends in
    TakeOrderedAndProject with no cartesian; the batch join BROADCASTS
    the query postings (corpus side never shuffles before the matched-
    pair groupBy)."""
    from pyspark.sql import functions as F
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import sparse as SP
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        physical_plan,
    )

    docs = tables["documents"].limit(200)
    sv = SP.sparse_from_text(docs)
    qi, qv = SP.sparse_query_py("spark join window")
    plan = physical_plan(SP.sparse_topk(sv, qi, qv, k=5))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    qsv = sv.limit(3).withColumnRenamed("doc_id", "qid")
    plan2 = physical_plan(SP.sparse_knn_join(qsv, sv, k=3))
    assert "BroadcastHashJoin" in plan2
    assert "CartesianProduct" not in plan2


def test_planner_exact_branch_pushes_filter(spark, tables):
    """The planner's pre-filter-exact branch must keep the flagship
    TakeOrderedAndProject and read the corpus once (broadcast semi-join
    on the allowed ids, no cartesian)."""
    from pyspark.sql import functions as F
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import planner as PL
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        physical_plan,
    )

    emb = tables["embeddings"]
    qv = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    allowed = emb.filter(F.col("label") == 1).select("vec_id")
    df = PL.filtered_topk_auto(emb, qv, allowed, k=5, graph=None)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan



def test_bm25_knn_join_stopword_filter_below_query_doc_exchange(spark, tables):
    """With max_df_ratio set, the df <= ratio·N stop-word predicate must
    be applied below the (qid, doc_id) shuffle, so stop-term rows never
    reach the per-query aggregation (as a Filter or as the condition of
    the join it was folded into)."""
    import re

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        lexical,
    )
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        physical_plan,
    )

    queries = spark.createDataFrame(
        [(1, "spark join window"), (2, "the data")], "qid long, qtext string"
    )
    df = lexical.bm25_knn_join(tables["documents"], queries, k=5, max_df_ratio=0.5)
    lines = [line for line in physical_plan(df, "simple").splitlines() if line.strip()]

    def depth(line):
        return re.search(r"[A-Za-z]", line).start()

    ex = next(
        i for i, line in enumerate(lines)
        if re.search(r"Exchange hashpartitioning\(qid#\d+L?, doc_id#", line)
    )
    end = next(
        (j for j in range(ex + 1, len(lines)) if depth(lines[j]) <= depth(lines[ex])),
        len(lines),
    )
    cap = re.compile(r"df#\d+L? as double\) <= \(cast\(__n#\d+L? as double\) \* 0\.5\)")
    below = [line for line in lines[ex + 1:end] if cap.search(line)]
    above = [line for line in lines[:ex] if cap.search(line)]
    assert below and not above, "\n".join(lines)
