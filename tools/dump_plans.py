"""Render the physical plans of representative queries into PLANS.md —
the scale-contract audit artifact: what each plan does (pushdown,
pruning, broadcast, codegen) is visible without running anything."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark import contract  # noqa: E402
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (  # noqa: E402
    physical_plan,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

#: query name → one-line scale-contract note shown above its plan
AUDITED = {
    "topk_cosine": (
        "Flagship search: TakeOrderedAndProject = per-partition bounded top-k "
        "+ driver merge (the coordinator algorithm); no Exchange, scan prunes to 2 columns."
    ),
    "knn_join": (
        "Batch kNN: mapInPandas scores each corpus partition against the broadcast "
        "query chunk and prunes to per-batch top-k BEFORE the shuffle; the window "
        "then ranks O(parts·|Q|·k) survivors, not O(|Q|·N) pairs."
    ),
    "near_dup_pairs_minhash": (
        "MinHash-LSH: shingle→signature is a narrow projection; the only joins are "
        "the band-bucket equi-join (candidates) and the id equi-joins (verify) — "
        "collide-then-verify, never N²; signature subtree persisted across branches."
    ),
    "pricing_summary": (
        "TPC-H Q1 shape: shipdate filter pushed to the parquet scan (PushedFilters), "
        "columns pruned (ReadSchema), partial aggregation map-side."
    ),
    "revenue_by_nation": (
        "TPC-H Q5 shape: every join broadcast (five BroadcastHashJoins), single "
        "aggregate; at 100 TB bucket lineitem+orders by orderkey to keep the big "
        "join co-partitioned."
    ),
    "events_asof": (
        "As-of join: union both sides, ONE shuffle on the key, carry-forward window "
        "— equi-join cost for a temporal join; no range cross join."
    ),
    "curate_corpus": (
        "Curation composite: quality/lang predicates evaluate before any hashing; "
        "exact dedup window precedes the (more expensive) near-dup joins; final "
        "anti-join touches doc_id only."
    ),
    "bm25_topk": (
        "Lexical BM25: one corpus pass; the (doc,term) partial agg shuffles only "
        "matched query-term rows; the per-term df dimension (|q| rows) broadcasts; "
        "final top-k is TakeOrderedAndProject."
    ),
    "pq_topk": (
        "Product quantization: MapInPandas encodes each partition as one Arrow "
        "distance tensor (no shuffle — rides the scan); the ADC score is a pure "
        "codegen'd LUT fold over the m-byte code; final top-k is "
        "TakeOrderedAndProject. At 100 TB the scan this replaces read 4·D bytes "
        "per row; the codes read m."
    ),
    "sq_topk": (
        "Scalar quantization: encode + affine score fold are ONE JVM scan stage "
        "(zero Exchange, zero Python — plan-asserted in tests/test_sq.py); the "
        "codes read ~1 byte/dim at rest vs 4. Top-k is TakeOrderedAndProject."
    ),
    "repetition_stats": (
        "Repetition signals: ZERO-shuffle per-row projection — sort the n-gram "
        "array, run boundaries give distinct count and mode count in the same "
        "expression. One scan, no keyed Exchange/agg/window (plan-asserted); "
        "skew-free by construction. 18× over the old explode→two-agg shape."
    ),
    "contamination_pairs": (
        "Decontamination: the token-HASH array is projected in its own step (one "
        "regex split per row — the inline form re-tokenized ~7x under interpreted "
        "HOF eval), window keys hash from it (no n-gram strings), and the Generate "
        "BroadcastHashJoins against the (tiny) probe key table — the big side never "
        "shuffles; only colliding (train_id, probe_id) pairs enter the one "
        "partial-agg Exchange; the containment denominator joins broadcast."
    ),
    "pii_scrub": (
        "PII scrub: counts + redaction + digest are ONE projection over one scan — "
        "no Exchange, no join; regexes ride the parquet scan inside codegen."
    ),
    "budget_select": (
        "Token-budget selection: distributed prefix sum — RangePartitioning exchange "
        "on the order key, per-partition running-sum window, P-row offset aggregate "
        "broadcast back. No single-partition window over the corpus."
    ),
    "pack_sequences": (
        "Sequence packing: distributed prefix-sum keyed by (stratum, slice) — "
        "slice ids are a deterministic CASE projection from a column-pruned id "
        "percentile job (r9: no RangePartitioning, whose boundary-sampling pass "
        "re-tokenized the corpus), so the data-sized window group is bounded by "
        "the slice size, never the stratum size, and a mostly-one-language "
        "corpus still parallelizes (plan-asserted: no stratum-only windowspec)."
    ),
    "knn_classify": (
        "kNN classification: knn_join's single pruned corpus scan produces the "
        "|Q|·k neighbor frame, which BROADCASTS back onto the corpus for the label "
        "lookup — the big side never shuffles; the vote aggregate is |Q|·k rows."
    ),
    "lm_doc_scores": (
        "Bigram-LM scoring: ONE corpus explode aggregates to the vocab-sized "
        "bigram counts (contexts/V derive from that frame, not extra corpus "
        "scans); scoring re-explodes and broadcast-joins the counts — the only "
        "corpus-sized shuffle is the final doc-keyed mean."
    ),
    "bq_topk": (
        "Binary quantization: XOR+popcount Hamming over packed sign-bit longs "
        "into a shuffle-free TakeOrderedAndProject shortlist; the exact rerank "
        "broadcast-joins the shortlist so the float column is read for "
        "shortlist rows only (8 bytes/vector on the scan path)."
    ),
    "kmeans_assign": (
        "k-means E-step: argmin of k literal-unrolled squared-L2 folds — one "
        "projection, zero Exchange; the kxD centroid matrix rides the closure, "
        "never a join."
    ),
    "semantic_dedup": (
        "SemDeDup blocking: both sides assign clusters in their scan, the "
        "equi-join on cluster replaces the all-pairs cross product "
        "(sum of block squares, same economics as MinHash banding)."
    ),
    "mixture_sample": (
        "Mixture resampling: counts -> lambda -> rates as a tiny agg subtree "
        "broadcast back onto the one corpus scan; the kept set is a pure "
        "hash-filter projection (no RNG stream, partitioning-invariant)."
    ),
    "maxsim_topk": (
        "Late interaction: chunk+embed in one scan, |Q| dot expressions in one "
        "projection against driver-literal query vectors, one doc-keyed agg "
        "with map-side partial maxes, TakeOrderedAndProject tail."
    ),
    "mrl_topk": (
        "Matryoshka: prefix-dim dot shortlist (shuffle-free "
        "TakeOrderedAndProject over a slice of the vector column) -> "
        "broadcast-pruned full-dim exact rerank — the BQ/SQ/PQ two-tier "
        "skeleton at 1/4 the scan arithmetic."
    ),
    "bm25_knn_join": (
        "Batch BM25: ONE corpus tokenization for the whole query set — "
        "union-term broadcast semi-filter on the explode, tf/df shared "
        "across queries, per-query fan-out via broadcast term join, "
        "candidates-only window; the only corpus-sized exchange is the "
        "(doc, term) aggregation."
    ),
    "hybrid_topk_linear": (
        "Linear fusion: two k-row min-max aggregates broadcast back onto "
        "their k-row lists, full-outer merge, weighted sum — all frames "
        "post-top-k, so fusion cost is O(k) regardless of corpus size."
    ),
    "dup_span_stats": (
        "Duplicated spans: explode→hash projection (strings leave the plan at "
        "the first Exchange), per-(doc,hash) partial agg, hash-keyed doc-freq "
        "agg, equi-join back — two (doc,hash) shuffles total, never all-pairs; "
        "the popular-n-gram join skew is 1:N and AQE-splittable."
    ),
    "dsir_weights": (
        "DSIR: one gram explode → (doc,bucket) partial agg is the only "
        "corpus-sized Exchange; both the raw and target bucket distributions "
        "are ≤n_buckets-row aggregates BROADCAST back onto it."
    ),
    "dsir_resample": (
        "Gumbel-top-k draw: hash-uniform + noise in one projection over the "
        "weight frame, then TakeOrderedAndProject — per-partition bounded "
        "top-n, no full sort, partitioning-invariant by construction."
    ),
    "c4_clean": (
        "C4 cleaning: line split/filter/rejoin and the page gate are ONE "
        "projection over one scan — no Exchange, no join, no UDF."
    ),
    "gopher_rules": (
        "Gopher rules: all seven rule signals and their conjunction evaluate "
        "in ONE projection over the token/line splits — no Exchange, no UDF."
    ),
    "normalized_dedup": (
        "Normalized dedup: canonicalize+md5 in the scan projection; ONE "
        "hash-keyed aggregate over (md5, id) — the payload never shuffles."
    ),
    "incremental_near_dup": (
        "Cross-corpus dedup: the new batch's band buckets equi-join the "
        "corpus's — only corpus buckets hit by an incoming band key are "
        "touched, so cost tracks the batch's collisions, not corpus size; "
        "exact-Jaccard verify joins the two signature frames on ids only."
    ),
    "event_funnel": (
        "Funnel: per-stage conditional min-aggregates chained by user-key "
        "equi-joins — one keyed Exchange per stage; no window over the raw "
        "event stream, no per-user arrays."
    ),
    "ranking_quality": (
        "nDCG/MRR: both rankings are k-row frames; the metric join and "
        "groupBy touch |Q|·k rows — evaluation cost is independent of "
        "corpus size once the rankings exist."
    ),
    "ivfpq_topk": None,  # scratch-dir index: audited in tests/test_pq.py instead
    "ivf_knn_join": None,  # scratch-dir index: audited in tests/test_ann_index.py
    "lsh_topk_indexed": None,  # written by the ann_index section below
    "key_skew": (
        "Heavy-hitter diagnostic: one count-only shuffle on the key (the same "
        "exchange the troubled join would pay, carrying counts not rows), scalar "
        "totals broadcast back, bounded TakeOrderedAndProject merge."
    ),
    "tfidf_top_terms": (
        "Keyword extraction: explode → (doc,term) partial agg; the vocabulary "
        "(term,df) frame joins back by term; per-doc top-k compiles to "
        "WindowGroupLimit Partial+Final — pruned map-side BEFORE the shuffle."
    ),
    "leakage_split": (
        "Group-aware split: connected components over near-dup pairs (pointer-"
        "jumping rounds), the doc-with-dup-sized component frame joins back "
        "(AQE broadcasts when sparse), then a pure-projection hash gate."
    ),
    "rolling_hour": (
        "Trailing time window: ONE Exchange on the key, RangeFrame on epoch-µs "
        "— per-key window state bounded by the window span, not the corpus."
    ),
    "scd2_history": (
        "SCD2 intervals: one shuffle on the key, one lead window in "
        "deterministic (ts, id) order — equi-join-cost history derivation."
    ),
    "item_cooccurrence": (
        "Co-visitation: distinct → per-user cap as WindowGroupLimit (map-side, "
        "pre-shuffle — hot users bounded at cap² pairs), equi-self-join on user, "
        "pair partial agg; no cartesian anywhere."
    ),
    "value_rank": (
        "Exact global rank WITHOUT the single-task global window: range "
        "partition on the order key, per-partition row_number, P-row offset "
        "frame broadcast back — the one WindowExec with no partition runs on "
        "P rows, not the corpus."
    ),
    "cdc_snapshot": (
        "CDC apply: latest-change dedup shuffles the CHANGELOG only "
        "(WindowGroupLimit map-side), the changed-key set anti-joins the "
        "snapshot (broadcast under AQE), survivors union — snapshot never "
        "shuffles."
    ),
    "rate_limited": (
        "Admission control: one shuffle on (user, window); the quota rank "
        "is a bounded per-group window — the streaming twin holds one "
        "(window, count) struct per key instead."
    ),
    "decayed_engagement": (
        "Factored exponential decay: per-key min and the cumulative sum "
        "share ONE hashpartitioning exchange; no UDF, no recursion."
    ),
    "value_bars": (
        "OHLC resampling: ONE map-side-combining groupBy per bar; "
        "open/close via lexicographic struct min/max — no window, no "
        "corpus sort."
    ),
    "event_transitions": (
        "Markov transitions: per-user lead (bounded window state), pair "
        "partial agg; probability normalizes over the tiny types² frame."
    ),
    "conversion_latency": (
        "As-of lookback without a self-join: carry-forward max over "
        "unbounded-preceding rows — one shuffle on the key."
    ),
    "rp_topk": (
        "JL sign projection: ONE Arrow-batched fold per batch (the 1024-term "
        "unrolled expression fell off HotSpot's huge-method JIT cliff — round 8), "
        "scored and TakeOrderedAndProject'd like the flagship; no Exchange, no "
        "stored artifact (matrix is hash-derived)."
    ),
    "salted_join": (
        "Salted skew join: fact salt is a pure projection, dim explodes ×salts; "
        "the join keys are (key, salt) so a hot key spreads over salts tasks; "
        "result provably identical to the plain join."
    ),
    "prefix_jaccard_pairs": (
        "Prefix-filtered all-pairs: document-frequency agg, rarity sort per doc "
        "(bounded by doc length), equi-join on PREFIX shingles only, exact "
        "array_intersect verify on candidates — equi-key work throughout, no "
        "cartesian product (plan-asserted)."
    ),
    "zorder_stats": (
        "Z-order probe: Morton interleave is one integer Project (codegen), then "
        "a single partial-agged HashAggregate onto ≤2^bucket_bits rows."
    ),
    "mmr_topk": (
        "MMR diversified top-k: the relevance pool is a bounded "
        "TakeOrderedAndProject scan (the only corpus-sized work, pinned); "
        "the greedy runs over pool-row frames only."
    ),
    "mmr_knn_join": (
        "Batch MMR: one knn_join corpus scan for pool membership, then k-1 "
        "set-level per-qid windowed argmax passes over |Q|*pool rows - the "
        "sequential greedy parallelized across queries."
    ),
    "pareto_front": (
        "Skyline: distinct pairs → per-hash-partition sort-sweep windows (local "
        "prune), survivors into one tiny global sweep — the global sort sees "
        "survivor counts, not the table."
    ),
    "containment_pairs": (
        "Directed containment join: A-prefix explode joined against the full-B "
        "posting equi-key (SortMergeJoin on shingle), length filter, then two "
        "id equi-joins for the exact verify — collide-then-verify, no cross "
        "product anywhere."
    ),
    "snm_pairs": (
        "Sorted-neighborhood: RangePartitioning exchange + per-partition "
        "running count + broadcast offset ladder (the distributed-prefix "
        "shape) gives the global sort rank with NO single-partition window; "
        "neighborhood pairing is an equi-join on rank."
    ),
    "compaction_plan": (
        "Compaction planning: per-partition windows over the file inventory "
        "only — the plan frame is inventory-sized; no global ordering, no "
        "driver greedy loop."
    ),
    "ar_forecast7": (
        "AR(2)+bands (r10): one calendar aggregate + one lag equi-join onto "
        "p·days pairs; Durbin-Levinson and the recursive forecasts are scalar "
        "projections over 1-row broadcast frames; band quantiles over the "
        "fitted-residual calendar frame."
    ),
    "sparse_topk": (
        "Sparse (SPLADE-shape) retrieval (r13-s2): inverted postings via one "
        "explode, literal IN-list on the query's terms, per-doc term-ordered "
        "fold; the only wide op is the per-doc groupBy over MATCHED postings, "
        "then TakeOrderedAndProject."
    ),
    "sparse_knn_join": (
        "Batch sparse (r13-s2): BROADCAST query postings joined to the corpus "
        "postings stream on term — one corpus pass, no corpus-side shuffle "
        "before the partial-aggregated (qid, doc) groupBy of matched pairs."
    ),
    "hybrid_tri_rrf": (
        "Tri-hybrid fusion (r13-s2): three independent top-20 subtrees (dense "
        "TakeOrdered, BM25, sparse) meet in rank-only full-outer joins over "
        "≤60 rows — fusion cost is constant, never corpus-shaped."
    ),
    "hnsw_topk": (
        "HNSW serving (r13-s2): layer assignment is a pure projection "
        "(integer mods of the portable hash); each descent hop is an "
        "edge equi-join + per-query top-width window over |Q|-sized frames; "
        "the base beam inherits the graph tier's pinned-round discipline."
    ),
    "planned_filtered_topk": (
        "Cost-based filtered search (r13-s2): the planner's chosen branch "
        "here is pre-filter-exact — label predicate PUSHED to the scan, "
        "broadcast semi-join on the allowed ids, then the flagship "
        "TakeOrderedAndProject over the surviving rows only."
    ),
}


def main() -> None:
    spark = get_spark("plan_dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**contract.queries(), **contract.extra_queries()}
    out = [
        "# PLANS — physical-plan audit (generated by tools/dump_plans.py)",
        "",
        f"Plans below are `explain('formatted')` output at {SF_DIR}. The notes state",
        "the scale contract each plan is expected to satisfy; tests/test_plans.py",
        "asserts the load-bearing properties mechanically.",
        "",
    ]
    for name, note in AUDITED.items():
        if note is None:
            continue
        df = qs[name](spark, SF_DIR)
        out += [f"## {name}", "", note, "", "```", physical_plan(df).strip(), "```", ""]

    # materialized ANN index: build once, show the partition-pruned read
    import shutil
    import tempfile

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        ann_index as A,
    )
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.sources.catalog import (
        load_tables,
    )

    t = load_tables(spark, SF_DIR)
    tmp = tempfile.mkdtemp(prefix="plans_lsh_")
    try:
        A.write_lsh_index(
            t["embeddings"].select("vec_id", "embedding"), tmp, contract.LSH_PLANES
        )
        qv = contract._query_vec(spark, SF_DIR)
        df = A.lsh_topk_indexed(spark, tmp, qv, k=10)
        out += [
            "## lsh_topk_indexed",
            "",
            "Materialized ANN: the query's bucket is a PARTITION filter — only the "
            "probed bucket directory is opened; exact rerank inside.",
            "",
            "```",
            physical_plan(df).strip(),
            "```",
            "",
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # trigram grep index: build once, show the bucket-pruned postings read
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        grep as GR,
    )

    tmp = tempfile.mkdtemp(prefix="plans_tg_")
    try:
        GR.write_trigram_index(t["documents"], tmp)
        df = GR.grep_indexed(spark, tmp, t["documents"], contract.GREP_PATTERN)
        out += [
            "## grep_indexed",
            "",
            "Trigram grep: the postings read is pruned by PartitionFilters on "
            "tg_bucket to the pattern's (rarest) trigrams; AND-intersection is one "
            "partial-agg Exchange over candidate postings; contains-verify joins "
            "candidates back — the corpus text column is read only for survivors.",
            "",
            "```",
            physical_plan(df).strip(),
            "```",
            "",
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # graph-ANN serving tier (r12): the pinned beam-search final plan
    from pyspark.sql import functions as F

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        graph_ann as GA,
    )
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        search as S2,
    )

    g = S2.nn_descent(
        t["embeddings"].select("vec_id", "embedding"), k=5, rounds=1
    )
    gq = t["embeddings"].limit(50).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    df = GA.graph_beam_search(gq, t["embeddings"], g, k=5, beam=8, rounds=2)
    out += [
        "## graph_beam_search",
        "",
        "Graph-ANN serving: every round is localCheckpoint-pinned, so the final "
        "plan is the top-k window over the LAST materialized beam (Scan "
        "ExistingRDD — no parquet re-scan, no cartesian, plan size independent "
        "of round count). The per-round joins (frontier x edges, seen anti-join, "
        "scoring joins) are equi-key — asserted by the unpinned plan X-ray in "
        "tests/test_graph_ann.py; the only nested-loop join anywhere is the "
        "conditionless n_entry-row broadcast entry fan-out at init.",
        "",
        "```",
        physical_plan(df).strip(),
        "```",
        "",
    ]

    # radius search (r13): the strictly-cheaper-than-top-k plan shapes
    qv = t["embeddings"].filter(F.col("vec_id") == 0).head()["embedding"]
    df = S2.range_search(t["embeddings"], qv, 0.25)
    out += [
        "## range_search",
        "",
        "Radius search: scan → score → filter, ZERO Exchanges — no window, "
        "no TakeOrdered heap (there is no k to rank toward); output size is "
        "selectivity-bound, the caller's contract. Scan prunes to 2 columns.",
        "",
        "```",
        physical_plan(df).strip(),
        "```",
        "",
    ]
    df = S2.range_join(gq, t["embeddings"], 0.25)
    out += [
        "## range_join (matmul path)",
        "",
        "Batch radius join: ONE mapInPandas corpus scan scores every Arrow "
        "batch against the broadcast query chunks and emits only in-range "
        "pairs — and that is the whole plan: unlike kNN there is no global "
        "window stage, because the predicate is per-pair (no cross-partition "
        "interaction). Zero Exchanges.",
        "",
        "```",
        physical_plan(df).strip(),
        "```",
        "",
    ]

    # graph+PQ serving (r13): compressed-domain traversal final plan
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        pq as PQ2,
    )

    rows = t["embeddings"].filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    books = PQ2.codebooks_from_rows([list(r["embedding"]) for r in rows], 8)
    codes = PQ2.pq_encode(t["embeddings"], books)
    df = GA.graph_beam_search_pq(
        gq, codes, books, g, k=5, beam=8, rounds=2, rerank=8,
        vectors=t["embeddings"],
    )
    out += [
        "## graph_beam_search_pq (+ exact rerank)",
        "",
        "DiskANN-proper read path: the traversal's scoring joins read the "
        "m-bytes/row codes table (ADC fold against the per-query LUT column — "
        "one codegen projection, no Python on the scoring path), rounds pinned "
        "as in graph_beam_search; this final plan is the rerank stage — the "
        "|Q|·rerank shortlist BROADCAST onto the full-vector table (the only "
        "touch of 4·D-byte rows anywhere), exact fold rescore, per-query "
        "window over ≤ rerank rows.",
        "",
        "```",
        physical_plan(df).strip(),
        "```",
        "",
    ]

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
