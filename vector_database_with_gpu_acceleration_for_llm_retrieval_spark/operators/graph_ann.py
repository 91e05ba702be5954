"""Query-time serving and incremental maintenance for the NN-descent
kNN graph (:func:`..search.nn_descent`) — the graph-based ANN tier's
answer to the reference's core serving loop (coordinator/main.py:58-73
fan-out -> shard/server.py:79 per-shard search -> coordinator merge):
a batch of query vectors is answered FROM the graph by distributed
best-first beam search (DiskANN/HNSW-style), without falling back to
LSH/IVF/flat.

Design notes (the 100 TB shape):

- Every per-round operation is an EQUI-join: frontier x edges on the
  node id, candidates x vectors on the node id, candidates x queries
  on the query id.  No cartesian products anywhere; the single
  intentional cross join is queries x the n_entry-row broadcast entry
  frame at init (bounded by ``n_entry``, a constant).
- Rounds are FIXED and every round's survivor state is
  ``localCheckpoint``-pinned (the graph-module pinned-iteration rule:
  round r replans against a materialized r-1, so the plan never grows
  with the round count and a lost executor replays one round, not the
  whole search).
- Work per query is bounded by ``n_entry + rounds * beam * deg`` score
  evaluations (deg = the graph's out-degree k), independent of corpus
  size N — the whole point of the graph tier: at 100 TB the beam
  touches thousands of vectors while LSH/IVF shortlists grow with N
  unless re-tuned.
- Ties break (score desc, id asc) everywhere, so results are
  deterministic and partitioning-independent (pytest-asserted).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import vector as V

__all__ = [
    "graph_beam_search",
    "graph_beam_search_pq",
    "medoid_entries",
    "calibrate_beam",
    "write_graph_pq_index",
    "graph_pq_topk_indexed",
    "graph_insert",
    "graph_delete",
    "delete_from_graph_snapshot",
    "validate_graph_snapshot",
]

_HASH_MOD = 1_000_003


def _metric_fn(metric):
    if callable(metric):
        # pluggable scoring seam: callable(query_side_col, node_side_col)
        # → score Column (the graph-PQ tier's ADC fold plugs in here)
        return metric
    if metric == "cosine":
        return V.cosine_sim
    if metric == "l2":
        return V.neg_l2sq
    raise ValueError(f"unknown metric {metric!r}")


def graph_beam_search(
    queries: DataFrame,
    vectors: DataFrame,
    graph: DataFrame,
    k: int = 10,
    beam: int = 32,
    rounds: int = 4,
    n_entry: int = 8,
    metric: str = "cosine",
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
    stats: dict | None = None,
    entries: DataFrame | None = None,
    allowed: DataFrame | None = None,
    entries_per_query: DataFrame | None = None,
) -> DataFrame:
    """Batch best-first beam search over a prebuilt kNN graph — the
    query-time completion of :func:`..search.nn_descent` and the
    engine's graph-tier serving operator (reference loop:
    coordinator/main.py:58-73 + shard/server.py:79, re-expressed as
    set-at-a-time dataflow over the whole query batch at once).

    Algorithm (the DiskANN/HNSW greedy search, batched):

    1. ENTRY: ``n_entry`` entry nodes chosen deterministically by
       minimal ``xxhash64(id, seed)`` — hash-selected medoid stand-ins
       (no RNG: the whole search is a pure function of its inputs, the
       nn_descent init rationale).  Every query starts from the same
       entry set, shipped as one tiny broadcast.  Callers may instead
       pass ``entries`` (a frame with ``id_col``) to pin the entry set
       explicitly — the DiskANN explicit-medoid form; ``n_entry`` is
       then ignored.  This is also what makes the serving loop
       SQL-mirrorable: the contract's oracle pair selects entries by a
       rule both engines can express (lowest ids), sidestepping the
       engine-private xxhash64.
    2. ROUND (x ``rounds``, fixed): expand EVERY not-yet-expanded beam
       node through the graph's out-edges (one equi-join frontier x
       edges), drop already-scored candidates per query (anti-join
       against the seen set — the nn_descent "fresh" discipline),
       score survivors (equi-join to the vector table on node id, then
       to the query table on query id), merge into the beam and keep
       the top ``beam`` per query (window, score desc / id asc).
       The scored frame, the beam, and the seen set are each
       localCheckpoint-pinned per round (scored feeds both the beam
       merge and the seen union — pinning it once halves the scoring
       work); a round that scores ZERO fresh candidates ends the
       search early with bit-identical results (every later round
       would expand nothing), so clustered corpora pay only the
       rounds they need, not the fixed budget.
    3. ANSWER: top ``k`` of the final beam per query,
       ``(qid, neighbor_id, score, rank)`` — the :func:`..search
       .knn_join` output contract, so recall tooling and rerankers
       compose unchanged.

    Scale: per-query work is ``n_entry + rounds*beam*deg`` scorings
    regardless of N (see module docstring); the per-round shuffles key
    on (query id) and (node id) only.  The beam frame holds
    ``|Q| * beam`` rows, the seen frame at most ``|Q| * (n_entry +
    rounds*beam*deg)`` ids — both linear in the query batch, never in
    the corpus.

    ``stats`` (optional dict): on return, ``stats["n_scored"]`` holds
    the total number of (query, node) score evaluations — the honest
    candidate-count yardstick the recall tests compare against LSH
    multiprobe at equal work.

    ``allowed`` (optional frame with ``id_col``): FILTERED search, the
    ACORN / filtered-DiskANN form every production vector store pairs
    with metadata predicates.  The TRAVERSAL is unchanged — the beam
    routes through the FULL graph, disallowed nodes included, because
    pruning edges by the predicate fragments the graph exactly when
    the filter is selective (the failure mode of post-filter-the-
    graph) — but the ANSWER is the per-query top ``k`` of every scored
    candidate that IS in ``allowed``, accumulated across rounds (a
    bounded |Q|·k frame merged per round, same discipline as the
    beam).  Disallowed nodes still navigate; they just can't be
    returned.  Answers may hold fewer than k rows for very selective
    filters (LIMIT semantics) — raise ``rounds``/``beam`` to widen the
    explored region, and measure with the recall entry (a post-filter
    of the unfiltered search at the same budget is a strict subset of
    this: every allowed node the plain search scores is in the
    accumulator by construction).

    Recall is pytest-measured vs exact :func:`..search.knn_join`
    (tests/test_graph_ann.py — the iterative no-SQL-mirror precedent).
    ``rounds`` must cover the graph's diameter plus beam settling:
    measured on the 500x64 RANDOM testdata embeddings (the hardest
    case, no cluster structure) with a deg-10 nn_descent graph,
    beam=10 / n_entry=4 gives recall@10 0.418 at rounds=2 but
    **0.967 at rounds=4** (181 scorings/query) and 0.990+ with
    beam=16 / rounds=5 — versus multiprobe LSH's ~0.5 at the same
    candidate count.  Hence the rounds=4 default; real embedding
    corpora (clustered) converge faster.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if beam < k:
        raise ValueError(f"beam must be >= k, got {beam} < {k}")
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    if n_entry < 1:
        raise ValueError(f"n_entry must be >= 1, got {n_entry}")
    score_fn = _metric_fn(metric)

    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qv")
    ).persist()
    v = vectors.select(
        F.col(id_col).alias("__node"), F.col(vec_col).alias("__nv")
    ).persist()
    edges = graph.select(
        F.col("node").alias("__node"), F.col("nbr").alias("__nbr")
    ).persist()

    # deterministic entry points: minimal-hash nodes (constant-size
    # TakeOrderedAndProject, then a broadcast) — or the caller's
    # explicit entry frame (still a tiny broadcast) — or, for
    # coarse-to-fine tiers (operators/hnsw.py descent), a PER-QUERY
    # entry frame (query_id, id_col): each query's beam then starts at
    # its own descended node instead of a shared global set.
    if entries_per_query is not None:
        entries = None
    elif entries is None:
        entries = (
            v.select("__node")
            .orderBy(
                F.pmod(F.xxhash64("__node", F.lit(int(seed))), F.lit(_HASH_MOD)),
                F.asc("__node"),
            )
            .limit(n_entry)
        )
    else:
        entries = entries.select(F.col(id_col).alias("__node")).distinct()

    def _score(cands: DataFrame) -> DataFrame:
        return (
            cands.join(v, "__node")
            .join(q, "__qid")
            .select(
                "__qid", "__node", score_fn("__qv", "__nv").alias("score")
            )
        )

    w_beam = Window.partitionBy("__qid").orderBy(
        F.desc("score"), F.asc("__node")
    )

    # the per-round state frames are |Q|-sized (beam = |Q|*beam rows,
    # seen a small multiple) — at probe scale that is thousands of rows
    # spread over 32 shuffle partitions, and each round's TWO eager
    # checkpoints pay the empty-task floor 32x. Coalesce to a
    # row-count-derived partition count before every pin (a million-query
    # batch keeps full parallelism, a 200-query batch pins 1 task).
    # Measured on 20k corpus / 200 queries / rounds=4: 32.3 -> 23.2 s
    # (the residual is ~10 action barriers of local[32] job floor, which
    # a million-query batch amortizes over the same ~10 jobs).
    n_q = q.count()
    parts = max(1, math.ceil(n_q * beam / 500_000))
    if entries_per_query is not None:
        init = entries_per_query.select(
            F.col(query_id).alias("__qid"), F.col(id_col).alias("__node")
        ).distinct()
    else:
        init = q.select("__qid").crossJoin(F.broadcast(entries))
    alw = None
    ans = None
    if allowed is not None:
        alw = allowed.select(F.col(id_col).alias("__node")).distinct().persist()
        # filtered mode pins the initial scored frame once: it feeds
        # the beam AND the answer accumulator (the per-round `scored`
        # pin rationale, applied to round 0)
        sc0 = _score(init).coalesce(parts).localCheckpoint(eager=True)
        ans = (
            sc0.join(alw, "__node", "left_semi")
            .withColumn("__r", F.row_number().over(w_beam))
            .filter(F.col("__r") <= k)
            .select("__qid", "__node", "score")
            .coalesce(parts)
            .localCheckpoint(eager=True)
        )
        init_scored = sc0
    else:
        init_scored = _score(init)
    beam_df = (
        init_scored
        .withColumn("__r", F.row_number().over(w_beam))
        .filter(F.col("__r") <= beam)
        .select("__qid", "__node", "score", F.lit(False).alias("__exp"))
        .coalesce(parts)
        .localCheckpoint(eager=True)
    )
    # seen must hold EVERY scored (qid, node) — including entry nodes
    # truncated out of the beam — or a far entry point gets rescored
    seen = init.coalesce(parts).localCheckpoint(eager=True)
    n_scored = seen.count() if stats is not None else None

    # seen grows ~out-degree per round; keep its partition count in the
    # same 500k-rows/partition regime without an extra count job
    deg_mult = 1.0
    for _ in range(rounds):
        deg_mult += 1.0
        frontier = beam_df.filter(~F.col("__exp")).select("__qid", "__node")
        nbrs = (
            frontier.join(edges, "__node")
            .select("__qid", F.col("__nbr").alias("__node"))
            .distinct()
        )
        fresh = nbrs.join(seen, ["__qid", "__node"], "left_anti")
        # pin the scored frame ONCE: it feeds BOTH the beam merge and
        # the seen union below, whose two eager checkpoints otherwise
        # re-evaluate its three-join scoring plan (frontier x edges x
        # vectors x queries) twice per round.  Interleaved A/B
        # (tools/idle_beam_pin_probe.py, 200 queries / 20k corpus /
        # rounds=4): a WASH at probe scale (17.49 vs 17.56 s medians —
        # the saved recompute offsets the extra pin job at the
        # local[32] job floor); ADOPTED for what the pinned count buys:
        # EXACT early termination.  Zero fresh candidates means every
        # later round would expand nothing (the frontier's neighbors
        # are all seen), so the answer is already final — measured on
        # over-provisioned rounds (2k corpus / 200 queries / rounds=16,
        # convergence ~round 8): 23.09 -> 11.43 s medians, results
        # bit-identical (tests/test_graph_ann.py early-exit X-ray).
        scored = _score(fresh).coalesce(parts).localCheckpoint(eager=True)
        n_fresh = scored.count()
        if stats is not None:
            n_scored += n_fresh
        if n_fresh == 0:
            break
        if alw is not None:
            # answers = running top-k of every scored-and-allowed
            # candidate — a bounded |Q|·k merge per round, pinned like
            # the beam.  Pre-truncation `scored` (not the beam) so a
            # good allowed node truncated out of the routing beam is
            # still answerable (== the mirror's union over sc CTEs).
            ans = (
                ans.unionByName(
                    scored.join(alw, "__node", "left_semi").select(
                        "__qid", "__node", "score"
                    )
                )
                .withColumn("__r", F.row_number().over(w_beam))
                .filter(F.col("__r") <= k)
                .select("__qid", "__node", "score")
                .coalesce(parts)
                .localCheckpoint(eager=True)
            )
        # after this round every current beam row has been expanded
        # (the frontier was exactly the unexpanded ones)
        merged = beam_df.select(
            "__qid", "__node", "score", F.lit(True).alias("__exp")
        ).unionByName(
            scored.select(
                "__qid", "__node", "score", F.lit(False).alias("__exp")
            )
        )
        beam_df = (
            merged.withColumn("__r", F.row_number().over(w_beam))
            .filter(F.col("__r") <= beam)
            .select("__qid", "__node", "score", "__exp")
            .coalesce(parts)
            .localCheckpoint(eager=True)
        )
        seen = (
            seen.unionByName(scored.select("__qid", "__node"))
            .coalesce(max(parts, math.ceil(parts * deg_mult)))
            .localCheckpoint(eager=True)
        )

    if stats is not None:
        # additive, so upstream tiers (hnsw descent) can pre-charge
        # their own scorings into the same honest budget counter
        stats["n_scored"] = stats.get("n_scored", 0) + int(n_scored)
    q.unpersist()
    v.unpersist()
    edges.unpersist()
    if alw is not None:
        alw.unpersist()
    final = ans if ans is not None else beam_df
    return (
        final.withColumn("rank", F.row_number().over(w_beam))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("qid"),
            F.col("__node").alias("neighbor_id"),
            "score",
            "rank",
        )
    )


def graph_beam_search_pq(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    graph: DataFrame,
    k: int = 10,
    beam: int = 32,
    rounds: int = 4,
    n_entry: int = 8,
    rerank: int | None = None,
    vectors: DataFrame | None = None,
    rerank_metric: str = "cosine",
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    code_col: str = "code",
    vec_col: str = "embedding",
    seed: int = 0,
    stats: dict | None = None,
    entries: DataFrame | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """DiskANN-proper serving: beam search over the kNN graph scored
    ENTIRELY in the compressed domain (PQ asymmetric-distance lookups
    over the m-bytes/row ``codes`` table), with an optional exact
    rerank of the final beam against the full vectors.

    This composes the engine's two scale tiers into the canonical
    100 TB layout: the GRAPH bounds work per query (``n_entry +
    rounds·beam·deg`` scorings, corpus-size-independent — module
    docstring), and PQ bounds the BYTES each scoring touches (m code
    bytes instead of 4·D vector bytes), so the traversal state that
    must be hot is |corpus|·m bytes — the DiskANN split of
    memory-resident codes + on-disk full vectors touched only by the
    final rerank's id equi-join on ≤ rerank rows per query.

    Mechanics: each query row gets its own ADC lookup table as a
    column (:func:`..pq.adc_lut_expr` — one codegen projection, no
    join), the beam's scoring join reads ``codes`` instead of vectors,
    and the fold ``Σ_j LUT[j][code_j]`` (:func:`..pq.adc_score_fn`)
    replaces the cosine — everything else (pinned rounds, exact early
    exit, ``allowed`` filtering, ``stats``) is :func:`graph_beam_search`
    unchanged, via its pluggable-metric seam.

    ``rerank``: when set (requires ``vectors`` and ``beam >= rerank``),
    the top-``rerank`` ADC answers per query are exactly rescored
    (``rerank_metric`` over the true vectors, sequential fold) and the
    top ``k`` returned — recall ≥ the pure-ADC answer by construction
    on the candidate superset (asserted in tests).  Scores are then
    TRUE similarities; without rerank they are ADC approximations of
    the inner product (L2-normalize upstream for cosine semantics,
    the reference's normalize-on-insert rule fallback_numpy_index.py:22-24).

    Oracle pair: extras ``graph_beam_pq_topk`` / ``recall_graph_pq``
    mirror the traversal with a materialized all-pairs ADC CTE feeding
    the same unrolled rounds (contract_oracle._sq_graph_beam_ctes).
    """
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import pq as PQ

    if rerank is not None:
        if vectors is None:
            raise ValueError("rerank requires the full `vectors` frame")
        if beam < rerank:
            raise ValueError(f"beam must be >= rerank, got {beam} < {rerank}")
    m = len(codebooks)
    # pin the LUT frame: adc_lut_expr is an m·ksub·dsub expression tree
    # (~1k nodes at m=8/ksub=16) — left in the lineage it re-enters
    # EVERY round's scoring plan and each round pays its analysis +
    # codegen again (measured: 18.8 s median and monotonically growing
    # reps at the 20k-corpus probe vs 7.3 s for the plain beam; pinned,
    # the rounds see a compact ExistingRDD scan).  eager=True so the
    # one materialization job happens here, not inside round 0.
    lut_q = queries.select(
        F.col(query_id).alias(query_id),
        PQ.adc_lut_expr(query_vec, codebooks).alias("__lut"),
    ).localCheckpoint(eager=True)
    res = graph_beam_search(
        lut_q,
        codes,
        graph,
        k=rerank if rerank is not None else k,
        beam=beam,
        rounds=rounds,
        n_entry=n_entry,
        metric=PQ.adc_score_fn(m),
        query_id=query_id,
        query_vec="__lut",
        id_col=id_col,
        vec_col=code_col,
        seed=seed,
        stats=stats,
        entries=entries,
        allowed=allowed,
    )
    if rerank is None:
        return res
    # exact rerank: ≤ rerank ids per query join back to the full
    # vectors (broadcast — the shortlist is |Q|·rerank rows), scored by
    # the deterministic sequential fold, top-k per query
    shortlist = res.select("qid", "neighbor_id")
    cand = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__fv")
    ).join(F.broadcast(shortlist), "neighbor_id")
    qv = queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("__qv"))
    rescored = cand.join(F.broadcast(qv), "qid").select(
        "qid", "neighbor_id", _metric_fn(rerank_metric)("__qv", "__fv").alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor_id", "score", "rank")
    )


def medoid_entries(
    vectors: DataFrame,
    n_entry: int = 8,
    kmeans_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Data-aware entry points for :func:`graph_beam_search`: k-means
    the corpus into ``n_entry`` cells and return the MEDOID of each —
    the real corpus row nearest its centroid (ties to lowest id) —
    the DiskANN entry-selection practice, vs the default
    hash-selected entries which are distribution-blind.

    Entry points that sit in distinct dense regions shorten the greedy
    walk for queries landing anywhere near those regions; on clustered
    corpora this buys recall at a FIXED beam/rounds budget (measured
    in tests/test_graph_ann.py on a planted-cluster corpus).  Cost:
    ``kmeans_iters`` passes of one-projection assign + k-row shuffle
    (operators.clustering.kmeans_fit) and one window over the final
    assignment — run once per index build, reused for every query
    batch (pass the result as ``entries=``).

    Returns an ``(id_col)`` frame of n_entry rows (fewer if the corpus
    has fewer rows)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import clustering as C

    cents, _hist = C.kmeans_fit(
        vectors, n_entry, n_iter=kmeans_iters, vec_col=vec_col, id_col=id_col
    )
    assigned = C.assign_clusters(vectors, cents, vec_col=vec_col, id_col=id_col)
    w = Window.partitionBy("cluster").orderBy(F.asc("dist"), F.asc(id_col))
    return (
        assigned.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(id_col)
    )


def calibrate_beam(
    queries: DataFrame,
    vectors: DataFrame,
    graph: DataFrame,
    k: int = 10,
    target_recall: float = 0.95,
    beams: tuple = (8, 16, 32, 64),
    rounds: int = 4,
    n_entry: int = 8,
    metric: str = "cosine",
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    entries: DataFrame | None = None,
) -> tuple[int | None, list[dict]]:
    """Offline beam-width calibration: measure recall@k of
    :func:`graph_beam_search` against the exact kNN ground truth on a
    SAMPLE of queries, sweeping ``beams`` ascending until
    ``target_recall`` is met — the operational answer to "what beam do
    I serve with?" (every production graph store ships such a tuner;
    the reference has no approximate tier to tune).

    Run this on a few hundred sampled queries, not the live traffic:
    the exact ground truth is ONE :func:`..search.knn_join` over the
    corpus (computed once, persisted, reused across the sweep), and
    each sweep step is one batched beam search — total cost ~1 exact
    scan + Σ beam searches, all distributed.  Serving then uses the
    chosen beam; re-calibrate when the corpus distribution drifts
    (pair with the drift entries).

    Returns ``(chosen_beam, frontier)`` where ``chosen_beam`` is the
    smallest swept beam meeting the target (``None`` if none did) and
    ``frontier`` is one dict per TRIED beam: ``{"beam", "recall",
    "n_scored", "scored_per_query"}`` — the measured recall/cost curve
    (the sweep stops at the first beam that meets the target, so
    untried larger beams don't appear).  Iterative + driver-ranged:
    pytest-checked, no SQL mirror (the documented harness-class
    precedent)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import search as S

    q = queries.persist()
    n_q = q.count()
    if n_q == 0:
        q.unpersist()
        return None, []
    exact = S.knn_join(
        q, vectors, k=k, metric=metric, query_id=query_id,
        query_vec=query_vec, id_col=id_col, vec_col=vec_col,
    ).persist()
    exact.count()
    frontier: list[dict] = []
    chosen = None
    try:
        for beam in sorted(set(int(b) for b in beams)):
            if beam < k:
                continue
            stats: dict = {}
            approx = graph_beam_search(
                q, vectors, graph, k=k, beam=beam, rounds=rounds,
                n_entry=n_entry, metric=metric, query_id=query_id,
                query_vec=query_vec, id_col=id_col, vec_col=vec_col,
                stats=stats, entries=entries,
            )
            rec = (
                S.recall_at_k(exact, approx, k=k, by=[query_id, "neighbor_id"])
                .agg(F.avg("recall"))
                .collect()[0][0]
            )
            rec = float(rec) if rec is not None else 0.0
            frontier.append(
                {
                    "beam": beam,
                    "recall": rec,
                    "n_scored": stats["n_scored"],
                    "scored_per_query": stats["n_scored"] / n_q,
                }
            )
            if rec >= target_recall:
                chosen = beam
                break
    finally:
        q.unpersist()
        exact.unpersist()
    return chosen, frontier


def write_graph_pq_index(
    vectors: DataFrame,
    graph: DataFrame,
    path: str,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the DiskANN serving artifact as three co-located tables
    under one root — the storage split :func:`graph_beam_search_pq`
    assumes:

    * ``codes/``   — m-bytes/row PQ codes (the memory-resident tier
      every traversal scoring touches),
    * ``edges/``   — the kNN graph's (node, nbr) adjacency,
    * ``vectors/`` — the full 4·D-byte vectors (the disk tier, touched
      only by the final rerank's id equi-join on ≤ rerank·|Q| rows),

    plus the codebooks sidecar (the write_pq_index convention, so
    hdfs:///s3:// paths work).  Separate directories, not a ``kind=``
    partition column: the three schemas differ and a traversal-only
    reader must be able to open codes+edges without ever listing the
    vector files."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import pq as PQ
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.ann_index import (
        _write_meta,
    )

    PQ.pq_encode(vectors, codebooks, vec_col=vec_col, id_col=id_col).write.mode(
        mode
    ).parquet(f"{path}/codes")
    graph.select("node", "nbr").write.mode(mode).parquet(f"{path}/edges")
    vectors.select(id_col, vec_col).write.mode(mode).parquet(f"{path}/vectors")
    _write_meta(
        vectors.sparkSession,
        path,
        {"kind": "graphpq", "codebooks": codebooks, "vec_col": vec_col},
    )


def graph_pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    beam: int = 32,
    rounds: int = 4,
    n_entry: int = 8,
    rerank: int | None = None,
    rerank_metric: str = "cosine",
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    seed: int = 0,
    stats: dict | None = None,
    entries: DataFrame | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Serve from a :func:`write_graph_pq_index` store: beam traversal
    over the persisted codes+edges (ADC scoring), optional exact
    rerank reading the vectors/ table only through the shortlist's id
    equi-join — the full materialized read path; provably identical to
    the in-memory :func:`graph_beam_search_pq` on the same inputs
    (codes are ints and edges ids — exact through the parquet round
    trip; pytest-asserted bit-for-bit, and the contract entry shares
    the in-memory oracle, the pq_topk_indexed precedent)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.ann_index import (
        _read_meta,
    )

    meta = _read_meta(spark, path)
    codebooks = meta["codebooks"]
    vec_col = meta.get("vec_col", "embedding")
    codes = spark.read.parquet(f"{path}/codes")
    graph = spark.read.parquet(f"{path}/edges")
    vectors = (
        spark.read.parquet(f"{path}/vectors") if rerank is not None else None
    )
    return graph_beam_search_pq(
        queries,
        codes,
        codebooks,
        graph,
        k=k,
        beam=beam,
        rounds=rounds,
        n_entry=n_entry,
        rerank=rerank,
        vectors=vectors,
        rerank_metric=rerank_metric,
        query_id=query_id,
        query_vec=query_vec,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        stats=stats,
        entries=entries,
        allowed=allowed,
    )


def graph_insert(
    vectors: DataFrame,
    graph: DataFrame,
    new_vectors: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    beam: int | None = None,
    rounds: int = 4,
    n_entry: int = 8,
    descent_rounds: int = 1,
    max_candidates: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """Incremental kNN-graph maintenance: fold a batch of NEW vectors
    into a FROZEN graph over the existing corpus, touching only the
    neighborhoods the new vectors land in — never rebuilding (the
    ``near_dup_against_corpus`` cross-frame discipline applied to the
    graph tier; contrast the reference GPU path re-uploading the whole
    matrix per insert batch, shard_binding.cpp:40-49).

    Steps, all equi-joins, every iteration pinned:

    1. PLACE: :func:`graph_beam_search` finds each new vector's
       approximate neighbors among the EXISTING corpus (new -> old
       edges, scores included for free).
    2. NEW-NEW: the arriving batch is blocked against itself with the
       nn_descent triple hash-blocking (batch-sized, not corpus-sized)
       so simultaneous arrivals can become neighbors too.
    3. BACK-EDGES: old -> new reverse edges from step 1 — the touched
       old nodes are exactly ``distinct(neighbor_id)``; only THEIR
       adjacency lists are re-ranked (existing edges unioned with the
       reverse candidates, re-top-k'd).
    4. DESCENT (x ``descent_rounds``): one neighbor-of-neighbor pass
       over the TOUCHED neighborhood only — new nodes' candidates flow
       through their current neighbors' edges, deterministically
       capped per node (the hub cap), scored, re-top-k'd.
    5. The updated graph is untouched-old edges (left-anti on the
       touched set) + re-ranked touched-old edges + new-node edges.

    Cost scales with ``|batch| * beam * deg`` — independent of corpus
    size; at 100 TB an insert micro-batch touches thousands of nodes
    out of billions.  Returns the full updated graph
    ``(node, nbr, score, rank)``, exactly k rows per node where the
    corpus allows.  Quality is pytest-measured: recall of the
    incrementally-grown graph within a few points of a from-scratch
    :func:`..search.nn_descent` on the union corpus
    (tests/test_graph_ann.py).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    score_fn = _metric_fn(metric)
    if beam is None:
        beam = 2 * k
    if max_candidates is None:
        max_candidates = 4 * k * k

    old_v = vectors.select(
        F.col(id_col).alias("__node"), F.col(vec_col).alias("__v")
    )
    new_v = new_vectors.select(
        F.col(id_col).alias("__node"), F.col(vec_col).alias("__v")
    ).persist()
    n_new = new_v.count()
    if n_new == 0:
        new_v.unpersist()
        return graph
    # id-collision guard: a re-inserted existing id would silently
    # duplicate its corpus row (two vectors under one id -> double
    # scoring, broken splice). Upserts are delete-then-insert
    # (graph_delete / delete_from_graph_snapshot first); the check is
    # one domain-bounded equi-join count, trivial next to the fold.
    n_dup = new_v.select("__node").join(
        old_v.select("__node"), "__node"
    ).count()
    if n_dup:
        new_v.unpersist()
        raise ValueError(
            f"graph_insert: {n_dup} arriving id(s) already exist in the "
            "corpus — delete them first (graph_delete) or fix the id "
            "assignment; in-place upsert is not supported"
        )

    # 1. place each new vector in the frozen graph
    placed = graph_beam_search(
        new_vectors,
        vectors,
        graph,
        k=beam,
        beam=max(beam, 2 * k),
        rounds=rounds,
        n_entry=n_entry,
        metric=metric,
        query_id=id_col,
        query_vec=vec_col,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
    ).select(
        F.col("qid").alias("node"),
        F.col("neighbor_id").alias("nbr"),
        "score",
    ).localCheckpoint(eager=True)

    # 2. new-new candidates: the nn_descent triple blocking on the batch
    n_buckets = max(1, n_new // max(2 * k, 4))
    nn_pairs = None
    for t in range(3):
        bucketed = new_v.select(
            "__node",
            F.pmod(
                F.xxhash64(F.col("__node"), F.lit(int(seed) * 1000 + t)),
                F.lit(n_buckets),
            ).alias("__b"),
        )
        left = bucketed.select("__b", F.col("__node").alias("node"))
        right = bucketed.select("__b", F.col("__node").alias("nbr"))
        p = (
            left.join(right, "__b")
            .filter(F.col("node") != F.col("nbr"))
            .select("node", "nbr")
        )
        nn_pairs = p if nn_pairs is None else nn_pairs.unionByName(p)
    all_v = old_v.unionByName(new_v).persist()
    va = all_v.select(F.col("__node").alias("node"), F.col("__v").alias("__va"))
    vb = all_v.select(F.col("__node").alias("nbr"), F.col("__v").alias("__vb"))

    def _score_pairs(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(va, "node")
            .join(vb, "nbr")
            .select("node", "nbr", score_fn("__va", "__vb").alias("score"))
        )

    def _topk(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("node").orderBy(F.desc("score"), F.asc("nbr"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("node", "nbr", "score", "rank")
        )

    nn_scored = _score_pairs(nn_pairs.distinct())

    # 3. touched old nodes: re-rank their lists with the reverse edges
    back = placed.select(
        F.col("nbr").alias("node"), F.col("node").alias("nbr"), "score"
    )
    touched = back.select("node").distinct()
    old_touched = graph.join(touched, "node").select("node", "nbr", "score")
    new_edges = _topk(
        placed.unionByName(nn_scored).unionByName(
            old_touched.unionByName(back)
        )
    ).localCheckpoint(eager=True)

    # 4. short descent over the touched neighborhood only
    for _ in range(descent_rounds):
        ed = new_edges.select("node", "nbr")
        both = ed.unionByName(
            ed.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
        )
        mid_out = both.select("node", F.col("nbr").alias("__m"))
        mid_in = both.select(F.col("node").alias("__m"), F.col("nbr").alias("cand"))
        expanded = (
            mid_out.join(mid_in, "__m")
            .filter(F.col("node") != F.col("cand"))
            .select("node", F.col("cand").alias("nbr"))
            .distinct()
        )
        # restrict expansion to nodes whose lists we already own: the
        # reversal step makes untouched old nodes appear as `node` keys,
        # and re-top-k'ing THEIR lists from descent candidates alone
        # (without their original edges) would clobber them — the
        # splice below would then drop their real adjacency
        owned = new_edges.select("node").distinct()
        expanded = expanded.join(owned, "node")
        fresh = expanded.join(new_edges.select("node", "nbr"), ["node", "nbr"], "left_anti")
        w_cap = Window.partitionBy("node").orderBy(
            F.pmod(
                F.xxhash64(F.col("node"), F.col("nbr"), F.lit(int(seed))),
                F.lit(_HASH_MOD),
            ),
            F.asc("nbr"),
        )
        capped = (
            fresh.withColumn("__cr", F.row_number().over(w_cap))
            .filter(F.col("__cr") <= max_candidates)
            .select("node", "nbr")
        )
        merged = new_edges.select("node", "nbr", "score").unionByName(
            _score_pairs(capped)
        )
        new_edges = _topk(merged).localCheckpoint(eager=True)

    # 5. splice: untouched old adjacency survives verbatim
    touched_all = new_edges.select("node").distinct()
    untouched = graph.join(touched_all, "node", "left_anti").select(
        "node", "nbr", "score", "rank"
    )
    out = untouched.unionByName(new_edges)
    new_v.unpersist()
    all_v.unpersist()
    return out


def graph_delete(
    graph: DataFrame,
    doomed: DataFrame,
    id_col: str = "vec_id",
    vectors: DataFrame | None = None,
    k: int | None = None,
    metric: str = "cosine",
    vec_col: str = "embedding",
    max_candidates: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """Delete maintenance for the kNN graph: remove every edge that
    TOUCHES a doomed id (as node or neighbor) and re-rank the
    survivors, so queries over the maintained graph can never surface
    a deleted vector — the ann_index ``delete_from_index`` contract
    for the graph tier.

    Without ``vectors``, this is purely subtractive: two anti-joins
    plus a per-node re-rank (ranks stay contiguous 1..k'); nodes that
    lost neighbors keep shorter lists — monotone-safe, no scoring.

    With ``vectors`` (the live post-delete corpus), nodes that lost
    edges are REPAIRED: candidates are drawn from their surviving
    2-hop neighborhood (one neighbor-of-neighbor equi-join over the
    kept edges, doomed ids excluded, deterministically capped), scored
    against the corpus, and each repaired node's list is re-top-k'd
    back toward ``k`` — the DiskANN-style local patch, never a
    rebuild.  Repair cost scales with the number of damaged nodes
    (each doomed id appears in at most ~k reverse lists), not with N.

    Damaged nodes are derived from the LIVE corpus (left join against
    the surviving degrees, 0 default), so a survivor whose whole list
    pointed at doomed ids — zero surviving rows — is still repaired;
    if it also has no reverse/2-hop neighborhood left, it is re-seeded
    from a deterministic 4k-id hash-sample of the corpus (bounded
    broadcast) rather than silently left edgeless and unreachable.
    """
    d = doomed.select(F.col(id_col).alias("__doomed")).distinct().persist()
    kept = (
        graph.join(d, F.col("node") == F.col("__doomed"), "left_anti")
        .join(d, F.col("nbr") == F.col("__doomed"), "left_anti")
        .select("node", "nbr", "score")
    )
    w = Window.partitionBy("node").orderBy(F.desc("score"), F.asc("nbr"))
    reranked = kept.withColumn("rank", F.row_number().over(w))
    if vectors is None:
        d.unpersist()
        return reranked.select("node", "nbr", "score", "rank")
    if k is None:
        # preserve the graph's own degree
        k = graph.agg(F.max("rank")).collect()[0][0] or 1
    if max_candidates is None:
        max_candidates = 4 * k * k
    score_fn = _metric_fn(metric)
    reranked = reranked.localCheckpoint(eager=True)
    live = vectors.join(d, F.col(id_col) == F.col("__doomed"), "left_anti")
    live_ids = live.select(F.col(id_col).alias("node"))
    # damaged = LIVE nodes whose surviving list is below k — derived from
    # the corpus (left join, degree-0 default), NOT from the kept edges
    # alone: a survivor whose ENTIRE adjacency list pointed at doomed ids
    # has zero rows in `reranked`, so a deg-only derivation would never
    # classify it as damaged and it would silently lose all out-edges.
    deg = reranked.groupBy("node").agg(F.max("rank").alias("__deg"))
    damaged = (
        live_ids.join(deg, "node", "left")
        .filter(F.coalesce(F.col("__deg"), F.lit(0)) < k)
        .select("node")
    )
    ed = reranked.select("node", "nbr")
    both = ed.unionByName(
        ed.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
    )
    mid_out = both.join(damaged, "node").select(
        "node", F.col("nbr").alias("__m")
    )
    mid_in = both.select(F.col("node").alias("__m"), F.col("nbr").alias("cand"))
    cand = (
        mid_out.join(mid_in, "__m")
        .filter(F.col("node") != F.col("cand"))
        .select("node", F.col("cand").alias("nbr"))
        .distinct()
        .join(reranked.select("node", "nbr"), ["node", "nbr"], "left_anti")
        .join(d, F.col("nbr") == F.col("__doomed"), "left_anti")
    )
    w_cap = Window.partitionBy("node").orderBy(
        F.pmod(
            F.xxhash64(F.col("node"), F.col("nbr"), F.lit(int(seed))),
            F.lit(_HASH_MOD),
        ),
        F.asc("nbr"),
    )
    capped = (
        cand.withColumn("__cr", F.row_number().over(w_cap))
        .filter(F.col("__cr") <= max_candidates)
        .select("node", "nbr")
    )
    # fully-isolated fallback: a damaged node with no surviving forward OR
    # reverse edges yields zero 2-hop candidates above.  Seed such nodes
    # with a deterministic hash-sample of the live corpus so repair can
    # never leave a survivor edgeless.  Bounded: the sample is 4k ids
    # (TakeOrdered + broadcast) and orphans number at most ~k*|doomed|,
    # so the crossJoin is (few orphans) x (4k broadcast rows), never NxN.
    orphan = damaged.join(capped.select("node").distinct(), "node", "left_anti")
    entry = (
        live_ids.orderBy(
            F.pmod(F.xxhash64(F.col("node"), F.lit(int(seed))), F.lit(_HASH_MOD)),
            F.asc("node"),
        )
        .limit(4 * k)
        .select(F.col("node").alias("nbr"))
    )
    orphan_cand = orphan.crossJoin(F.broadcast(entry)).filter(
        F.col("node") != F.col("nbr")
    )
    capped = capped.unionByName(orphan_cand)
    va = live.select(
        F.col(id_col).alias("node"), F.col(vec_col).alias("__va")
    )
    vb = live.select(
        F.col(id_col).alias("nbr"), F.col(vec_col).alias("__vb")
    )
    scored = (
        capped.join(va, "node")
        .join(vb, "nbr")
        .select("node", "nbr", score_fn("__va", "__vb").alias("score"))
    )
    merged = reranked.select("node", "nbr", "score").unionByName(scored)
    out = (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("node", "nbr", "score", "rank")
    )
    d.unpersist()
    return out


def delete_from_graph_snapshot(
    spark,
    graph_path: str,
    doomed: DataFrame,
    id_col: str = "vec_id",
    repair: bool = True,
    k: int | None = None,
    metric: str = "cosine",
) -> int:
    """Delete maintenance against a VERSIONED graph snapshot store
    (:func:`~..streaming.pipeline.stream_graph_index_ingest` layout):
    read the latest ``version=<v>``, apply :func:`graph_delete` (with
    2-hop repair off the snapshot's own corpus unless ``repair=False``),
    drop the doomed vectors from the corpus rows, and write
    ``version=<v+1>`` — the ann_index ``delete_from_index`` contract
    for the graph tier, with the snapshot scheme's crash story: the
    old version is never touched, a crashed delete leaves a readable
    predecessor, a re-run overwrites its own target directory
    (idempotent).  Returns the new version number.

    Scale: one partition-pruned read of the latest version, the
    graph_delete equi-joins (repair cost ~ damaged-node count), one
    snapshot write.  The doomed frame is domain-bounded (ids only).
    """
    from pyspark.sql import functions as F2

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.streaming.pipeline import (
        write_graph_snapshot,
    )

    snap = spark.read.parquet(graph_path)
    versions = [
        r.version for r in snap.select("version").distinct().collect()
    ]
    if not versions:
        raise ValueError(f"no snapshot versions under {graph_path}")
    latest = max(versions)
    cur = snap.filter(F2.col("version") == latest)
    graph = cur.filter(F2.col("kind") == "edge").select(
        "node", "nbr", "score", "rank"
    )
    corpus = cur.filter(F2.col("kind") == "vec").select(
        F2.col("node").alias(id_col), F2.col("vec").alias("embedding")
    )
    d = doomed.select(F2.col(id_col))
    kept_vecs = corpus.join(d, id_col, "left_anti")
    cut = graph_delete(
        graph,
        d,
        id_col=id_col,
        vectors=kept_vecs if repair else None,
        k=k,
        metric=metric,
        vec_col="embedding",
    )
    # pin before writing INTO the directory being read: the fold must
    # not re-read version=<latest> mid-overwrite of version=<latest+1>
    # (different directories, but the localCheckpoint also cuts the
    # graph_insert-style lineage for the writer)
    cut = cut.localCheckpoint(eager=True)
    kept_vecs = kept_vecs.localCheckpoint(eager=True)
    write_graph_snapshot(
        kept_vecs, cut, f"{graph_path}/version={latest + 1}", id_col=id_col
    )
    return latest + 1


def validate_graph_snapshot(spark, graph_path: str) -> dict:
    """Structural audit of the latest graph snapshot — the
    ``validate_index`` contract for the graph tier, one pass over the
    version's rows plus two domain-bounded anti-joins:

    - ``n_nodes`` / ``n_edges`` / ``version``
    - ``max_rank`` and ``rank_violations`` (per-node ranks must be
      contiguous 1..deg — a broken re-rank shows here)
    - ``self_edges`` (must be 0)
    - ``dangling_edges``: edges whose ``nbr`` is not a corpus vector
      (a delete that skipped the reverse direction shows here)
    - ``orphan_nodes``: corpus vectors with no out-edges (expected 0
      after any insert fold; >0 means a splice dropped adjacency)
    """
    from pyspark.sql import functions as F2

    snap = spark.read.parquet(graph_path)
    latest = snap.agg(F2.max("version")).collect()[0][0]
    if latest is None:
        raise ValueError(f"no snapshot versions under {graph_path}")
    cur = snap.filter(F2.col("version") == latest).persist()
    edges = cur.filter(F2.col("kind") == "edge")
    vecs = cur.filter(F2.col("kind") == "vec").select(
        F2.col("node").alias("__vid")
    )
    deg = edges.groupBy("node").agg(
        F2.count(F2.lit(1)).alias("__deg"),
        F2.max("rank").alias("__maxr"),
        F2.min("rank").alias("__minr"),
    )
    rank_violations = deg.filter(
        (F2.col("__maxr") != F2.col("__deg")) | (F2.col("__minr") != 1)
    ).count()
    self_edges = edges.filter(F2.col("node") == F2.col("nbr")).count()
    dangling = (
        edges.select(F2.col("nbr").alias("__vid"))
        .distinct()
        .join(vecs, "__vid", "left_anti")
        .count()
    )
    orphans = vecs.join(
        edges.select(F2.col("node").alias("__vid")).distinct(),
        "__vid",
        "left_anti",
    ).count()
    out = {
        "version": int(latest),
        "n_nodes": deg.count(),
        "n_vectors": vecs.count(),
        "n_edges": edges.count(),
        "max_rank": edges.agg(F2.max("rank")).collect()[0][0],
        "rank_violations": rank_violations,
        "self_edges": self_edges,
        "dangling_edges": dangling,
        "orphan_nodes": orphans,
        "ok": rank_violations == 0 and self_edges == 0 and dangling == 0,
    }
    cur.unpersist()
    return out
