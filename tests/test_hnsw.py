"""HNSW layered-graph semantics: layer assignment, descent, serving."""

from __future__ import annotations

import hashlib
import statistics

from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import hnsw as H
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import search as S


def _lvl(i: int, scale: int, max_layer: int) -> int:
    h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
    return sum(1 for l in range(1, max_layer + 1) if h % scale**l == 0)


def test_assign_layers_matches_hand_hash(spark, tables):
    emb = tables["embeddings"]
    got = {r.vec_id: r.lvl for r in H.assign_layers(emb, scale=8, max_layer=2).collect()}
    for i in list(got)[:50]:
        assert got[i] == _lvl(i, 8, 2)
    # geometric occupancy: layer>=1 ≈ N/8, layer 2 nonempty at 500 rows
    n = len(got)
    n1 = sum(1 for v in got.values() if v >= 1)
    assert 0.5 * n / 8 < n1 < 2 * n / 8
    assert any(v == 2 for v in got.values())


def test_build_layers_edges_are_exact_knn(spark, tables):
    emb = tables["embeddings"]
    layers = H.build_hnsw_layers(emb, deg=4, scale=8, max_layer=2)
    rows = layers.collect()
    by_layer: dict[int, set] = {}
    for r in rows:
        by_layer.setdefault(r.layer, set()).add((r.node, r.nbr))
    assert set(by_layer) == {1, 2}
    # every edge endpoint belongs to the layer's node set
    lv = {r.vec_id: r.lvl for r in H.assign_layers(emb, scale=8, max_layer=2).collect()}
    for layer, edges in by_layer.items():
        for a, b in edges:
            assert lv[a] >= layer and lv[b] >= layer and a != b
    # out-degree == min(deg, |layer|-1)
    n2 = sum(1 for v in lv.values() if v >= 2)
    deg2 = {}
    for a, b in by_layer[2]:
        deg2[a] = deg2.get(a, 0) + 1
    assert all(d == min(4, n2 - 1) for d in deg2.values())


def test_top_entries_highest_occupied_layer(spark, tables):
    emb = tables["embeddings"]
    ent = sorted(r.vec_id for r in H.top_entries(emb, scale=8, max_layer=2, cap=4).collect())
    lv = {r.vec_id: r.lvl for r in H.assign_layers(emb, scale=8, max_layer=2).collect()}
    l2 = sorted(i for i, v in lv.items() if v >= 2)
    assert ent == l2[:4]
    # with an absurd max_layer the top layers are empty → falls back
    ent2 = sorted(
        r.vec_id for r in H.top_entries(emb, scale=10**6, max_layer=3, cap=4).collect()
    )
    assert len(ent2) == 4  # fallback tier is nonempty (the full corpus)


def test_descent_monotone_and_width(spark, tables):
    emb = tables["embeddings"]
    layers = H.build_hnsw_layers(emb, deg=4, scale=8, max_layer=2)
    ent = H.top_entries(emb, scale=8, max_layer=2, cap=4)
    qs = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    d1 = H.hnsw_descend(qs, emb, layers, ent, hops=2, max_layer=2, width=1)
    rows = d1.collect()
    assert len(rows) == 6 and len({r.qid for r in rows}) == 6
    # descent can only improve on the best raw entry score
    ent_scores = {
        r.qid: r.score
        for r in H.hnsw_descend(qs, emb, layers, ent, hops=0, max_layer=2).collect()
    }
    for r in rows:
        assert r.score >= ent_scores[r.qid] - 1e-12
    d3 = H.hnsw_descend(qs, emb, layers, ent, hops=2, max_layer=2, width=3)
    per_q = {}
    for r in d3.collect():
        per_q.setdefault(r.qid, []).append(r)
    assert all(len(v) == 3 for v in per_q.values())
    # width>1 explores a superset per hop (the width-1 winner always
    # competes), so its best row dominates the width-1 result
    best = {q: max(v, key=lambda r: (r.score, -r.vec_id)) for q, v in per_q.items()}
    for r in rows:
        assert best[r.qid].score >= r.score - 1e-12


def test_hnsw_search_output_contract_and_stats(spark, tables):
    emb = tables["embeddings"]
    layers = H.build_hnsw_layers(emb, deg=4, scale=8, max_layer=2)
    base = S.nn_descent(emb, k=8).select("node", "nbr")
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    st: dict = {}
    res = H.hnsw_search(
        qs, emb, base, layers, k=5, beam=12, rounds=3, hops=2, max_layer=2,
        width=2, scale=8, stats=st,
    )
    rows = res.collect()
    assert {c for c in res.columns} == {"qid", "neighbor_id", "score", "rank"}
    per_q = {}
    for r in rows:
        per_q.setdefault(r.qid, []).append(r)
    assert len(per_q) == 8
    for v in per_q.values():
        assert [r.rank for r in sorted(v, key=lambda r: r.rank)] == list(
            range(1, len(v) + 1)
        )
    # stats counts BOTH tiers (descent + beam): strictly more than the
    # beam-only run with the same per-query entries
    assert st["n_scored"] > 0


def test_hnsw_beats_flat_entries_on_clustered_corpus(spark):
    """The structural HNSW claim, measured: on a planted-cluster corpus
    whose base graph has no cross-cluster edges, a flat beam from 2
    global entries can only ever answer the entries' own clusters,
    while the descent finds every query's cluster through the upper
    layer (which samples all clusters w.h.p.)."""
    import random

    rnd = random.Random(7)
    dim, n_clusters, per = 16, 8, 60
    centers = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows = []
    for c in range(n_clusters):
        for j in range(per):
            vec = [centers[c][d] + rnd.gauss(0, 0.05) for d in range(dim)]
            rows.append((c * per + j, vec, c))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, cluster int")
    # base graph: exact deg-6 — tight clusters → in-cluster edges only
    base = (
        H._exact_layer_graph(emb, 6, "cosine", "vec_id", "embedding")
    )
    # upper layers need deg > per-cluster layer occupancy (~60/8) so
    # edges cross clusters — the HNSW mechanism: constant M, shrinking
    # per-region occupancy per level ⇒ higher layers span regions
    layers = H.build_hnsw_layers(emb, deg=10, scale=8, max_layer=2)
    # one query per cluster (a held-out jitter of each center)
    qrows = [
        (c, [centers[c][d] + rnd.gauss(0, 0.05) for d in range(dim)])
        for c in range(n_clusters)
    ]
    qs = spark.createDataFrame(qrows, "qid long, qvec array<double>")
    qse = qs.select("qid", F.col("qvec").alias("embedding"))
    exact = S.knn_join(qse, emb, k=5)

    def mean_recall(res):
        r = S.recall_at_k(exact, res, k=5, by=["qid", "neighbor_id"], fill_missing=True)
        return statistics.mean(x.recall for x in r.collect())

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        graph_ann as GA,
    )

    flat = GA.graph_beam_search(qs, emb, base, k=5, beam=12, rounds=3, n_entry=2)
    hier = H.hnsw_search(
        qs, emb, base, layers, k=5, beam=12, rounds=3, hops=2, max_layer=2,
        width=1, scale=8,
    )
    r_flat, r_hier = mean_recall(flat), mean_recall(hier)
    # all inputs are seeded/deterministic; measured: flat 0.225 (≤2 of
    # 8 clusters reachable), hier 0.675 (descent crosses clusters via
    # the upper layers; residual misses are greedy stalls where no
    # layer-1 neighbor improves — the known plateau failure mode)
    assert r_flat <= 0.45
    assert r_hier >= 0.6
    assert r_hier >= r_flat + 0.3


def test_hnsw_index_roundtrip_matches_in_memory(spark, tables):
    """Serving from the materialized store must be bit-identical to
    the in-memory path on the same corpus (same layer rule, frozen
    entries == the rule's output, same folds)."""
    import shutil
    import tempfile

    emb = tables["embeddings"]
    base = H._exact_layer_graph(emb, 8, "cosine", "vec_id", "embedding")
    qs = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    tmp = tempfile.mkdtemp(prefix="hnsw_idx_")
    try:
        H.write_hnsw_index(
            emb, base, tmp, deg=4, scale=8, max_layer=2, entry_cap=4
        )
        layers = H.build_hnsw_layers(emb, deg=4, scale=8, max_layer=2)
        want = {
            (r.qid, r.neighbor_id, r.rank, round(r.score, 12))
            for r in H.hnsw_search(
                qs, emb, base, layers, k=5, beam=12, rounds=3, hops=2,
                max_layer=2, width=2, scale=8, entry_cap=4,
            ).collect()
        }
        got = {
            (r.qid, r.neighbor_id, r.rank, round(r.score, 12))
            for r in H.hnsw_topk_indexed(
                spark, tmp, qs, k=5, beam=12, rounds=3, hops=2, width=2
            ).collect()
        }
        assert got == want and len(got) == 30
        # wrong-kind store raises
        import pytest

        from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.ann_index import (
            _write_meta,
        )

        tmp2 = tempfile.mkdtemp(prefix="notann_")
        _write_meta(spark, tmp2, {"kind": "bm25"})
        with pytest.raises(ValueError, match="not an hnsw index"):
            H.hnsw_topk_indexed(spark, tmp2, qs)
        shutil.rmtree(tmp2, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_hnsw_insert_upper_layers_match_rebuild(spark, tables):
    """The upper-layer claim is EXACT: folding a batch into the
    hierarchy must produce edge-for-edge the same layer graphs as a
    from-scratch build over the union corpus (merge-and-rerank over
    old-top-deg ∪ new pairs == top-deg over all pairs)."""
    emb = tables["embeddings"]
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    base_old = S.nn_descent(old, k=8)
    layers_old = H.build_hnsw_layers(old, deg=4, scale=8, max_layer=2)
    new_base, new_layers = H.hnsw_insert(
        old, base_old, layers_old, new, base_k=8, deg=4, scale=8, max_layer=2
    )
    want = {
        (r.layer, r.node, r.nbr)
        for r in H.build_hnsw_layers(emb, deg=4, scale=8, max_layer=2).collect()
    }
    got = {(r.layer, r.node, r.nbr) for r in new_layers.collect()}
    assert got == want
    # base graph: every node (old + new) has edges
    nodes = {r.node for r in new_base.select("node").distinct().collect()}
    assert len(nodes) == emb.count()
    # no-op insert keeps layers identical
    empty = new.filter(F.col("vec_id") < 0)
    _, same = H.hnsw_insert(
        emb, S.nn_descent(emb, k=8), H.build_hnsw_layers(emb, deg=4, scale=8, max_layer=2),
        empty, deg=4, scale=8, max_layer=2,
    )
    assert {(r.layer, r.node, r.nbr) for r in same.collect()} == want


def test_stream_hnsw_serving_matches_batch(spark, tables):
    """Continuous hierarchical serving through stream_search's
    search_fn seam against a materialized HNSW store: query vectors
    arriving across micro-batches replay the batch hnsw_topk_indexed
    answers exactly."""
    import shutil
    import tempfile

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.streaming import (
        serving as SV,
    )

    emb = tables["embeddings"]
    base = H._exact_layer_graph(emb, 8, "cosine", "vec_id", "embedding")
    qs = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    tmp = tempfile.mkdtemp(prefix="hnsw_stream_")
    try:
        H.write_hnsw_index(emb, base, tmp + "/idx", deg=4, scale=8, max_layer=2)
        src, sink = tmp + "/src", tmp + "/sink"
        qs.filter(F.col("qid") < 3).coalesce(1).write.mode("append").parquet(src)
        qs.filter(F.col("qid") >= 3).coalesce(1).write.mode("append").parquet(src)

        batches: list[int] = []

        def sink_fn(hits, batch_id):
            batches.append(batch_id)
            hits.write.mode("append").parquet(sink)

        q = SV.stream_search(
            spark,
            src,
            emb,
            sink_fn,
            schema="qid long, qvec array<float>",
            reader_options={"maxFilesPerTrigger": 1},
            search_fn=lambda batch: H.hnsw_topk_indexed(
                spark, tmp + "/idx", batch, k=5, beam=12, rounds=3, hops=2, width=2
            ),
        )
        q.processAllAvailable()
        q.stop()

        assert len(batches) >= 2
        got = {
            (r.qid, r.neighbor_id, r.rank, round(r.score, 10))
            for r in spark.read.parquet(sink).collect()
        }
        want = {
            (r.qid, r.neighbor_id, r.rank, round(r.score, 10))
            for r in H.hnsw_topk_indexed(
                spark, tmp + "/idx", qs, k=5, beam=12, rounds=3, hops=2, width=2
            ).collect()
        }
        assert got == want and len(want) == 30
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_hnsw_delete_layers_match_rebuild(spark, tables):
    """Deleting a batch must leave layer graphs edge-for-edge equal to
    a from-scratch build over the survivors (exact repair), and the
    base graph must never reference a doomed id."""
    emb = tables["embeddings"]
    doomed = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    survivors = emb.join(doomed, "vec_id", "left_anti")
    base = S.nn_descent(emb, k=8)
    layers = H.build_hnsw_layers(emb, deg=4, scale=8, max_layer=2)
    new_base, new_layers = H.hnsw_delete(
        emb, base, layers, doomed, deg=4, scale=8, max_layer=2
    )
    want = {
        (r.layer, r.node, r.nbr)
        for r in H.build_hnsw_layers(survivors, deg=4, scale=8, max_layer=2).collect()
    }
    got = {(r.layer, r.node, r.nbr) for r in new_layers.collect()}
    assert got == want
    doomed_ids = {r.vec_id for r in doomed.collect()}
    touched = {r.node for r in new_base.collect()} | {
        r.nbr for r in new_base.collect()
    }
    assert not (touched & doomed_ids)


def test_delete_from_hnsw_index_serves_survivors_only(spark, tables):
    """Store-level delete: doomed ids vanish from every tier (vectors,
    base, layers, frozen entries), served answers match an index built
    fresh over the survivors, and the delete is idempotent."""
    import shutil
    import tempfile

    emb = tables["embeddings"]
    base = H._exact_layer_graph(emb, 8, "cosine", "vec_id", "embedding")
    qs = emb.filter((F.col("vec_id") >= 6) & (F.col("vec_id") < 10)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    tmp = tempfile.mkdtemp(prefix="hnsw_del_")
    try:
        H.write_hnsw_index(emb, base, tmp + "/idx", deg=4, scale=8, max_layer=2)
        from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.ann_index import (
            _read_meta,
        )

        old_entries = _read_meta(spark, tmp + "/idx")["entries"]
        doomed = [int(old_entries[0])] + [
            r.vec_id for r in emb.filter(F.col("vec_id") % 5 == 0).limit(40).collect()
        ]
        res = H.delete_from_hnsw_index(spark, tmp + "/idx", doomed)
        assert res["docs_deleted"] == len(set(doomed))
        assert old_entries[0] not in res["entries"]  # doomed entry refreshed

        survivors = emb.filter(~F.col("vec_id").isin(doomed))
        got = H.hnsw_topk_indexed(
            spark, tmp + "/idx", qs, k=5, beam=12, rounds=3, hops=2, width=2
        ).collect()
        assert not ({r.neighbor_id for r in got} & set(doomed))
        # fresh index over survivors answers identically
        H.write_hnsw_index(
            survivors,
            H._exact_layer_graph(survivors, 8, "cosine", "vec_id", "embedding"),
            tmp + "/fresh", deg=4, scale=8, max_layer=2,
        )
        want = H.hnsw_topk_indexed(
            spark, tmp + "/fresh", qs, k=5, beam=12, rounds=3, hops=2, width=2
        ).collect()
        # layers + entries identical (exact repair); base differs only
        # by graph_delete's local 2-hop repair vs the exact rebuild, so
        # compare the LAYER tier and entries strictly…
        la = {tuple(r) for r in spark.read.parquet(tmp + "/idx/layers").collect()}
        lf = {tuple(r) for r in spark.read.parquet(tmp + "/fresh/layers").collect()}
        assert la == lf
        assert _read_meta(spark, tmp + "/idx")["entries"] == _read_meta(
            spark, tmp + "/fresh"
        )["entries"]
        # …and the served answers agree on the doomed-free property
        assert not ({r.neighbor_id for r in want} & set(doomed))
        # idempotent
        res2 = H.delete_from_hnsw_index(spark, tmp + "/idx", doomed)
        assert res2["docs_deleted"] == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_calibrate_hnsw_frontier_and_choice(spark, tables):
    emb = tables["embeddings"]
    base = H._exact_layer_graph(emb, 8, "cosine", "vec_id", "embedding")
    layers = H.build_hnsw_layers(emb, deg=4, scale=8, max_layer=2)
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    chosen, frontier = H.calibrate_hnsw(
        qs, emb, base, layers, k=5, target_recall=0.5,
        configs=((1, 1), (2, 2)), beam=12, rounds=3, scale=8,
    )
    assert frontier and all(
        set(f) == {"width", "hops", "recall", "n_scored", "scored_per_query"}
        for f in frontier
    )
    # frontier is cost-ascending; choice (if any) met the target
    costs = [f["width"] * f["hops"] for f in frontier]
    assert costs == sorted(costs)
    if chosen is not None:
        assert frontier[-1]["recall"] >= 0.5
    # unreachable target tries everything, returns None
    none_chosen, full = H.calibrate_hnsw(
        qs, emb, base, layers, k=5, target_recall=1.01,
        configs=((1, 1), (2, 2)), beam=12, rounds=3, scale=8,
    )
    assert none_chosen is None and len(full) == 2
    # empty query frame short-circuits
    empty = qs.filter(F.col("qid") < 0)
    assert H.calibrate_hnsw(empty, emb, base, layers, k=5) == (None, [])
