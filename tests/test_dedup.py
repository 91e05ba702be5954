"""Dedup operator correctness: NULL-safe exact dedup, MinHash-LSH
planted near-dups, exact Jaccard values, SimHash, and connected
components (incl. the non-convergence warning)."""

from __future__ import annotations

import warnings

import pytest

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import dedup as D


def test_exact_dedup_null_vs_value_distinct(spark):
    """(x, NULL) and (NULL, x) are different rows — the concat_ws
    NULL-skip collision (ADVICE) must not merge them."""
    df = spark.createDataFrame(
        [(1, "x", None), (2, None, "x"), (3, "x", None), (4, "a#b", None), (5, "a", "b")],
        "doc_id int, c1 string, c2 string",
    )
    kept = {r.doc_id for r in D.exact_dedup(df, ["c1", "c2"]).collect()}
    assert kept == {1, 2, 4, 5}  # only 3 (dup of 1) dropped


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(9, "same"), (2, "same"), (5, "other")], "doc_id int, text string"
    )
    kept = {r.doc_id for r in D.exact_dedup(df, ["text"]).collect()}
    assert kept == {2, 5}


@pytest.fixture(scope="module")
def planted_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again in the field"
    near = base.replace("field", "meadow")  # 1-word edit: high Jaccard
    far = "completely different content about spark catalyst optimizer internals"
    return spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)],  # 4 = exact dup of 1
        "doc_id int, text string",
    )


def test_minhash_near_dup_finds_planted(planted_docs):
    pairs = D.near_dup_pairs(planted_docs, threshold=0.5, n_hashes=16, n_bands=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 4) in got  # exact dup: jaccard 1.0 always survives
    assert (1, 2) in got or (2, 4) in got  # planted near-dup collides
    assert not any(3 in p for p in got)  # unrelated doc never pairs


def test_jaccard_exact_value(spark):
    df = spark.createDataFrame(
        [(1, [10, 20, 30, 40]), (2, [20, 30, 40, 50])], "doc_id int, tids array<long>"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    j = D.jaccard_pairs(df, pairs=pairs).collect()[0].jaccard
    assert j == pytest.approx(3 / 5)  # |∩|=3, |∪|=5


def test_jaccard_all_pairs_no_cross_join(spark):
    df = spark.createDataFrame(
        [(1, [10, 20]), (2, [20, 30]), (3, [99])], "doc_id int, tids array<long>"
    )
    rows = D.jaccard_pairs(df).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert got == {(1, 2): pytest.approx(1 / 3)}  # doc 3 shares nothing → absent


def test_lsh_candidate_pairs_empty_input(spark):
    sig = spark.createDataFrame([], "doc_id int, tids array<long>, sig array<long>")
    assert D.lsh_candidate_pairs(sig, n_bands=4, n_hashes=16).count() == 0


def test_lsh_candidate_pairs_rejects_uneven_bands(spark):
    sig = spark.createDataFrame([], "doc_id int, tids array<long>, sig array<long>")
    with pytest.raises(ValueError, match="divisible"):
        D.lsh_candidate_pairs(sig, n_bands=5, n_hashes=16)


def test_simhash_identical_docs_same_fingerprint(planted_docs):
    fp = {r.doc_id: r.simhash for r in D.simhash(planted_docs, bits=48).collect()}
    assert fp[1] == fp[4]
    pairs = D.simhash_candidate_pairs(
        D.simhash(planted_docs, bits=48), max_hamming=3, bits=48, n_blocks=4
    ).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got[(1, 4)] == 0


def test_embedding_near_dup_threshold(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    pairs = D.embedding_near_dup_pairs(df, threshold=0.95).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_dedup_clusters_chain(spark):
    """Chain 1-2-3-4 plus island 8-9 → min-label components."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (8, 9)], "id_a int, id_b int"
    )
    got = {r.doc_id: r.canonical_id for r in D.dedup_clusters(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 8: 8, 9: 8}


def test_dedup_clusters_warns_without_convergence(spark):
    """A long chain with max_iter=1 cannot reach the fixed point; the
    silent-under-merge case must warn (ADVICE)."""
    chain = [(i, i + 1) for i in range(1, 12)]
    edges = spark.createDataFrame(chain, "id_a int, id_b int")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        D.dedup_clusters(edges, max_iter=1)
        assert any("max_iter" in str(x.message) for x in w)


def test_lsh_bucket_cap_bounds_boilerplate_pairs(spark):
    """A pathological boilerplate corpus (30 identical docs) explodes
    into B*(B-1)/2 candidate pairs uncapped; with max_bucket_size the
    hot bucket is dropped from pair generation and the audit frame
    reports exactly the over-cap buckets."""
    boiler = "subscribe to our newsletter for updates terms of service apply here"
    uniq = [
        f"unique document number {i} with its own distinct words alpha{i} beta{i}"
        for i in range(6)
    ]
    rows = [(i, boiler) for i in range(30)] + [
        (100 + i, t) for i, t in enumerate(uniq)
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.dedup import (
        lsh_over_cap_buckets,
        minhash_perms,
        minhash_signature,
        shingle_tids_hash,
    )

    sig = minhash_signature(
        shingle_tids_hash(docs), minhash_perms(16), id_col="doc_id"
    )
    uncapped = D.lsh_candidate_pairs(sig, n_bands=4, n_hashes=16)
    capped = D.lsh_candidate_pairs(sig, n_bands=4, n_hashes=16, max_bucket_size=10)
    assert uncapped.count() >= 30 * 29 // 2  # quadratic blowup is real
    assert capped.count() == 0  # the 30-member buckets all exceed the cap
    audit = lsh_over_cap_buckets(sig, n_bands=4, n_hashes=16, max_bucket_size=10)
    arows = audit.collect()
    assert len(arows) == 4 and all(r.size == 30 for r in arows)


def test_lsh_bucket_cap_noop_when_under_cap(planted_docs):
    """With no bucket over the cap, capped output == uncapped output."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.dedup import (
        minhash_perms,
        minhash_signature,
        shingle_tids_hash,
    )

    sig = minhash_signature(
        shingle_tids_hash(planted_docs), minhash_perms(16), id_col="doc_id"
    )
    uncapped = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(sig, n_bands=8, n_hashes=16).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(
            sig, n_bands=8, n_hashes=16, max_bucket_size=100
        ).collect()
    }
    assert capped == uncapped and len(uncapped) > 0


def test_dup_span_stats_partial_overlap(spark):
    """A boilerplate block shared by two docs is flagged span-wise even
    though neither whole-doc dedup nor MinHash would pair the docs."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        dedup as D,
    )

    boiler = "all rights reserved contact us for details"  # 7 tokens
    rows = [
        (1, "unique alpha prose about spark engines " + boiler),
        (2, boiler + " totally different beta subject matter here"),
        (3, "completely unrelated gamma text with no shared spans at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in D.dup_span_stats(docs, n=3).collect()}

    # docs 1 and 2 share exactly the boilerplate's 5 interior 3-grams
    # (7 tokens -> 5 windows); no window spanning the seam is shared
    assert got[1].n_shared_spans == 5 and got[2].n_shared_spans == 5
    assert got[3].n_shared_spans == 0 and got[3].dup_span_frac == 0.0
    # doc 1: 13 tokens -> 11 windows
    assert got[1].n_spans == 11
    assert abs(got[1].dup_span_frac - 5 / 11) < 1e-12

    # portable-hash path computes the identical statistic
    p = {r.doc_id: r for r in
         D.dup_span_stats(docs, n=3, use_portable_hash=True).collect()}
    assert all(p[i].n_shared_spans == got[i].n_shared_spans for i in (1, 2, 3))


def test_normalized_dedup_collapses_reencoded_copies(spark):
    """Case, punctuation, and whitespace layout do not distinguish
    copies; genuinely different prose stays distinct."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        dedup as D,
    )

    rows = [
        (1, "the quick brown fox"),
        (2, "THE  QUICK   BROWN FOX!!!"),
        (3, "The, quick; brown... fox"),
        (4, "a different document entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = D.normalized_dedup(docs).collect()
    by_id = {r.doc_id: r for r in got}
    assert set(by_id) == {1, 4}          # keeper = min id per canonical form
    assert by_id[1].n_copies == 3 and by_id[4].n_copies == 1


def test_near_dup_against_corpus_cross_frame(spark):
    """An incoming batch matches its near-copies in the corpus without
    any corpus-corpus self pairing; novel docs match nothing."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        dedup as D,
    )

    base = "the quick brown fox jumps over the lazy dog near the old barn every day"
    corpus = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different corpus text about spark and shuffles at scale")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(101, base + " again"), (102, "utterly novel incoming content with brand new words only")],
        "doc_id long, text string",
    )
    got = D.near_dup_against_corpus(new, corpus, threshold=0.5, tid_path="vocab").collect()
    pairs = {(r.new_id, r.corpus_id) for r in got}
    assert (101, 1) in pairs and (101, 2) in pairs
    assert all(n != 102 for n, _ in pairs)          # novel doc untouched
    assert all(n >= 100 for n, _ in pairs)          # no corpus self-pairs
    # hash path finds the same pairs (ids differ, jaccard identical sets)
    got_h = D.near_dup_against_corpus(new, corpus, threshold=0.5).collect()
    assert {(r.new_id, r.corpus_id) for r in got_h} == pairs


def test_dedup_clusters_local_minimum_path(spark):
    # path 1-10-2: node 2 is smaller than its only neighbor (10) but
    # NOT the component min — pointer-jumping alone stalls here; the
    # edge step must pull it to 1
    pairs = spark.createDataFrame([(1, 10), (2, 10)], "id_a long, id_b long")
    got = {r.doc_id: r.canonical_id for r in D.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 10: 1, 2: 1}
    # longer alternating chain: 1-20-2-21-3-22-4 (every low node a
    # local minimum)
    chain = [(1, 20), (2, 20), (2, 21), (3, 21), (3, 22), (4, 22)]
    pairs2 = spark.createDataFrame(chain, "id_a long, id_b long")
    got2 = {r.doc_id: r.canonical_id for r in D.dedup_clusters(pairs2).collect()}
    assert set(got2.values()) == {1}


def test_remove_dup_spans_keeps_first_occurrence(spark):
    """r8: Lee-et-al-style span removal at n-gram granularity — the
    second copy of a shared block is dropped, the first copy and all
    unique context survive, boundary tokens survive via overlapping
    first-occurrence spans."""
    shared = "alpha beta gamma delta epsilon zeta eta"   # 7 tokens
    rows = [
        (1, f"one two three {shared} four five six"),     # first copy
        (2, f"seven eight nine {shared} ten eleven twelve"),  # second copy
        (3, "totally unique words only here thanks folks"),
        (4, shared),                                      # pure duplicate
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in D.remove_dup_spans(docs, n=3).collect()}
    # doc 1: everything kept (it IS the first occurrence)
    assert got[1].text_clean == rows[0][1]
    assert got[1].n_kept == got[1].n_tokens == 13
    # doc 3: unique → untouched
    assert got[3].text_clean == rows[2][1]
    # doc 4: every 3-gram already appeared in doc 1 → emptied
    assert got[4].text_clean == ""
    assert got[4].n_kept == 0
    # doc 2: interior of the shared block removed; tokens within n-1 of
    # the unique context survive through overlapping unique 3-grams
    kept2 = got[2].text_clean.split()
    assert "gamma" not in kept2 and "delta" not in kept2 and "epsilon" not in kept2
    for w in ["seven", "eight", "nine", "ten", "eleven", "twelve"]:
        assert w in kept2
    # boundary: 'alpha beta' survive via ('nine alpha beta'); 'zeta eta'
    # via ('zeta eta ten') — the +-(n-1) boundary resolution
    assert "alpha" in kept2 and "beta" in kept2
    assert "zeta" in kept2 and "eta" in kept2
    # order preserved
    assert kept2 == [w for w in rows[1][1].split() if w in set(kept2)]


def test_remove_dup_spans_short_docs_whole_doc_shingle(spark):
    # docs shorter than n ride the whole-doc shingle: unique short doc
    # untouched, duplicated short doc emptied (second copy)
    rows = [(1, "tiny doc"), (2, "tiny doc"), (3, "other tiny")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text_clean for r in D.remove_dup_spans(docs, n=5).collect()}
    assert got[1] == "tiny doc"
    assert got[2] == ""
    assert got[3] == "other tiny"


# ---------------------------------------------------------------------------
# prefix-filtered exact all-pairs Jaccard
# ---------------------------------------------------------------------------


def _brute_jaccard(docs: list[tuple[int, str]], n: int, t: float):
    def sh(text):
        toks = text.split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: sh(s) for i, s in docs}
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= t:
                out.add((a, b, round(j, 6)))
    return out


def test_prefix_jaccard_matches_bruteforce(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox leaps over the lazy dog"),
        (4, "entirely different words live in this one here"),
        (5, "entirely different words live in this one there"),
        (6, "the quick brown fox jumps over the lazy dog"),
        (7, "short doc"),
        (8, "short doc"),
        (9, "lorem ipsum dolor sit amet consectetur adipiscing elit sed"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.5, 0.8):
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in D.prefix_jaccard_pairs(docs, threshold=t, shingle_n=3).collect()
        }
        assert got == _brute_jaccard(rows, 3, t), t


def test_prefix_jaccard_no_pairs_below_threshold(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        ["doc_id", "text"],
    )
    assert D.prefix_jaccard_pairs(docs, threshold=0.3).count() == 0


def test_prefix_jaccard_threshold_validation(spark):
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError):
            D.prefix_jaccard_pairs(docs, threshold=bad)


def test_containment_asymmetric(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.dedup import (
        containment_pairs,
        prefix_jaccard_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(40))
    short_text = " ".join(f"w{i}" for i in range(12))  # strict prefix
    other = " ".join(f"z{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, other)], "doc_id long, text string"
    )
    out = {(r.id_a, r.id_b): r.containment for r in containment_pairs(df, 0.9).collect()}
    # 2's shingles are a strict subset of 1's: containment(2->1) = 1.0,
    # directed only (1 is not inside 2), and 3 matches nothing
    assert out == {(2, 1): 1.0}
    # the same pair is invisible to symmetric Jaccard at any useful t
    assert prefix_jaccard_pairs(df, 0.5).count() == 0


def test_sorted_neighborhood_window(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    rows = [(1, "apple"), (2, "applf"), (3, "banana"), (4, "bananz"), (5, "zzz")]
    df = spark.createDataFrame(rows, "doc_id long, name string")
    # window 1: only sort-adjacent pairs are candidates
    cand = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(df, "name", "doc_id", window=1).collect()
    }
    assert cand == {(1, 2), (2, 3), (3, 4), (4, 5)}  # sort: apple,applf,banana,bananz,zzz
    # verify trims to true typo pairs
    got = {
        (r.id_a, r.id_b): r.dist
        for r in sorted_neighborhood_pairs(
            df, "name", "doc_id", window=2, max_dist=1
        ).collect()
    }
    assert got == {(1, 2): 1, (3, 4): 1}


def test_sorted_neighborhood_partitioning_independent(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"name{i:03d}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, name string")
    a = {(r.id_a, r.id_b) for r in sorted_neighborhood_pairs(df, "name", "doc_id", 2).collect()}
    b = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(df.repartition(13), "name", "doc_id", 2).collect()
    }
    assert a == b and len(a) == 59 + 58


def test_dup_span_stats_single_per_doc_aggregate_plan(spark):
    """r14 internals: totals + shared sums fused into ONE per-doc
    aggregate behind a LEFT join against the shared hashes — the plan
    must carry exactly one join (the doc-freq attach), not the old
    totals-vs-shared SortMergeJoin on top of it."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import dedup as D
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import plan_summary

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " + ("x" * (i % 3))) for i in range(1, 30)],
        "doc_id long, text string",
    )
    s = plan_summary(D.dup_span_stats(docs, n=3))
    assert sum(s["joins"].values()) == 1, s["joins"]


def test_remove_dup_spans_no_argmin_join_plan(spark):
    """r14 internals: the kept occurrence comes straight out of the
    min(struct) aggregate; the only join left is the keeps->doc
    join-back (1 join total, and occ is never shuffled twice)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import dedup as D
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import plan_summary

    docs = spark.createDataFrame(
        [(i, "one two three four five six seven " + ("pad " * (i % 2))) for i in range(1, 30)],
        "doc_id long, text string",
    )
    s = plan_summary(D.remove_dup_spans(docs, n=3))
    assert sum(s["joins"].values()) == 1, s["joins"]


def test_fuzzy_pairs_hand_computed(spark):
    rows = [
        (1, "spark"), (2, "spork"),   # dist 1, same prefix 'sp' (len 2)
        (3, "sprk"),                  # dist 1 to spark, same prefix
        (4, "hadoop"),                # different block
        (5, "sparkling"),             # length gap 4 > max_dist → pruned
    ]
    df = spark.createDataFrame(rows, "doc_id long, name string")
    got = {(r.id_a, r.id_b): r.dist for r in
           D.fuzzy_pairs(df, "name", max_dist=2, prefix_len=2, id_col="doc_id").collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}  # spork→sprk: one deletion


# r14: part of the fast driver-gate subset (default `pytest` selection
# per pytest.ini; `-m ''` runs the full suite)
import pytest as _pytest

pytestmark = _pytest.mark.driver_gate
