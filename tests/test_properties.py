"""Property-based tests (hypothesis): the coordinator merge property,
normalization idempotence, and prune-exactness hold for ARBITRARY
vector sets, not just the fixtures (SURVEY.md §5.3)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import vector as V
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import search as S

DIM = 4

#: magnitudes where x² cannot underflow float64 (|x| ≥ 1e-150 or exact
#: zero). Below that, Σx² underflows to 0 while x ≠ 0, the zero-norm ε
#: path rescales by 1e12 per pass, and NO float64 implementation of the
#: reference's `norms[norms==0]=1e-12` rule is idempotent (numpy
#: underflows identically) — that regime is outside the property's
#: precondition, not a bug.
finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=64
).map(lambda x: 0.0 if 0 < abs(x) < 1e-150 else x)
vec = st.lists(finite, min_size=DIM, max_size=DIM)
corpus_strategy = st.lists(vec, min_size=3, max_size=40)

PROP_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    # deterministic example generation: CI must not discover a novel
    # last-ulp edge case on a random seed — new edges are hunted in dev
    # runs (set HYPOTHESIS_SEED/derandomize off locally), not in gates
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(vecs=corpus_strategy, q=vec)
@settings(**PROP_SETTINGS)
def test_sharded_merge_equals_global_property(spark, vecs, q):
    """Coordinator property on arbitrary corpora: merge of per-shard
    top-k == global top-k (ids in order), any shard assignment."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<double>"
    )
    k = min(5, len(vecs))
    global_ids = [r.vec_id for r in S.topk(df, q, k=k).collect()]
    sharded_ids = [r.vec_id for r in S.sharded_topk(df, q, k=k, n_shards=3).collect()]
    assert sharded_ids == global_ids


@given(v=vec)
@settings(**PROP_SETTINGS)
def test_normalize_idempotent_property(spark, v):
    """normalize(normalize(x)) == normalize(x) for arbitrary finite x,
    including zero and denormal-adjacent vectors (ε guard, no NaN)."""
    df = spark.createDataFrame([(v,)], "v array<double>")
    row = df.select(
        V.l2_normalize("v").alias("n1"),
        V.l2_normalize(V.l2_normalize("v")).alias("n2"),
    ).collect()[0]
    assert not any(math.isnan(x) for x in row.n1)
    assert row.n1 == pytest.approx(row.n2, rel=1e-9, abs=1e-300)


@given(vecs=corpus_strategy)
@settings(**PROP_SETTINGS)
def test_knn_prune_equals_window_baseline_property(spark, vecs):
    """The pruned mapInPandas kNN equals the exhaustive window baseline
    on arbitrary corpora (first 2 vectors double as queries)."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<double>"
    )
    queries = df.limit(2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    k = min(3, len(vecs))
    fast = S.knn_join(queries, df, k=k, query_id="qid", query_vec="qvec")
    slow = S.knn_join_expr(queries, df, k=k)
    f = {(r.qid, r.rank): r.neighbor_id for r in fast.collect()}
    s = {(r.qid, r.rank): r.neighbor_id for r in slow.collect()}
    assert f == s


_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon"]
_doc = st.lists(st.sampled_from(_WORDS), min_size=1, max_size=8).map(" ".join)
_docs_strategy = st.lists(_doc, min_size=1, max_size=12)


@given(texts=_docs_strategy)
@settings(**PROP_SETTINGS)
def test_bm25_matches_python_reference_property(spark, texts):
    """Distributed BM25 equals a straight-line python scorer on
    arbitrary small corpora (same formula, same term-ordered sum)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        lexical,
    )

    query = "alpha beta"
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.score
        for r in lexical.bm25_topk(df, query, k=len(texts)).collect()
    }
    toks = [t.split() for t in texts]
    n, dls = len(texts), [len(t) for t in toks]
    avgdl = sum(dls) / n
    q_terms = sorted(set(query.split()))
    dfreq = {w: sum(1 for t in toks if w in t) for w in q_terms}
    expect = {}
    for i, t in enumerate(toks):
        s = 0.0
        matched = False
        for w in q_terms:
            tf = t.count(w)
            if tf == 0:
                continue
            matched = True
            idf = math.log(1.0 + (float(n) - dfreq[w] + 0.5) / (dfreq[w] + 0.5))
            s += idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dls[i] / avgdl))
        if matched:
            expect[i] = s
    assert set(got) == set(expect)
    for i in got:
        assert got[i] == pytest.approx(expect[i], rel=1e-12)


_budget_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),      # tokens per doc
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False, width=64),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_budget_rows, budget=st.integers(min_value=0, max_value=300), parts=st.integers(min_value=1, max_value=5))
@settings(**PROP_SETTINGS)
def test_budget_select_partition_invariance_property(spark, rows, budget, parts):
    """budget_select's distributed prefix sum must produce the same
    selection for ANY partition count — and exactly match the
    sequential greedy selection computed in Python."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        sampling,
    )

    data = [(i, " ".join(["w"] * n) if n else "", q) for i, (n, q) in enumerate(rows)]
    docs = spark.createDataFrame(data, "doc_id long, text string, quality double")
    got = {
        (r.doc_id, r.cum_tokens)
        for r in sampling.budget_select(docs, budget, n_parts=parts).collect()
    }
    # sequential oracle: quality desc, doc_id asc, running inclusive sum
    cum, want = 0, set()
    for i, (n, q) in sorted(enumerate(rows), key=lambda t: (-t[1][1], t[0])):
        cum += n
        if cum <= budget:
            want.add((i, cum))
    assert got == want


_pack_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=25),          # tokens per doc
        st.sampled_from(["en", "de", None]),             # stratum (incl. NULL)
    ),
    min_size=1,
    max_size=40,
)


@given(
    rows=_pack_rows,
    seq_len=st.integers(min_value=1, max_value=30),
    parts=st.integers(min_value=1, max_value=5),
)
@settings(**PROP_SETTINGS)
def test_pack_sequences_partition_invariance_property(spark, rows, seq_len, parts):
    """pack_sequences' distributed prefix sum must produce the same
    (bin_id, bin_offset) assignment for ANY partition count — and
    exactly match the sequential per-stratum greedy packing computed in
    Python, including NULL-stratum docs."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        sampling,
    )

    data = [(i, " ".join(["w"] * n) if n else "", s) for i, (n, s) in enumerate(rows)]
    docs = spark.createDataFrame(data, "doc_id long, text string, lang string")
    got = {
        (r.lang, r.doc_id, r.n_tokens, r.bin_id, r.bin_offset)
        for r in sampling.pack_sequences(
            docs, seq_len=seq_len, by="lang", n_parts=parts
        ).collect()
    }
    # sequential oracle: per stratum, id order, greedy concat-and-chunk
    cums: dict = {}
    want = set()
    for i, (n, s) in enumerate(rows):
        cum = cums.get(s, 0) + n
        cums[s] = cum
        b = (cum - n) // seq_len
        want.add((s, i, n, b, cum - n - b * seq_len))
    assert got == want


_rep_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "ab", "x y", "über", "zz"]),  # small vocab -> real dup runs
        min_size=0,
        max_size=30,
    ),
    min_size=1,
    max_size=12,
)


@given(docs=_rep_docs, n=st.integers(min_value=1, max_value=4))
@settings(**PROP_SETTINGS)
def test_repetition_stats_matches_python_counter(spark, docs, n):
    """The sorted-array boundary-position trick must equal a plain
    Python Counter over the same shingles — including all-duplicate
    docs, empty docs (whole-doc fallback shingle), and unicode
    tokens. Guards the zero-shuffle rewrite's run-length logic."""
    from collections import Counter

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        textstats as T,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.n_ngrams, r.n_distinct_ngrams, r.dup_ngram_ratio, r.top_ngram_ratio)
        for r in T.repetition_stats(sdf, n=n).collect()
    }
    for i, toks in enumerate(docs):
        toks = " ".join(toks).split()  # collapse multi-word vocab entries
        if len(toks) >= n:
            grams = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
        else:
            grams = [" ".join(toks)]  # whole-doc fallback (empty doc -> [""])
        c = Counter(grams)
        total, distinct, top = len(grams), len(c), max(c.values())
        assert got[i] == (
            total,
            distinct,
            round(1.0 - distinct / total, 6),
            round(top / total, 6),
        )


_ppm_dims = st.tuples(st.integers(1, 6), st.integers(1, 5))


@given(
    dims=_ppm_dims,
    seed=st.integers(0, 2**31 - 1),
    header_junk=st.sampled_from(["", "# comment line\n", "#x\n# y\n"]),
)
@settings(**PROP_SETTINGS)
def test_ppm_roundtrip_property(dims, seed, header_junk):
    """Any (w, h, pixels) serialized as P6 must decode back to exactly
    the same pixel array regardless of header comments."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.multimodal import (
        decode_ppm,
    )

    w, h = dims
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    payload = f"P6\n{header_junk}{w} {h}\n255\n".encode() + px.tobytes()
    got = decode_ppm(payload)
    assert got is not None
    gw, gh, gpx = got
    assert (gw, gh) == (w, h) and (gpx == px).all()


# --- round-5 families -------------------------------------------------------

token_strategy = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=8
)
lm_corpus_strategy = st.lists(token_strategy, min_size=1, max_size=8)


@given(corpus=lm_corpus_strategy)
@settings(**PROP_SETTINGS)
def test_lm_smoothed_distribution_sums_to_one(spark, corpus):
    """For every context w1 the add-α model must be a probability
    distribution: Σ_{w2 ∈ V} (c(w1,w2)+α)/(c(w1)+α·V) == 1 exactly
    (the α mass closes the gap left by unseen continuations)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import lm as LM

    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(corpus)],
        "doc_id long, text string",
    )
    b, c, v = LM.bigram_lm(docs)
    alpha = 0.5
    vv = v.head()["v"]
    c12 = {(r["w1"], r["w2"]): r["c12"] for r in b.collect()}
    c1 = {r["w1"]: r["c1"] for r in c.collect()}
    vocab = {w2 for (_, w2) in c12}
    assert len(vocab) == vv
    for w1, n1 in c1.items():
        total = sum(
            (c12.get((w1, w2), 0) + alpha) / (n1 + alpha * vv) for w2 in vocab
        )
        assert abs(total - 1.0) < 1e-9


@given(mat=st.lists(st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
    min_size=8, max_size=8), min_size=2, max_size=12))
@settings(**PROP_SETTINGS)
def test_bq_pack_matches_numpy_for_arbitrary_floats(spark, mat):
    """Sign-bit packing equals the numpy ground truth for arbitrary
    finite floats, including values exactly ON a threshold (strict >)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import bq as BQ

    thr = list(mat[0])  # row 0's values as thresholds → exact-equality cases
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r["w0"] for r in BQ.bq_encode_bits(df, thr).collect()}
    for i, row in enumerate(mat):
        word = 0
        for d, x in enumerate(row):
            if x > thr[d]:
                word |= 1 << d
        expect = word - (1 << 64) if word >= (1 << 63) else word
        assert got[i] == expect
    # row 0 equals the thresholds everywhere → strictly-greater packs to 0
    assert got[0] == 0


@given(
    counts=st.lists(st.integers(min_value=1, max_value=1000), min_size=2, max_size=5),
    weights=st.lists(st.floats(min_value=0.05, max_value=1.0, width=64), min_size=2, max_size=5),
)
@settings(**PROP_SETTINGS)
def test_mixture_plan_properties(spark, counts, weights):
    """The binding stratum keeps rate 1; every rate ∈ (0, 1]; realized
    target sizes reproduce λ·p_s."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import sampling

    k = min(len(counts), len(weights))
    counts, weights = counts[:k], weights[:k]
    rows = []
    i = 0
    for s in range(k):
        for _ in range(counts[s]):
            rows.append((i, f"s{s}"))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    target = {f"s{s}": weights[s] for s in range(k)}
    plan = {r["lang"]: r for r in sampling.mixture_plan(docs, target, "lang").collect()}
    lam = min(counts[s] / weights[s] for s in range(k))
    assert len(plan) == k
    for s in range(k):
        r = plan[f"s{s}"]
        assert 0.0 < r["rate"] <= 1.0 + 1e-12
        assert abs(r["n_target"] - lam * weights[s]) < 1e-6 * max(1.0, lam)
    binding = min(range(k), key=lambda s: counts[s] / weights[s])
    assert abs(plan[f"s{binding}"]["rate"] - 1.0) < 1e-12


# ---------------------------------------------------------------------------
# round-5 hygiene additions
# ---------------------------------------------------------------------------

_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "rho", "sigma"]),
    min_size=3,
    max_size=10,
)


@given(st.lists(_words, min_size=2, max_size=6))
@settings(**PROP_SETTINGS)
def test_dup_span_frac_bounds_and_self_dup(spark, docs_words):
    """dup_span_frac ∈ [0,1] for arbitrary corpora; an exact duplicate
    pair saturates both copies at 1.0."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        dedup as D,
    )

    rows = [(i, " ".join(w)) for i, w in enumerate(docs_words)]
    rows.append((900, rows[0][1]))  # exact copy of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in D.dup_span_stats(df, n=3).collect()}
    assert all(0.0 <= r.dup_span_frac <= 1.0 for r in got.values())
    assert got[0].dup_span_frac == 1.0 and got[900].dup_span_frac == 1.0
    assert all(r.n_shared_spans <= r.n_spans for r in got.values())


@given(st.text(alphabet=" aZbY9.,!-\n", min_size=0, max_size=40))
@settings(**PROP_SETTINGS)
def test_canonical_text_idempotent(spark, s):
    """canonical_text is a projection onto its own fixed points."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.text import (
        canonical_text,
    )

    df = spark.createDataFrame([(s,)], "t string")
    once, twice = df.select(
        canonical_text(F.col("t")).alias("c1"),
        canonical_text(canonical_text(F.col("t"))).alias("c2"),
    ).head()
    assert once == twice
