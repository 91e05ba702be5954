"""Contamination, repetition, and PII operators vs hand-computed
oracles on tiny crafted corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
    contamination as C,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import pii as PII
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
    textstats as T,
)

TRAIN = [
    # doc 1 fully contains the probe sentence (verbatim contamination)
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    # doc 2 shares nothing with the probe
    (2, "one two three four five six seven eight nine ten"),
    # doc 3 shares a partial window of the probe
    (3, "gamma delta epsilon zeta eta unrelated words trail here now"),
]
PROBES = [(100, "alpha beta gamma delta epsilon zeta eta theta")]


@pytest.fixture(scope="module")
def train(spark):
    return spark.createDataFrame(TRAIN, "doc_id int, text string")


@pytest.fixture(scope="module")
def probes(spark):
    return spark.createDataFrame(PROBES, "doc_id int, text string")


def test_contamination_flags_verbatim_superset(train, probes):
    # probe has 8 tokens → 4 distinct 5-grams; doc 1 contains all 4
    rows = C.contamination_pairs(train, probes, n=5, threshold=0.99).collect()
    assert [(r.train_id, r.probe_id, r.n_common, r.containment) for r in rows] == [
        (1, 100, 4, 1.0)
    ]


def test_contamination_partial_overlap_thresholds(train, probes):
    # doc 3 contains exactly one of the probe's 4 5-grams → containment 0.25
    rows = {
        r.train_id: r.containment
        for r in C.contamination_pairs(train, probes, n=5, threshold=0.2).collect()
    }
    assert rows == {1: 1.0, 3: 0.25}
    # and a higher threshold drops the partial hit
    rows = {
        r.train_id
        for r in C.contamination_pairs(train, probes, n=5, threshold=0.3).collect()
    }
    assert rows == {1}


def test_contaminated_docs_distinct_ids(train, probes):
    ids = {
        r.doc_id for r in C.contaminated_docs(train, probes, n=5, threshold=0.2).collect()
    }
    assert ids == {1, 3}


def test_stop_shingle_filter_drops_common_ngrams(spark):
    # every probe shares the same 5-gram → probe df of that ngram is 2 >
    # max_probe_df=1, so it is removed and nothing can collide on it
    probes = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id int, text string"
    )
    pn = C.probe_ngrams(probes, n=5, max_probe_df=1)
    assert pn.count() == 0


def test_repetition_stats_hand_computed(spark):
    # tokens: x y x y x y → 2-grams: [x y, y x, x y, y x, x y]
    docs = spark.createDataFrame([(1, "x y x y x y")], "doc_id int, text string")
    r = T.repetition_stats(docs, n=2).collect()[0]
    assert r.n_ngrams == 5
    assert r.n_distinct_ngrams == 2
    assert r.dup_ngram_ratio == pytest.approx(1 - 2 / 5)
    assert r.top_ngram_ratio == pytest.approx(3 / 5)


def test_pii_stats_and_redact_roundtrip(spark):
    text = "Mail a@b.io or c.d+e@f-g.org, call 555-123-4567 or 555.987.6543, host 10.0.0.1."
    docs = spark.createDataFrame([(1, text)], "doc_id int, text string")
    s = PII.pii_stats(docs).collect()[0]
    assert (s.n_emails, s.n_phones, s.n_ipv4, s.has_pii) == (2, 2, 1, True)

    red = PII.pii_redact(docs).collect()[0].redacted
    assert "[EMAIL]" in red and "[PHONE]" in red and "[IP]" in red
    assert "a@b.io" not in red and "555-123-4567" not in red and "10.0.0.1" not in red
    # dotted phone must be eaten by the phone pass, not the ipv4 pass
    assert red.count("[PHONE]") == 2

    clean = spark.createDataFrame([(2, "no pii here at all")], "doc_id int, text string")
    s2 = PII.pii_stats(clean).collect()[0]
    assert (s2.n_emails, s2.n_phones, s2.n_ipv4, s2.has_pii) == (0, 0, 0, False)
    assert PII.pii_redact(clean).collect()[0].redacted == "no pii here at all"


def test_contamination_plan_broadcasts_probe_side(train, probes):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        assert_plan_contains,
    )

    # the 100 TB side never shuffles for the join
    assert_plan_contains(
        C.contamination_pairs(train, probes, n=5, threshold=0.5), "BroadcastHashJoin"
    )


def test_pii_redact_email_subsumes_phone_shaped_local_part(spark):
    """'555-123-4567@example.com' is ONE email: the email pass must run
    first so the whole address collapses to [EMAIL] instead of the
    phone pass leaving '[PHONE]@example.com' with the domain intact."""
    docs = spark.createDataFrame(
        [
            (1, "mail 555-123-4567@example.com or call 555-123-4567 now"),
            (2, "server 10.0.0.1 and fax 555.123.4567"),
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.redacted for r in PII.pii_redact(docs).collect()}
    assert got[1] == "mail [EMAIL] or call [PHONE] now"
    assert got[2] == "server [IP] and fax [PHONE]"


def test_hash_key_path_matches_string_path(spark, tables):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        contamination as C,
    )
    from pyspark.sql import functions as F

    docs = tables["documents"]
    probes = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.substring("text", 1, 200).alias("text")
    )
    a = C.contamination_pairs(docs, probes, n=5, threshold=0.3)
    b = C.contamination_pairs(docs, probes, n=5, threshold=0.3, key_path="hash")
    ka = {(r.train_id, r.probe_id, r.n_common) for r in a.collect()}
    kb = {(r.train_id, r.probe_id, r.n_common) for r in b.collect()}
    assert ka == kb and len(ka) > 0
    # hash path never builds an n-gram string: no concat in its plan
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "concat_ws" not in plan


def test_bloom_prefilter_is_invisible(spark, tables):
    # bloom on/off and across key paths: identical pairs — the
    # broadcast join re-verifies every Bloom survivor
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        contamination as C,
    )
    from pyspark.sql import functions as F

    docs = tables["documents"]
    probes = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.substring("text", 1, 200).alias("text")
    )
    want = None
    for kp in ("string", "hash"):
        for bl in (False, True):
            got = {
                (r.train_id, r.probe_id, r.n_common)
                for r in C.contamination_pairs(
                    docs, probes, n=5, threshold=0.3, key_path=kp, bloom=bl
                ).collect()
            }
            if want is None:
                want = got
                assert len(want) > 0
            assert got == want, (kp, bl)


def test_probe_bloom_no_false_negatives(spark):
    # every inserted key must test positive (Bloom guarantees no
    # false negatives); disjoint keys mostly test negative
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        contamination as C,
    )
    from pyspark.sql import functions as F

    pr = spark.createDataFrame(
        [(f"ngram {i} x",) for i in range(500)], "ngram string"
    )
    blit, m = C.probe_bloom(pr)
    hits = pr.filter(C._bloom_test(blit, m, F.col("ngram"))).count()
    assert hits == 500
    neg = spark.createDataFrame(
        [(f"other {i} y",) for i in range(500)], "ngram string"
    )
    fp = neg.filter(C._bloom_test(blit, m, F.col("ngram"))).count()
    assert fp < 50  # 1-probe bloom at >=64 bits/key: ~1/64 expected


def test_luhn_card_detection_and_redaction(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        pii as PII,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "pay 4111-1111-1111-1111 now"),          # valid, separated
        (2, "pay 4111111111111111 now"),             # valid, contiguous
        (3, "ref 4111111111111112 code"),            # card-shaped, BAD checksum
        (4, "call 555-123-4567"),                    # phone, not a card
        (5, "cards 4111111111111111 and 5500-0055-5555-5559"),  # two valid
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {r.doc_id: r for r in docs.select(
        "doc_id", *PII.pii_count_columns(cards=True)
    ).collect()}
    assert [stats[i].n_cards for i in (1, 2, 3, 4, 5)] == [1, 1, 0, 0, 2]
    assert stats[3].has_pii is False and stats[1].has_pii is True
    red = {r.doc_id: r.redacted for r in PII.pii_redact(docs, cards=True).collect()}
    assert red[1] == "pay [CARD] now"
    assert red[3] == "ref 4111111111111112 code"   # invalid left untouched
    assert red[4] == "call [PHONE]"
    assert red[5] == "cards [CARD] and [CARD]"
    # cards=False keeps legacy behavior byte-stable
    legacy = {r.doc_id: r.redacted for r in PII.pii_redact(docs).collect()}
    assert legacy[1] == "pay 4111-1111-1111-1111 now"


# r14: part of the fast driver-gate subset (default `pytest` selection
# per pytest.ini; `-m ''` runs the full suite)
import pytest as _pytest

pytestmark = _pytest.mark.driver_gate
