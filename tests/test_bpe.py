"""BPE tokenizer: distributed word-freq training stage, the classic
merge loop, and Arrow-batched encoding — known answers hand-worked
from the published algorithm (Sennrich et al. 2016)."""

from __future__ import annotations

import pytest

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import (
    bpe as B,
)


@pytest.fixture(scope="module")
def tiny(spark):
    # classic toy corpus: low/lower/newest/widest with skewed counts
    rows = [
        (1, "low low low low low"),
        (2, "lower lower"),
        (3, "newest newest newest newest newest newest"),
        (4, "widest widest widest"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_freqs_exact(tiny):
    got = {r.word: r.freq for r in B.word_freqs(tiny).collect()}
    assert got == {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_train_bpe_known_merges(tiny):
    """First merges on the classic corpus: 'es' (count 9: newest 6 +
    widest 3), then 'est' (9), then 'est</w>' (9), then 'lo' (7)."""
    merges = B.train_bpe(tiny, n_merges=4)
    assert merges == [("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o")]


def test_train_bpe_partition_invariant(tiny):
    a = B.train_bpe(tiny, n_merges=6)
    b = B.train_bpe(tiny.repartition(5), n_merges=6)
    assert a == b


def test_bpe_encode_roundtrip_and_counts(tiny, spark):
    merges = B.train_bpe(tiny, n_merges=6)
    enc = {r.doc_id: r for r in B.bpe_encode(tiny, merges).collect()}
    assert enc[1].n_words == 5
    # every word's subwords concatenate back to word + </w>
    for r in enc.values():
        text = {1: "low low low low low", 2: "lower lower",
                3: "newest newest newest newest newest newest",
                4: "widest widest widest"}[r.doc_id]
        joined = "".join(r.tokens)
        assert joined == "".join(w + "</w>" for w in text.split())
    # unseen word falls back to characters + EOW under the same ranks
    novel = spark.createDataFrame([(9, "zq")], "doc_id long, text string")
    rn = B.bpe_encode(novel, merges).head()
    assert rn.tokens == ["z", "q", "</w>"] and rn.n_bpe_tokens == 3


def test_bpe_segment_word_greedy_rank_order():
    ranks = {("e", "s"): 0, ("es", "t"): 1, ("l", "o"): 2, ("lo", "w"): 3}
    assert B.bpe_segment_word("lowest", ranks) == ["low", "est", "</w>"]
