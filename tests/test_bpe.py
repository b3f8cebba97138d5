"""Distributed BPE training vs the independent python oracle."""

import pandas as pd
import pytest


def test_bpe_planted_classic(spark):
    """The Sennrich toy corpus: first merges are hand-derivable."""
    from knowledgeextraction_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest"),
         (2, "newest newest newest newest widest widest widest")],
        "doc_id long, text string",
    )
    got = bpe.train_bpe(docs, n_merges=4)
    # pair freqs round 0: (e,s) and (s,t) and (t,</w>) each 9 (newest
    # x6 + widest x3); tie-break lexicographic -> (e,s) first, then
    # 'es' makes (es,t) freq 9, then (est,</w>) 9
    assert got[0] == (0, "e", "s", 9)
    assert got[1] == (1, "es", "t", 9)
    assert got[2] == (2, "est", "</w>", 9)
    # next: l,o appears in low x5 + lower x2 = 7
    assert got[3] == (3, "l", "o", 7)


def test_bpe_spark_matches_python_oracle(spark):
    """Exact merge-sequence equality on a mixed random fixture —
    including the greedy fold vs index-scan equivalence on repeated
    symbols ('aaaa' words)."""
    from knowledgeextraction_spark.operators import bpe
    from knowledgeextraction_spark.oracle import bpe as pybpe

    texts = [
        "aaaa aa aaaa banana bandana ananas",
        "the cat sat on the mat the cat",
        "aaaa banana the the the",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    from collections import Counter

    freqs = Counter()
    for t in texts:
        for w in t.split():
            freqs[w] += 1
    want = pybpe.train_bpe(freqs, n_merges=10)
    got = bpe.train_bpe(docs, n_merges=10)
    assert got == want


def test_bpe_encode_planted(spark):
    """Encode counts under a known merge list, no training involved."""
    from knowledgeextraction_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "low low"), (2, "lot")], "doc_id long, text string"
    )
    # merges: l+o -> lo, lo+w -> low, low+</w> -> low</w>
    merges = [(0, "l", "o", 0), (1, "lo", "w", 0), (2, "low", "</w>", 0)]
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe.encode_token_counts(docs, merges=merges).collect()
    }
    # 'low' -> ['low</w>'] = 1 token; 'lot' -> ['lo','t','</w>'] = 3
    assert got == {1: (2, 2), 2: (1, 3)}


def test_bpe_driver_path_matches_distributed(spark, monkeypatch):
    """r06: the driver-side merge loop (vocab under DRIVER_VOCAB_ROWS)
    and the distributed per-round loop (forced by setting it to 0)
    must learn the identical merge sequence."""
    from knowledgeextraction_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest"),
         (2, "newest newest newest newest widest widest widest"),
         (3, "aaaa aa aaaa banana bandana ananas the cat sat")],
        "doc_id long, text string",
    )
    fast = bpe.train_bpe(docs, n_merges=12)
    monkeypatch.setattr(bpe, "DRIVER_VOCAB_ROWS", 0)
    dist = bpe.train_bpe(docs, n_merges=12)
    assert fast == dist


def test_bpe_encode_udf_matches_oracle_at_high_merge_count(spark):
    """r06: the pandas_udf encoder (replacing the n_merges-deep
    Catalyst fold) equals the python oracle encoder at a merge count
    far past the old expression-depth ceiling."""
    from knowledgeextraction_spark.operators import bpe
    from knowledgeextraction_spark.oracle import bpe as pybpe

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs the quick brown fox",
        "sphinx of black quartz judge my vow jumps jumps jugs dog",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    from collections import Counter

    freqs = Counter(w for t in texts for w in t.split())
    merges = pybpe.train_bpe(freqs, n_merges=600)
    assert bpe.train_bpe(docs, n_merges=600) == merges
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe.encode_token_counts(docs, merges=merges).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        words = t.split()
        want[i] = (
            len(words),
            sum(pybpe.encode_word(w, merges) for w in words),
        )
    assert got == want


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_bpe_golden_fresh(sf):
    """Committed golden parquet == a live python-oracle recompute."""
    from knowledgeextraction_spark.oracle import bpe as pybpe

    fresh = pybpe.merges_frame(f"/root/testdata/{sf}")
    committed = pd.read_parquet(f"golden/{sf}/bpe_merges.parquet")
    pd.testing.assert_frame_equal(fresh, committed)

    fresh_tc = pybpe.token_counts_frame(f"/root/testdata/{sf}")
    committed_tc = pd.read_parquet(f"golden/{sf}/bpe_token_counts.parquet")
    pd.testing.assert_frame_equal(fresh_tc, committed_tc)
