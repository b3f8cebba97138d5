"""F14 alignment, S16 partitioned graph sink."""

from hypothesis import given, settings
from hypothesis import strategies as st

from knowledgeextraction_spark.core.align import align_texts, banded_lcs, convert_index


def test_align_identity():
    m = align_texts("hello world", "hello world")
    assert m == {i: i for i in range(len("hello world"))}


def test_align_with_insertions():
    # proc has extra marker chars the orig lacks
    orig = "abcdef"
    proc = "ab#cd#ef"
    m = align_texts(orig, proc)
    assert m is not None
    assert m[0] == 0 and m[1] == 1
    assert m[7] == 5  # 'f'
    # gap interpolation lands near the gap
    assert convert_index(m, 2, len(proc)) in (1, 2)


def test_align_gives_up_on_garbage():
    assert align_texts("abcdefgh", "zzzzzzzz") is None


def test_align_band_doubling_recovers():
    # a long prefix insertion pushes the alignment off the initial band:
    # at ratio 0.8 a partial (5/6) alignment already passes; at ratio 1.0
    # only the doubled band can find the full alignment
    orig = "x" * 30 + "target"
    proc = "target"
    m = align_texts(orig, proc, init_band=4)
    assert m is not None and len(m) >= 5
    assert all(m[j] == 30 + j for j in m)
    m_full = align_texts(orig, proc, init_band=4, min_ratio=1.0)
    assert m_full is not None and m_full[0] == 30 and len(m_full) == 6


@given(st.text(alphabet="abcd", min_size=1, max_size=40))
@settings(max_examples=100, deadline=None)
def test_align_self_is_identity(s):
    m = align_texts(s, s)
    assert m == {i: i for i in range(len(s))}


def test_banded_lcs_matches_full_lcs():
    import itertools

    def full_lcs(a, b):
        n, m = len(a), len(b)
        f = [[0] * (m + 1) for _ in range(n + 1)]
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                f[i][j] = max(
                    f[i - 1][j],
                    f[i][j - 1],
                    f[i - 1][j - 1] + (1 if a[i - 1] == b[j - 1] else 0),
                )
        return f[n][m]

    import random

    rnd = random.Random(0)
    for _ in range(20):
        a = "".join(rnd.choice("abc") for _ in range(rnd.randint(1, 15)))
        b = "".join(rnd.choice("abc") for _ in range(rnd.randint(1, 15)))
        f, _g = banded_lcs(a, b, band=20)  # band ≥ max len → exact
        assert f[-1, -1] == full_lcs(a, b), (a, b)


# --------------------------------------------------------------------------
# S16: partitioned triples/nodes/edges sink
# --------------------------------------------------------------------------


def test_write_graph_tables(spark, corpus, tmp_path):
    import os

    from knowledgeextraction_spark.pipeline import KGPipeline
    from knowledgeextraction_spark.sources.pages import (
        entities_df,
        equivalences_df,
        fixture_pages,
        rules_df,
    )

    pipe = KGPipeline(
        spark,
        entities=entities_df(spark, corpus.entities),
        rules=rules_df(spark, corpus.rules),
        equivalences=equivalences_df(spark, corpus.equivalences),
    )
    result = pipe.run(fixture_pages(spark, corpus))
    base = str(tmp_path / "graph")
    pipe.write_graph_tables(result, base, n_buckets=4)

    # predicate directory partitions exist
    parts = [d for d in os.listdir(f"{base}/graph/triples") if d.startswith("predicate=")]
    assert len(parts) >= 1

    back = spark.read.parquet(f"{base}/graph/triples")
    want = {tuple(r) for r in result.triples.collect()}
    got = {
        (r["subj_id"], r["predicate"], r["obj_id"], r["url"], r["rec_id"])
        for r in back.select("subj_id", "predicate", "obj_id", "url", "rec_id").collect()
    }
    assert got == want

    nodes = {r["entity_id"] for r in spark.read.parquet(f"{base}/graph/nodes").collect()}
    assert nodes == {t[0] for t in want} | {t[2] for t in want}

    edges = spark.read.parquet(f"{base}/graph/edges")
    assert edges.count() > 0
