"""Seeded benchmark inputs and their expected outputs, cached by (seed, size).

Everything here runs once per (workload family, seed, size), in its own
process, before any measurement: generating 500 pages and running the
numpy oracle over them takes seconds, and none of it may land in a
metric.  A cache entry is written to a temporary directory and renamed
into place, so an interrupted run never leaves a half-built entry.

- ``kg_build``: pages from
  ``fixtures.generator.generate_corpus(n_pages, seed)``; expected triples
  from the numpy oracle ``oracle.pipeline.run_pipeline``; expected
  PageRank from the repository's DuckDB ``graph_pagerank`` oracle SQL,
  pointed at the expected triples instead of the committed golden.
- ``corpus_dedup``: documents in the shape measured on the sf0.1
  ``documents.parquet`` (figures in ``SF01_DOCS`` below), in word-salted
  blocks so the gram and shingle work grows linearly with the block
  count, plus one near-duplicate family larger than
  ``dedup.MAX_BUCKET``; expected outputs from the DuckDB
  ``oracle_sql()`` of the two registered queries it runs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

KG_PAGES = 500
DEDUP_BLOCKS = 2
DEDUP_BLOCK_DOCS = 1000
# measured on the sf0.1 documents.parquet (5,000 documents, 270,704
# words): every word is one of the 31 sources.pages.DOC_WORDS, drawn
# uniformly (each 3.26-3.39% of the words); lengths are uniform on
# 10..99 words; 250 documents (5%) are near copies, another document
# with the one word "dup" appended, picked with replacement (so 8 pairs
# of them are exact copies of each other); the languages are en 2,059,
# zh 753, es 744, fr 742, de 702; source is src<doc_id % 20>.  A block
# is that shape at 1/5 of the size; the dedup_jaccard query itself adds
# the exact replicas (every 10th document).
SF01_DOCS = {
    "min_words": 10,
    "max_words": 99,
    "near_share": 250 / 5000,
    "langs": {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702},
    "sources": 20,
}
# the near-duplicate family: copies of one template, each with one token
# unique to the copy appended (no two copies collide, so the exact-
# collapse stage keeps them all).  Tokens are drawn so the copy's one new
# shingle never undercuts the template's minhash in any band: every copy
# lands in the template's bucket in every band, 1,300 > dedup.MAX_BUCKET
# (1000) members, and the cap drops them all, whatever the seed.
FAMILY_COPIES = 1300
FAMILY_WORDS = 16
PAGE_FILES = 8
DEDUP_QUERIES = ("dedup_jaccard", "dsir_weights")


# two engines may round a float aggregate differently in its last kept
# decimal (summation order: seen on dsir_weights.logw, rounded to 4 dp),
# so float cells match within one step of the coarsest rounding used
FLOAT_TOL = 1.5e-4


def rows_match(got, expected) -> bool:
    """Same rows in any order: non-float cells equal, float cells within
    ``FLOAT_TOL``."""
    if len(got) != len(expected):
        return False

    def key(row):
        return tuple(repr(v) for v in row if not isinstance(v, float))

    for g, e in zip(sorted(got, key=key), sorted(expected, key=key)):
        if len(g) != len(e):
            return False
        for a, b in zip(g, e):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=FLOAT_TOL):
                    return False
            elif a != b:
                return False
    return True


def save_rows(path: str, rows) -> None:
    with open(path, "w") as f:
        json.dump([list(r) for r in rows], f)


def load_rows(path: str) -> list[tuple]:
    with open(path) as f:
        return [tuple(r) for r in json.load(f)]


def kg_dir(cache: str, seed: int) -> str:
    return os.path.join(cache, f"kg-seed{seed}-pages{KG_PAGES}")


def dedup_dir(cache: str, seed: int) -> str:
    size = f"{DEDUP_BLOCKS}x{DEDUP_BLOCK_DOCS}-fam{FAMILY_COPIES}x{FAMILY_WORDS}"
    return os.path.join(cache, f"dedup-seed{seed}-docs{size}")


def load_meta(entry: str) -> dict:
    with open(os.path.join(entry, "meta.json")) as f:
        return json.load(f)


def _publish(tmp: str, entry: str, meta: dict) -> None:
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(entry, ignore_errors=True)
    os.rename(tmp, entry)


def _fresh_tmp(entry: str) -> str:
    tmp = f"{entry}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    return con


# --------------------------------------------------------------------------
# KG pages
# --------------------------------------------------------------------------


def prepare_kg(cache: str, seed: int) -> str:
    entry = kg_dir(cache, seed)
    if os.path.exists(os.path.join(entry, "meta.json")):
        return entry
    import pyarrow as pa
    import pyarrow.parquet as pq

    from knowledgeextraction_spark.fixtures.generator import generate_corpus
    from knowledgeextraction_spark.oracle.pipeline import run_pipeline

    corpus = generate_corpus(n_pages=KG_PAGES, seed=seed)
    tmp = _fresh_tmp(entry)
    pages_dir = os.path.join(tmp, "pages")
    os.makedirs(pages_dir)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    # several files, so the scan has more than one split (a production
    # pages table has thousands)
    for i in range(PAGE_FILES):
        part = corpus.pages[i::PAGE_FILES]
        table = pa.table(
            {
                "url": [p.url for p in part],
                "warc_ts": [p.warc_ts for p in part],
                "html": [p.html for p in part],
                "text": [p.text for p in part],
                "lang": [p.lang for p in part],
            },
            schema=schema,
        )
        pq.write_table(table, os.path.join(pages_dir, f"part-{i:03d}.parquet"))

    dims = {
        "entities": [
            [e.entity_id, e.canonical_name, e.aliases, e.label_type, e.embedding, e.is_head]
            for e in corpus.entities
        ],
        "rules": [[r.subj_label, r.obj_label, r.pattern, r.predicate] for r in corpus.rules],
        "equivalences": [list(p) for p in corpus.equivalences],
    }
    with open(os.path.join(tmp, "dims.json"), "w") as f:
        json.dump(dims, f)

    _records, _mentions, triples = run_pipeline(corpus)
    triple_rows = [(t.subj_id, t.predicate, t.obj_id, t.url, t.rec_id) for t in triples]
    pr_rows = _pagerank_oracle(triple_rows)
    save_rows(os.path.join(tmp, "expected_triples.json"), triple_rows)
    save_rows(os.path.join(tmp, "expected_pagerank.json"), pr_rows)
    meta = {
        "seed": seed,
        "pages": len(corpus.pages),
        "zh_pages": sum(p.lang == "zh" for p in corpus.pages),
        "triples": len(triple_rows),
        "pagerank_nodes": len(pr_rows),
    }
    _publish(tmp, entry, meta)
    return entry


def _pagerank_oracle(triple_rows) -> list[tuple]:
    """The registered ``graph_pagerank`` DuckDB oracle over these triples."""
    import pandas as pd

    from knowledgeextraction_spark.queries import ORACLES, sql_golden

    golden = sql_golden("kg_triples")
    sql = ORACLES["graph_pagerank"]
    if golden not in sql:
        raise RuntimeError("graph_pagerank oracle no longer reads the kg_triples golden")
    con = _duckdb()
    con.register(
        "expected_triples",
        pd.DataFrame(
            triple_rows, columns=["subj_id", "predicate", "obj_id", "url", "rec_id"]
        ),
    )
    out = con.execute(sql.replace(golden, "SELECT * FROM expected_triples")).fetchall()
    con.close()
    return out


# --------------------------------------------------------------------------
# documents
# --------------------------------------------------------------------------


def _documents(seed: int) -> list[tuple]:
    import numpy as np

    from knowledgeextraction_spark.operators import dedup
    from knowledgeextraction_spark.sources.pages import DOC_WORDS

    rng = np.random.default_rng(seed)
    shape = SF01_DOCS
    n_near = round(DEDUP_BLOCK_DOCS * shape["near_share"])
    lengths = (shape["min_words"], shape["max_words"] + 1, DEDUP_BLOCK_DOCS - n_near)
    texts: list[str] = []
    for block in range(DEDUP_BLOCKS):
        vocab = [f"{w}x{block}" for w in DOC_WORDS]
        base = [" ".join(rng.choice(vocab, size=n)) for n in rng.integers(*lengths)]
        near = [f"{base[i]} dupx{block}" for i in rng.integers(0, len(base), size=n_near)]
        texts += base + near
    template = [f"famx{w}" for w in rng.choice(DOC_WORDS, size=FAMILY_WORDS)]
    texts.extend(_family(template, dedup.SHINGLE, dedup.N_BANDS))
    order = rng.permutation(len(texts))
    langs = list(shape["langs"])
    counts = np.array(list(shape["langs"].values()), dtype=float)
    drawn = rng.choice(len(langs), size=len(texts), p=counts / counts.sum())
    return [
        (
            doc_id,
            texts[int(j)],
            langs[int(drawn[doc_id])],
            f"src{doc_id % shape['sources']}",
            len(texts[int(j)]),
        )
        for doc_id, j in enumerate(order)
    ]


def _band_minhash(shingles: list[str], n_bands: int) -> list[str]:
    """dedup.minhash_signatures of one document, in python."""
    return [
        min(hashlib.md5(f"{b}:{sh}".encode()).hexdigest() for sh in shingles)
        for b in range(n_bands)
    ]


def _family(template: list[str], n: int, n_bands: int) -> list[str]:
    """The near-duplicate family over ``template`` (word ``n``-gram
    shingles, ``n_bands`` bands)."""
    floor = _band_minhash(
        [" ".join(template[i : i + n]) for i in range(len(template) - n + 1)], n_bands
    )
    tail = template[len(template) - n + 1 :]
    copies: list[str] = []
    k = 0
    while len(copies) < FAMILY_COPIES:
        token = f"famvar{k}"
        k += 1
        sig = _band_minhash([" ".join([*tail, token])], n_bands)
        if all(a > b for a, b in zip(sig, floor)):
            copies.append(" ".join([*template, token]))
    return copies


def prepare_dedup(cache: str, seed: int) -> str:
    entry = dedup_dir(cache, seed)
    if os.path.exists(os.path.join(entry, "meta.json")):
        return entry
    import pyarrow as pa
    import pyarrow.parquet as pq

    from knowledgeextraction_spark.queries import ORACLES

    docs = _documents(seed)
    tmp = _fresh_tmp(entry)
    path = os.path.join(tmp, "documents.parquet")
    cols = list(zip(*docs))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(cols[0], pa.int64()),
                "text": pa.array(cols[1], pa.string()),
                "lang": pa.array(cols[2], pa.string()),
                "source": pa.array(cols[3], pa.string()),
                "n_chars": pa.array(cols[4], pa.int64()),
            }
        ),
        path,
    )
    con = _duckdb()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    meta = {"seed": seed, "documents": len(docs)}
    for name in DEDUP_QUERIES:
        out = con.execute(ORACLES[name]).fetchall()
        meta[f"{name}_rows"] = len(out)
        save_rows(os.path.join(tmp, f"expected_{name}.json"), out)
    con.close()
    _publish(tmp, entry, meta)
    return entry
