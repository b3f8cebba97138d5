"""The ``pages`` input table (url, warc_ts, html, text, lang) [NORTH].

Two constructors:

- ``fixture_pages``: materialize the deterministic synthetic corpus
  (FIXTURES.md) as a DataFrame — used by pytest and oracle-parity runs.
- ``pages_from_documents``: derive pages from the driver-provided
  ``documents`` parquet via a *deterministic, SQL-expressible*
  word→zh transliteration (``word_mapping``): every whitespace token of
  the closed 31-word document vocabulary maps to an entity surface, a
  rule connective, a sentence delimiter, or filler — so the driver's
  tables flow through the real NER→link→triples pipeline and the same
  transform can be written as DuckDB SQL for the correctness oracle.

In production this table is an Iceberg scan
(``spark.read.table("pages")``); here it's parquet/createDataFrame with
the same schema.  The dimension tables (entities, rules, equivalences)
are driver-built ``materialize.local_frame``s.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..core.labels import ENTITY_TYPES
from ..materialize import local_frame
from ..fixtures.generator import (
    _CONNECTIVE_POOL,
    _FILLER_POOL,
    Corpus,
    Entity,
    Rule,
    generate_corpus,
    generate_dictionary,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

DOC_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]

_N_ENTITY_WORDS = 16
_N_CONN_WORDS = 6


@lru_cache(maxsize=1)
def dictionary(seed: int = 42) -> tuple[list[Entity], list[Rule]]:
    entities, rules, _rng = generate_dictionary(seed)
    return entities, rules


@lru_cache(maxsize=1)
def word_mapping() -> dict[str, str]:
    """Deterministic token → zh-snippet map over the document vocabulary.

    - 'a' → '，' and 'the' → '。' (sentence delimiters),
    - next 16 words (sorted order, skipping delims) → canonical entity
      surfaces spread across the 8 types,
    - next 6 words → 2-char rule connectives,
    - remainder → 2-char filler strings.
    """
    entities, _rules = dictionary()
    by_type: dict[str, list[Entity]] = {}
    for e in entities:
        by_type.setdefault(e.label_type, []).append(e)

    mapping: dict[str, str] = {"a": "，", "the": "。"}
    rest = [w for w in DOC_WORDS if w not in mapping]
    for i, w in enumerate(rest):
        if i < _N_ENTITY_WORDS:
            typ = ENTITY_TYPES[i % len(ENTITY_TYPES)]
            mapping[w] = by_type[typ][i // len(ENTITY_TYPES)].canonical_name
        elif i < _N_ENTITY_WORDS + _N_CONN_WORDS:
            j = i - _N_ENTITY_WORDS
            mapping[w] = _CONNECTIVE_POOL[2 * j] + _CONNECTIVE_POOL[2 * j + 1]
        else:
            j = i - _N_ENTITY_WORDS - _N_CONN_WORDS
            mapping[w] = _FILLER_POOL[2 * j] + _FILLER_POOL[2 * j + 1]
    return mapping


@lru_cache(maxsize=1)
def doc_rules() -> list[Rule]:
    """Rules for the documents-derived world: all ordered type pairs,
    each assigned one of the 6 connectives by index hash."""
    rules = []
    for i1, t1 in enumerate(ENTITY_TYPES):
        for i2, t2 in enumerate(ENTITY_TYPES):
            j = (i1 * len(ENTITY_TYPES) + i2) % _N_CONN_WORDS
            pattern = _CONNECTIVE_POOL[2 * j] + _CONNECTIVE_POOL[2 * j + 1]
            rules.append(Rule(t1, t2, pattern, f"rel_{t1}_{t2}"))
    return rules


def _case_for(tok):
    """CASE tok WHEN 'a' THEN '，' ... ELSE '' END as a chained when()."""
    case = None
    for k, v in word_mapping().items():
        case = case.when(tok == k, v) if case is not None else F.when(tok == k, v)
    return case.otherwise(F.lit(""))


def translit_expr(col: str = "text"):
    """Spark Column: transliterate a document's text via word_mapping.

    split on space → per-token CASE map → concat. Stays entirely in
    Catalyst expressions (whole-stage codegen, no Python).
    """
    return F.array_join(F.transform(F.split(F.col(col), " "), _case_for), "")


def translit_sql(col: str = "text") -> str:
    """DuckDB SQL expression equivalent of ``translit_expr`` (the oracle)."""
    mapping = word_mapping()
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in mapping.items())
    return (
        f"list_aggregate(list_transform(string_split({col}, ' '), "
        f"w -> CASE w {whens} ELSE '' END), 'string_agg', '')"
    )


URL_EXPR = "concat('https://', source, '.test/p', cast(doc_id as string))"
URL_SQL = "concat('https://', source, '.test/p', cast(doc_id as varchar))"
WARC_TS_EXPR = "timestamp'2025-01-01' + make_interval(0,0,0,0,0,cast(doc_id as int),0)"
WARC_TS_SQL = "TIMESTAMP '2025-01-01' + to_minutes(doc_id)"


@pandas_udf(BinaryType())
def render_udf(text: pd.Series, lang: pd.Series, url: pd.Series) -> pd.Series:
    from ..core.textops import render_html

    return pd.Series(
        [render_html(t, lg, title=u) for t, lg, u in zip(text, lang, url)]
    )


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages(url, warc_ts, html, text, lang).

    html is rendered from the transliterated text by an Arrow-batched
    pandas UDF (core.textops.render_html); the extract stage must invert
    it byte-identically.
    """
    # NOTE (r06, measured): do NOT repartition before the render UDF at
    # this input size — the single-task pipelined scan→translit→render
    # beats exchange + 32 Arrow round-trips ~2× at sf0.1 (0.45s vs
    # 0.7-0.8s); the downstream detect stage repartitions explicitly.
    # At production scale the scan itself has thousands of file-splits
    # and the question disappears (bench.py's ×96 scaling fixture
    # repartitions its replicated input for the same reason).
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.expr(URL_EXPR).alias("url"),
        F.expr(WARC_TS_EXPR).alias("warc_ts"),
        translit_expr("text").alias("text"),
        F.col("lang"),
    )
    return pages.withColumn("html", render_udf("text", "lang", "url")).select(
        "url", "warc_ts", "html", "text", "lang"
    )


# --------------------------------------------------------------------------
# dimension tables
# --------------------------------------------------------------------------

ENTITIES_SCHEMA = StructType(
    [
        StructField("entity_id", LongType(), False),
        StructField("canonical_name", StringType(), False),
        StructField("aliases", ArrayType(StringType()), False),
        StructField("label_type", StringType(), False),
        StructField("embedding", ArrayType(FloatType()), False),
        StructField("is_head", BooleanType(), False),
    ]
)


def entities_df(spark: SparkSession, entities: list[Entity] | None = None) -> DataFrame:
    if entities is None:
        entities, _ = dictionary()
    rows = [
        (e.entity_id, e.canonical_name, e.aliases, e.label_type, e.embedding, e.is_head)
        for e in entities
    ]
    return local_frame(spark, rows, ENTITIES_SCHEMA)


def rules_df(spark: SparkSession, rules: list[Rule] | None = None) -> DataFrame:
    if rules is None:
        rules = doc_rules()
    return local_frame(
        spark,
        [(r.subj_label, r.obj_label, r.pattern, r.predicate) for r in rules],
        "subj_label string, obj_label string, pattern string, predicate string",
    )


def equivalences_df(spark: SparkSession, equivalences: list[tuple[str, str]]) -> DataFrame:
    return local_frame(spark, equivalences, "surface_a string, surface_b string")


def doc_equivalences() -> list[tuple[str, str]]:
    """Equivalence edges for the documents-derived world: per-entity
    alias chains from the canonical dictionary."""
    entities, _ = dictionary()
    edges = []
    for e in entities:
        prev = e.canonical_name
        for a in e.aliases:
            edges.append((prev, a))
            prev = a
    return edges


def fixture_pages(spark: SparkSession, corpus: Corpus | None = None, n_pages: int = 100, seed: int = 42) -> DataFrame:
    if corpus is None:
        corpus = generate_corpus(n_pages=n_pages, seed=seed)
    rows = [(p.url, p.warc_ts, p.html, p.text, p.lang) for p in corpus.pages]
    # a fact-table fixture, not a local_frame: the list path and the
    # Arrow path convert naive ``warc_ts`` datetimes differently
    return spark.createDataFrame(rows, PAGES_SCHEMA)
