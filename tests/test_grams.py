"""The one tokenizer (operators/dedup.py:normalized_words) and the gram
builders that read it: structural guards that every builder tokenizes
each input frame once, as a column, and that no module spells the
tokenizer itself."""

import pathlib
import re

import pytest

from knowledgeextraction_spark import queries
from knowledgeextraction_spark.operators import dedup, selection

PKG = pathlib.Path(queries.__file__).parent

# builder → (plan, number of tokenized input frames).  A words
# EXPRESSION read inside a lambda is copied into the lambda body, once
# per read, so the normalization shows up once per copy.
BUILDERS = {
    "shingle_table": (dedup.shingle_table, 1),
    "positional_shingle_table": (dedup.positional_shingle_table, 1),
    "hashed_grams": (selection.hashed_grams, 1),
    "_bigram_occurrences": (selection._bigram_occurrences, 1),
    "contamination_scores": (lambda d: dedup.contamination_scores(d, d), 2),
    "_paged_docs": (lambda d: queries._paged_docs(d.sparkSession, "unused"), 1),
}


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_gram_builders_tokenize_once(spark, monkeypatch, name):
    docs = spark.createDataFrame(
        [(1, "Alpha beta  gamma delta"), (2, "beta gamma")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(queries, "_docs", lambda spark, sf_dir: docs)
    build, n_frames = BUILDERS[name]
    plan = build(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") == n_frames, plan


def test_tokenizer_is_spelled_once():
    """``split(normalized_text(`` appears only inside
    ``dedup.normalized_words``."""
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        func = None
        for no, line in enumerate(path.read_text().splitlines(), 1):
            m = re.match(r"def (\w+)", line)
            if m:
                func = m.group(1)
            if "split(normalized_text(" in line and (rel, func) != (
                "operators/dedup.py",
                "normalized_words",
            ):
                sites.append(f"{rel}:{no}")
    assert sites == [], f"tokenizer spelled outside normalized_words: {sites}"
