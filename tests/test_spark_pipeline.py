"""Spark pipeline vs single-node oracle: the parity gate.

BASELINE.json north_rule: emitted triples must match the reference
pipeline's outputs at P/R ≥ 0.95. Oracle and pipeline share weights and
per-row code, so we assert exact equality (P/R = 1.0) on every stage.
"""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from knowledgeextraction_spark import pipeline
from knowledgeextraction_spark.core.packing import pack_sentences
from knowledgeextraction_spark.core.textops import extract_text
from knowledgeextraction_spark.oracle.pipeline import run_pipeline
from knowledgeextraction_spark.pipeline import KGPipeline
from knowledgeextraction_spark.sources.pages import (
    entities_df,
    equivalences_df,
    fixture_pages,
    rules_df,
)


def _pipeline(spark, corpus, **kw):
    return KGPipeline(
        spark,
        entities=entities_df(spark, corpus.entities),
        rules=rules_df(spark, corpus.rules),
        equivalences=equivalences_df(spark, corpus.equivalences),
        **kw,
    )


@pytest.fixture(scope="module")
def pipeline_result(spark, corpus):
    pages = fixture_pages(spark, corpus)
    pipe = _pipeline(spark, corpus)
    return pipe.run(pages), pipe


@pytest.fixture(scope="module")
def oracle_result(corpus):
    return run_pipeline(corpus)


def test_extract_byte_identical(spark, corpus):
    """[NORTH] per-row invariant: extracted text byte-identical per url."""
    from knowledgeextraction_spark.operators.extract import extracted_text

    pages = fixture_pages(spark, corpus)
    got = {
        r["url"]: r["t"]
        for r in pages.select("url", extracted_text("html").alias("t")).collect()
    }
    for p in corpus.pages:
        assert got[p.url] == extract_text(p.html) == p.text, p.url


def test_records_match_oracle(pipeline_result, oracle_result):
    result, _ = pipeline_result
    oracle_records, _, _ = oracle_result
    got = {(r["url"], r["rec_id"]): r["text"] for r in result.records.collect()}
    assert got == oracle_records


def test_mentions_match_oracle_exactly(pipeline_result, oracle_result):
    result, _ = pipeline_result
    _, oracle_mentions, _ = oracle_result
    got = {
        (r["url"], r["rec_id"], r["start_pos"], r["end_pos"], r["label_type"], r["surface"])
        for r in result.mentions.collect()
    }
    want = {
        (m.url, m.rec_id, m.start_pos, m.end_pos, m.label_type, m.surface)
        for m in oracle_mentions
    }
    assert got == want


def test_triples_pr_gate(pipeline_result, oracle_result):
    """The north_rule gate: P/R ≥ 0.95 vs reference outputs (expect 1.0)."""
    result, _ = pipeline_result
    _, _, oracle_triples = oracle_result
    got = {
        (r["subj_id"], r["predicate"], r["obj_id"], r["url"], r["rec_id"])
        for r in result.triples.collect()
    }
    want = {
        (t.subj_id, t.predicate, t.obj_id, t.url, t.rec_id) for t in oracle_triples
    }
    assert len(want) > 0, "oracle produced no triples — fixture too sparse"
    tp = len(got & want)
    precision = tp / max(len(got), 1)
    recall = tp / len(want)
    assert precision >= 0.95, f"precision {precision:.3f}: extra={sorted(got - want)[:5]}"
    assert recall >= 0.95, f"recall {recall:.3f}: missing={sorted(want - got)[:5]}"
    assert got == want  # stronger: exact


def test_components_match_expected(spark, corpus):
    from knowledgeextraction_spark.operators.canonicalize import surface_components
    from knowledgeextraction_spark.operators.link import surface_dictionary

    sc = surface_components(
        equivalences_df(spark, corpus.equivalences),
        surface_dictionary(entities_df(spark, corpus.entities)),
    )
    got = {r["surface"]: r["component_id"] for r in sc.collect()}
    assert got == corpus.expected_components


def test_entity_component_map_local_parity(spark, corpus):
    """The driver fast path (entity_component_map_rows, r06) must equal
    the distributed operator bit-for-bit — on the pytest fixture
    dictionary AND on the doc-world dictionary q_kg_triples actually
    feeds it."""
    from knowledgeextraction_spark.operators.canonicalize import (
        entity_component_map,
        entity_component_map_rows,
    )
    from knowledgeextraction_spark.operators.link import surface_dictionary
    from knowledgeextraction_spark.sources import pages as ps

    from knowledgeextraction_spark.operators.link import surface_dictionary_rows

    for eq, ents in [
        (corpus.equivalences, corpus.entities),
        (ps.doc_equivalences(), ps.dictionary()[0]),
    ]:
        dist = entity_component_map(
            equivalences_df(spark, eq),
            surface_dictionary(entities_df(spark, ents)),
        )
        want = sorted((r["entity_id"], r["canonical_id"]) for r in dist.collect())
        got = entity_component_map_rows(eq, ents)
        assert got == want
        dic_dist = sorted(
            (r["surface"], r["label_type"], r["entity_id"])
            for r in surface_dictionary(entities_df(spark, ents)).collect()
        )
        assert surface_dictionary_rows(ents) == dic_dist


def test_resume_skips_completed_stages(spark, corpus, tmp_path):
    """[NORTH] resumability: second run re-reads snapshots, outputs equal."""
    pages = fixture_pages(spark, corpus)
    out = str(tmp_path / "kg")

    r1 = _pipeline(spark, corpus, out_dir=out).run(pages)
    t1 = {tuple(r) for r in r1.triples.collect()}
    assert r1.stage_times  # first run actually computed stages
    n_lineage = spark.read.parquet(f"{out}/_lineage").count()

    r2 = _pipeline(spark, corpus, out_dir=out).run(pages)
    t2 = {tuple(r) for r in r2.triples.collect()}
    assert r2.stage_times == {}  # nothing recomputed
    assert t1 == t2

    lineage = spark.read.parquet(f"{out}/_lineage")
    assert lineage.count() == n_lineage  # the resumed run appended nothing
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert stages == {"records", "mentions", "linked", "triples"}
    for stage in stages:
        # one row per written part file, indexed in sorted file order,
        # counts summing to the snapshot's rows
        n_parts = len(list((tmp_path / "kg" / stage).glob("part-*")))
        rows = lineage.filter(F.col("stage") == stage).collect()
        assert sorted(r["partition_id"] for r in rows) == list(range(n_parts))
        assert sum(r["count"] for r in rows) == spark.read.parquet(
            f"{out}/{stage}"
        ).count()


def test_distributed_dimensions_match_driver_path(
    spark, corpus, pipeline_result, monkeypatch
):
    """Entity or equivalence tables over DRIVER_MAX_EDGES take the
    distributed surface_dictionary and entity_component_map: the linked
    and triples outputs equal the driver-resolved path's."""
    from knowledgeextraction_spark import materialize

    result, _ = pipeline_result
    monkeypatch.setattr(materialize, "DRIVER_MAX_EDGES", 0)
    pipe = _pipeline(spark, corpus)
    dist = pipe.run(fixture_pages(spark, corpus))
    cmap_plan = pipe.component_map()._jdf.queryExecution().optimizedPlan()
    assert not cmap_plan.toString().startswith("LocalRelation")  # fallback fired
    for name in ("linked", "triples"):
        got = {tuple(r) for r in getattr(dist, name).collect()}
        want = {tuple(r) for r in getattr(result, name).collect()}
        assert got == want and len(got) > 0, name


# measured 10 jobs (local[4], 8 shuffle partitions); the margin absorbs
# AQE re-planning jitter.  With list-built dimension frames, a lineage
# job per stage and the distributed component map the same run takes 38.
PIPELINE_JOB_BUDGET = 14


def test_pipeline_job_budget(spark, corpus, tmp_path, count_jobs):
    """A materializing KGPipeline run on the fixture corpus runs no
    Spark job over driver-sized data: dimension tables and lineage are
    resolved on the driver."""
    pages = fixture_pages(spark, corpus)
    pipe = _pipeline(spark, corpus, out_dir=str(tmp_path / "kg"))
    jobs, _ = count_jobs(lambda: pipe.run(pages))
    assert jobs <= PIPELINE_JOB_BUDGET


def test_digit_alias_narrow_oracle_parity(spark, corpus):
    """Digit-bearing mention surfaces link and emit triples identically
    through the narrow plan, the linked stage and the numpy oracle.

    Raw and digit-normalized lookups agree only while surfaces carry no
    digits, so this fixture plants a mention whose raw surface is a
    digit VARIANT ('…2') of a dictionary digit alias ('…1'): both
    normalize to '…0', so every path must link it and emit the triple."""
    from knowledgeextraction_spark.operators.canonicalize import entity_component_map
    from knowledgeextraction_spark.operators.detect import (
        RECORDS_MENTIONS_SCHEMA,
        explode_mentions,
    )
    from knowledgeextraction_spark.operators.link import link_mentions, surface_dictionary
    from knowledgeextraction_spark.operators.triples import emit_triples_narrow
    from knowledgeextraction_spark.oracle import pipeline as opl

    e0 = corpus.entities[0]  # carries digit aliases (generator post-step)
    assert any(any(c.isdigit() for c in a) for a in e0.aliases)
    rule = next(r for r in corpus.rules if r.subj_label == e0.label_type)
    obj_ent = next(
        e for e in corpus.entities if e.label_type == rule.obj_label and e is not e0
    )
    # record text: <digit-variant of e0's alias><connective><obj surface>。
    surf1 = e0.canonical_name + "2"  # normalizes to canonical+'0', like the '1' alias
    surf2 = obj_ent.canonical_name
    text = surf1 + rule.pattern + surf2 + "。"
    m1 = (0, len(surf1), e0.label_type, surf1)
    m2 = (
        len(surf1) + len(rule.pattern),
        len(surf1) + len(rule.pattern) + len(surf2),
        rule.obj_label,
        surf2,
    )
    rm = spark.createDataFrame(
        [("https://digit.test/p0", 0, text, [m1, m2])], RECORDS_MENTIONS_SCHEMA
    )

    entities = entities_df(spark, corpus.entities)
    rules = rules_df(spark, corpus.rules)
    dictionary = surface_dictionary(entities)
    cmap = entity_component_map(equivalences_df(spark, corpus.equivalences), dictionary)

    narrow = {
        tuple(r)
        for r in emit_triples_narrow(rm, rules, dictionary, cmap)
        .select("subj_id", "predicate", "obj_id", "url", "rec_id")
        .collect()
    }

    oracle_linked = opl.link_mentions(
        [
            opl.Mention("https://digit.test/p0", 0, s, e, t, surf)
            for s, e, t, surf in (m1, m2)
        ],
        corpus.entities,
    )
    comp_of_entity = {
        e.entity_id: corpus.expected_components[e.canonical_name]
        for e in corpus.entities
    }
    oracle = {
        (t.subj_id, t.predicate, t.obj_id, t.url, t.rec_id)
        for t in opl.emit_triples(
            oracle_linked,
            {("https://digit.test/p0", 0): text},
            corpus.rules,
            comp_of_entity,
        )
    }

    assert len(narrow) == 1, "digit-alias mention failed to link via the narrow path"
    assert narrow == oracle
    linked = {
        (r["start_pos"], r["entity_id"])
        for r in link_mentions(explode_mentions(rm), dictionary).collect()
    }
    assert linked == {(m.start_pos, eid) for m, eid in oracle_linked}
    assert len(linked) == 2


def test_distributed_components_match_driver_path(spark, corpus, monkeypatch):
    """The iterative min-label-propagation CC (the 100-TB path) and the
    driver union-find fast path produce identical components."""
    from knowledgeextraction_spark.operators.canonicalize import connected_components
    from knowledgeextraction_spark.operators.link import surface_dictionary

    sid = surface_dictionary(entities_df(spark, corpus.entities)).select(
        "surface", "entity_id"
    )
    e = (
        equivalences_df(spark, corpus.equivalences)
        .join(sid.withColumnRenamed("surface", "surface_a"), "surface_a")
        .withColumnRenamed("entity_id", "src")
        .join(
            sid.withColumnRenamed("surface", "surface_b").withColumnRenamed(
                "entity_id", "dst"
            ),
            "surface_b",
        )
        .select("src", "dst")
    )
    from knowledgeextraction_spark import materialize

    local = {
        (r["id"], r["component"]) for r in connected_components(e).collect()
    }
    monkeypatch.setattr(materialize, "DRIVER_MAX_EDGES", 0)
    dist = {
        (r["id"], r["component"]) for r in connected_components(e).collect()
    }
    assert dist == local and len(dist) > 0


# the fused detect, link and triples operators: only KGPipeline wires
# them, so every KG query and the deployed pipeline share one wiring
KG_OPERATORS = {"detect_records_from_pages", "link_mentions", "emit_triples_narrow"}


def test_kg_operators_are_wired_only_by_pipeline():
    """Inside the package only pipeline.py calls the KG operators.  A
    module that defines one of the names itself calls its own function:
    the operator's module, and oracle/pipeline.py's numpy twin of
    ``link_mentions``."""
    pkg = pathlib.Path(pipeline.__file__).parent
    calls = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        if rel == "pipeline.py":
            continue
        tree = ast.parse(path.read_text())
        own = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", getattr(node.func, "attr", None))
            if name in KG_OPERATORS - own:
                calls.append(f"{rel}:{node.lineno} {name}")
    assert calls == [], f"KG operators wired outside pipeline.py: {calls}"
