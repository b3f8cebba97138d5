"""Golden-parquet oracle freshness: the committed golden files (read by
the kg_mentions/kg_linked/kg_triples DuckDB oracles) must equal a live
run of the independent numpy oracle, and the Spark queries must equal
the golden."""

import os

import pandas as pd
import pytest

from knowledgeextraction_spark.oracle.docworld import compute_golden

SF_DIR = os.environ.get("SPARKKG_TEST_SF", "/root/testdata/sf0.001")
GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "golden",
    os.path.basename(SF_DIR.rstrip("/")),
)


@pytest.fixture(scope="module")
def live_golden():
    return compute_golden(SF_DIR)


# golden name → driver-query name (only the fit differs)
QUERY_OF = {"crf_fit": "crf_fit_distributed"}


@pytest.mark.parametrize("name", ["kg_mentions", "kg_linked", "kg_triples", "mrc_answers", "kg_relations_scored", "crf_fit"])
def test_committed_golden_is_fresh(live_golden, name):
    committed = pd.read_parquet(f"{GOLDEN_DIR}/{name}.parquet")
    live = live_golden[name]
    cols = sorted(live.columns)
    a = committed[cols].sort_values(cols).reset_index(drop=True)
    b = live[cols].sort_values(cols).reset_index(drop=True)
    assert list(a.dtypes) == list(b.dtypes)
    assert a.equals(b), f"{name}: committed golden is stale — regenerate with python -m knowledgeextraction_spark.oracle.docworld {SF_DIR}"


@pytest.mark.parametrize("name", ["kg_mentions", "kg_linked", "kg_triples", "mrc_answers", "kg_relations_scored", "crf_fit"])
def test_spark_matches_numpy_golden(spark, live_golden, name):
    import __spark_entry__ as em

    spdf = em.queries()[QUERY_OF.get(name, name)](spark, SF_DIR).toPandas()
    live = live_golden[name]
    cols = sorted(live.columns)
    a = spdf[cols].sort_values(cols).reset_index(drop=True)
    b = live[cols].sort_values(cols).reset_index(drop=True)
    assert list(a.dtypes) == list(b.dtypes)
    assert len(a) == len(b) and a.equals(b)


def test_html_roundtrip_on_docworld():
    """render_html → extract_text is byte-identical on the doc-world."""
    from knowledgeextraction_spark.oracle.docworld import docworld_records

    assert len(docworld_records(SF_DIR, verify_html_roundtrip=True)) > 0


def test_run_pipeline_script_matches_golden(spark, tmp_path):
    """The spark-submit entrypoint (scripts/run_pipeline.py), run as its
    own process, writes graph tables whose triples equal the golden."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "kg_out"
    script = os.path.join(repo, "scripts", "run_pipeline.py")
    proc = subprocess.run(
        [sys.executable, script, "--sf-dir", SF_DIR, "--out", str(out)],
        env=dict(os.environ, PYTHONPATH=repo),
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    cols = ["subj_id", "predicate", "obj_id", "url", "rec_id"]
    graph = spark.read.parquet(str(out / "graph" / "triples")).select(*cols)
    got = {tuple(r) for r in graph.collect()}
    golden = pd.read_parquet(f"{GOLDEN_DIR}/kg_triples.parquet")[cols]
    want = set(golden.itertuples(index=False, name=None))
    assert len(want) > 0 and got == want
