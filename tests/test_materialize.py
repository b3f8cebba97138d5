"""The materialization policy (knowledgeextraction_spark/materialize.py):
the driver-size probe's boundary, driver-built local frames, and
structural guards that keep every lineage cut, size probe and
python-rows frame in that one module."""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from knowledgeextraction_spark import materialize
from knowledgeextraction_spark.sources.pages import ENTITIES_SCHEMA

PKG = pathlib.Path(materialize.__file__).parent

# ``.limit(<x> + 1)``: the shape of a "does it fit on the driver?" probe
SIZE_PROBE = re.compile(r"\.limit\([^()]*\+\s*1\)")

# sinks._assert_eval_sized probes a frame's size only to RAISE on an
# oversized evaluation input; it never chooses between a driver and a
# distributed path, so it is not a materialization decision
PROBE_EXEMPT = {"sinks.py"}

# sources/pages.py:fixture_pages builds a fact-table fixture with a
# TimestampType column; the list path and the Arrow path convert naive
# datetimes differently, so it stays on createDataFrame
FRAME_EXEMPT = {("sources/pages.py", "fixture_pages")}

ENTITY_ROWS = [
    (1, "北京", ["北京市", None], "LOC", [0.5, -1.25], True),
    (2, "𠀀𝒳 non-BMP", [], "PER", [], False),
    (3, "digit 2022", ["２０２２"], "ORG", [None, 3.0], True),
]


def test_driver_rows_boundary(spark):
    limit = 5
    at = spark.range(limit)
    over = spark.range(limit + 1)
    assert sorted(r[0] for r in materialize.driver_rows(at, limit)) == list(
        range(limit)
    )
    assert materialize.driver_rows(over, limit) is None


def test_lineage_cuts_and_size_probes_live_in_one_module():
    cuts, probes = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel == "materialize.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "localCheckpoint(" in line:
                cuts.append(f"{rel}:{no}")
            if SIZE_PROBE.search(line) and rel not in PROBE_EXEMPT:
                probes.append(f"{rel}:{no}")
    assert cuts == [], f"localCheckpoint outside materialize.py: {cuts}"
    assert probes == [], f"size probe outside materialize.py: {probes}"


def test_python_row_frames_live_in_one_module():
    """Every frame the package builds from python rows is a
    ``materialize.local_frame`` (a LocalRelation): ``createDataFrame(``
    appears only in materialize.py and the exempt fixture."""
    calls = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel == "materialize.py":
            continue
        func = None
        for no, line in enumerate(path.read_text().splitlines(), 1):
            m = re.match(r"def (\w+)", line)
            if m:
                func = m.group(1)
            if "createDataFrame(" in line and (rel, func) not in FRAME_EXEMPT:
                calls.append(f"{rel}:{no}")
    assert calls == [], f"createDataFrame outside materialize.py: {calls}"


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "rows, schema",
    [
        (ENTITY_ROWS, ENTITIES_SCHEMA),
        ([], ENTITIES_SCHEMA),
        (
            [(r[0], None if r[0] == 2 else r[1], r[2], r[3]) for r in ENTITY_ROWS],
            "entity_id long, canonical_name string, aliases array<string>, "
            "label_type string",
        ),
        ([], "entity_id long, canonical_name string"),
    ],
    ids=["struct", "struct-empty", "ddl", "ddl-empty"],
)
def test_local_frame_matches_create_data_frame(spark, rows, schema):
    got = materialize.local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _plan(got).startswith("LocalRelation")
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        materialize.local_frame(spark, [(1, "a"), (2,)], "a long, b string")


def test_local_frame_runs_no_job(spark, count_jobs):
    """Collecting or size-probing a local frame runs no Spark job, and
    its broadcast builds from a driver-side LocalTableScan; a frame
    built from a python list runs a job for each, through a pickled
    RDD scan.  (Spark 4.1's BroadcastExchange still collects a
    LocalTableScan through one JVM-only job, so the broadcast is
    checked by its plan.)"""
    rows = [(i, f"s{i}") for i in range(216)]
    local = materialize.local_frame(spark, rows, "id long, s string")
    listed = spark.createDataFrame(rows, "id long, s string")
    probe = spark.range(300)

    def build_side(df):
        joined = probe.join(F.broadcast(df), "id")
        assert joined.count() == 216
        plan = joined._jdf.queryExecution().executedPlan().toString()
        return plan.split("BroadcastExchange")[1]

    assert count_jobs(local.collect) == (0, rows)
    assert count_jobs(lambda: materialize.driver_rows(local, 216))[0] == 0
    assert "LocalTableScan" in build_side(local)

    assert count_jobs(listed.collect)[0] >= 1
    assert count_jobs(lambda: materialize.driver_rows(listed, 216))[0] >= 1
    assert "ExistingRDD" in build_side(listed)


def test_release_all_frees_checkpoint_blocks(spark):
    """``sorted_output``'s checkpoint blocks survive ``clearCache``;
    ``release_all`` drops them."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs

    before = set(rdds().keys())
    materialize.sorted_output(spark.range(100), "id").collect()
    left = set(rdds().keys()) - before
    assert left
    spark.catalog.clearCache()
    assert left <= set(rdds().keys())
    materialize.release_all(spark)
    assert not rdds()
