import os

import pytest

# Point the golden-parquet oracles (kg_mentions/linked/triples) at the
# same scale factor the local duckdb-parity tests run at.  Must be set
# before knowledgeextraction_spark.queries is first imported.
_SF = os.path.basename(
    os.environ.get("SPARKKG_TEST_SF", "/root/testdata/sf0.001").rstrip("/")
)
os.environ.setdefault("SPARKKG_GOLDEN_SF", _SF)


@pytest.fixture(scope="session")
def spark():
    from knowledgeextraction_spark.session import get_spark

    s = get_spark("sparkkg-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    from knowledgeextraction_spark.fixtures.generator import generate_corpus

    return generate_corpus(n_pages=60, seed=42)


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → (the number of Spark jobs ``fn()`` ran, its
    result), counted through a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run
