"""The session factory's sizing rule (knowledgeextraction_spark/session.py):
a fixed driver heap sized from the host, a shuffle width from the
local thread count, nothing but SQL settings under spark-submit, and a
codegen cache that holds a job's classes."""

import os

import pytest

from knowledgeextraction_spark import session
from knowledgeextraction_spark.session import session_conf

GIB = 1024
JVM_KEYS = {
    "spark.master",
    "spark.driver.memory",
    "spark.driver.extraJavaOptions",
}


@pytest.fixture(autouse=True)
def _no_override(monkeypatch):
    monkeypatch.delenv("SPARKKG_DRIVER_MEM", raising=False)


@pytest.mark.parametrize(
    "host, heap",
    [
        (16 * GIB, "2048m"),  # an eighth of the host
        (128 * GIB, "8192m"),  # the cap
        (4 * GIB, "1024m"),  # the floor
    ],
)
def test_heap_is_an_eighth_of_the_host_clamped(host, heap):
    conf = session_conf("local[4]", host, submitted=False)
    assert conf["spark.driver.memory"] == heap
    assert conf["spark.driver.extraJavaOptions"].split()[0] == f"-Xms{heap}"


def test_cgroup_limit_below_physical_memory_wins(tmp_path):
    physical = session.host_mib(())
    limit = tmp_path / "memory.max"
    limit.write_text(f"{(physical // 2) << 20}\n")
    unlimited = tmp_path / "memory.limit_in_bytes"
    unlimited.write_text("max\n")
    assert session.host_mib((str(limit), str(unlimited))) == physical // 2
    assert session.host_mib((str(unlimited), str(tmp_path / "absent"))) == physical


def test_driver_mem_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARKKG_DRIVER_MEM", "3g")
    conf = session_conf("local[4]", 128 * GIB, submitted=False)
    assert conf["spark.driver.memory"] == "3g"
    assert "-Xms3g" in conf["spark.driver.extraJavaOptions"].split()


def test_spark_submit_keeps_the_submitters_jvm_settings(monkeypatch):
    monkeypatch.setenv("SPARKKG_DRIVER_MEM", "3g")
    conf = session_conf("local[6]", 16 * GIB, submitted=True)
    assert not JVM_KEYS & conf.keys()
    local = session_conf("local[6]", 16 * GIB, submitted=False)
    assert conf == {k: v for k, v in local.items() if k in conf}
    assert conf["spark.sql.shuffle.partitions"] == "8"
    assert conf["spark.sql.adaptive.enabled"] == "true"


@pytest.mark.parametrize(
    "master, width",
    [
        ("local[2]", 8),  # the floor
        ("local[16]", 16),
        ("local[*]", max(len(os.sched_getaffinity(0)), 8)),  # this process's CPUs
        ("spark://head:7077", 32),  # not a local master
    ],
)
def test_shuffle_width_follows_the_local_thread_count(master, width):
    conf = session_conf(master, 16 * GIB, submitted=False)
    assert conf["spark.sql.shuffle.partitions"] == str(width)


def test_generated_class_names_carry_no_stage_id():
    """AQE numbers stages in a run-dependent order; an id in the class
    name would make a renumbered stage miss the codegen cache."""
    conf = session_conf("local[4]", 16 * GIB, submitted=True)
    assert conf["spark.sql.codegen.useIdInClassName"] == "false"


def test_live_session_heap_is_fixed(spark):
    """-Xms equals spark.driver.memory: a growable heap costs each warm
    kg_build job over a second of GC."""
    conf = spark.sparkContext.getConf()
    opts = conf.get("spark.driver.extraJavaOptions").split()
    xms = [o[len("-Xms"):] for o in opts if o.startswith("-Xms")]
    assert xms == [conf.get("spark.driver.memory")]
    assert "-XX:+AlwaysPreTouch" in opts


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_run_reuses_generated_classes(spark):
    """A query mix run a second time compiles (almost) nothing new.
    This mix generates more than the default cache's 100 classes and
    reuses them in the same order, so an LRU of 100 evicts each class
    before its next use and the repeat recompiles nearly all of them."""
    from knowledgeextraction_spark.queries import QUERIES

    sf_dir = os.environ.get("SPARKKG_TEST_SF", "/root/testdata/sf0.001")
    mix = ("dedup_jaccard", "corpus_clean")

    def run():
        before = _compiles(spark)
        for name in mix:
            QUERIES[name](spark, sf_dir).collect()
        return _compiles(spark) - before

    first, second = run(), run()
    assert second <= 0.1 * first, (first, second)
