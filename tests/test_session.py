"""The session factory's sizing rule (knowledgeextraction_spark/session.py):
a fixed driver heap sized from the host, and nothing but SQL settings
under spark-submit."""

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


def test_live_session_heap_is_fixed(spark):
    """-Xms equals spark.driver.memory: a growable heap costs each warm
    kg_build job over a second of GC."""
    conf = spark.sparkContext.getConf()
    opts = conf.get("spark.driver.extraJavaOptions").split()
    xms = [o[len("-Xms"):] for o in opts if o.startswith("-Xms")]
    assert xms == [conf.get("spark.driver.memory")]
    assert "-XX:+AlwaysPreTouch" in opts
