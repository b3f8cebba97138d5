"""The materialization policy (knowledgeextraction_spark/materialize.py):
the driver-size probe's boundary, and a structural guard that keeps
every lineage cut and size probe in that one module."""

import pathlib
import re

from knowledgeextraction_spark import materialize

PKG = pathlib.Path(materialize.__file__).parent

# ``.limit(<x> + 1)``: the shape of a "does it fit on the driver?" probe
SIZE_PROBE = re.compile(r"\.limit\([^()]*\+\s*1\)")

# sinks._assert_eval_sized probes a frame's size only to RAISE on an
# oversized evaluation input; it never chooses between a driver and a
# distributed path, so it is not a materialization decision
PROBE_EXEMPT = {"sinks.py"}


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
