"""The one materialization policy: where a plan's lineage is cut, when
a frame is small enough to solve on the driver, and how rows the
driver holds become a frame.

Every operator that reuses a frame, iterates, or picks between a
driver loop and a distributed loop goes through this module — no
operator calls ``localCheckpoint`` or probes a frame's size itself.
Every frame the package builds from python rows (dimension tables,
driver-twin results, literal lookup tables) goes through
``local_frame``, so it plans as a ``LocalRelation``.

Local-mode trade-off (stated once for the package): ``localCheckpoint``
keeps its blocks on the executors that computed them, so they die with
their executor and the job cannot recompute them.  That is the right
cut for a single-host session, where executor loss is process loss
anyway; a cluster with dynamic allocation needs reliable
``checkpoint()`` to shared storage instead, and this module is the one
place to make that switch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

# Edge sets with at most this many rows are solved by the operators'
# driver twins: up to this size, the iterative rounds' shuffle
# barriers cost more than the whole computation.
DRIVER_MAX_EDGES = 100_000


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and cut its lineage: a frame referenced more
    than once (self-joins, loop-invariant inputs, iteration state)
    otherwise re-runs its whole upstream plan at every reference."""
    return df.localCheckpoint(eager=True)


def sorted_output(df: DataFrame, *cols) -> DataFrame:
    """Declared-output sort over a materialized child.

    ``orderBy`` compiles to an Exchange rangepartitioning whose range
    boundaries come from a SAMPLING job over the child — the child plan
    executes twice, and Spark's stage reuse only absorbs the part
    before the child's last shuffle, so everything downstream of it
    (the expensive Arrow kernels and narrow assembly tails) is paid
    twice.  A lazy ``localCheckpoint`` makes the sample pass
    compute-and-persist the rows once and the shuffle pass re-read them
    (measured: kg_relations_scored 5.09→2.11 s at sf0.1).  Rows, values
    and output order are untouched — only the physical plan changes;
    the materialization is the final query OUTPUT, the same rows the
    range exchange itself must buffer."""
    return df.localCheckpoint(eager=False).orderBy(*cols)


def release_all(spark: SparkSession) -> None:
    """Drop every cached frame and every persisted RDD.

    ``localCheckpoint`` blocks (``materialize``, ``sorted_output``) are
    persisted RDDs, not cached frames: ``catalog.clearCache()`` leaves
    them in storage memory, so a caller that runs query after query in
    one session (a benchmark's trial loop) accumulates them."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def driver_rows(df: DataFrame, limit: int) -> list[Row] | None:
    """``df``'s rows when it has at most ``limit`` of them, else None.

    One job either way: it pulls at most ``limit + 1`` rows, so the
    size probe and the driver path's collect are the same job.  Above
    the limit the pulled rows are dropped; a caller that then runs a
    distributed loop over ``df`` should pass a materialized frame, or
    that loop re-runs ``df``'s upstream plan."""
    rows = df.limit(limit + 1).collect()
    return rows if len(rows) <= limit else None


def local_frame(
    spark: SparkSession, rows: list, schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a frame planned
    as a ``LocalRelation``: collecting or size-probing it runs no Spark
    job, and a plan that scans or broadcasts it reads the rows from the
    driver, with no python worker.

    ``createDataFrame(<python list>)`` instead parallelizes a pickled
    RDD, and every scan of it runs through python workers (on the
    216-row kg_build equivalences frame, 4 cores: ``limit(n).collect()``
    0.56–0.70 s and 2 jobs, against 0.02–0.04 s and 0 jobs here).  The
    rows go to the JVM as one Arrow table, which Spark plans as a
    LocalRelation.  ``schema`` is a DDL string or a ``StructType``; a
    null in a non-nullable field raises, as ``createDataFrame`` does."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    # strict: a row of the wrong width raises instead of being truncated
    columns = list(zip(*rows, strict=True)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [
            pa.array(list(col), type=f.type)
            for col, f in zip(columns, arrow, strict=True)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
