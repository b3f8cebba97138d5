"""The one materialization policy: where a plan's lineage is cut, and
when a frame is small enough to solve on the driver.

Every operator that reuses a frame, iterates, or picks between a
driver loop and a distributed loop goes through this module — no
operator calls ``localCheckpoint`` or probes a frame's size itself.

Local-mode trade-off (stated once for the package): ``localCheckpoint``
keeps its blocks on the executors that computed them, so they die with
their executor and the job cannot recompute them.  That is the right
cut for a single-host session, where executor loss is process loss
anyway; a cluster with dynamic allocation needs reliable
``checkpoint()`` to shared storage instead, and this module is the one
place to make that switch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

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


def driver_rows(df: DataFrame, limit: int) -> list[Row] | None:
    """``df``'s rows when it has at most ``limit`` of them, else None.

    One job either way: it pulls at most ``limit + 1`` rows, so the
    size probe and the driver path's collect are the same job.  Above
    the limit the pulled rows are dropped; a caller that then runs a
    distributed loop over ``df`` should pass a materialized frame, or
    that loop re-runs ``df``'s upstream plan."""
    rows = df.limit(limit + 1).collect()
    return rows if len(rows) <= limit else None
