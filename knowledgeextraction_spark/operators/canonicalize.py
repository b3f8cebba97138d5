"""M10: canonicalization — connected components over equivalence edges.

No reference analog (the reference has no canonicalization); [NORTH]
mandates connected components via iterative DataFrame joins with
checkpointed frontiers. We use min-label propagation with pointer
jumping (the classic "hash-to-min"-style scheme from the MapReduce CC
literature): each round every node takes the min parent among itself
and its neighbors' parents, then shortcuts to its grandparent. The
shortcut doubles path compression per round → O(log d) rounds for
diameter d, robust on the giant component a Zipfian surface graph
produces.

Scale design:
- each round = one shuffle join with the (symmetrized) edge list keyed
  by node + one self-join for the pointer jump; AQE skew-join splits
  hot component-root keys.
- every round's parents are materialized (``materialize.py``): an
  iterative plan otherwise re-executes from scratch.
- convergence: per-node parents are monotonically non-increasing node
  ids, so ``sum(parent)`` is strictly decreasing until fixpoint —
  a cheap scalar aggregate per round, no diff join.

Stable component id = min member id, matching the oracle's union-find
(fixtures/generator.py:_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# DRIVER_MAX_EDGES is read as mz.DRIVER_MAX_EDGES at call time, so a
# test can patch it to force the distributed loop
from .. import materialize as mz
from ..materialize import driver_rows, local_frame, materialize


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def _driver_components(edge_rows: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Union-find on the driver for dimension-scale edge sets.

    An iterative distributed CC over a 300-row graph costs ~6 blocking
    shuffle rounds; a dictionary-sized graph is driver work. The
    distributed path below stays the scale path (tests force it by
    setting ``DRIVER_MAX_EDGES`` to 0)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edge_rows:
        if s == d:
            continue  # self-loops add no node, as in _symmetrize
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return [(n, find(n)) for n in list(parent)]


def connected_components(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """edges(src long, dst long) undirected → (id long, component long).

    component = min node id reachable. Nodes appear iff they touch an
    edge (callers union isolated nodes back with component = own id).
    Edge sets of at most ``DRIVER_MAX_EDGES`` rows are solved with
    driver union-find (adaptive local-vs-distributed, exact same
    result); larger graphs run the iterative min-label-propagation
    below.  The edges are materialized first, so the size probe, the
    driver collect and the distributed rounds run the caller's
    upstream plan once.
    """
    edges = materialize(edges.select("src", "dst"))
    rows = driver_rows(edges, mz.DRIVER_MAX_EDGES)
    if rows is not None:
        return local_frame(
            edges.sparkSession, _driver_components(rows), "id long, component long"
        )

    adj = materialize(_symmetrize(edges))
    parent = (
        adj.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("parent", F.col("id"))
    )

    prev_sum = None
    for _round in range(max_iter):
        # propagate: candidate parents = own parent ∪ neighbors' parents
        msgs = adj.join(
            parent.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), F.col("parent").alias("cand"))
        combined = parent.select("id", F.col("parent").alias("cand")).unionByName(msgs)
        p1 = combined.groupBy("id").agg(F.min("cand").alias("parent"))

        # pointer jump: parent ← parent(parent)
        gp = p1.select(
            F.col("id").alias("parent"), F.col("parent").alias("gparent")
        )
        p2 = materialize(
            p1.join(gp, "parent", "left")
            .select("id", F.coalesce("gparent", "parent").alias("parent"))
        )

        cur_sum = p2.agg(F.sum("parent")).collect()[0][0]
        parent = p2
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum

    return parent.select("id", F.col("parent").alias("component"))


def surface_components(
    equivalences: DataFrame, surface_entities: DataFrame
) -> DataFrame:
    """surface-form equivalence edges (J9) → (surface, component_id).

    equivalences: (surface_a, surface_b); surface_entities:
    (surface, entity_id) — entity ids provide the stable numeric node
    ids (component id = min entity_id, matching the oracle).

    Edge endpoints are digit-normalized before the dictionary join:
    ``surface_entities`` comes from link.surface_dictionary, whose
    surfaces are already normalized — a raw digit-bearing endpoint
    would silently miss the join and drop the edge (the same
    divergence class as the narrow triple path; the numpy oracle,
    oracle/docworld.py:docworld_component_map, normalizes endpoints).
    """
    from .link import normalize_surface

    sid = surface_entities.select("surface", F.col("entity_id").alias("node_id"))
    equivalences = equivalences.select(
        normalize_surface(F.col("surface_a")).alias("surface_a"),
        normalize_surface(F.col("surface_b")).alias("surface_b"),
    )
    e = (
        equivalences.join(sid.withColumnRenamed("surface", "surface_a"), "surface_a")
        .withColumnRenamed("node_id", "src")
        .join(
            sid.withColumnRenamed("surface", "surface_b").withColumnRenamed(
                "node_id", "dst"
            ),
            "surface_b",
        )
        .select("src", "dst")
    )
    comps = connected_components(e)
    return sid.join(comps, sid.node_id == comps.id, "left").select(
        "surface",
        F.coalesce("component", "node_id").alias("component_id"),
    )


def entity_component_map(
    equivalences: DataFrame, surface_entities: DataFrame
) -> DataFrame:
    """→ (entity_id, canonical_id): each entity's canonical surface
    component (entities keep their own id when untouched by edges)."""
    sc = surface_components(equivalences, surface_entities)
    return (
        surface_entities.join(sc, "surface")
        .groupBy("entity_id")
        .agg(F.min("component_id").alias("canonical_id"))
    )


def entity_component_map_rows(
    equivalences: list[tuple[str, str]], entities: list
) -> list[tuple[int, int]]:
    """Driver fast path of ``entity_component_map`` for DIMENSION-scale
    inputs that exist as plain python lists (the seed dictionary): the
    exact same semantics — surface_dictionary's (normalized surface,
    label_type) → min-entity-id dedup, equivalence edges expanded
    through shared surfaces, min-id union-find, per-entity min
    component — with zero Spark jobs.  The `_driver_components`
    adaptive-local precedent, one level up: a ~10²-surface dictionary
    costs ~2 s of tiny-shuffle scheduling through the distributed
    operator (measured, bench_extra r06) and microseconds here; the
    distributed operator stays the scale path for dictionary
    DataFrames that are not driver-resident.  Parity with the
    distributed operator is pytest-asserted
    (tests/test_spark_pipeline.py::test_entity_component_map_local_parity).

    ``entities``: objects with entity_id / canonical_name / aliases /
    label_type (fixtures.generator.Entity).  → sorted (entity_id,
    canonical_id) rows.
    """
    from ..core.textops import normalize_digits
    from .link import surface_dictionary_rows

    # surface_dictionary: one row per (normalized surface, label_type),
    # keyed to the smallest entity_id (shared driver twin, link.py)
    dic = {(s, t): eid for s, t, eid in surface_dictionary_rows(entities)}
    by_surface: dict[str, list[int]] = {}
    for (s, _t), eid in dic.items():
        by_surface.setdefault(s, []).append(eid)

    # surface_components: union-find over node ids linked by
    # (normalized) equivalence endpoints sharing a dictionary surface
    edges = [
        (x, y)
        for a, b in equivalences
        for x in by_surface.get(normalize_digits(a), [])
        for y in by_surface.get(normalize_digits(b), [])
    ]
    comp = dict(_driver_components(edges))

    # entity_component_map: sid ⋈ surface_components on surface (all
    # types of the surface), min component per entity
    best: dict[int, int] = {}
    for (s, _t), eid in dic.items():
        m = min(comp.get(n, n) for n in by_surface[s])
        if eid not in best or m < best[eid]:
            best[eid] = m
    return sorted(best.items())
