"""Graph analytics over the materialized entity graph (beyond-reference).

The reference stops at emitting triples (kgconstruction/ writes JSON
triple files and serves lookups); a KG pipeline at 100 TB also needs
the downstream graph computations those triples feed. This module adds
the two canonical ones, Spark-first:

- ``pagerank``: fixed-iteration damped PageRank via iterative
  DataFrame joins — the standard Pregel-free formulation (one
  contribution shuffle per round, lineage cut per round the same way
  as canonicalize.connected_components).
- ``triangle_count``: per-node triangle participation via the
  oriented-edge join (each triangle counted once at its smallest
  vertex's orientation) — the join-based formulation that avoids
  enumerating open wedges twice.

Scale design (both):
- Edges shuffle on their join key per round; hot entities (Zipfian
  head) are exactly the AQE skew-join case, same as the linker.
- ``pagerank`` rounds each iteration's rank to ``round_dp`` decimals.
  That is NOT cosmetic: groupBy-sum order is nondeterministic across
  partitionings/engines, leaving ~1e-17 -relative float noise per
  round; compounding it over iterations would diverge engines. The
  per-round quantization (step 1e-10 ≫ ulp noise) makes every round's
  output bit-identical, so the DuckDB oracle can reproduce the exact
  values — the same portability discipline as the md5-based dedup
  hashes.
- Dangling nodes (no out-edges) leak their mass in the default
  (simplified textbook) variant; ``redistribute_dangling=True`` runs
  the full variant — one extra scalar agg per round, broadcast back —
  conserving total mass at N per round.  The registered driver query
  uses the full variant and its DuckDB oracle mirrors it.
- Engine-portability caveat on the quantization: Spark's F.round uses
  BigDecimal HALF_UP while DuckDB rounds the binary double, so an
  unrounded value within ~1 ulp of a 1e-10 grid boundary CAN land on
  adjacent grid points in the two engines and the per-round
  quantization then locks the divergence in.  With O(1) normalized
  ranks the collision probability per value per round is ~1e-6 and it
  has never fired at test scale, but it is probabilistic, not a
  guarantee — an epsilon-tolerant comparison is the robust cross-
  engine contract at web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# DRIVER_MAX_EDGES is read as mz.DRIVER_MAX_EDGES at call time, so a
# test can patch it to force the distributed loop
from .. import materialize as mz
from ..materialize import driver_rows, local_frame, materialize

PR_DAMPING = 0.85
PR_ITERS = 10
PR_ROUND_DP = 10

# KMV sketch capacity for kmv_reach_counts.  Standard error of the KMV
# distinct-count estimator is ~1/sqrt(K-2) ≈ 13% at 64; raise for
# tighter estimates at K× the (linear) state cost.
KMV_K = 64


def _edge_nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def _driver_pagerank(
    edge_rows: list[tuple[int, int]],
    damping: float,
    n_iter: int,
    round_dp: int,
    redistribute_dangling: bool,
):
    """Driver loop for dimension-scale graphs (the
    connected_components._driver_components precedent): an iterative
    distributed PageRank over a ~10²-node graph costs n_iter shuffle
    barriers of pure scheduling latency; a graph below the threshold
    is driver work.  Identical recurrence, identical per-round
    quantization (``selection._round_half_up`` is the BigDecimal
    HALF_UP twin of F.round); sum-order drift vs the distributed
    groupBy sums is absorbed by the same 1e-``round_dp`` grid that
    already makes the Spark↔DuckDB contract hold (module docstring
    caveat applies equally).  Parity with the distributed loop is
    pytest-asserted (tests/test_graph.py)."""
    import numpy as np

    from .selection import _round_half_up

    nodes = sorted({n for e in edge_rows for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    src = np.fromiter((idx[s] for s, _d in edge_rows), dtype=np.int64)
    dst = np.fromiter((idx[d] for _s, d in edge_rows), dtype=np.int64)
    outdeg = np.zeros(n, dtype=np.float64)
    np.add.at(outdeg, src, 1.0)
    dangling = outdeg == 0.0
    teleport = 1.0 - damping
    rank = np.ones(n, dtype=np.float64)
    for _ in range(n_iter):
        contrib = np.zeros(n, dtype=np.float64)
        np.add.at(contrib, dst, rank[src] / outdeg[src])
        extra = 0.0
        if redistribute_dangling:
            dang = _round_half_up(float(rank[dangling].sum()), round_dp)
            extra = dang / n
        rank = np.fromiter(
            (
                _round_half_up(teleport + damping * (c + extra), round_dp)
                for c in contrib
            ),
            dtype=np.float64,
            count=n,
        )
    return [(node, float(rank[idx[node]])) for node in nodes]


def pagerank(
    edges: DataFrame,
    damping: float = PR_DAMPING,
    n_iter: int = PR_ITERS,
    round_dp: int = PR_ROUND_DP,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """edges(src long, dst long), directed + deduped, self-loops
    excluded by the caller → (id long, rank double).

    ``rank`` is UNIFORM-NORMALIZED PageRank: the probability vector
    scaled by N, so uniform = 1.0 and the probability form is rank/N.
    Iteration (the standard recurrence with both sides multiplied by
    N): rank⁰ = 1; rankᵗ⁺¹(v) = (1−d) + d·Σ_{u→v} rankᵗ(u)/outdeg(u),
    every rank rounded to ``round_dp`` decimals per round (see module
    docstring).  The normalization is what makes the fixed decimal
    grid scale-free: values stay O(1) at ANY graph size, so 10 dp keeps
    ~10 significant digits whether N is 10² or 10¹⁰ — quantizing the
    raw probabilities instead would hit the grid (100% error, then
    all-zero ranks) once 1/N approaches 1e-10.  N counts edge-touching
    nodes; isolated nodes are the caller's concern (same contract as
    connected_components).

    Per round: one join of the deg-annotated edge list with the rank
    table on src (rank moves to the edges' partitioning — on a real
    cluster, bucketing edges by src makes this exchange one-sided) and
    one groupBy(dst) contribution sum with map-side partial
    aggregation.  The edges⋈outdeg join is LOOP-INVARIANT, so it is
    materialized once before the loop — joining outdeg inside would
    re-shuffle the N-row degree table every round.  Each round's rank
    is materialized, cutting the iterative plan's lineage exactly as in
    connected_components.  Edge sets of at most ``DRIVER_MAX_EDGES``
    rows run the same recurrence in ``_driver_pagerank``.

    ``redistribute_dangling=True`` runs the full PageRank variant:
    each round the rank mass sitting on dangling nodes (no out-edges)
    is summed — ONE extra scalar aggregation per round, reduced to a
    1-row frame and broadcast into the update — and every node
    receives its dang/N share inside the damped term, so total rank
    mass is conserved at exactly N per round (up to the quantization
    grid) instead of leaking.  The scalar is itself rounded to
    ``round_dp`` before use for the same engine-portability reason as
    the ranks; note the residual risk documented on the module: a sum
    within ~1 ulp of a grid boundary can still round differently
    across engines — a probabilistic, not absolute, guarantee that
    grows with N (the dangling sum is O(N), so its ulp noise is too).
    """
    # Materializing raw edges FIRST means the caller's upstream plan
    # (for the entity graph: the whole triples pipeline) executes
    # exactly once, even though the size probe and three derived
    # frames reference it.  Cost: these blocks stay pinned alongside
    # edges_deg's for the job (an extra E-row MEMORY_AND_DISK copy —
    # evictable to disk); the alternative, deriving edges_deg straight
    # from the lazy plan, re-runs the upstream once per branch, which
    # is strictly worse for any upstream that costs more than an
    # edge-list scan.
    edges = materialize(edges.select("src", "dst"))
    rows = driver_rows(edges, mz.DRIVER_MAX_EDGES)
    if rows is not None:
        return local_frame(
            edges.sparkSession,
            _driver_pagerank(rows, damping, n_iter, round_dp, redistribute_dangling),
            "id long, rank double",
        )
    # nodes and outdeg are joined EVERY round — materialize them once,
    # or each iteration re-runs their distinct/groupBy shuffles from
    # the edge list (10 redundant shuffles at the default iteration
    # count)
    nodes = materialize(_edge_nodes(edges))
    outdeg = materialize(edges.groupBy("src").agg(F.count("*").alias("deg")))
    edges_deg = materialize(edges.join(outdeg, "src"))
    teleport = 1.0 - damping
    n_frame = None
    if redistribute_dangling:
        n_frame = materialize(
            nodes.agg(F.count("*").cast("double").alias("n_nodes"))
        )
    rank = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(n_iter):
        contribs = (
            edges_deg.join(rank.withColumnRenamed("id", "src"), "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        merged = nodes.join(contribs.withColumnRenamed("dst", "id"), "id", "left")
        inflow = F.coalesce(F.col("s"), F.lit(0.0))
        if redistribute_dangling:
            dang = (
                rank.join(outdeg.withColumnRenamed("src", "id"), "id", "left_anti")
                .agg(
                    F.coalesce(F.round(F.sum("rank"), round_dp), F.lit(0.0)).alias(
                        "dang"
                    )
                )
                .crossJoin(F.broadcast(n_frame))
            )
            merged = merged.crossJoin(F.broadcast(dang))
            inflow = inflow + F.col("dang") / F.col("n_nodes")
        rank = materialize(
            merged.select(
                "id",
                F.round(
                    F.lit(teleport) + F.lit(damping) * inflow, round_dp
                ).alias("rank"),
            )
        )
    return rank


def khop_counts(edges: DataFrame, k: int = 2) -> DataFrame:
    """edges(src long, dst long), directed, self-loops excluded by the
    caller → (id long, reach long): number of DISTINCT nodes reachable
    in 1..k directed hops (excluding the node itself) — the standard
    BFS-by-join.

    Per hop: one join of the current frontier with the (checkpointed)
    edge list on a single node key + a distinct — the frontier is
    deduped EVERY hop, which is what keeps a power-law graph's hub
    fan-out from multiplying paths (reachability, not path counting).
    k stays small in practice (neighborhood features); deep traversal
    belongs to the pregel-style loop with convergence checks
    (connected_components).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    edges = materialize(edges.select("src", "dst"))
    reach = edges
    frontier = edges
    for _ in range(k - 1):
        frontier = materialize(
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(F.col("f.src").alias("src"), F.col("e.dst").alias("dst"))
            .distinct()
        )
        reach = reach.unionByName(frontier)
    counts = (
        reach.filter(F.col("src") != F.col("dst"))
        .distinct()
        .groupBy("src")
        .agg(F.count("*").alias("reach"))
        .withColumnRenamed("src", "id")
    )
    return (
        _edge_nodes(edges)
        .join(counts, "id", "left")
        .select("id", F.coalesce("reach", F.lit(0)).cast("long").alias("reach"))
    )


KMV_SALT = 64


def _kmv_truncate(sketch: DataFrame, cap: int) -> DataFrame:
    """Keep the ``cap`` lexicographically-smallest distinct hashes per
    node.  Two-stage salted aggregation, NOT a window: row_number over
    partitionBy(id) would funnel a hub's entire pre-truncation row set
    (in-degree × cap rows) through ONE task — windows are not
    skew-splittable (same argument as dedup.exact_members).  Truncation
    is associative — the cap smallest of the per-salt-group cap
    smallest IS the cap smallest overall — so stage 1 takes the cap
    smallest within each of ``KMV_SALT`` salt groups (map-side
    combinable groupBy, every task bounded) and stage 2 re-truncates
    the ≤ SALT×cap survivors per node.  Exactly the same output rows as
    the single-pass formulation, so the DuckDB oracle (one row_number,
    fine at oracle scale) is unaffected."""
    stage1 = (
        sketch.groupBy(
            "id", F.pmod(F.xxhash64("hv"), F.lit(KMV_SALT)).alias("_salt")
        )
        .agg(
            F.slice(F.array_sort(F.collect_set("hv")), 1, cap).alias("hvs")
        )
        .select("id", F.explode("hvs").alias("hv"))
    )
    return (
        stage1.groupBy("id")
        .agg(F.slice(F.array_sort(F.collect_set("hv")), 1, cap).alias("hvs"))
        .select("id", F.explode("hvs").alias("hv"))
    )


def _driver_kmv_reach(
    edge_rows: list[tuple[int, int]], k: int, kmv_k: int
) -> list[tuple[int, int]]:
    """Driver twin of the KMV sketch loop for dimension-scale graphs
    (the _driver_pagerank precedent).  Everything is exact by the same
    argument as the DuckDB oracle mirror: md5 is engine-independent,
    lexicographic hex ordering equals Spark's UTF8 binary order, and
    the estimate branch uses only exactly-representable doubles with
    an explicit floor — so driver-vs-distributed equality is bitwise,
    not quantized."""
    import hashlib
    import math

    cap = kmv_k + 1
    dedup = {(s, d) for s, d in edge_rows}
    nodes = sorted({n for e in dedup for n in e})
    hv = {n: hashlib.md5(str(n).encode()).hexdigest() for n in nodes}
    adj: dict[int, set[int]] = {}
    for s, d in dedup:
        adj.setdefault(s, set()).add(d)
    sketch = {
        n: sorted({hv[d] for d in adj.get(n, ())})[:cap] for n in nodes
    }
    for _ in range(k - 1):
        sketch = {
            n: sorted(
                set(sketch[n]).union(
                    *(sketch[d] for d in adj.get(n, ()))
                )
            )[:cap]
            for n in nodes
        }
    numer = float((kmv_k - 1) * (1 << 52))
    out = []
    for n in nodes:
        s = sketch[n]
        nonself = [h for h in s if h != hv[n]][:kmv_k]
        if not nonself:
            out.append((n, 0))
            continue
        if len(s) >= cap:
            kth = max(float(int(nonself[-1][:13], 16)), 1.0)
            reach = int(math.floor(numer / kth))
        else:
            reach = len(nonself)
        out.append((n, reach))
    return out


def kmv_reach_counts(
    edges: DataFrame,
    k: int = 2,
    kmv_k: int = KMV_K,
) -> DataFrame:
    """Scale-safe k-hop reachability: ``khop_counts`` semantics —
    (id long, reach long), distinct nodes reachable in 1..k directed
    hops excluding self — but via merged K-minimum-values sketches
    instead of exact (src, dst) pair materialization (the ANF /
    HyperBall shape: Palmer et al. KDD'02, Boldi et al. WWW'11).

    Why: exact per-hop pair sets are Σ_hubs(in-deg × out-deg) — a
    single 10⁵-degree hub on a Zipfian entity graph materializes ~10¹⁰
    rows.  Here per-node state is capped at ``kmv_k + 1`` hash rows, so
    every hop is one edge join (≤ E×(K+1) rows pre-truncation) plus the
    salted two-stage truncation (``_kmv_truncate``: map-side-combinable
    groupBys, every task bounded even at a hub; ≤ N×(K+1) rows after) —
    linear in E and N at any degree distribution.

    Sketch: the K+1 smallest distinct values of md5(dst) per node,
    merged along edges each hop (merge = union + re-truncate).  A
    sketch that never hit capacity is EXACT (a truncated contributor
    has K+1 values, forcing the union to capacity too, so non-full ⇒
    nothing was ever dropped); a full sketch yields the standard KMV
    estimate (K−1)/r_K with r_K the K-th smallest non-self hash mapped
    to (0,1].  Everything is deterministic AND engine-portable (the
    DuckDB oracle reproduces it bit-for-bit): md5 is engine-independent,
    ties cannot occur (hashes are distinct per node), and the estimate
    uses only exactly-representable doubles — r_K is read from the
    first 13 hex digits (52 bits ≤ the 53-bit mantissa), the numerator
    (K−1)·2⁵² has 6 significant bits, and both engines' correctly-
    rounded IEEE division then agrees bit-for-bit, with an explicit
    floor() before the integer cast (DuckDB's double→BIGINT cast
    rounds; Spark's truncates).

    Self-exclusion: capacity is K+1 so that dropping the node's own
    hash still leaves ≥ K values for the estimate.  Keep the exact
    ``khop_counts`` as the fixture-scale oracle; tests bound the
    sketch-vs-exact relative error.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if kmv_k < 2:
        raise ValueError(f"kmv_k must be >= 2, got {kmv_k}")
    cap = kmv_k + 1
    edges = materialize(edges.select("src", "dst"))
    rows = driver_rows(edges, mz.DRIVER_MAX_EDGES)
    if rows is not None:
        return local_frame(
            edges.sparkSession, _driver_kmv_reach(rows, k, kmv_k), "id long, reach long"
        )
    nodes = _edge_nodes(edges)
    hashes = nodes.select("id", F.md5(F.col("id").cast("string")).alias("hv"))
    sketch = materialize(
        _kmv_truncate(
            edges.join(hashes.withColumnRenamed("id", "dst"), "dst")
            .select(F.col("src").alias("id"), "hv")
            .distinct(),
            cap,
        )
    )
    for _ in range(k - 1):
        prop = (
            edges.join(sketch.withColumnRenamed("id", "dst"), "dst")
            .select(F.col("src").alias("id"), "hv")
        )
        sketch = materialize(
            _kmv_truncate(sketch.unionByName(prop).distinct(), cap)
        )
    n_all = sketch.groupBy("id").agg(F.count("*").alias("n_all"))
    nonself = (
        sketch.join(hashes.select("id", F.col("hv").alias("self_hv")), "id")
        .filter(F.col("hv") != F.col("self_hv"))
        .select("id", "hv")
    )
    kept = _kmv_truncate(nonself, kmv_k)
    agg = kept.groupBy("id").agg(
        F.count("*").alias("n_kept"), F.max("hv").alias("kth")
    )
    kth_int = F.greatest(
        F.conv(F.substring(F.col("kth"), 1, 13), 16, 10).cast("double"),
        F.lit(1.0),
    )
    numer = float((kmv_k - 1) * (1 << 52))  # exact: 6 significant bits
    est = F.floor(F.lit(numer) / kth_int).cast("long")
    counts = agg.join(n_all, "id").select(
        "id",
        F.when(F.col("n_all") >= cap, est)
        .otherwise(F.col("n_kept").cast("long"))
        .alias("reach"),
    )
    return nodes.join(counts, "id", "left").select(
        "id", F.coalesce("reach", F.lit(0)).cast("long").alias("reach")
    )


KCORE_K = 2
KCORE_MAX_ROUNDS = 32


def _driver_kcore(
    edge_rows: list[tuple[int, int]], k: int, max_rounds: int
) -> list[tuple[int, bool]]:
    """Driver peel for dimension-scale graphs (the _driver_pagerank
    precedent; here the result is a pure SET function of the edge set —
    integers only, so driver-vs-distributed equality is exact, not
    quantized).  Identical peeling semantics: symmetric self-loop-free
    edge set, per round keep nodes with degree ≥ k, stop at fixpoint or
    ``max_rounds``."""
    und = {(s, d) for s, d in edge_rows if s != d}
    und |= {(d, s) for s, d in und}
    nodes = sorted({s for s, _d in und})
    alive = und
    keep = set(nodes)
    prev_n = None
    for _ in range(max_rounds):
        deg: dict[int, int] = {}
        for s, _d in alive:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, c in deg.items() if c >= k}
        if len(keep) == prev_n:
            break
        prev_n = len(keep)
        alive = {(s, d) for s, d in alive if s in keep and d in keep}
    return [(n, n in keep) for n in nodes]


def kcore_members(
    edges: DataFrame,
    k: int = KCORE_K,
    max_rounds: int = KCORE_MAX_ROUNDS,
) -> DataFrame:
    """edges(src long, dst long), treated as UNDIRECTED → (id long,
    in_core boolean): membership in the k-core (the maximal subgraph
    where every node has undirected degree ≥ k) — the classic
    distributed peeling algorithm.

    Per round: one degree groupBy over the surviving edge set (map-side
    combinable) and two left-semi joins filtering edges to surviving
    endpoints — all on single node keys, linear in E, no pair
    enumeration anywhere, so a Zipfian hub costs its degree and nothing
    more.  Peeling CASCADES (removing a node can drop a neighbor below
    k), hence the loop; the survivor count is the convergence probe —
    one COUNT of an N-bounded frame per round — and peeling only ever
    removes, so an unchanged count IS the fixpoint.  ``max_rounds``
    bounds the worst case (a k=2 path graph peels one layer per round
    from each end); the registered oracle unrolls the same cap, so the
    contract stays exact even if a pathological graph is still peeling
    at the cap.  Determinism: survivors are a pure set function of the
    edge set — no ordering, no floats — so the DuckDB mirror matches
    bit-for-bit.  Lineage is cut per round exactly as in pagerank.
    """
    # max_rounds=0 would skip the peel and return every edge-touching
    # node with in_core=True — silently wrong; fail loud
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    raw = materialize(edges.select("src", "dst"))
    rows = driver_rows(raw, mz.DRIVER_MAX_EDGES)
    if rows is not None:
        return local_frame(
            raw.sparkSession, _driver_kcore(rows, k, max_rounds), "id long, in_core boolean"
        )
    und = materialize(
        raw.unionByName(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # symmetric edge set ⇒ src alone covers every edge-touching node
    nodes = und.select(F.col("src").alias("id")).distinct()
    alive = und
    keep = nodes
    prev_n = None
    for _ in range(max_rounds):
        keep = materialize(
            alive.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("id"))
        )
        n = keep.count()
        if n == prev_n:
            break  # nothing peeled this round — fixpoint
        prev_n = n
        alive = materialize(
            alive.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
    return nodes.join(
        keep.withColumn("in_core", F.lit(True)), "id", "left"
    ).select("id", F.coalesce("in_core", F.lit(False)).alias("in_core"))


def _driver_triangles(
    edge_rows: list[tuple[int, int]]
) -> list[tuple[int, int]]:
    """Driver twin of the oriented-wedge triangle count for
    dimension-scale graphs — integers and set functions only, so
    driver-vs-distributed equality is exact."""
    und = {(s, d) for s, d in edge_rows if s != d}
    und |= {(d, s) for s, d in und}
    nodes = sorted({s for s, _d in und})
    fwd: dict[int, set[int]] = {}
    for s, d in und:
        if s < d:
            fwd.setdefault(s, set()).add(d)
    tri: dict[int, int] = {}
    for a, nbrs in fwd.items():
        for b in nbrs:
            for c in nbrs & fwd.get(b, set()):
                tri[a] = tri.get(a, 0) + 1
                tri[b] = tri.get(b, 0) + 1
                tri[c] = tri.get(c, 0) + 1
    return [(n, tri.get(n, 0)) for n in nodes]


def triangle_count(edges: DataFrame) -> DataFrame:
    """edges(src long, dst long), treated as UNDIRECTED → (id long,
    triangles long): number of triangles each node participates in.

    Oriented-edge formulation: orient every undirected edge low→high
    (so each triangle {a<b<c} exists exactly as the wedge a→b→c closed
    by a→c), join wedges with the closing edge, then count each found
    triangle once per member vertex. Two shuffle joins on single node
    keys — never an open-wedge cross product per node, and the
    orientation bounds the join fan-out by the smaller "forward
    degree" (the classic compact-forward argument: high-degree hubs
    mostly receive edges, so their forward adjacency stays small).

    The edge list is materialized (lineage cut) BEFORE the three-way
    self-join: the join references it three times, and without the cut
    each reference re-expands the caller's full upstream plan — for
    the triples graph that would re-run model inference 3× (the first
    plan_audit of this query showed 529 exchanges).  Same remedy as
    pagerank's per-round cut.
    """
    raw = materialize(edges.select("src", "dst"))
    rows = driver_rows(raw, mz.DRIVER_MAX_EDGES)
    if rows is not None:
        return local_frame(
            raw.sparkSession, _driver_triangles(rows), "id long, triangles long"
        )
    und = materialize(
        raw.unionByName(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    fwd = und.filter(F.col("src") < F.col("dst"))
    ab = fwd.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = fwd.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = fwd.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])  # a<b<c, all three edges
    per_node = (
        tri.select(F.col("a").alias("id"))
        .unionByName(tri.select(F.col("b").alias("id")))
        .unionByName(tri.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        _edge_nodes(und)
        .join(per_node, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"))
    )
