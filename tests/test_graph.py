"""Graph analytics (operators/graph.py) + the corpus_clean composition.

pagerank is checked against an independent dense-numpy iteration with
the same per-round quantization; triangle_count against hand-counted
graphs; corpus_clean's verdict semantics against the planted replica
set (every replica MUST drop as a duplicate).
"""

import os

import numpy as np
import pytest

from knowledgeextraction_spark.operators import graph

SF_DIR = os.environ.get("SPARKKG_TEST_SF", "/root/testdata/sf0.001")


def _numpy_pagerank(edges, damping, n_iter, round_dp):
    # uniform-normalized recurrence (uniform = 1.0), matching the
    # operator's scale-free quantization contract
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = np.ones(n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[idx[d]] += r[idx[s]] / outdeg[s]
        r = np.round((1.0 - damping) + damping * contrib, round_dp)
    return {node: r[idx[node]] for node in nodes}


def test_pagerank_matches_numpy(spark):
    # cycle + chord + feeder + dangling sink (5 leaks mass: no out-edges)
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (3, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in graph.pagerank(df).collect()}
    want = _numpy_pagerank(edges, graph.PR_DAMPING, graph.PR_ITERS, graph.PR_ROUND_DP)
    assert set(got) == set(want)
    for node in want:
        # np.round is half-even vs Spark's half-up → compare with an
        # epsilon far above ulp noise, far below the 1e-10 grid
        assert got[node] == pytest.approx(want[node], abs=1e-9), node
    # sanity: the hub of the cycle outranks the feeder, sink got mass
    assert got[1] > got[4]
    assert got[5] > (1.0 - graph.PR_DAMPING)


def test_pagerank_total_mass_leaks_only_via_dangling(spark):
    # no dangling nodes → normalized total stays ~N (probability total 1)
    edges = [(1, 2), (2, 3), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    total = sum(r["rank"] for r in graph.pagerank(df).collect())
    assert total == pytest.approx(3.0, abs=1e-6)


def _numpy_pagerank_full(edges, damping, n_iter, round_dp):
    # full variant: dangling mass redistributed uniformly each round
    nodes = sorted({x for e in edges for x in e})
    idx = {node: i for i, node in enumerate(nodes)}
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = np.ones(n)
    for _ in range(n_iter):
        dang = round(sum(r[idx[v]] for v in nodes if v not in outdeg), round_dp)
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[idx[d]] += r[idx[s]] / outdeg[s]
        r = np.round((1.0 - damping) + damping * (contrib + dang / n), round_dp)
    return {node: r[idx[node]] for node in nodes}


def test_pagerank_dangling_redistribution(spark):
    """redistribute_dangling=True: values match the independent numpy
    full-variant mirror AND total rank mass is conserved at exactly N
    after EVERY round (the leak variant loses d·dang per round)."""
    # cycle + chord + feeder + dangling sink 5 (no out-edges)
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (3, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["rank"]
        for r in graph.pagerank(df, redistribute_dangling=True).collect()
    }
    want = _numpy_pagerank_full(edges, graph.PR_DAMPING, graph.PR_ITERS, graph.PR_ROUND_DP)
    assert set(got) == set(want)
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-9), node
    # mass conservation at every round depth (quantization noise only)
    for it in (1, 2, 3, 5, graph.PR_ITERS):
        total = sum(
            r["rank"]
            for r in graph.pagerank(
                df, n_iter=it, redistribute_dangling=True
            ).collect()
        )
        assert total == pytest.approx(5.0, abs=1e-6), it
    # the default variant on the same graph leaks (sanity contrast)
    leak_total = sum(r["rank"] for r in graph.pagerank(df).collect())
    assert leak_total < 5.0 - 0.01


def _driver_and_distributed(monkeypatch, run):
    """``run()`` on the driver path, then with the distributed loop
    forced (``DRIVER_MAX_EDGES`` = 0)."""
    from knowledgeextraction_spark import materialize

    fast = run()
    with monkeypatch.context() as m:
        m.setattr(materialize, "DRIVER_MAX_EDGES", 0)
        dist = run()
    return fast, dist


def test_pagerank_driver_path_matches_distributed(spark, monkeypatch):
    """r06: the adaptive driver loop (edge count under
    DRIVER_MAX_EDGES) must equal the distributed rounds bit-for-bit,
    both variants."""
    from knowledgeextraction_spark.operators import graph

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 0), (6, 2), (4, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for dangling in (False, True):
        fast, dist = _driver_and_distributed(
            monkeypatch,
            lambda: {
                r["id"]: r["rank"]
                for r in graph.pagerank(
                    df, redistribute_dangling=dangling
                ).collect()
            },
        )
        assert fast == dist


def test_graph_operators_validate_parameters(spark):
    """Parameters that would silently return a wrong answer must raise:
    kcore with k/max_rounds below 1 (everything in-core), k-hop reach
    with k below 1 (1-hop reach), and KMV with kmv_k below 2 (every
    full sketch estimates 0)."""
    import pytest

    from knowledgeextraction_spark.operators import graph

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    for fn, kwargs in [
        (graph.kcore_members, {"k": 0}),
        (graph.kcore_members, {"max_rounds": 0}),
        (graph.khop_counts, {"k": 0}),
        (graph.kmv_reach_counts, {"k": 0}),
        (graph.kmv_reach_counts, {"kmv_k": 1}),
    ]:
        with pytest.raises(ValueError):
            fn(df, **kwargs)


def test_graph_driver_paths_match_distributed(spark, monkeypatch):
    """r06: kcore / khop-KMV / triangles driver twins must equal the
    distributed loops bit-for-bit (integer/string semantics — exact,
    no quantization tolerance needed)."""
    from knowledgeextraction_spark.operators import graph

    edges = [
        (0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 0), (6, 2), (4, 6),
        (1, 3), (3, 1), (7, 8),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    for fn, kwargs in [
        (graph.kcore_members, {}),
        (graph.kmv_reach_counts, {"k": 2}),
        (graph.kmv_reach_counts, {"k": 2, "kmv_k": 3}),  # estimate branch
        (graph.triangle_count, {}),
    ]:
        fast, dist = _driver_and_distributed(
            monkeypatch, lambda: {tuple(r) for r in fn(df, **kwargs).collect()}
        )
        assert fast == dist, (fn.__name__, kwargs)


def test_pagerank_invariant_to_partitioning(spark):
    """The per-round 10-dp quantization must make ranks EXACTLY equal
    across partitionings (different groupBy-sum orders), not just
    approximately — that is the property the DuckDB oracle relies on."""
    import random

    rng = random.Random(13)
    edges = list({(rng.randrange(60), rng.randrange(60)) for _ in range(300)})
    edges = [(a, b) for a, b in edges if a != b]
    df1 = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    df8 = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    r1 = {r["id"]: r["rank"] for r in graph.pagerank(df1).collect()}
    r8 = {r["id"]: r["rank"] for r in graph.pagerank(df8).collect()}
    assert r1 == r8  # bit-exact, not approx


def test_kcore_known_graphs(spark):
    """2-core on structures with known answers, including a multi-round
    peeling CASCADE (the part a single degree filter gets wrong)."""
    # triangle {1,2,3} with a pendant CHAIN 3-4-5-6: nodes 4,5,6 all
    # have degree 2 in the chain interior's sense only transiently —
    # peeling must cascade from the end (6, then 5, then 4) over three
    # rounds, leaving exactly the triangle.
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["in_core"] for r in graph.kcore_members(df, k=2).collect()}
    assert got == {1: True, 2: True, 3: True, 4: False, 5: False, 6: False}
    # pure path: peels to empty from both ends
    path = spark.createDataFrame([(i, i + 1) for i in range(1, 7)], "src long, dst long")
    got = {r["id"]: r["in_core"] for r in graph.kcore_members(path, k=2).collect()}
    assert got == {i: False for i in range(1, 8)}
    # cycle: already a 2-core, fixpoint after the first probe round
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    got = {r["id"]: r["in_core"] for r in graph.kcore_members(cyc, k=2).collect()}
    assert got == {1: True, 2: True, 3: True, 4: True}
    # k=3: K4 survives, a triangle bolted onto it does not; mixed
    # duplicated orientations exercise the symmetrize
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    df = spark.createDataFrame(k4 + [(1, 9), (9, 10), (10, 1)], "src long, dst long")
    got = {r["id"]: r["in_core"] for r in graph.kcore_members(df, k=3).collect()}
    assert got == {1: True, 2: True, 3: True, 4: True, 9: False, 10: False}


def test_kcore_matches_duckdb_oracle_shape(spark):
    """The unrolled-cap oracle contract: Spark's early-break fixpoint
    equals the oracle's survivors-at-cap on a graph that needs several
    cascade rounds; checked via the registered SQL against an in-memory
    DuckDB with the same edge set."""
    import duckdb

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (2, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r["id"], r["in_core"]) for r in graph.kcore_members(df, k=2).collect()
    )
    from knowledgeextraction_spark.queries import kcore_peel_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE dedges (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO dedges VALUES (?, ?)", edges)
    levels = kcore_peel_sql(2, graph.KCORE_MAX_ROUNDS)
    want = sorted(
        (int(i), bool(c))
        for i, c in con.execute(
            f"""
WITH e0 AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst FROM dedges UNION SELECT dst, src FROM dedges
  ) WHERE src <> dst
),
nodes AS (SELECT DISTINCT src AS id FROM e0){levels}
SELECT n.id, c.id IS NOT NULL FROM nodes n
LEFT JOIN k{graph.KCORE_MAX_ROUNDS} c ON n.id = c.id
"""
        ).fetchall()
    )
    assert got == want


def _python_kcore(edges, k):
    """Independent brute-force peel: recompute degrees and drop < k
    until stable (no rounds cap — true fixpoint)."""
    und = {(a, b) for a, b in edges if a != b} | {
        (b, a) for a, b in edges if a != b
    }
    nodes = {a for a, _ in und}
    alive = set(und)
    while True:
        deg = {}
        for a, _ in alive:
            deg[a] = deg.get(a, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        new_alive = {(a, b) for a, b in alive if a in keep and b in keep}
        if new_alive == alive:
            break
        alive = new_alive
    return {n: n in keep for n in nodes}


def test_kcore_random_graphs_vs_python_oracle(spark):
    """Randomized sparse graphs (the regime where peeling cascades are
    long and irregular) vs the capless pure-python fixpoint."""
    import random

    for seed, k in [(3, 2), (11, 2), (17, 3), (23, 3)]:
        rng = random.Random(seed)
        n = 40
        edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(55)})
        edges = [(a, b) for a, b in edges if a != b]
        want = _python_kcore(edges, k)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["id"]: r["in_core"]
            for r in graph.kcore_members(df, k=k).collect()
        }
        assert got == want, (seed, k)


def test_triangle_count_known_graphs(spark):
    # K4 (each node in C(3,2)=3 triangles) + pendant node 5 (0 triangles),
    # given with mixed/duplicated orientations to exercise symmetrize
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    edges = k4 + [(5, 1), (1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["triangles"] for r in graph.triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0}


def test_triangle_count_path_graph_is_zero(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    got = {r["id"]: r["triangles"] for r in graph.triangle_count(df).collect()}
    assert got == {1: 0, 2: 0, 3: 0, 4: 0}


def test_khop_counts_known_graphs(spark):
    # path 1→2→3→4 at k=2: reach(1)={2,3}, reach(2)={3,4}, reach(3)={4}
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    got = {r["id"]: r["reach"] for r in graph.khop_counts(df, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 0}
    # 3-cycle: every node reaches both others within 2 hops (self
    # excluded even though the 2-hop walk returns home)
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    got = {r["id"]: r["reach"] for r in graph.khop_counts(cyc, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def _random_edges(n_nodes, n_draws, seed):
    import random

    rng = random.Random(seed)
    edges = {(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_draws)}
    return [(a, b) for a, b in edges if a != b]


def test_kmv_reach_exact_below_capacity(spark):
    """A KMV sketch that never hits capacity is exact: with K ≥ the
    largest true reach, kmv_reach_counts must equal the exact
    BFS-by-join khop_counts node for node."""
    edges = _random_edges(40, 120, seed=17)
    df = spark.createDataFrame(edges, "src long, dst long")
    exact = {r["id"]: r["reach"] for r in graph.khop_counts(df, k=2).collect()}
    kmv = {r["id"]: r["reach"] for r in graph.kmv_reach_counts(df, k=2, kmv_k=64).collect()}
    assert kmv == exact


def test_kmv_reach_k3(spark):
    """Multi-hop merge loop (k=3) matches the exact BFS below capacity."""
    edges = _random_edges(30, 70, seed=11)
    df = spark.createDataFrame(edges, "src long, dst long")
    exact = {r["id"]: r["reach"] for r in graph.khop_counts(df, k=3).collect()}
    kmv = {
        r["id"]: r["reach"]
        for r in graph.kmv_reach_counts(df, k=3, kmv_k=64).collect()
    }
    assert kmv == exact


def test_kmv_reach_estimate_error_bound(spark):
    """Estimate branch (K=16, σ≈1/√14≈27%): on a hub graph whose true
    2-hop reaches far exceed K, the MEAN relative error must stay
    within 25% and the worst single node within 4σ (the max over ~90
    independent estimates is expected to land near 2.5-3σ).
    Deterministic: fixed graph, md5 hashes."""
    # hub 0 → everyone, plus a random background so many nodes reach
    # the whole graph through the hub's in-edges
    n = 400
    edges = [(0, i) for i in range(1, n)] + _random_edges(n, 1200, seed=29)
    edges = sorted(set(edges))
    df = spark.createDataFrame(edges, "src long, dst long")
    exact = {r["id"]: r["reach"] for r in graph.khop_counts(df, k=2).collect()}
    kmv = {r["id"]: r["reach"] for r in graph.kmv_reach_counts(df, k=2, kmv_k=16).collect()}
    assert set(kmv) == set(exact)
    rel = [
        abs(kmv[i] - exact[i]) / exact[i] for i in exact if exact[i] > 0
    ]
    est_nodes = [i for i in exact if exact[i] > 17]
    assert len(est_nodes) > 50  # the estimate branch is really exercised
    assert max(rel) < 1.07, max(rel)  # 4σ at K=16
    assert sum(rel) / len(rel) < 0.25, sum(rel) / len(rel)
    # below-capacity nodes stay exact even at K=16
    for i in exact:
        if exact[i] <= 16:
            assert kmv[i] == exact[i], i


def test_kmv_reach_matches_duckdb_estimate_branch(spark):
    """Engine portability of the ESTIMATE branch (the part the driver's
    sf0.01 oracle never reaches because its 16-node graph stays exact):
    Spark kmv_reach_counts and the DuckDB mirror (queries.py:
    kmv_khop_tail_sql) must agree bit-for-bit at K=8 on a graph whose
    sketches are all full."""
    import duckdb

    from knowledgeextraction_spark.queries import kmv_khop_tail_sql

    edges = _random_edges(120, 900, seed=43)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["reach"]
        for r in graph.kmv_reach_counts(df, k=2, kmv_k=8).collect()
    }
    values = ", ".join(f"({a}, {b})" for a, b in sorted(edges))
    sql = (
        f"WITH edges AS (SELECT CAST(src AS BIGINT) AS src, "
        f"CAST(dst AS BIGINT) AS dst FROM (VALUES {values}) AS v(src, dst)),\n"
        + kmv_khop_tail_sql(8)
    )
    want = {int(i): int(r) for i, r in duckdb.sql(sql).fetchall()}
    assert got == want


def test_corpus_clean_verdict_semantics(spark):
    from knowledgeextraction_spark.queries import q_corpus_clean

    rows = q_corpus_clean(spark, SF_DIR).collect()
    by_id = {r["doc_id"]: r for r in rows}
    # every planted replica (doc_id ≥ 1e6) is an exact duplicate of its
    # source and must drop as one; its source doc must NOT drop as a
    # duplicate (it is its cluster's representative)
    replicas = [r for r in rows if r["doc_id"] >= 1_000_000]
    assert replicas, "fixture should plant replicas"
    for r in replicas:
        assert r["keep"] is False and r["drop_reason"] == "duplicate"
        # its cluster's representative is an ORIGINAL doc (the source,
        # or a near-dup of it with a smaller id — never a replica), and
        # that representative never drops as a duplicate
        assert r["component_id"] < 1_000_000
        rep = by_id[r["component_id"]]
        assert rep["drop_reason"] != "duplicate"
    # drop_reason is null iff kept; both branches non-degenerate
    assert all((r["drop_reason"] is None) == r["keep"] for r in rows)
    assert any(r["keep"] for r in rows)
    assert any(not r["keep"] for r in rows)
