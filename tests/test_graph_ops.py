"""Graph operator tests against numpy ground truth (SURVEY §2.C)."""

import numpy as np
import pytest

from duckdb_graphar_spark import graphar
from duckdb_graphar_spark.operators import graph as G


@pytest.fixture(scope="module")
def edges_df(spark, graph_fixture):
    return graphar.read_edges(
        spark, graph_fixture["yaml"], "Person", "knows", "Person"
    ).cache()


def _py_degrees(src, n):
    deg = np.zeros(n, dtype=np.int64)
    np.add.at(deg, src, 1)
    return deg


def test_degrees_groupby(spark, graph_fixture, edges_df):
    v = graphar.read_vertices(spark, graph_fixture["yaml"], "Person", columns=[])
    d = G.degrees(edges_df, v).orderBy("grapharId").collect()
    exp = _py_degrees(graph_fixture["src"], graph_fixture["n"])
    assert [r.degree for r in d] == exp.tolist()
    assert d[0].grapharId == 0 and len(d) == graph_fixture["n"]


def test_degrees_from_offsets_matches(spark, graph_fixture):
    d = G.degrees_from_offsets(
        spark, graph_fixture["yaml"], "Person", "knows", "Person"
    ).orderBy("grapharId")
    exp = _py_degrees(graph_fixture["src"], graph_fixture["n"])
    rows = d.collect()
    assert len(rows) == graph_fixture["n"]
    assert [r.degree for r in rows] == exp.tolist()


def test_two_hop_multiplicity(graph_fixture, edges_df):
    """two_hop keeps duplicate neighbors (hop.cpp:86-102: H not deduped)."""
    src, dst = graph_fixture["src"], graph_fixture["dst"]
    vid = 42
    h = dst[src == vid]  # with multiplicity
    exp = [(int(vid), int(d)) for d in h]
    for x in h:
        exp += [(int(x), int(d)) for d in dst[src == x]]
    got = [(r._graphArSrcIndex, r._graphArDstIndex) for r in G.two_hop(edges_df, vid).collect()]
    assert sorted(got) == sorted(exp)


def test_one_more_hop_closure(graph_fixture, edges_df):
    src, dst = graph_fixture["src"], graph_fixture["dst"]
    vid = 42
    H = set(dst[src == vid].tolist())
    e1 = [(vid, int(d)) for d in dst[src == vid]]
    closing = [
        (int(s), int(d)) for s, d in zip(src, dst) if s in H and d in H
    ]
    got = [(r._graphArSrcIndex, r._graphArDstIndex) for r in G.one_more_hop(edges_df, vid).collect()]
    assert sorted(got) == sorted(e1 + closing)


def _py_bfs(src, dst, n, s, t, max_depth=30):
    if s == t:
        return 0
    adj = {}
    for a, b in zip(src, dst):
        adj.setdefault(int(a), []).append(int(b))
    frontier, seen, depth = {s}, {s}, 0
    while frontier and depth < max_depth:
        depth += 1
        nxt = set()
        for v in frontier:
            for w in adj.get(v, ()):
                if w == t:
                    return depth
                if w not in seen:
                    seen.add(w)
                    nxt.add(w)
        frontier = nxt
    return -1


@pytest.mark.parametrize("s,t", [(0, 7), (42, 42), (1, 1500), (3, 999)])
def test_bfs_length(graph_fixture, edges_df, s, t):
    exp = _py_bfs(graph_fixture["src"], graph_fixture["dst"], graph_fixture["n"], s, t)
    assert G.bfs_length(edges_df, s, t) == exp


@pytest.mark.parametrize("s,t", [(0, 7), (1, 1500), (3, 999)])
def test_bfs_length_distributed_matches_driver(graph_fixture, edges_df, s, t):
    """The distributed level-synchronous path (driver_threshold=0) and the
    adaptive driver fast path agree."""
    assert G.bfs_length(edges_df, s, t, driver_threshold=0) == G.bfs_length(
        edges_df, s, t
    )


def test_bfs_exist(graph_fixture, edges_df):
    assert G.bfs_exist(edges_df, 0, 7) is True


@pytest.mark.parametrize("s,t", [(0, 7), (3, 999)])
def test_bfs_large_frontier_no_broadcast(graph_fixture, edges_df, s, t):
    """broadcast_threshold=0 (every frontier counts as 'too large') must
    still answer correctly — the frontier join falls back to shuffle."""
    exp = _py_bfs(graph_fixture["src"], graph_fixture["dst"], graph_fixture["n"], s, t)
    assert (
        G.bfs_length(edges_df, s, t, driver_threshold=0, broadcast_threshold=0) == exp
    )


def test_bfs_expand_frontier_plan_drops_broadcast(spark, edges_df):
    """With broadcast=False the level join must not plan a BroadcastExchange
    (AQE may still re-plan small sides at runtime on a real cluster; the
    static plan is what a forced-large frontier would execute)."""
    from pyspark.sql import functions as F

    e = edges_df.select(
        F.col("_graphArSrcIndex").alias("__s"), F.col("_graphArDstIndex").alias("__d")
    )
    frontier = spark.range(3).select(F.col("id").alias("__v"))
    visited = frontier
    # the planner auto-broadcasts any visibly-small side; disable that so
    # the assertion isolates the HINT (what a too-large frontier sees,
    # where auto-broadcast wouldn't trigger either)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with_hint = G._expand_frontier(e, frontier, visited, broadcast=True)
        without = G._expand_frontier(e, frontier, visited, broadcast=False)
        plan_hint = with_hint._jdf.queryExecution().executedPlan().toString()
        plan_no = without._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastExchange" in plan_hint
    assert "BroadcastExchange" not in plan_no


def test_degrees_from_offsets_point_lookup(spark, graph_fixture):
    """vid= prunes to one offset chunk and returns that vertex's degree."""
    from duckdb_graphar_spark.operators.graph import degrees_from_offsets

    src = graph_fixture["src"]
    for v in [0, 42, 997, 1999]:
        got = degrees_from_offsets(
            spark, graph_fixture["yaml"], "Person", "knows", "Person", vid=v
        ).collect()
        assert len(got) == 1 and got[0]["degree"] == int((src == v).sum())
    import pytest as _pt

    with _pt.raises(ValueError):
        degrees_from_offsets(
            spark, graph_fixture["yaml"], "Person", "knows", "Person", vid=10**9
        )


def test_label_propagation_matches_pure_python(spark):
    from duckdb_graphar_spark.operators.graph import label_propagation

    import random

    rng = random.Random(11)
    n = 60
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(150)}
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {r.id: r.label for r in
           label_propagation(df, n_iters=3, src_col="src", dst_col="dst").collect()}

    # pure-Python synchronous LPA with (count desc, label asc) pick
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs = {}
    for a, b in canon:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    lab = {v: v for v in nbrs}
    for _ in range(3):
        new = {}
        for v in nbrs:
            cnt = {}
            for u in nbrs[v]:
                cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            new[v] = min(cnt, key=lambda l: (-cnt[l], l))
        lab = new
    assert got == lab


def test_label_propagation_two_cliques_converge(spark):
    from duckdb_graphar_spark.operators.graph import label_propagation

    # two 4-cliques {0..3} and {10..13} joined by bridge 3-10
    def clique(vs):
        return [(a, b) for a in vs for b in vs if a < b]

    e = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10)]
    df = spark.createDataFrame(e, "src long, dst long")
    got = {r.id: r.label for r in
           label_propagation(df, n_iters=4, src_col="src", dst_col="dst").collect()}
    # clique members end with the clique minimum label
    assert {got[v] for v in (0, 1, 2)} == {0}
    assert {got[v] for v in (11, 12, 13)} == {10}


def test_personalized_pagerank_matches_pure_python(spark):
    from duckdb_graphar_spark.operators.graph import personalized_pagerank

    import random

    rng = random.Random(5)
    n = 40
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(120)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    vdf = spark.createDataFrame([(i,) for i in range(n)], "id long")
    src = 7
    got = {r.id: r.ppr for r in
           personalized_pagerank(edf, vdf, src, n_iters=3,
                                 src_col="src", dst_col="dst").collect()}

    outdeg = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    r = {v: (1.0 if v == src else 0.0) for v in range(n)}
    for _ in range(3):
        contrib = {}
        for a, b in edges:
            contrib[b] = contrib.get(b, 0.0) + r[a] / outdeg[a]
        r = {v: round((1.0 - 0.85 if v == src else 0.0)
                      + 0.85 * contrib.get(v, 0.0), 12) for v in range(n)}
    for v in range(n):
        assert got[v] == pytest.approx(r[v], abs=1e-9), v
    # the teleport term floors the seed at (1-d); un-reached vertices are 0
    assert got[src] >= 0.15 - 1e-9  # published at 12 decimals
    assert all(v >= 0.0 for v in got.values())


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------


def _hits_ref(pairs, n_iters):
    """Pure-Python unnormalized integer HITS (authority from previous
    hubs, hub from new authorities)."""
    edges = sorted(set(pairs))
    verts = sorted({v for p in edges for v in p})
    h = {v: 1 for v in verts}
    a = {v: 0 for v in verts}
    for _ in range(n_iters):
        a = {v: 0 for v in verts}
        for s, d in edges:
            a[d] += h[s]
        h = {v: 0 for v in verts}
        for s, d in edges:
            h[s] += a[d]
    return {v: (h[v], a[v]) for v in verts}


def test_hits_matches_reference(spark):
    import numpy as np

    from duckdb_graphar_spark.operators.graph import hits

    rng = np.random.default_rng(13)
    pairs = [(int(rng.integers(20)), int(rng.integers(20))) for _ in range(60)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["id"]: (r["hub"], r["authority"])
        for r in hits(df, n_iters=2, src_col="src", dst_col="dst").collect()
    }
    assert got == _hits_ref(pairs, 2)


def test_hits_star_graph(spark):
    """Star: center 0 → leaves 1..4.  After iter 1: a(leaf)=1, h(0)=4.
    After iter 2: a(leaf)=h(0)=4, h(0)=16; leaves have no out-edges →
    hub 0; center has no in-edges → authority 0."""
    from duckdb_graphar_spark.operators.graph import hits

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    got = {
        r["id"]: (r["hub"], r["authority"])
        for r in hits(df, n_iters=2, src_col="src", dst_col="dst").collect()
    }
    assert got[0] == (16, 0)
    for leaf in range(1, 5):
        assert got[leaf] == (0, 4)


def test_clustering_coefficient_hand_computed(spark):
    """Triangle 0-1-2 plus pendant 3 off vertex 2: coeff 1.0 for 0,1;
    2/(3*2)*2=0.333333 for 2; 0.0 for the degree-1 pendant."""
    from duckdb_graphar_spark.operators.graph import clustering_coefficient

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    got = {
        r.id: (r.degree, r.n_triangles, r.coeff)
        for r in clustering_coefficient(df, src_col="src", dst_col="dst").collect()
    }
    assert got[0] == (2, 1, 1.0)
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (3, 1, round(2 / 6, 6))
    assert got[3] == (1, 0, 0.0)


def test_assortativity_star_vs_clique(spark):
    """A star is maximally disassortative (corr = -1); a clique has
    zero degree variance (corr undefined -> NULL)."""
    from duckdb_graphar_spark.operators.graph import degree_assortativity

    kw = dict(src_col="src", dst_col="dst")
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    r = degree_assortativity(star, **kw).collect()[0]
    assert r.n == 10 and r.corr == -1.0
    clique = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "src long, dst long"
    )
    r2 = degree_assortativity(clique, **kw).collect()[0]
    assert r2.corr is None  # zero variance


def test_link_prediction_square(spark):
    """4-cycle 0-1-2-3-0: the two diagonals (0,2) and (1,3) each share
    2 common neighbors and are non-edges; jaccard = 2/(2+2-2) = 1.0."""
    from duckdb_graphar_spark.operators.graph import common_neighbor_candidates

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    got = [
        (r.u, r.w, r.n_common, r.jaccard)
        for r in common_neighbor_candidates(df, src_col="src", dst_col="dst").collect()
    ]
    assert got == [(0, 2, 2, 1.0), (1, 3, 2, 1.0)]


def test_link_prediction_hub_cap_drops_celebrity_wedges(spark):
    """With max_center_degree=1 every wedge center is dropped, so no
    candidates survive."""
    from duckdb_graphar_spark.operators.graph import common_neighbor_candidates

    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    out = common_neighbor_candidates(
        df, max_center_degree=1, src_col="src", dst_col="dst"
    )
    assert out.count() == 0


def test_bipartiteness_cycles(spark):
    """Even cycle bipartite; odd cycle not; pendant tree bipartite."""
    from duckdb_graphar_spark.operators.graph import bipartiteness

    kw = dict(src_col="src", dst_col="dst")
    # component A: 4-cycle (bipartite); component B: triangle (not);
    # component C: edge (bipartite)
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0),
             (10, 11), (11, 12), (12, 10),
             (20, 21)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r.component: (r.n_vertices, r.is_bipartite)
        for r in bipartiteness(df, **kw).collect()
    }
    assert got == {0: (4, True), 10: (3, False), 20: (2, True)}


def test_bipartiteness_self_loop_is_odd_cycle(spark):
    from duckdb_graphar_spark.operators.graph import bipartiteness

    df = spark.createDataFrame([(5, 5), (5, 6)], "src long, dst long")
    got = {
        r.component: r.is_bipartite
        for r in bipartiteness(df, src_col="src", dst_col="dst").collect()
    }
    assert got == {5: False}


def test_ktruss_triangles_survive_chain_dropped(spark):
    """Two triangles sharing an edge + a pendant chain: 3-truss keeps
    exactly the triangle edges with their supports; the chain dies."""
    from duckdb_graphar_spark.operators.graph import ktruss

    edges = [(0, 1), (1, 2), (0, 2), (0, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.a, r.b): r.support
        for r in ktruss(df, 3, n_iters=2, src_col="src", dst_col="dst").collect()
    }
    # shared edge (0,1) closes two triangles; the other four close one
    assert got == {(0, 1): 2, (1, 2): 1, (0, 2): 1, (0, 3): 1, (1, 3): 1}


def test_ktruss_k4_cascade_empties(spark):
    """k=4 (support >= 2): only the shared edge survives round 1, its
    support then collapses to zero -> the truss is empty (cascade)."""
    from duckdb_graphar_spark.operators.graph import ktruss

    edges = [(0, 1), (1, 2), (0, 2), (0, 3), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert ktruss(df, 4, n_iters=2, src_col="src", dst_col="dst").count() == 0
    import pytest as _pt

    with _pt.raises(ValueError, match="k >= 3"):
        ktruss(df, 2, src_col="src", dst_col="dst")


def test_pseudo_diameter_path_graph(spark):
    """A 5-path from 0: BFS finds the far end (4) at dist 4; second
    sweep from 4 reaches 0 at dist 4 — pseudo-diameter 4 (exact here)."""
    from duckdb_graphar_spark.operators.graph import pseudo_diameter

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    r = pseudo_diameter(df, 0, src_col="src", dst_col="dst").collect()[0]
    assert (r.start, r.peripheral, r.first_ecc, r.pseudo_diameter) == (0, 4, 4, 4)


def test_bfs_distances_ties_and_cap(spark):
    from duckdb_graphar_spark.operators.graph import bfs_distances

    # star + chain: distances from 0, capped at 2
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {r.v: r.dist for r in bfs_distances(df, 0, src_col="src", dst_col="dst", max_depth=2).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}  # 4 beyond the cap


def test_ktruss_zero_support_survivor_reported(spark):
    """Two triangles sharing edge (1,2): with k=4 only (1,2) survives
    round 1 (support 2), and the FINAL support pass measures it at 0 in
    the surviving subgraph — it must still appear, with support 0, not
    be silently dropped (the left-join-back contract)."""
    from duckdb_graphar_spark.operators.graph import ktruss

    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    got = [
        (r.a, r.b, r.support)
        for r in ktruss(df, 4, n_iters=1, src_col="src", dst_col="dst").collect()
    ]
    assert got == [(1, 2, 0)]


def test_ktruss_oriented_matches_uniform_support(spark):
    """K4: every edge sits in 2 triangles — the degree-ordered oriented
    enumeration must attribute each triangle to all 3 edges exactly
    once (6 edges, support 2 each)."""
    from duckdb_graphar_spark.operators.graph import ktruss

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(k4, "src long, dst long")
    got = sorted(
        (r.a, r.b, r.support)
        for r in ktruss(df, 3, n_iters=2, src_col="src", dst_col="dst").collect()
    )
    assert got == [(a, b, 2) for a, b in k4]


def test_scc_textbook_shapes(spark):
    """Two 3-cycles bridged by a one-way edge (distinct SCCs), a DAG
    chain (all singletons), a self-loop vertex, and mutual reachability
    that must NOT leak across the bridge."""
    from duckdb_graphar_spark.operators.graph import scc

    pairs = [
        # SCC A: 0->1->2->0 ; SCC B: 10->11->12->10 ; bridge A->B
        (0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10), (2, 10),
        # DAG chain: 20->21->22
        (20, 21), (21, 22),
        # self-loop singleton
        (30, 30),
    ]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.v: r.label for r in scc(df, src_col="src", dst_col="dst").collect()}
    assert got == {
        0: 0, 1: 0, 2: 0,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 21, 22: 22,
        30: 30,
    }


def test_scc_peel_rounds_exhausted_raises(spark):
    """An SCC chain that outlasts max_rounds must raise, never return a
    partial partition.  A plain DAG chain no longer exercises this:
    TRIM assigns the whole acyclic periphery in round one.  Neither
    does an id-ascending 2-cycle chain anymore: the FW-BW pair
    refinement drops cross-(F,B)-class edges each round, so every band
    of an ascending chain gets a distinct pair in round one and the
    whole chain resolves in two rounds (pinned below).  The adversarial
    shape that still consumes a round per level places the next global
    min TWO bands downstream — consecutive unassigned bands then share
    their (F, B) pair, so no cross edge drops and only the one
    min-containing SCC peels per round."""
    import pytest as _pt

    from duckdb_graphar_spark.operators.graph import scc

    # ascending chain {0,1} -> {2,3} -> {4,5} -> {6,7}: every band gets
    # a distinct (F, B) pair in round one -> resolves within 2 rounds
    pairs = []
    for i in range(4):
        pairs += [(2 * i, 2 * i + 1), (2 * i + 1, 2 * i)]
        if i:
            pairs.append((2 * i - 1, 2 * i))
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.v: r.label for r in scc(df, max_rounds=2, src_col="src", dst_col="dst").collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 4, 6: 6, 7: 6}

    # adversarial interleaving {0,1} -> {4,5} -> {6,7} -> {2,3}: after
    # round one ({0,1} assigned), {4,5} and {6,7} share pair (F=2, B=4)
    # while {2,3} peels, so the chain costs a round per level again
    bands = [(0, 1), (4, 5), (6, 7), (2, 3)]
    pairs = []
    for a, b in bands:
        pairs += [(a, b), (b, a)]
    for i in range(3):
        pairs.append((bands[i][1], bands[i + 1][0]))
    df = spark.createDataFrame(pairs, "src long, dst long")
    with _pt.raises(RuntimeError, match="unassigned"):
        scc(df, max_rounds=2, src_col="src", dst_col="dst")
    # and with budget it resolves exactly
    got = {r.v: r.label for r in scc(df, max_rounds=6, src_col="src", dst_col="dst").collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 4, 6: 6, 7: 6}


def test_condensation_levels_layered_dag_of_cycles(spark):
    """Two 2-cycles in a chain plus a long bypass: the condensation is
    A(0,1) -> B(2,3) -> D(4) with a bypass A -> C(5) -> D, so D's level
    is the LONGEST path (2 via B or C; both length 2), and a 3-step
    chain A->B->D vs A->C->D ties at 2; adding B->C makes D level 3."""
    from duckdb_graphar_spark.operators.graph import condensation_levels

    pairs = [
        (0, 1), (1, 0),          # SCC A = {0,1}, label 0
        (2, 3), (3, 2),          # SCC B = {2,3}, label 2
        (1, 2),                  # A -> B
        (0, 5),                  # A -> C ({5})
        (3, 4), (5, 4),          # B -> D, C -> D ({4})
        (2, 5),                  # B -> C  => D = A->B->C->D, level 3
    ]
    df = spark.createDataFrame(pairs, "src long, dst long")
    # the default threshold takes the driver-side topological DP; 0
    # forces the distributed relaxation loop — both must agree
    by_path = {
        threshold: {
            r.component: (r.level, r.n_vertices)
            for r in condensation_levels(
                df, src_col="src", dst_col="dst", driver_threshold=threshold
            ).collect()
        }
        for threshold in (100_000, 0)
    }
    assert by_path[100_000] == {0: (0, 2), 2: (1, 2), 5: (2, 1), 4: (3, 1)}
    assert by_path[0] == by_path[100_000]


def test_multi_source_bfs_matches_single_source_and_dedups(spark):
    """The multi-source sweep must equal per-source bfs_distances
    results stacked; a vertex reached at several depths keeps the
    minimum; source rows carry dist 0; duplicate seeds raise."""
    from duckdb_graphar_spark.operators.graph import (
        bfs_distances,
        multi_source_bfs,
        seed_set_closeness,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3), (5, 0)], "src long, dst long"
    )
    multi = {
        (r.source, r.v): r.dist
        for r in multi_source_bfs(
            edges, [0, 5], src_col="src", dst_col="dst", max_depth=4
        ).collect()
    }
    for s in (0, 5):
        single = {
            r.v: r.dist
            for r in bfs_distances(
                edges, s, src_col="src", dst_col="dst", max_depth=4
            ).collect()
        }
        assert {v: d for (src, v), d in multi.items() if src == s} == single
    assert multi[(0, 3)] == 1  # min over the two paths 0->3 and 0->1->2->3

    agg = {
        r.v: (r.n_sources, r.total_dist)
        for r in seed_set_closeness(
            edges, [0, 5], src_col="src", dst_col="dst", max_depth=4
        ).collect()
    }
    # vertex 3: dist 1 from seed 0, dist 2 from seed 5
    assert agg[3] == (2, 3)
    assert agg[5] == (1, 0)  # only its own seed row

    try:
        multi_source_bfs(edges, [0, 0], src_col="src", dst_col="dst")
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_luby_mis_invariants(spark):
    """(1) Every vertex gets exactly one status.  (2) The 'in' set is
    INDEPENDENT (no edge has both endpoints in).  (3) Every 'out'
    vertex has an 'in' neighbor (it was removed for a reason).  (4) On
    a path graph the peel is fully decided in one round set and
    maximal: adding any undecided/out vertex would break independence."""
    from duckdb_graphar_spark.operators.graph import luby_mis

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0), (2, 6)],
        "src long, dst long",
    )
    rows = luby_mis(edges, rounds=3, src_col="src", dst_col="dst").collect()
    status = {r.v: r.status for r in rows}
    assert len(rows) == len(status) == 7  # one status per vertex
    mis = {v for v, s in status.items() if s == "in"}
    adj = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0), (2, 6)]
    assert not any(a in mis and b in mis for a, b in adj)
    nbrs = {}
    for a, b in adj:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    for v, s in status.items():
        if s == "out":
            assert nbrs[v] & mis, f"out vertex {v} has no in-neighbor"
        if s == "undecided":
            assert not (nbrs[v] & mis)  # undecided only if never adjacent


def test_luby_mis_deterministic_and_seed_sensitive(spark):
    from duckdb_graphar_spark.operators.graph import luby_mis

    edges = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)], "src long, dst long"
    )
    a = sorted(map(tuple, luby_mis(edges, src_col="src", dst_col="dst").collect()))
    b = sorted(map(tuple, luby_mis(edges, src_col="src", dst_col="dst").collect()))
    assert a == b
    assert {v for v, s in a if s == "in"}  # non-empty MIS
    # a different seed is a different (still valid) priority draw
    c = luby_mis(edges, seed="other", src_col="src", dst_col="dst").collect()
    mis_c = {r.v for r in c if r.status == "in"}
    assert mis_c and not any(
        (v, (v + 1) % 10) for v in mis_c if (v + 1) % 10 in mis_c
    )


def test_random_walks_follow_edges_and_terminate(spark):
    """Every consecutive (step, step+1) pair must be a real edge; a
    dead-end vertex ends its walk early; walks are deterministic and
    seed-sensitive; a revisited vertex re-chooses per step (the
    content-addressed hash is keyed on the step)."""
    from duckdb_graphar_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 0), (2, 9)], "src long, dst long"
    )  # 9 is a dead end
    rows = random_walks(
        edges, [0, 2], steps=5, src_col="src", dst_col="dst"
    ).collect()
    walks = {}
    for r in rows:
        walks.setdefault(r.walk_id, {})[r.step] = r.v
    eset = {(0, 1), (0, 2), (1, 0), (2, 9)}
    for wid, path in walks.items():
        seq = [path[s] for s in sorted(path)]
        assert seq[0] == wid
        for a, b in zip(seq, seq[1:]):
            assert (a, b) in eset
    # walk from 2: 2 -> 9 (dead end) -> stops at step 1
    assert sorted(walks[2]) == [0, 1] and walks[2][1] == 9
    # walk from 0 keeps going 5 steps (cycle 0<->1 or 0->2->9)
    again = random_walks(edges, [0, 2], steps=5, src_col="src", dst_col="dst").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    other = random_walks(
        edges, [0, 2], steps=5, seed="zz", src_col="src", dst_col="dst"
    ).collect()
    ow = {}
    for r in other:
        ow.setdefault(r.walk_id, {})[r.step] = r.v
    for wid, path in ow.items():
        seq = [path[s] for s in sorted(path)]
        for a, b in zip(seq, seq[1:]):
            assert (a, b) in eset  # different seed, still valid walks


def test_random_walks_rejects_duplicate_sources(spark):
    """walk_id is the source id, so a repeated source would merge two
    walks under one id (two step-0 rows, then one row per step):
    duplicates raise, as in multi_source_bfs."""
    import pytest as _pt

    from duckdb_graphar_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 0), (2, 9)], "src long, dst long"
    )
    with _pt.raises(ValueError, match="sources must be distinct"):
        random_walks(edges, [0, 0], steps=3, src_col="src", dst_col="dst")


def test_hyperball_exact_on_toy_graph(spark):
    """Hand-checkable 2-hop out-balls on a small DAG + cycle: exact
    sizes match enumeration, and every estimate sits inside the band
    (small cardinalities are near-exact in HLL)."""
    from duckdb_graphar_spark.operators.graph import neighborhood_function

    # 0->1->2->3, 0->2, 4->0, cycle 5<->6
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 2), (4, 0), (5, 6), (6, 5)],
        "src long, dst long",
    )
    got = {
        r.v: (r.ball_exact, r.within_tolerance)
        for r in neighborhood_function(
            edges, k=2, src_col="src", dst_col="dst"
        ).collect()
    }
    # v=0: {0,1,2,3}; v=1: {1,2,3}; v=2: {2,3}; v=3: {3}; v=4: {4,0,1,2}
    # v=5: {5,6}; v=6: {6,5}
    assert {v: b for v, (b, _) in got.items()} == {
        0: 4, 1: 3, 2: 2, 3: 1, 4: 4, 5: 2, 6: 2
    }
    assert all(ok for _, ok in got.values())

    k1 = {
        r.v: r.ball_exact
        for r in neighborhood_function(
            edges, k=1, src_col="src", dst_col="dst"
        ).collect()
    }
    assert k1[0] == 3 and k1[4] == 2  # 1-hop balls strictly smaller


def test_greedy_coloring_valid_and_exhaustive(spark):
    """Path + triangle: every pair of adjacent colored vertices differs;
    with enough colors/rounds everything is colored (a triangle needs
    exactly 3)."""
    from duckdb_graphar_spark.operators.graph import greedy_coloring

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10)],
        "src long, dst long",
    )
    got = {
        r.v: r.color
        for r in greedy_coloring(
            edges, colors=3, rounds=3, src_col="src", dst_col="dst"
        ).collect()
    }
    assert all(c != -1 for c in got.values())
    for a, b in [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10)]:
        assert got[a] != got[b]
    assert {got[10], got[11], got[12]} == {0, 1, 2}


def test_greedy_coloring_budget_leftovers(spark):
    """One color class on a triangle colors at most one vertex (any two
    are adjacent); the rest report -1 honestly."""
    from duckdb_graphar_spark.operators.graph import greedy_coloring

    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 10)], "src long, dst long"
    )
    got = {
        r.v: r.color
        for r in greedy_coloring(
            edges, colors=1, rounds=3, src_col="src", dst_col="dst"
        ).collect()
    }
    colored = [v for v, c in got.items() if c == 0]
    assert len(colored) == 1 and sorted(got) == [10, 11, 12]
    assert sum(1 for c in got.values() if c == -1) == 2


def test_greedy_coloring_rejects_bad_colors(spark):
    import pytest as _pt

    from duckdb_graphar_spark.operators.graph import greedy_coloring

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pt.raises(ValueError, match="colors"):
        greedy_coloring(edges, colors=0, src_col="src", dst_col="dst")


def _msf_weight(a, b, seed="msf0"):
    import hashlib

    h = hashlib.md5(f"{seed}\x1f{a}\x1f{b}".encode()).hexdigest()
    return h + str(a).zfill(20) + str(b).zfill(20)


def test_msf_matches_kruskal(spark):
    """Borůvka with unique weights yields THE minimum spanning forest —
    verified edge-for-edge against a driver-side Kruskal over the SAME
    content-addressed weights on a random graph."""
    import numpy as np

    from duckdb_graphar_spark.operators.graph import minimum_spanning_forest

    rng = np.random.default_rng(23)
    edges = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, 30, size=(120, 2))
        if a != b
    }
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {
        (r.a, r.b)
        for r in minimum_spanning_forest(
            df, rounds=5, src_col="src", dst_col="dst"
        ).collect()
    }
    # Kruskal
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for a, b in sorted(edges, key=lambda e: _msf_weight(*e)):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            want.add((a, b))
    assert got == want


def test_msf_partial_budget_is_acyclic_subset(spark):
    """One round on a long path: every vertex picks its min incident
    edge — the result is an acyclic SUBSET of the full forest."""
    from duckdb_graphar_spark.operators.graph import minimum_spanning_forest

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    one = {
        (r.a, r.b)
        for r in minimum_spanning_forest(
            df, rounds=1, src_col="src", dst_col="dst"
        ).collect()
    }
    full = {
        (r.a, r.b)
        for r in minimum_spanning_forest(
            df, rounds=5, src_col="src", dst_col="dst"
        ).collect()
    }
    assert one <= full and len(full) == 12  # path MST = the path itself
    with __import__("pytest").raises(ValueError, match="rounds"):
        minimum_spanning_forest(df, rounds=0, src_col="src", dst_col="dst")


def test_msf_weighted_matches_kruskal(spark):
    """Real-weight mode: Borůvka over an integer weight column with
    HEAVY ties (weights in 0..4 over 120 edges) equals a driver-side
    Kruskal under the identical composite order (weight, then the
    md5‖id tie-break), parallel pairs collapsed to their MIN weight,
    and the output carries the picked weight."""
    import numpy as np

    from duckdb_graphar_spark.operators.graph import minimum_spanning_forest

    rng = np.random.default_rng(31)
    raw = [
        (int(min(a, b)), int(max(a, b)), int(w))
        for a, b, w in zip(
            rng.integers(0, 25, 140),
            rng.integers(0, 25, 140),
            rng.integers(0, 5, 140),
        )
        if a != b
    ]
    df = spark.createDataFrame(raw, "src long, dst long, wv long")
    got = {
        (r.a, r.b, r.weight)
        for r in minimum_spanning_forest(
            df, rounds=6, src_col="src", dst_col="dst", weight_col="wv"
        ).collect()
    }
    # collapse parallel pairs to min weight, then Kruskal on
    # (zero-padded weight || md5 tie-break)
    best: dict = {}
    for a, b, w in raw:
        if (a, b) not in best or w < best[(a, b)]:
            best[(a, b)] = w
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for (a, b), w in sorted(
        best.items(), key=lambda kv: str(kv[1]).zfill(20) + _msf_weight(*kv[0])
    ):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            want.add((a, b, w))
    assert got == want
    # total weight is the MST weight regardless of tie-break choices
    assert sum(w for *_, w in got) == sum(w for *_, w in want)


def test_msf_weight_contract_enforced(spark):
    """The zero-padded sort key only embeds the order of NON-NEGATIVE
    INTEGERS: a float weight column is rejected at plan time (silent
    truncation would pick wrong edges), a negative weight fails the
    first task that sees it (raise_error in the plan — no extra
    validation job on the clean path)."""
    import pytest as _pt

    from duckdb_graphar_spark.operators.graph import minimum_spanning_forest

    fdf = spark.createDataFrame(
        [(0, 1, 1.5), (1, 2, 0.5)], "src long, dst long, wv double"
    )
    with _pt.raises(TypeError, match="integral"):
        minimum_spanning_forest(fdf, src_col="src", dst_col="dst", weight_col="wv")

    missing = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pt.raises(ValueError, match="not in edges schema"):
        minimum_spanning_forest(
            missing, src_col="src", dst_col="dst", weight_col="wv"
        )

    ndf = spark.createDataFrame(
        [(0, 1, 3), (1, 2, -9), (2, 3, 5)], "src long, dst long, wv long"
    )
    # MSF materializes its rounds eagerly, so the in-plan raise_error
    # surfaces during construction — either way, before any result
    with _pt.raises(Exception, match="negative weight"):
        minimum_spanning_forest(
            ndf, rounds=2, src_col="src", dst_col="dst", weight_col="wv"
        ).collect()

    # the clean path is untouched: all-non-negative still builds a forest
    ok = spark.createDataFrame(
        [(0, 1, 3), (1, 2, 0), (2, 3, 5)], "src long, dst long, wv long"
    )
    rows = minimum_spanning_forest(
        ok, rounds=2, src_col="src", dst_col="dst", weight_col="wv"
    ).collect()
    assert {(r.a, r.b, r.weight) for r in rows} == {(0, 1, 3), (1, 2, 0), (2, 3, 5)}


def test_adamic_adar_known_graph(spark):
    """Hand-checked AA scores: path graph 0-1-2-3-4 plus edge 1-3.
    Degrees: 0:1, 1:3, 2:2, 3:3, 4:1.  Non-adjacent pairs with common
    neighbors: (0,2)&(0,3) via center 1; (1,4)&(2,4) via center 3;
    (0,4) none; (2,? ) — 2's neighbors {1,3}: pair (1,3) is an edge.
    AA(0,2)=1/ln(3); AA(0,3)=1/ln(3); AA(2,4)=1/ln(3); AA(1,4)=1/ln(3);
    and (1,3) adjacent so excluded; (0,2) vs (2,4) tie — order by (u,w)."""
    import math

    from duckdb_graphar_spark.operators.graph import adamic_adar_candidates

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (1, 3)], "src long, dst long"
    )
    rows = adamic_adar_candidates(edges, k=10, src_col="src", dst_col="dst").collect()
    w3 = round(round(1.0 / math.log(3.0), 9), 6)
    got = {(r.u, r.w): (r.n_common, r.adamic_adar) for r in rows}
    assert got == {
        (0, 2): (1, w3),
        (0, 3): (1, w3),
        (1, 4): (1, w3),
        (2, 4): (1, w3),
    }
    # ties broken by (u, w): deterministic full ordering
    assert [(r.u, r.w) for r in rows] == [(0, 2), (0, 3), (1, 4), (2, 4)]


def test_adamic_adar_hub_cap_drops_center(spark):
    """A star hub above max_center_degree stops being a wedge center:
    its leaf pairs vanish, while low-degree centers keep theirs."""
    from duckdb_graphar_spark.operators.graph import adamic_adar_candidates

    star = [(100, i) for i in range(5)]  # deg(100)=5
    tail = [(0, 200), (1, 200)]  # center 200 (deg 2) closes pair (0, 1)
    edges = spark.createDataFrame(star + tail, "src long, dst long")
    capped = adamic_adar_candidates(
        edges, k=100, max_center_degree=4, src_col="src", dst_col="dst"
    ).collect()
    # center 100 (deg 5 > 4) contributes nothing; center 200 still
    # closes (0, 1); leaves 0 and 1 (deg 2 each) close (100, 200)
    assert {(r.u, r.w) for r in capped} == {(0, 1), (100, 200)}
    uncapped = adamic_adar_candidates(
        edges, k=100, src_col="src", dst_col="dst"
    ).collect()
    assert {(r.u, r.w) for r in uncapped} > {(0, 1), (100, 200)}


def test_katz_centrality_hand_checked(spark):
    """Path 1->2->3 plus 4->3, two iterations, alpha=1/2:
    x1: [1, 1.5, 2, 1]; x2(3) = 1 + (x1(2)+x1(4))/2 = 2.25;
    x2(2) = 1 + x1(1)/2 = 1.5; x2(1)=x2(4)=1."""
    from duckdb_graphar_spark.operators.graph import katz_centrality

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 3)], "src long, dst long"
    )
    got = {
        r.id: r.katz
        for r in katz_centrality(edges, n_iters=2, src_col="src", dst_col="dst").collect()
    }
    assert got == {1: 1.0, 2: 1.5, 3: 2.25, 4: 1.0}


def test_katz_centrality_guards(spark):
    import pytest as _pt

    from duckdb_graphar_spark.operators.graph import katz_centrality

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pt.raises(ValueError, match="n_iters"):
        katz_centrality(edges, n_iters=0, src_col="src", dst_col="dst")
    with _pt.raises(ValueError, match="n_iters"):
        katz_centrality(edges, n_iters=17, src_col="src", dst_col="dst")


def test_katz_centrality_overflow_guard_raises(spark):
    """The decimal(38,0) iteration sum must raise_error in-plan — not
    wrap int64 silently — when a hub's score units blow past 2^62.
    A 300-in-degree hub whose sources all feed each other grows units
    ~(151)^k per round; at n_iters=16 that crosses 2^62 mid-loop."""
    import pytest as _pt

    from duckdb_graphar_spark.operators.graph import katz_centrality

    n = 300
    # complete-ish feeder: every i -> hub, and a ring i -> i+1 so the
    # feeders themselves keep growing; hub deg alone is enough though
    edges = spark.createDataFrame(
        [(i, n) for i in range(n)] + [(n, i) for i in range(n)],
        "src long, dst long",
    )
    with _pt.raises(Exception, match="overflow int64 headroom"):
        katz_centrality(edges, n_iters=16, src_col="src", dst_col="dst").collect()


def _final_plan_file_scans(df) -> int:
    """Count FileSourceScan/BatchScan leaves in the final (post-AQE)
    executed plan, deduped by node id."""
    n, seen = 0, set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name or "BatchScan" in name:
            n += 1
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif "QueryStageExec" in name:
            stack.append(node.plan())
        else:
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
    return n


def test_bipartiteness_reads_source_once(spark, tmp_path):
    """The r12 materialization contract: bipartiteness's edge
    projection is eagerly checkpointed, so the SIX downstream consumers
    (verts x2, base CC, double-cover edges x2, dc_verts via verts) read
    the checkpoint, not the source.  Pinned structurally: the final
    executed plan contains ZERO file scans (every leaf is the
    checkpointed RDD or a CC output) — before the change the source
    parquet was re-scanned six times per run
    (scripts/audit_corpus_passes.py, BENCH_r12_pass_audit.json)."""
    from duckdb_graphar_spark.operators.graph import bipartiteness

    p = str(tmp_path / "edges.parquet")
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (10, 11), (11, 12), (12, 10)]
    spark.createDataFrame(pairs, "src long, dst long").write.parquet(p)
    df = bipartiteness(spark.read.parquet(p), src_col="src", dst_col="dst")
    got = {
        r.component: (r.n_vertices, r.is_bipartite) for r in df.collect()
    }
    assert got == {0: (4, True), 10: (3, False)}
    assert _final_plan_file_scans(df) == 0


def test_clustering_coefficient_reads_source_once(spark, tmp_path):
    """Same contract for the clustering coefficient: canon is
    checkpointed (degree branches + triangle enumeration read it, not
    the source) and _oriented_triangles materializes `oriented` for its
    three consumers — the final plan holds zero file scans (was four
    full source reads per run)."""
    from duckdb_graphar_spark.operators.graph import clustering_coefficient

    p = str(tmp_path / "edges2.parquet")
    spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    ).write.parquet(p)
    df = clustering_coefficient(spark.read.parquet(p), src_col="src", dst_col="dst")
    got = {r.id: (r.degree, r.n_triangles, r.coeff) for r in df.collect()}
    assert got[0] == (2, 1, 1.0)
    assert got[2] == (3, 1, round(2 / 6, 6))
    assert _final_plan_file_scans(df) == 0


def test_iterative_family_reads_source_once(spark, tmp_path):
    """The r12 materialization contract extended to the whole
    fixed-iteration family: each operator eagerly checkpoints its
    constant edge (and where applicable vertex) relation, so every
    iteration consumes the materialized relation and the final executed
    plan contains ZERO file scans — before the change the source
    parquet was re-scanned 2-4x per run (cross-execution meter,
    scripts/measure_source_reads.py)."""
    from duckdb_graphar_spark.operators.graph import (
        bfs_distances,
        degree_assortativity,
        greedy_coloring,
        hits,
        katz_centrality,
        kcore,
        label_propagation,
        luby_mis,
        minimum_spanning_forest,
        multi_source_bfs,
        pagerank,
        personalized_pagerank,
        random_walks,
        sssp,
        triangle_count,
    )

    ep = str(tmp_path / "edges_fam.parquet")
    vp = str(tmp_path / "verts_fam.parquet")
    spark.createDataFrame(
        [(0, 1, 1), (1, 2, 2), (2, 0, 1), (2, 3, 5), (3, 0, 1)],
        "src long, dst long, w long",
    ).write.parquet(ep)
    spark.createDataFrame([(i,) for i in range(4)], "id long").write.parquet(vp)
    e = spark.read.parquet(ep)
    v = spark.read.parquet(vp)

    frames = {
        "pagerank": pagerank(e, v, src_col="src", dst_col="dst"),
        "personalized_pagerank": personalized_pagerank(
            e, v, 0, src_col="src", dst_col="dst"
        ),
        "hits": hits(e, src_col="src", dst_col="dst"),
        "katz": katz_centrality(e, src_col="src", dst_col="dst"),
        "sssp": sssp(e, 0, src_col="src", dst_col="dst", weight_col="w"),
        "kcore": kcore(e, 2, src_col="src", dst_col="dst"),
        "label_propagation": label_propagation(e, src_col="src", dst_col="dst"),
        "triangle_count": triangle_count(e, src_col="src", dst_col="dst"),
        "assortativity": degree_assortativity(e, src_col="src", dst_col="dst"),
        "bfs_distances": bfs_distances(e, 0, src_col="src", dst_col="dst"),
        "multi_source_bfs": multi_source_bfs(e, [0, 2], src_col="src", dst_col="dst"),
        "random_walks": random_walks(e, [0, 2], src_col="src", dst_col="dst"),
        "luby_mis": luby_mis(e, src_col="src", dst_col="dst"),
        "greedy_coloring": greedy_coloring(e, src_col="src", dst_col="dst"),
        "minimum_spanning_forest": minimum_spanning_forest(
            e, src_col="src", dst_col="dst"
        ),
    }
    # sanity: values stay correct on the toy graph
    assert frames["triangle_count"].collect()[0].n_triangles == 2
    assert {r.id: r.dist for r in frames["sssp"].collect()} == {
        0: 0, 1: 1, 2: 3, 3: 8
    }
    assert {r.id for r in frames["kcore"].collect()} == {0, 1, 2, 3}
    assert {r.v: r.dist for r in frames["bfs_distances"].collect()} == {
        0: 0, 1: 1, 2: 2, 3: 3
    }
    for name, df in frames.items():
        df.collect()
        assert _final_plan_file_scans(df) == 0, name


def _cached_frames(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_pinned_holds_frames_until_the_block_exits(spark):
    """``_pinned`` keeps a pinned frame cached for the whole block and
    releases it on exit, on error too."""
    from duckdb_graphar_spark.operators.graph import _pinned

    before = _cached_frames(spark)
    with _pinned() as pin:
        df = pin(spark.range(7).selectExpr("id * 5 as x"))
        assert df.count() == 7
        assert df.is_cached and _cached_frames(spark) == before + 1
    assert _cached_frames(spark) == before
    with pytest.raises(RuntimeError, match="boom"):
        with _pinned() as pin:
            pin(spark.range(3).selectExpr("id + 1 as y"))
            raise RuntimeError("boom")
    assert _cached_frames(spark) == before


def test_persisting_operators_release_their_caches(spark, tmp_path):
    """Every operator that persists intermediates (through ``_pinned``)
    leaves no cached DataFrame behind once it returns, and a returned
    frame does not read the released pins: it was checkpointed while
    they were held, so collecting it later re-scans no source file."""
    from duckdb_graphar_spark.operators import graph as G

    p = str(tmp_path / "edges_pinned.parquet")
    spark.createDataFrame(
        [(0, 1, 3), (1, 2, 1), (2, 0, 2), (2, 3, 5), (3, 4, 1), (4, 2, 4)],
        "src long, dst long, w long",
    ).write.parquet(p)
    edges = spark.read.parquet(p)
    kw = {"src_col": "src", "dst_col": "dst"}
    runs = {
        "bfs_length": lambda: G.bfs_length(edges, 0, 4, driver_threshold=0, **kw),
        "bfs_levels": lambda: G.bfs_levels(edges, 0, **kw),
        "bfs_distances": lambda: G.bfs_distances(edges, 0, **kw),
        "multi_source_bfs": lambda: G.multi_source_bfs(edges, [0, 3], **kw),
        "pseudo_diameter": lambda: G.pseudo_diameter(edges, 0, **kw),
        "luby_mis": lambda: G.luby_mis(edges, **kw),
        "greedy_coloring": lambda: G.greedy_coloring(edges, **kw),
        "random_walks": lambda: G.random_walks(edges, [0, 3], **kw),
        "neighborhood_function": lambda: G.neighborhood_function(edges, **kw),
        "minimum_spanning_forest": lambda: G.minimum_spanning_forest(edges, **kw),
        "weighted_spanning_forest": lambda: G.minimum_spanning_forest(
            edges, weight_col="w", **kw
        ),
    }
    # neighborhood_function returns a lazy frame over its checkpoints
    # and bfs_levels/pseudo_diameter driver-built rows: only the frames
    # checkpointed under the pins are held to zero file scans
    checkpointed = {
        "bfs_distances", "multi_source_bfs", "luby_mis", "greedy_coloring",
        "random_walks", "minimum_spanning_forest", "weighted_spanning_forest",
    }
    before = _cached_frames(spark)
    got = {}
    for name, run in runs.items():
        out = run()
        assert _cached_frames(spark) == before, name
        if name == "bfs_length":
            got[name] = out
            continue
        got[name] = sorted(map(tuple, out.collect()))
        if name in checkpointed:
            assert _final_plan_file_scans(out) == 0, name
    assert got["bfs_length"] == 4
    assert got["bfs_levels"] == [(0, 1), (1, 1), (2, 1), (3, 1), (4, 1)]
    assert got["bfs_distances"] == [(0, 0), (1, 1), (2, 2), (3, 3), (4, 4)]
    assert got["multi_source_bfs"] == [
        (0, 0, 0), (0, 1, 1), (0, 2, 2), (0, 3, 3), (0, 4, 4),
        (3, 0, 3), (3, 1, 4), (3, 2, 2), (3, 3, 0), (3, 4, 1),
    ]
    assert got["pseudo_diameter"] == [(0, 3, 2, 2)]
    # the underlying undirected graph is connected on 5 vertices, so
    # either weight mode spans it with 4 edges
    assert len(got["minimum_spanning_forest"]) == 4
    assert len(got["weighted_spanning_forest"]) == 4
    assert {r[0] for r in got["greedy_coloring"]} == {0, 1, 2, 3, 4}
    assert {r[0] for r in got["luby_mis"]} == {0, 1, 2, 3, 4}
    assert {r[0] for r in got["random_walks"]} == {0, 3}


def test_fixpoint_state_estimate_does_not_compound(spark):
    """Each pass's state is read through a leaf without statistics, so a
    step that joins the state with itself (a join's size estimate is the
    product of its sides') does not feed the product into the next
    pass.  Eight passes: labels 7..0 each drop by one per pass, and the
    eighth moves nothing."""
    from pyspark.sql import functions as F

    def step(state):
        other = state.select(F.col("v").alias("__v"))
        return state.join(other, F.col("v") == F.col("__v")).select(
            "v", F.greatest(F.col("lab") - 1, F.lit(0)).alias("__new"), "lab"
        )

    state = spark.range(8).select(F.col("id").alias("v"), F.col("id").alias("lab"))
    out = G._fixpoint(state, step, max_iters=8, value="lab", error=RuntimeError("no fixpoint"))
    assert sorted(r.lab for r in out.collect()) == [0] * 8
    size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert len(str(size)) < 40
