"""Graph operator tests: oracle-free ops pinned against numpy/pure-python
references; BFS/CC/degrees are covered by the oracle gate in
test_oracle.py."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from biodwh2_arcadedb_server_spark.operators.graph import (
    clustering_coefficient,
    triangle_count,
    triangles,
    bfs,
    connected_components,
    connected_components_star,
    expand,
    label_propagation,
    pagerank,
)
from biodwh2_arcadedb_server_spark.operators.graph_queries import nation_graph


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"]).select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    )


def test_expand_directions(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    start = spark.createDataFrame([(1,)], ["node_id"])
    out = {(r.node_id, r.neighbor) for r in expand(start, e, "out").collect()}
    assert out == {(1, 2)}
    inn = {(r.node_id, r.neighbor) for r in expand(start, e, "in").collect()}
    assert inn == {(1, 3)}
    both = {(r.node_id, r.neighbor) for r in expand(start, e, "both").collect()}
    assert both == {(1, 2), (1, 3)}


def test_bfs_chain(spark):
    # 1 -> 2 -> 3 -> 4, plus disconnected 9 -> 10
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (9, 10)])
    start = spark.createDataFrame([(1,)], ["node_id"])
    got = {(r.node_id, r.depth) for r in bfs(e, start, max_depth=10).collect()}
    assert got == {(1, 0), (2, 1), (3, 2), (4, 3)}
    # depth cap respected
    got2 = {(r.node_id, r.depth) for r in bfs(e, start, max_depth=2).collect()}
    assert got2 == {(1, 0), (2, 1), (3, 2)}


def test_bfs_undirected(spark):
    # an undirected traversal walks the symmetric edge list
    e = _edges(spark, [(2, 1), (2, 3), (1, 2), (3, 2)])
    start = spark.createDataFrame([(1,)], ["node_id"])
    got = {(r.node_id, r.depth) for r in bfs(e, start, max_depth=5).collect()}
    assert got == {(1, 0), (2, 1), (3, 2)}


def test_connected_components_two_islands(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (12, 11)])
    got = {(r.node_id, r.component) for r in connected_components(e).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)}


def test_star_cc_matches_hashmin_islands(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (12, 11), (20, 20)])
    got = {(r.node_id, r.component) for r in connected_components_star(e).collect()}
    want = {(r.node_id, r.component) for r in connected_components(e).collect()}
    assert got == want == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (20, 20)}


def test_star_cc_long_chain(spark):
    # diameter-128 path: hash-min's worst case, star's motivating case.
    # max_iter=12 << diameter proves O(log^2 n) convergence.
    # cap=0 forces the DISTRIBUTED loop — the driver union-find fast
    # path would close this chain trivially and prove nothing.
    e = _edges(spark, [(i, i + 1) for i in range(128)])
    spark.conf.set("spark.graft.cc.driverEdgeCap", "0")
    try:
        got = {(r.node_id, r.component) for r in connected_components_star(e, max_iter=12).collect()}
    finally:
        spark.conf.unset("spark.graft.cc.driverEdgeCap")
    assert got == {(i, 0) for i in range(129)}


def test_cc_driver_fast_path_matches_distributed(spark):
    # dupes, both directions, self-loops, singleton-via-self-loop —
    # the fast path (default cap) must equal the distributed loop
    # (cap=0) for both CC variants, including plan-level reuse
    # (two references to the result scan checkpoint blocks).
    import random

    rng = random.Random(41)
    pairs = [(rng.randrange(80), rng.randrange(80)) for _ in range(120)]
    pairs += [(5, 5), (77, 77), (3, 2), (2, 3), (2, 3)]
    e = _edges(spark, pairs)
    fast_hm = {(r.node_id, r.component) for r in connected_components(e).collect()}
    fast_st = {(r.node_id, r.component) for r in connected_components_star(e).collect()}
    spark.conf.set("spark.graft.cc.driverEdgeCap", "0")
    try:
        slow_hm = {(r.node_id, r.component) for r in connected_components(e).collect()}
        slow_st = {(r.node_id, r.component) for r in connected_components_star(e).collect()}
    finally:
        spark.conf.unset("spark.graft.cc.driverEdgeCap")
    assert fast_hm == slow_hm == fast_st == slow_st


def test_cc_driver_fast_path_is_jvm_literal(spark):
    # the fast path's result must not plan a pickled Python RDD scan:
    # json-literal relation + checkpoint (localrel contract)
    e = _edges(spark, [(1, 2), (2, 3)])
    comp = connected_components(e)
    assert {(r.node_id, r.component) for r in comp.collect()} == {
        (1, 1), (2, 1), (3, 1)
    }
    plan = comp._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_star_cc_random_matches_hashmin(spark):
    import random

    rng = random.Random(7)
    pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(300)]
    e = _edges(spark, pairs)
    got = {(r.node_id, r.component) for r in connected_components_star(e).collect()}
    want = {(r.node_id, r.component) for r in connected_components(e).collect()}
    assert got == want


def test_pagerank_against_numpy(spark, sf_medium):
    g = nation_graph(spark, sf_medium, 97)
    edges = [(r.src, r.dst) for r in g.collect()]
    got = {r.node_id: r.rank for r in pagerank(g, iterations=10, damping=0.85).collect()}

    # numpy power-iteration reference with dangling redistribution
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(10):
        dangling = r[out_deg == 0].sum()
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += r[idx[s]] / out_deg[idx[s]]
        r = (1 - d) / n + d * (contrib + dangling / n)
    for node, rank in got.items():
        assert rank == pytest.approx(r[idx[node]], abs=1e-9), node
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_dangling(spark):
    # 1 -> 2, 2 is a sink: mass must be redistributed, ranks sum to 1
    e = _edges(spark, [(1, 2)])
    got = {r.node_id: r.rank for r in pagerank(e, iterations=20).collect()}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert got[2] > got[1]


def test_label_propagation_two_cliques(spark):
    # two triangles joined by nothing -> two communities
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)])
    got = {(r.node_id, r.community) for r in label_propagation(e, max_iter=5).collect()}
    comms = {}
    for node, c in got:
        comms.setdefault(c, set()).add(node)
    assert {frozenset(v) for v in comms.values()} == {
        frozenset({1, 2, 3}),
        frozenset({10, 11, 12}),
    }


def test_triangles_k4_and_path(spark):
    """K4 has C(4,3)=4 triangles, each exactly once; a path has none;
    duplicate/reversed edges must not double-count."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]  # both directions
    e = spark.createDataFrame(k4, ["src", "dst"])
    tris = triangles(e).collect()
    assert len(tris) == 4
    assert len({tuple(sorted((r.x, r.y, r.z))) for r in tris}) == 4
    assert triangle_count(e).collect()[0].n_triangles == 4
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    assert triangle_count(path).collect()[0].n_triangles == 0


def test_clustering_coefficient_triangle_plus_tail(spark):
    """Triangle 0-1-2 with tail 2-3: nodes 0,1 have coeff 1.0,
    node 2 has 2*1/(3*2)=0.3333, node 3 (deg 1) gets 0."""
    e = spark.createDataFrame([(0, 1), (1, 2), (0, 2), (2, 3)], ["src", "dst"])
    got = {r.node_id: (r.degree, r.n_triangles, r.coeff)
           for r in clustering_coefficient(e).collect()}
    assert got[0] == (2, 1, 1.0)
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (3, 1, 0.3333)
    assert got[3] == (1, 0, 0.0)


def _py_kcore(edges, k):
    """Pure-Python peeling reference."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    return {n: len(nb) for n, nb in adj.items()}


def test_kcore_known_graph(spark):
    """Triangle 0-1-2 plus pendant 2-3: 2-core = the triangle,
    3-core = empty."""
    from biodwh2_arcadedb_server_spark.operators.graph import k_core

    e = spark.createDataFrame([(0, 1), (1, 2), (0, 2), (2, 3)], ["src", "dst"])
    got2 = {r.node_id: r.core_degree for r in k_core(e, 2).collect()}
    assert got2 == {0: 2, 1: 2, 2: 2}
    assert k_core(e, 3).collect() == []


def test_kcore_matches_python_reference(spark, sf_small):
    from biodwh2_arcadedb_server_spark.operators.graph import k_core

    g = nation_graph(spark, sf_small, 97)
    edges = [(r.src, r.dst) for r in g.collect()]
    for k in (2, 3, 5):
        want = _py_kcore(edges, k)
        got = {r.node_id: r.core_degree for r in k_core(g, k).collect()}
        assert got == want, f"k={k}"


def _py_dijkstra(edges, source):
    """Pure-Python Dijkstra reference on (src, dst, weight) triples."""
    import heapq

    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {source: 0.0}
    heap = [(0.0, source)]
    while heap:
        du, u = heapq.heappop(heap)
        if du > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = du + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


def test_sssp_chain_with_shortcut(spark):
    """0-1-2 path (1+1) beats the direct 0-2 edge of weight 5."""
    from biodwh2_arcadedb_server_spark.operators.graph import sssp

    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 5.0), (3, 4, 1.0)],
        ["src", "dst", "weight"],
    )
    got = {r.node_id: r.dist for r in sssp(e, 0).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0}  # 3,4 unreachable: absent


def test_sssp_matches_dijkstra_on_nation_graph(spark, sf_small):
    from biodwh2_arcadedb_server_spark.operators.graph import sssp
    from biodwh2_arcadedb_server_spark.operators.graph_queries import weighted_nation_graph

    g = weighted_nation_graph(spark, sf_small, 97)
    edges = [(r.src, r.dst, r.weight) for r in g.collect()]
    want = _py_dijkstra(edges, 0)
    got = {r.node_id: r.dist for r in sssp(g, 0).collect()}
    assert got == want


def _py_scc(edges):
    """Iterative Tarjan reference: {node: min-id of its SCC} over
    nodes that touch an edge."""
    adj, nodes = {}, set()
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        nodes.update((s, d))
    index, low, onstack, stack = {}, {}, set(), []
    sccs, counter = [], [0]
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                onstack.add(v)
            recurse = False
            for i in range(pi, len(adj.get(v, []))):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in onstack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    onstack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    return {n: min(c) for c in sccs for n in c}


def test_scc_two_cycles_with_bridge(spark):
    """Cycles {0,1,2} and {3,4} joined by a one-way bridge stay
    separate SCCs; a dead-end node is its own SCC."""
    from biodwh2_arcadedb_server_spark.operators.graph import strongly_connected_components

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (4, 5)],
        ["src", "dst"],
    )
    got = {r.node_id: r.scc for r in strongly_connected_components(e).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}


def test_scc_matches_tarjan_on_nation_graph(spark, sf_small):
    from biodwh2_arcadedb_server_spark.operators.graph import strongly_connected_components

    g = nation_graph(spark, sf_small, 97)
    edges = [(r.src, r.dst) for r in g.collect()]
    want = _py_scc(edges)
    got = {r.node_id: r.scc for r in strongly_connected_components(g).collect()}
    assert got == want


def test_personalized_pagerank_against_numpy(spark, sf_medium):
    """Same power iteration as the classic test but with teleport and
    dangling mass landing on the reset vector {0: 0.5, 1: 0.5}."""
    g = nation_graph(spark, sf_medium, 97)
    edges = [(r.src, r.dst) for r in g.collect()]
    reset_df = spark.createDataFrame([(0, 0.5), (1, 0.5)], "node_id long, reset double")
    got = {r.node_id: r.rank
           for r in pagerank(g, iterations=10, reset=reset_df).collect()}

    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    reset = np.zeros(n)
    reset[idx[0]] = 0.5
    reset[idx[1]] = 0.5
    r = reset.copy()
    d = 0.85
    for _ in range(10):
        dangling = r[out_deg == 0].sum()
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += r[idx[s]] / out_deg[idx[s]]
        r = (1 - d) * reset + d * (contrib + dangling * reset)
    for node, rank in got.items():
        assert rank == pytest.approx(r[idx[node]], abs=1e-9), node
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def _py_closeness(edges, directed=False):
    """Pure-Python BFS closeness: for each node v, count and total
    the BFS distances from every other node that reaches v."""
    from collections import deque

    adj = {}
    nodes = set()
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        if not directed:
            adj.setdefault(d, set()).add(s)
        nodes.update((s, d))
    n_reached = {v: 0 for v in nodes}
    sum_dist = {v: 0 for v in nodes}
    for src in nodes:
        dist = {src: 0}
        dq = deque([src])
        while dq:
            u = dq.popleft()
            for w in adj.get(u, ()):
                if w not in dist:
                    dist[w] = dist[u] + 1
                    dq.append(w)
        for v, d in dist.items():
            if v != src:
                n_reached[v] += 1
                sum_dist[v] += d
    return {
        v: (n_reached[v], sum_dist[v],
            round(n_reached[v] / sum_dist[v], 4) if sum_dist[v] else 0.0)
        for v in nodes
    }


def test_closeness_chain(spark):
    """Path 0-1-2: the middle node is closest (1/1 from each end)."""
    from biodwh2_arcadedb_server_spark.operators.graph import closeness_centrality

    e = _edges(spark, [(0, 1), (1, 2)])
    got = {r.node_id: (r.n_reached, r.sum_dist, r.closeness)
           for r in closeness_centrality(e).collect()}
    assert got[1] == (2, 2, 1.0)
    assert got[0] == (2, 3, round(2 / 3, 4))
    assert got[2] == (2, 3, round(2 / 3, 4))


def test_closeness_matches_python_on_nation_graph(spark, sf_small):
    from biodwh2_arcadedb_server_spark.operators.graph import closeness_centrality

    g = nation_graph(spark, sf_small, 97)
    edges = [(r.src, r.dst) for r in g.collect()]
    want = _py_closeness(edges)
    got = {r.node_id: (r.n_reached, r.sum_dist, r.closeness)
           for r in closeness_centrality(g).collect()}
    assert got == want


def _py_betweenness(edges, directed=False):
    """Exact Brandes reference."""
    from collections import deque

    adj, nodes = {}, set()
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        if not directed:
            adj.setdefault(d, set()).add(s)
        nodes.update((s, d))
    bc = dict.fromkeys(nodes, 0.0)
    for s in nodes:
        order, preds = [], {v: [] for v in nodes}
        sigma = dict.fromkeys(nodes, 0.0)
        sigma[s] = 1.0
        dist = {s: 0}
        dq = deque([s])
        while dq:
            v = dq.popleft()
            order.append(v)
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    dq.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = dict.fromkeys(nodes, 0.0)
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    scale = 0.5 if not directed else 1.0
    return {v: round(b * scale, 4) for v, b in bc.items()}


def test_betweenness_path_and_star(spark):
    from biodwh2_arcadedb_server_spark.operators.graph import betweenness_centrality

    path = _edges(spark, [(0, 1), (1, 2)])
    got = {r.node_id: r.betweenness for r in betweenness_centrality(path).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 0.0}
    # star: center carries every pair, leaves none — C(3,2)=3 pairs
    star = _edges(spark, [(9, 1), (9, 2), (9, 3)])
    got = {r.node_id: r.betweenness for r in betweenness_centrality(star).collect()}
    assert got == {9: 3.0, 1: 0.0, 2: 0.0, 3: 0.0}


def test_betweenness_matches_brandes_on_nation_graph(spark, sf_small):
    from biodwh2_arcadedb_server_spark.operators.graph import betweenness_centrality

    g = nation_graph(spark, sf_small, 97)
    edges = [(r.src, r.dst) for r in g.collect()]
    want = _py_betweenness(edges)
    got = {r.node_id: r.betweenness for r in betweenness_centrality(g).collect()}
    assert set(got) == set(want)
    for v in got:
        assert got[v] == pytest.approx(want[v], abs=1e-3), v


def test_centrality_sampled_pivots_exact_restriction(spark, sf_small):
    """The sampled-pivot scale path must compute exactly the
    pivot-restricted sums (sampling changes the estimator, not the
    arithmetic): closeness counts only the chosen pivots."""
    from biodwh2_arcadedb_server_spark.operators.graph import closeness_centrality

    g = nation_graph(spark, sf_small, 97)
    edges = [(r.src, r.dst) for r in g.collect()]
    pivot_ids = [0, 5, 11]
    pivots = spark.createDataFrame([(p,) for p in pivot_ids], "node_id long")
    got = {r.node_id: (r.n_reached, r.sum_dist)
           for r in closeness_centrality(g, pivots=pivots).collect()}

    # python reference restricted to the same pivot set
    from collections import deque

    adj = {}
    nodes = set()
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
        nodes.update((s, d))
    want = {v: [0, 0] for v in nodes}
    for src in pivot_ids:
        dist = {src: 0}
        dq = deque([src])
        while dq:
            u = dq.popleft()
            for w in adj.get(u, ()):
                if w not in dist:
                    dist[w] = dist[u] + 1
                    dq.append(w)
        for v, d in dist.items():
            if v != src:
                want[v][0] += 1
                want[v][1] += d
    assert got == {v: tuple(c) for v, c in want.items()}


def _hub_graph(spark, n: int):
    """Deterministic hub-heavy test graph: 5 interconnected hubs, every
    other node wired to its hub (i%5) and chained to its neighbor.
    Centrality is strongly heterogeneous (hubs dominate), so rank
    recovery is a meaningful estimator gate — a near-regular graph
    (ring+chords) has near-uniform centrality and the top-10 is
    tie-break noise."""
    edges = (
        [(i, i % 5) for i in range(5, n)]
        + [(i, i + 1) for i in range(5, n - 1)]
        + [(h, (h + 1) % 5) for h in range(5)]
    )
    return spark.createDataFrame(edges, "src long, dst long")


def test_sampled_closeness_estimator_error_bound(spark):
    """ROADMAP: the pivot-sampling scale path as an ESTIMATOR, gated
    on a 120-node graph: with K=30 deterministic pivots (node_id %4
    == 0) the Eppstein-Wang closeness estimate must stay near exact —
    mean abs error < 0.05 and the exact top-10 must be mostly
    recovered by the estimate's top-10 (python prototype of this
    graph: mae 0.007, overlap 6)."""
    from biodwh2_arcadedb_server_spark.operators.graph import closeness_centrality

    n = 120
    g = _hub_graph(spark, n)
    exact = {r.node_id: r.closeness for r in closeness_centrality(g).collect()}
    pivots = spark.createDataFrame([(i,) for i in range(0, n, 4)], "node_id long")
    est = {r.node_id: r.closeness for r in closeness_centrality(g, pivots=pivots).collect()}
    assert set(est) == set(exact)
    mae = sum(abs(est[v] - exact[v]) for v in exact) / len(exact)
    assert mae < 0.05, mae
    top_exact = sorted(exact, key=lambda v: (-exact[v], v))[:10]
    top_est = sorted(est, key=lambda v: (-est[v], v))[:10]
    assert len(set(top_exact) & set(top_est)) >= 5


def test_sampled_betweenness_estimator_rank_agreement(spark):
    """Brandes-Pich pivot sampling: scaling the K-pivot accumulation
    by n/K estimates exact betweenness; gate mean relative error on
    the heavy nodes and top-10 rank recovery (python prototype:
    rel 0.31, overlap 5)."""
    from biodwh2_arcadedb_server_spark.operators.graph import betweenness_centrality

    n = 120
    g = _hub_graph(spark, n)
    exact = {r.node_id: r.betweenness for r in betweenness_centrality(g).collect()}
    pivot_ids = list(range(0, n, 4))
    pivots = spark.createDataFrame([(i,) for i in pivot_ids], "node_id long")
    scale = n / len(pivot_ids)
    est = {
        r.node_id: r.betweenness * scale
        for r in betweenness_centrality(g, pivots=pivots).collect()
    }
    assert set(est) == set(exact)
    heavy = [v for v in exact if exact[v] > sorted(exact.values())[len(exact) // 2]]
    rel = sum(abs(est[v] - exact[v]) / exact[v] for v in heavy) / len(heavy)
    assert rel < 0.5, rel
    top_exact = sorted(exact, key=lambda v: (-exact[v], v))[:10]
    top_est = sorted(est, key=lambda v: (-est[v], v))[:10]
    assert len(set(top_exact) & set(top_est)) >= 4


def _py_ktruss(edges, k):
    """Pure-Python support-peeling reference: surviving canonical
    undirected edge set where every edge closes >= k-2 triangles."""
    live = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    while True:
        adj = {}
        for a, b in live:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        keep = {
            (a, b)
            for a, b in live
            if len(adj[a] & adj[b]) >= k - 2
        }
        if keep == live:
            return live
        live = keep


def test_ktruss_known_graph(spark):
    """Two triangles sharing edge (1,2) plus a pendant: the 3-truss is
    both triangles; the 4-truss is empty (no edge closes 2 triangles
    except the shared one, whose neighbors don't)."""
    from biodwh2_arcadedb_server_spark.operators.graph import k_truss

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3), (3, 4)], ["src", "dst"]
    )
    got3 = {(r.a, r.b) for r in k_truss(e, 3).collect()}
    assert got3 == {(0, 1), (1, 2), (0, 2), (1, 3), (2, 3)}
    assert k_truss(e, 4).collect() == []
    # k<=2: zero triangle threshold keeps every simple edge, including
    # the pendant (3,4) that closes no triangle.
    got2 = {(r.a, r.b) for r in k_truss(e, 2).collect()}
    assert got2 == {(0, 1), (1, 2), (0, 2), (1, 3), (2, 3), (3, 4)}


def test_ktruss_matches_python_reference(spark, sf_small):
    from biodwh2_arcadedb_server_spark.operators.graph import k_truss

    g = nation_graph(spark, sf_small, 97)
    edges = [(r.src, r.dst) for r in g.collect()]
    for k in (3, 4, 6):
        want = _py_ktruss(edges, k)
        got = {(r.a, r.b) for r in k_truss(g, k).collect()}
        assert got == want, f"k={k}"


def _py_core_numbers(edges):
    """Reference core numbers: survivors of the k-core peeling get
    core >= k, for increasing k."""
    nodes = {n for e in edges for n in e if e[0] != e[1]}
    res = {n: 0 for n in nodes}
    k = 1
    while True:
        surv = _py_kcore(edges, k)
        if not surv:
            return res
        for n in surv:
            res[n] = k
        k += 1


def test_core_decomposition_known_graph(spark):
    from biodwh2_arcadedb_server_spark.operators.graph import core_decomposition

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3), (3, 4)], ["src", "dst"]
    )
    got = {r.node_id: r.core for r in core_decomposition(e).collect()}
    assert got == {0: 2, 1: 2, 2: 2, 3: 2, 4: 1}


def test_core_decomposition_matches_peeling_reference(spark, sf_small):
    from biodwh2_arcadedb_server_spark.operators.graph import core_decomposition

    g = nation_graph(spark, sf_small, 97)
    edges = [(r.src, r.dst) for r in g.collect()]
    want = _py_core_numbers(edges)
    got = {r.node_id: r.core for r in core_decomposition(g).collect()}
    assert got == want


def test_min_label_stop_measure_cannot_overflow(spark):
    """Ids >= 2^62: the stop measure sums labels as decimal(38,0), so a
    3-node cycle (label sum 3·2^62 > Long.MaxValue) does not raise
    ARITHMETIC_OVERFLOW under ANSI."""
    from biodwh2_arcadedb_server_spark.operators.graph import strongly_connected_components

    big = 2**62
    e = _edges(spark, [(big, big + 1), (big + 1, big + 2), (big + 2, big)])
    want = {big: big, big + 1: big, big + 2: big}
    assert {r.node_id: r.scc for r in strongly_connected_components(e).collect()} == want
    spark.conf.set("spark.graft.cc.driverEdgeCap", "0")
    try:
        got = {r.node_id: r.component for r in connected_components(e).collect()}
    finally:
        spark.conf.unset("spark.graft.cc.driverEdgeCap")
    assert got == want


@pytest.mark.parametrize("m", [1, 2, 3, 5, 6])
def test_cc_max_iter_truncates_to_exact_step_count(spark, m):
    """max_iter counts synchronous steps, across the 1, 2, 4 batch
    boundaries: after m steps on a chain, node i holds the min id
    within m hops."""
    e = _edges(spark, [(i, i + 1) for i in range(29)])
    spark.conf.set("spark.graft.cc.driverEdgeCap", "0")
    try:
        got = {r.node_id: r.component for r in connected_components(e, max_iter=m).collect()}
    finally:
        spark.conf.unset("spark.graft.cc.driverEdgeCap")
    assert got == {i: max(0, i - m) for i in range(30)}


def test_tight_loop_restores_shuffle_partitions(spark):
    from biodwh2_arcadedb_server_spark.operators.graph import _tight_loop

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _tight_loop(spark, 10) as n:
        assert n == 1 and spark.conf.get(key) == "1"
    assert spark.conf.get(key) == before
    with pytest.raises(RuntimeError, match="loop body"):
        with _tight_loop(spark, 10):
            raise RuntimeError("loop body")
    assert spark.conf.get(key) == before
