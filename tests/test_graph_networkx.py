"""Differential battery: the iterative graph operators against networkx.

Each operator call is mostly fixed Spark overhead, and these operators
work per component. So the battery packs many small generated graphs
into ONE edge list as a disjoint union (block b's ids are offset by
``b * STRIDE``), runs each operator once over it, and compares the
result block by block with networkx on that block's edges. Besides the
seeded random blocks (self-loops and duplicate edges come up on their
own), the pack carries fixed edge-case blocks: self-loops only,
duplicate and reversed edges, a path longer than the 1 + 2 + 4 steps
of the first three batches and than BFS's depth cap, a 5-clique with a
pendant, a directed cycle with a tail, and a directed 12-cycle. Empty
input has its own test.
"""

from __future__ import annotations

import random
from collections import defaultdict

import networkx as nx
import pytest

from biodwh2_arcadedb_server_spark.operators.graph import (
    _hop_relation,
    betweenness_centrality,
    bfs,
    closeness_centrality,
    clustering_coefficient,
    connected_components,
    connected_components_star,
    core_decomposition,
    k_core,
    k_truss,
    shortest_path_tree,
    sssp,
    strongly_connected_components,
)

STRIDE = 64
SUPER_SOURCE = -1

# Directed edges in the fixed blocks point both ways or from larger to
# smaller ids where direction does not matter to the case: a directed
# path 0 -> 1 -> ... costs SCC one phase per node.
FIXED_BLOCKS = [
    [(0, 0, 1), (1, 1, 1)],  # self-loops only
    [(0, 1, 2), (0, 1, 5), (1, 0, 1), (1, 2, 3), (1, 2, 3), (2, 0, 4)],  # duplicates
    [(i + d, i + 1 - d, 1) for i in range(8) for d in (0, 1)],  # path: 8 steps to close
    [(b, a, a + b) for a in range(5) for b in range(a + 1, 5)] + [(0, 5, 1)],  # K5 + pendant
    [(0, 1, 1), (1, 2, 1), (2, 3, 1), (3, 1, 1), (3, 4, 1)],  # cycle with a tail
    [(i, (i + 1) % 12, 1) for i in range(12)],  # directed 12-cycle: 11-step SCC sweeps
]


def _random_blocks(seed: int, n_blocks: int) -> list:
    """Edge lists (u, v, weight) over nodes 0..n-1, n <= 10, up to 3n
    edges each: sparse and dense blocks, self-loops and duplicates."""
    rng = random.Random(seed)
    blocks = []
    for _ in range(n_blocks):
        n = rng.randint(1, 10)
        blocks.append(
            [(rng.randrange(n), rng.randrange(n), rng.randint(1, 9)) for _ in range(rng.randint(0, 3 * n))]
        )
    return blocks


@pytest.fixture(scope="module")
def blocks():
    return FIXED_BLOCKS + _random_blocks(20261017, 40)


@pytest.fixture(scope="module")
def e(spark, blocks):
    """The pack as one (src, dst, weight) edge list."""
    return _packed(spark, blocks)


def _frame(spark, rows, schema):
    # one partition: a few hundred rows, and every task costs more than
    # the rows it carries
    return spark.createDataFrame(rows, schema).coalesce(1).localCheckpoint(eager=True)


def _packed(spark, blocks):
    rows = [(u, v, float(w)) for b, es in enumerate(blocks) for u, v, w in _offset(b, es)]
    return _frame(spark, rows, "src long, dst long, weight double")


def _by_block(pairs):
    """{block: {key: value}} from (key, value) pairs keyed by global id."""
    out = defaultdict(dict)
    for k, v in pairs:
        out[(k[0] if isinstance(k, tuple) else k) // STRIDE][k] = v
    return out


def _assert_blocks(got, want, blocks, what):
    for b in range(len(blocks)):
        assert got.get(b, {}) == want.get(b, {}), f"{what}, block {b}: {blocks[b]}"


def _offset(b, es):
    return [(u + b * STRIDE, v + b * STRIDE, w) for u, v, w in es]


def _simple(b, es):
    """Undirected simple graph of one block (self-loops dropped)."""
    g = nx.Graph()
    g.add_edges_from((u, v) for u, v, _ in _offset(b, es) if u != v)
    return g


def _min_label(components):
    return {n: min(c) for c in components for n in c}


def _assert_close(got, want, blocks, what):
    """Per-block comparison of float maps: same keys, values within the
    operators' 4-decimal rounding."""
    for b in range(len(blocks)):
        g, w = got.get(b, {}), want.get(b, {})
        assert g.keys() == w.keys(), f"{what}, block {b}: {blocks[b]}"
        assert all(abs(g[k] - w[k]) <= 1e-4 for k in w), f"{what}, block {b}: {blocks[b]}"


def _min_pred_paths(g, root, cutoff):
    """Shortest paths from ``root`` in which every node keeps its
    minimum predecessor in the previous BFS layer, replayed from
    networkx's layers."""
    paths = {root: [root]}
    for d, layer in enumerate(nx.bfs_layers(g, root)):
        if d == 0 or d > cutoff:
            continue
        for v in layer:
            pred = min(u for u in g.predecessors(v) if u in paths and len(paths[u]) == d)
            paths[v] = paths[pred] + [v]
    return paths


def test_cc_both_variants_match_networkx_across_driver_cap(spark, blocks, e):
    want = {}
    for b, es in enumerate(blocks):
        g = nx.Graph()
        g.add_edges_from((u, v) for u, v, _ in _offset(b, es))
        want.update(_min_label(nx.connected_components(g)))
    want = _by_block(want.items())
    n = e.count()
    try:
        for cap in (0, n - 1, n, n + 1):
            spark.conf.set("spark.graft.cc.driverEdgeCap", str(cap))
            for op in (connected_components, connected_components_star):
                got = _by_block((r.node_id, r.component) for r in op(e).collect())
                _assert_blocks(got, want, blocks, f"{op.__name__} cap={cap}")
    finally:
        spark.conf.unset("spark.graft.cc.driverEdgeCap")


def test_cores_and_truss_match_networkx(spark, blocks, e):
    graphs = [_simple(b, es) for b, es in enumerate(blocks)]

    want = _by_block(kv for g in graphs for kv in nx.core_number(g).items())
    got = _by_block((r.node_id, r.core) for r in core_decomposition(e).collect())
    _assert_blocks(got, want, blocks, "core_decomposition")

    # k=2 peels the path one node per end per step: 4 steps deep
    want = _by_block(kv for g in graphs for kv in nx.k_core(g, 2).degree)
    got = _by_block((r.node_id, r.core_degree) for r in k_core(e, 2).collect())
    _assert_blocks(got, want, blocks, "k_core k=2")

    want = _by_block(((min(u, v), max(u, v)), True) for g in graphs for u, v in nx.k_truss(g, 4).edges)
    got = _by_block(((r.a, r.b), True) for r in k_truss(e, 4).collect())
    _assert_blocks(got, want, blocks, "k_truss k=4")

    rows = clustering_coefficient(e).collect()
    want = _by_block(kv for g in graphs for kv in nx.triangles(g).items())
    got = _by_block((r.node_id, r.n_triangles) for r in rows)
    _assert_blocks(got, want, blocks, "clustering_coefficient n_triangles")
    want = _by_block(kv for g in graphs for kv in nx.clustering(g).items())
    got = _by_block((r.node_id, r.coeff) for r in rows)
    _assert_close(got, want, blocks, "clustering_coefficient coeff")


def test_closeness_and_betweenness_match_networkx(blocks, e):
    for directed in (False, True):
        graphs = []
        for b, es in enumerate(blocks):
            g = nx.DiGraph() if directed else nx.Graph()
            g.add_edges_from((u, v) for u, v, _ in _offset(b, es))
            graphs.append(g)
        what = f"directed={directed}"

        want = _by_block(
            kv for g in graphs for kv in nx.closeness_centrality(g, wf_improved=False).items()
        )
        got = _by_block(
            (r.node_id, r.closeness) for r in closeness_centrality(e, directed=directed).collect()
        )
        _assert_close(got, want, blocks, f"closeness_centrality {what}")

        want = _by_block(
            kv for g in graphs for kv in nx.betweenness_centrality(g, normalized=False).items()
        )
        got = _by_block(
            (r.node_id, r.betweenness)
            for r in betweenness_centrality(e, directed=directed).collect()
        )
        _assert_close(got, want, blocks, f"betweenness_centrality {what}")


def test_scc_matches_networkx(blocks, e):
    want = {}
    for b, es in enumerate(blocks):
        g = nx.DiGraph()
        g.add_edges_from((u, v) for u, v, _ in _offset(b, es) if u != v)
        want.update(_min_label(nx.strongly_connected_components(g)))
    got = _by_block((r.node_id, r.scc) for r in strongly_connected_components(e).collect())
    _assert_blocks(got, _by_block(want.items()), blocks, "strongly_connected_components")


def test_sssp_and_bfs_match_networkx(spark, blocks, e):
    roots = [b * STRIDE for b in range(len(blocks))]

    # one source for every block: a super-source with a 0-weight edge
    # to each block's node 0
    hub = _frame(spark, [(SUPER_SOURCE, r, 0.0) for r in roots], "src long, dst long, weight double")
    want = {}
    for b, es in enumerate(blocks):
        g = nx.DiGraph()
        g.add_node(roots[b])
        for u, v, w in sorted(_offset(b, es), key=lambda t: -t[2]):
            g.add_edge(u, v, weight=float(w))  # the lightest duplicate wins
        want.update(nx.single_source_dijkstra_path_length(g, roots[b]))
    got = _by_block(
        (r.node_id, r.dist) for r in sssp(e.unionByName(hub), SUPER_SOURCE).collect()
        if r.node_id != SUPER_SOURCE
    )
    _assert_blocks(got, _by_block(want.items()), blocks, "sssp")

    want = {}
    for b, es in enumerate(blocks):
        g = nx.DiGraph()
        g.add_node(roots[b])
        g.add_edges_from((u, v) for u, v, _ in _offset(b, es))
        want.update(nx.single_source_shortest_path_length(g, roots[b], cutoff=6))
    start = _frame(spark, [(r,) for r in roots], "node_id long")
    got = _by_block((r.node_id, r.depth) for r in bfs(e, start, max_depth=6).collect())
    _assert_blocks(got, _by_block(want.items()), blocks, "bfs")

    # the path tree from the super-source: hops and min-predecessor
    # paths one past the hub edge, cut at the same depth as bfs
    want_hops, want_paths = {}, {}
    for b, es in enumerate(blocks):
        g = nx.DiGraph()
        g.add_node(roots[b])
        g.add_edges_from((u, v) for u, v, _ in _offset(b, es))
        want_hops.update(nx.single_source_shortest_path_length(g, roots[b], cutoff=6))
        want_paths.update(_min_pred_paths(g, roots[b], cutoff=6))
    rows = [
        r for r in shortest_path_tree(e.unionByName(hub), SUPER_SOURCE, max_depth=7).collect()
        if r.dst != SUPER_SOURCE
    ]
    assert all(r.path[0] == SUPER_SOURCE for r in rows)
    got = _by_block((r.dst, r.hops - 1) for r in rows)
    _assert_blocks(got, _by_block(want_hops.items()), blocks, "shortest_path_tree hops")
    got = _by_block((r.dst, list(r.path[1:])) for r in rows)
    _assert_blocks(got, _by_block(want_paths.items()), blocks, "shortest_path_tree paths")

    want = {}
    for b, es in enumerate(blocks):
        g = nx.Graph()
        g.add_node(roots[b])
        g.add_edges_from((u, v) for u, v, _ in _offset(b, es))
        want.update(nx.single_source_shortest_path_length(g, roots[b], cutoff=6))
    und = _hop_relation(e, directed=False)
    got = _by_block((r.node_id, r.depth) for r in bfs(und, start, max_depth=6).collect())
    _assert_blocks(got, _by_block(want.items()), blocks, "bfs undirected")


def test_operators_on_empty_input(spark):
    e = _packed(spark, [])
    try:
        for cap in (-1, 0):  # distributed, then driver union-find
            spark.conf.set("spark.graft.cc.driverEdgeCap", str(cap))
            assert connected_components(e).collect() == []
            assert connected_components_star(e).collect() == []
    finally:
        spark.conf.unset("spark.graft.cc.driverEdgeCap")
    assert core_decomposition(e).collect() == []
    assert k_core(e, 2).collect() == []
    assert k_truss(e, 3).collect() == []
    assert strongly_connected_components(e).collect() == []
    assert [tuple(r) for r in sssp(e, 7).collect()] == [(7, 0.0)]
    start = _frame(spark, [(7,)], "node_id long")
    assert [tuple(r) for r in bfs(e, start).collect()] == [(7, 0)]
    assert closeness_centrality(e).collect() == []
    assert betweenness_centrality(e).collect() == []
    assert [tuple(r) for r in shortest_path_tree(e, 7).collect()] == [(7, 0, [7])]
