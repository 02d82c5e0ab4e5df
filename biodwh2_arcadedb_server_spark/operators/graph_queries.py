"""Driver-contract graph queries (B5-B8, C6) with DuckDB oracles.

Graph probes run over graphs derived deterministically from the
testdata star schema:

- **order edge list**: Customer -PLACED-> Order (orders FK), Order
  -CONTAINS-> Part (lineitem FK) — raw natural keys as node ids so
  the SQL oracle is a plain join.
- **nation graph**: nations connected when a customer of nation A
  bought from a supplier of nation B on a sampled subset of orders
  (`l_orderkey % k = 0` keeps it sparse and deterministic); 25 nodes,
  directed. BFS/CC oracles are DuckDB recursive CTEs.

Iterative algorithms (PageRank, HITS, PPR, label propagation) are
oracled via *generated* unrolled SQL — `_pagerank_oracle()` et al.
emit one CTE per power iteration so DuckDB replays the exact fixed
round count (see `ORACLE["q24_pagerank"]` below) — and additionally
pinned by pytest against pure-numpy references (tests/test_graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from biodwh2_arcadedb_server_spark.localrel import local_df

from biodwh2_arcadedb_server_spark.operators.graph import (
    betweenness_centrality,
    bfs,
    closeness_centrality,
    clustering_coefficient,
    connected_components,
    connected_components_star,
    degrees,
    expand,
    hits,
    core_decomposition,
    k_core,
    k_truss,
    link_prediction,
    label_propagation,
    motif_chain,
    pagerank,
    shortest_path_tree,
    sssp,
    strongly_connected_components,
    triangle_count,
)
from biodwh2_arcadedb_server_spark.operators.skew import broadcast_if_small
from biodwh2_arcadedb_server_spark.sources.registry import load_table

_NATION_GRAPH_SQL = """
    SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS src,
                    CAST(s.s_nationkey AS BIGINT) AS dst
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE l.l_orderkey % {mod} = 0
"""


def nation_graph(spark: SparkSession, sf_dir: str, mod: int) -> DataFrame:
    """Sparse deterministic nation-adjacency edge list (src, dst).
    customer/supplier grow with scale factor, so their hints go
    through the size gate like the relational probes (round-10
    review: these were the last hard hints on SF-growing tables)."""
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % mod == 0)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast_if_small(c), o.o_custkey == c.c_custkey)
        .join(broadcast_if_small(s), l.l_suppkey == s.s_suppkey)
        .select(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )


# --- B5: 1-hop expansion ------------------------------------------------------
def q19_expand_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 5)
    placed = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("src"), F.col("o_orderkey").cast("long").alias("dst")
    )
    start = c.select(F.col("c_custkey").cast("long").alias("node_id"))
    return expand(start, placed, direction="out")


# --- B6: motif / pattern match ---------------------------------------------------
def q20_motif_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH {Customer}-PLACED->{Order}-CONTAINS->{Part}: distinct
    parts reachable per customer (custkey <= 20)."""
    start = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 20)
        .select(F.col("c_custkey").cast("long").alias("node_id"))
    )
    placed = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("src"), F.col("o_orderkey").cast("long").alias("dst")
    )
    contains = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("long").alias("src"), F.col("l_partkey").cast("long").alias("dst")
    )
    path = motif_chain(start, [placed, contains])
    return path.groupBy(F.col("n0").alias("c_custkey")).agg(
        F.countDistinct("n2").alias("n_parts")
    )


# --- B7/B8: BFS traversal / shortest-path hops -------------------------------------
def q21_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = nation_graph(spark, sf_dir, 211)
    start = spark.range(1).select(F.lit(0).cast("long").alias("node_id"))
    return bfs(g, start, max_depth=4)


# --- C6: connected components --------------------------------------------------------
def q22_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return connected_components(nation_graph(spark, sf_dir, 97))


def q65_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same CC result as q22 via large-star/small-star contraction —
    the O(log^2 n) high-diameter scale path (graph.py docstring)."""
    return connected_components_star(nation_graph(spark, sf_dir, 97))


# --- C6: degrees ------------------------------------------------------------------------
def q23_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return degrees(nation_graph(spark, sf_dir, 97))


# --- C6: PageRank / LPA (no SQL oracle; pytest-pinned) -----------------------------------
def q24_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank. Oracle: the 10 rounds unrolled as
    chained DuckDB CTEs — a fixed-iteration power method is plain
    relational algebra per round, so the sketch-vs-SQL boundary runs
    between *convergence-driven* iteration (no oracle) and
    *fixed-count* iteration (oracled here)."""
    pr = pagerank(nation_graph(spark, sf_dir, 97), iterations=10, damping=0.85)
    return pr.select("node_id", F.round("rank", 6).alias("rank"))


def q25_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_propagation(nation_graph(spark, sf_dir, 97), max_iter=5)


# --- C6: triangle counting / clustering coefficient -----------------------------------
def q74_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count via degree-ordered wedge join
    (graph.py::triangles) — each triangle counted once."""
    return triangle_count(nation_graph(spark, sf_dir, 97))


def q75_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the undirected
    nation graph."""
    return clustering_coefficient(nation_graph(spark, sf_dir, 97))


def q76_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the undirected nation graph (iterative peeling —
    no SQL oracle; tests/test_graph.py pins it against a pure-Python
    peeling reference on the same edges)."""
    return k_core(nation_graph(spark, sf_dir, 97), k=3)


def weighted_nation_graph(spark: SparkSession, sf_dir: str, mod: int) -> DataFrame:
    """Nation graph with deterministic synthetic weights in [1, 5]."""
    g = nation_graph(spark, sf_dir, mod)
    return g.withColumn(
        "weight", ((F.col("src") * 7 + F.col("dst") * 3) % 5 + 1).cast("double")
    )


def q86_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact betweenness centrality of the undirected nation graph
    (multi-source Brandes) — no SQL oracle; tests/test_graph.py pins
    it against a pure-Python Brandes."""
    return betweenness_centrality(nation_graph(spark, sf_dir, 97))


def q85_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact closeness centrality of the undirected nation graph via
    one multi-source BFS (every node a pivot) — no SQL oracle;
    tests/test_graph.py pins it against a pure-Python BFS."""
    return closeness_centrality(nation_graph(spark, sf_dir, 97))


def q126_sampled_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eppstein-Wang pivot-sampled closeness on a 256-node graph
    derived from orders (custkey/orderkey mod 256) with 16
    deterministic pivots (node_id % 16 == 0) — the 100 TB centrality
    path: K pivots bound the multi-source BFS message volume at
    K·|V| instead of |V|², and the estimator error falls ~1/sqrt(K).
    Deterministic pivots make the estimate itself oracle-able (the
    recursive-CTE twin runs the same 16-source BFS)."""
    o = load_table(spark, sf_dir, "orders")
    edges = (
        o.select(
            (F.col("o_custkey") % 256).cast("long").alias("src"),
            (F.col("o_orderkey") % 256).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    nodes = (
        edges.select(F.col("src").alias("node_id"))
        .unionByName(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    pivots = nodes.where(F.col("node_id") % 16 == 0)
    return closeness_centrality(edges, pivots=pivots, max_depth=8)


def q83_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-sensitive PageRank seeded on nations {0, 1} (half the
    teleport mass each) — no SQL oracle; tests/test_graph.py pins it
    against the numpy reference with the same reset vector."""
    reset = local_df(spark, [(0, 0.5), (1, 0.5)], "node_id long, reset double")
    pr = pagerank(nation_graph(spark, sf_dir, 97), iterations=10, reset=reset)
    return pr.select("node_id", F.round("rank", 6).alias("rank"))


def q81_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the directed nation graph
    (iterative coloring — no SQL oracle; tests/test_graph.py pins it
    against a pure-Python Tarjan on the same edges)."""
    return strongly_connected_components(nation_graph(spark, sf_dir, 97))


def q97_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-returning shortest path (ArcadeDB ``shortestPath()``
    parity): the full shortest-path tree from nation 0, one row per
    (destination, position) so the path sequence is engine-portable
    for hashing. Deterministic among equal-hop paths via min-pred
    backtrack (see graph.shortest_path_tree)."""
    tree = shortest_path_tree(nation_graph(spark, sf_dir, 211), source=0, max_depth=4)
    return tree.select(
        "dst", "hops", F.posexplode("path").alias("pos", "node_id")
    ).select("dst", "hops", F.col("pos").cast("int").alias("pos"), "node_id")


def q108_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration HITS hub/authority scores on the nation graph.
    Oracle: the 10 L1-normalized rounds unrolled as chained DuckDB
    CTEs (the same fixed-iteration-is-relational-algebra boundary as
    the q24 PageRank oracle)."""
    s = hits(nation_graph(spark, sf_dir, 97), iterations=10)
    return s.select(
        "node_id", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
    )


def q80_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest-path distances from nation 0 (Bellman-Ford
    relaxation — no SQL oracle; tests/test_graph.py pins it against a
    pure-Python Dijkstra on the same weighted edges)."""
    d = sssp(weighted_nation_graph(spark, sf_dir, 97), source=0)
    return d.select("node_id", F.round("dist", 4).alias("dist"))


def q122_core_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core number of every nation-graph node via the h-index fixpoint
    (convergence-driven — no SQL oracle; tests/test_graph.py pins it
    against increasing-k peeling)."""
    return core_decomposition(nation_graph(spark, sf_dir, 97))


def q121_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the undirected nation graph (support peeling — no
    SQL oracle; convergence-driven like k-core, pinned by
    tests/test_graph.py against a pure-Python peeling reference)."""
    return k_truss(nation_graph(spark, sf_dir, 97), k=4)


def q115_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors / Jaccard / Adamic-Adar over every co-neighbor
    nation pair — the link-prediction feature battery (sparser mod=211
    graph so non-adjacent candidate pairs actually exist)."""
    return link_prediction(nation_graph(spark, sf_dir, 211))


QUERIES = {
    "q19_expand_out": q19_expand_out,
    "q115_link_prediction": q115_link_prediction,
    "q121_ktruss": q121_ktruss,
    "q122_core_decomposition": q122_core_decomposition,
    "q126_sampled_closeness": q126_sampled_closeness,
    "q20_motif_2hop": q20_motif_2hop,
    "q21_bfs_hops": q21_bfs_hops,
    "q22_connected_components": q22_connected_components,
    "q23_degrees": q23_degrees,
    "q24_pagerank": q24_pagerank,
    "q25_label_propagation": q25_label_propagation,
    "q65_cc_star": q65_cc_star,
    "q74_triangle_count": q74_triangle_count,
    "q75_clustering_coefficient": q75_clustering_coefficient,
    "q76_kcore": q76_kcore,
    "q80_sssp": q80_sssp,
    "q81_scc": q81_scc,
    "q97_shortest_path": q97_shortest_path,
    "q83_personalized_pagerank": q83_personalized_pagerank,
    "q85_closeness": q85_closeness,
    "q86_betweenness": q86_betweenness,
    "q108_hits": q108_hits,
}

_G211 = _NATION_GRAPH_SQL.format(mod=211)
_G97 = _NATION_GRAPH_SQL.format(mod=97)

_UND_211 = f"""
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({_G211}) WHERE src <> dst
"""

_LINK_PREDICTION_SQL = f"""
    WITH und AS ({_UND_211}),
    adj AS (
        SELECT a AS w, b AS n FROM und
        UNION ALL
        SELECT b AS w, a AS n FROM und),
    deg AS (SELECT w, COUNT(*) AS deg FROM adj GROUP BY w),
    pairs AS (
        SELECT x.n AS u, y.n AS v,
               COUNT(*) AS common_neighbors,
               SUM(1.0 / ln(d.deg)) AS aa
        FROM adj x
        JOIN adj y ON x.w = y.w AND x.n < y.n
        JOIN deg d ON d.w = x.w
        GROUP BY x.n, y.n)
    SELECT p.u, p.v, p.common_neighbors,
           ROUND(p.common_neighbors * 1.0
                 / (du.deg + dv.deg - p.common_neighbors), 4) AS jaccard,
           ROUND(p.aa, 4) AS adamic_adar,
           (e.a IS NOT NULL) AS adjacent
    FROM pairs p
    JOIN deg du ON du.w = p.u
    JOIN deg dv ON dv.w = p.v
    LEFT JOIN und e ON e.a = p.u AND e.b = p.v
"""

ORACLE = {
    "q19_expand_out": """
        SELECT CAST(o_custkey AS BIGINT) AS node_id,
               CAST(o_orderkey AS BIGINT) AS neighbor
        FROM orders WHERE o_custkey <= 5
    """,
    "q20_motif_2hop": """
        SELECT CAST(o.o_custkey AS BIGINT) AS c_custkey,
               COUNT(DISTINCT l.l_partkey) AS n_parts
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_custkey <= 20
        GROUP BY o.o_custkey
    """,
    "q21_bfs_hops": f"""
        WITH RECURSIVE g AS ({_G211}),
        walk(node_id, depth) AS (
            SELECT CAST(0 AS BIGINT), 0
            UNION ALL
            SELECT g.dst, walk.depth + 1
            FROM walk JOIN g ON g.src = walk.node_id
            WHERE walk.depth < 4
        )
        SELECT node_id, CAST(MIN(depth) AS INTEGER) AS depth
        FROM walk GROUP BY node_id
    """,
    "q22_connected_components": f"""
        WITH RECURSIVE und AS (
            SELECT src, dst FROM ({_G97}) UNION SELECT dst, src FROM ({_G97})
        ),
        reach(a, b) AS (
            SELECT src, src FROM und
            UNION
            SELECT r.a, u.dst FROM reach r JOIN und u ON u.src = r.b
        )
        SELECT a AS node_id, MIN(b) AS component FROM reach GROUP BY a
    """,
    "q23_degrees": f"""
        WITH g AS ({_G97}),
        outd AS (SELECT src AS node_id, COUNT(*) AS out_degree FROM g GROUP BY src),
        ind AS (SELECT dst AS node_id, COUNT(*) AS in_degree FROM g GROUP BY dst)
        SELECT COALESCE(outd.node_id, ind.node_id) AS node_id,
               COALESCE(in_degree, 0) AS in_degree,
               COALESCE(out_degree, 0) AS out_degree,
               COALESCE(in_degree, 0) + COALESCE(out_degree, 0) AS degree
        FROM outd FULL OUTER JOIN ind ON outd.node_id = ind.node_id
    """,
    # q24_pagerank / q25_label_propagation: generated unrolled-CTE oracles
    # appended below (ORACLE["q24_pagerank"] = _pagerank_oracle(...),
    # ORACLE["q25_label_propagation"] = _lpa_oracle(...)).
    "q97_shortest_path": f"""
        WITH RECURSIVE g AS ({_G211}),
        walk(node_id, depth, path) AS (
            SELECT CAST(0 AS BIGINT), 0, [CAST(0 AS BIGINT)]
            UNION ALL
            SELECT g.dst, walk.depth + 1, list_append(walk.path, g.dst)
            FROM walk JOIN g ON g.src = walk.node_id
            WHERE walk.depth < 4 AND NOT list_contains(walk.path, g.dst)
        ),
        best AS (
            SELECT node_id, depth, path,
                   ROW_NUMBER() OVER (
                       PARTITION BY node_id
                       ORDER BY depth, list_reverse(path)
                   ) AS rn
            FROM walk
        )
        SELECT b.node_id AS dst,
               CAST(b.depth AS INTEGER) AS hops,
               CAST(unnest(range(len(b.path))) AS INTEGER) AS pos,
               unnest(b.path) AS node_id
        FROM best b
        WHERE b.rn = 1
    """,
}

ORACLE["q65_cc_star"] = ORACLE["q22_connected_components"]
ORACLE["q115_link_prediction"] = _LINK_PREDICTION_SQL

_UND_97 = f"""
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({_G97}) WHERE src <> dst
"""

ORACLE["q74_triangle_count"] = f"""
    WITH und AS ({_UND_97})
    SELECT COUNT(*) AS n_triangles
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
"""

ORACLE["q75_clustering_coefficient"] = f"""
    WITH und AS ({_UND_97}),
    deg AS (
        SELECT node_id, COUNT(*) AS degree FROM (
            SELECT a AS node_id FROM und UNION ALL SELECT b FROM und
        ) GROUP BY node_id
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pernode AS (
        SELECT node_id, COUNT(*) AS n_triangles FROM (
            SELECT x AS node_id FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node_id
    )
    SELECT d.node_id, d.degree,
           COALESCE(p.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN ROUND(2.0 * COALESCE(p.n_triangles, 0) / (d.degree * (d.degree - 1)), 4)
                ELSE 0.0 END AS coeff
    FROM deg d LEFT JOIN pernode p ON p.node_id = d.node_id
"""


# --- generated oracles for the fixed-iteration / closure-expressible analytics ----------
#
# The line between "oracled" and "rows-only" is NOT "iterative vs
# not": a FIXED-count iteration is just k rounds of relational
# algebra, and a reachability closure is a recursive CTE. DuckDB
# twins below are generated by unrolling the exact per-round
# update of the Spark operator (pagerank / sssp / k-core / LPA)
# or by computing the closure (SCC / closeness). Only
# convergence-driven or sampled algorithms (betweenness pivots,
# LSH recall) stay rows-only.

_NODES_97 = f"""
    SELECT DISTINCT node_id FROM (
        SELECT src AS node_id FROM g UNION ALL SELECT dst FROM g
    )
"""


def _pagerank_oracle(
    iterations: int,
    damping: float,
    reset_rows: dict[int, float] | None,
    graph_sql: str | None = None,
    nodes_sql: str | None = None,
) -> str:
    """Unrolled power iteration mirroring graph.pagerank round-for-round:
    contribs → dangling-by-conservation → blend with the reset vector.
    ``graph_sql``/``nodes_sql`` override the default nation graph —
    bench/convergence.py reuses the generator on scaled graphs."""
    if reset_rows is None:
        reset_expr = "1.0 / (SELECT COUNT(*) FROM nodes)"
        reset_join = ""
    else:
        vals = ", ".join(f"({k}, {v})" for k, v in sorted(reset_rows.items()))
        reset_expr = "COALESCE(rv.reset, 0.0)"
        reset_join = f"LEFT JOIN (VALUES {vals}) rv(node_id, reset) ON rv.node_id = n.node_id"
    parts = [
        f"WITH g AS MATERIALIZED ({graph_sql or _G97})",
        f"nodes AS MATERIALIZED ({nodes_sql or _NODES_97})",
        f"""deg AS MATERIALIZED (
            SELECT n.node_id, COALESCE(o.odeg, 0) AS odeg, {reset_expr} AS reset
            FROM nodes n
            LEFT JOIN (SELECT src, COUNT(*) AS odeg FROM g GROUP BY src) o ON o.src = n.node_id
            {reset_join}
        )""",
        "r0 AS MATERIALIZED (SELECT node_id, odeg, reset, reset AS rank FROM deg)",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(f"""c{i} AS MATERIALIZED (
            SELECT g.dst AS node_id, SUM(r.rank / r.odeg) AS contrib
            FROM r{p} r JOIN g ON g.src = r.node_id
            WHERE r.odeg > 0 GROUP BY g.dst
        )""")
        parts.append(f"d{i} AS MATERIALIZED (SELECT 1.0 - COALESCE(SUM(contrib), 0.0) AS dang FROM c{i})")
        parts.append(f"""r{i} AS MATERIALIZED (
            SELECT deg.node_id, deg.odeg, deg.reset,
                   {1.0 - damping} * deg.reset
                   + {damping} * (COALESCE(c.contrib, 0.0) + d.dang * deg.reset) AS rank
            FROM deg LEFT JOIN c{i} c ON c.node_id = deg.node_id CROSS JOIN d{i} d
        )""")
    return (
        ",\n".join(parts)
        + f"\nSELECT node_id, ROUND(rank, 6) AS rank FROM r{iterations}"
    )


ORACLE["q24_pagerank"] = _pagerank_oracle(10, 0.85, None)
ORACLE["q83_personalized_pagerank"] = _pagerank_oracle(10, 0.85, {0: 0.5, 1: 0.5})


def _hits_oracle(
    iterations: int,
    checkpoint_every: int = 3,
    graph_sql: str | None = None,
    nodes_sql: str | None = None,
) -> str:
    """Unrolled HITS mirroring graph.hits round-for-round: raw auth
    pull / raw hub pull each round, with L1 normalization applied only
    at checkpoint rounds (i % checkpoint_every == 0) and at the end —
    the same deferred-normalization cadence the Spark operator runs,
    so both engines execute identical arithmetic. Round-6 output
    absorbs cross-engine summation-order noise (same contract as
    q24). ``graph_sql``/``nodes_sql`` override the default nation
    graph for bench/convergence.py's scaled-graph runs."""
    parts = [
        f"WITH g AS MATERIALIZED ({graph_sql or _G97})",
        f"nodes AS MATERIALIZED ({nodes_sql or _NODES_97})",
        "s0 AS MATERIALIZED (SELECT node_id, 1.0 AS auth, 1.0 AS hub FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(f"""ra{i} AS MATERIALIZED (
            SELECT g.dst AS node_id, SUM(s.hub) AS raw_auth
            FROM s{p} s JOIN g ON g.src = s.node_id GROUP BY g.dst
        )""")
        parts.append(f"""a{i} AS MATERIALIZED (
            SELECT n.node_id, COALESCE(r.raw_auth, 0.0) AS auth
            FROM nodes n LEFT JOIN ra{i} r ON r.node_id = n.node_id
        )""")
        parts.append(f"""rh{i} AS MATERIALIZED (
            SELECT g.src AS node_id, SUM(a.auth) AS raw_hub
            FROM a{i} a JOIN g ON g.dst = a.node_id GROUP BY g.src
        )""")
        raw = f"""sr{i} AS MATERIALIZED (
            SELECT a.node_id, a.auth, COALESCE(r.raw_hub, 0.0) AS hub
            FROM a{i} a LEFT JOIN rh{i} r ON r.node_id = a.node_id
        )"""
        if i % checkpoint_every == 0 or i == iterations:
            parts.append(raw)
            parts.append(f"""s{i} AS MATERIALIZED (
                SELECT node_id,
                       auth / (SELECT SUM(auth) FROM sr{i}) AS auth,
                       hub / (SELECT SUM(hub) FROM sr{i}) AS hub
                FROM sr{i}
            )""")
        else:
            parts.append(raw.replace(f"sr{i} AS", f"s{i} AS", 1))
    return (
        ",\n".join(parts)
        + f"\nSELECT node_id, ROUND(auth, 6) AS auth, ROUND(hub, 6) AS hub FROM s{iterations}"
    )


ORACLE["q108_hits"] = _hits_oracle(10)

_G97W = f"""
    SELECT src, dst, CAST((src * 7 + dst * 3) % 5 + 1 AS DOUBLE) AS w
    FROM ({_G97})
"""


def _sssp_oracle(rounds: int, source: int) -> str:
    """Unrolled Bellman-Ford relaxation mirroring graph.sssp: each
    round every settled node offers dist+w, nodes keep the min.
    Distances are sums of small integers — exact in doubles, so the
    cross-engine equality is deterministic."""
    parts = [
        f"WITH g AS MATERIALIZED ({_G97W})",
        f"r0 AS MATERIALIZED (SELECT CAST({source} AS BIGINT) AS node_id, 0.0 AS dist)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f"""r{i} AS MATERIALIZED (
            SELECT node_id, MIN(dist) AS dist FROM (
                SELECT node_id, dist FROM r{p}
                UNION ALL
                SELECT g.dst AS node_id, r.dist + g.w AS dist
                FROM r{p} r JOIN g ON g.src = r.node_id
            ) GROUP BY node_id
        )""")
    return parts[0] + ",\n" + ",\n".join(parts[1:]) + (
        f"\nSELECT node_id, ROUND(dist, 4) AS dist FROM r{rounds}"
    )


ORACLE["q80_sssp"] = _sssp_oracle(20, 0)


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peeling mirroring graph.k_core: each round recomputes
    undirected simple-graph degrees and keeps nodes with degree >= k
    plus their incident edges. ``rounds`` = node count + 1 (every
    non-final round removes at least one node, so the fixpoint is
    reached within n rounds; extra rounds are no-ops)."""
    parts = [
        f"WITH e0 AS MATERIALIZED ({_UND_97})",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f"""k{i} AS MATERIALIZED (
            SELECT node_id FROM (
                SELECT node_id, COUNT(*) AS d FROM (
                    SELECT a AS node_id FROM e{p} UNION ALL SELECT b FROM e{p}
                ) GROUP BY node_id
            ) WHERE d >= {k}
        )""")
        parts.append(f"""e{i} AS MATERIALIZED (
            SELECT e.a, e.b FROM e{p} e
            JOIN k{i} x ON x.node_id = e.a
            JOIN k{i} y ON y.node_id = e.b
        )""")
    return parts[0] + ",\n" + ",\n".join(parts[1:]) + f"""
        SELECT node_id, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
            SELECT a AS node_id FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
        ) GROUP BY node_id HAVING COUNT(*) >= {k}
    """


ORACLE["q76_kcore"] = _kcore_oracle(3, 26)


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled support peeling mirroring graph.k_truss: each round
    counts, per surviving canonical edge (a,b), the common neighbors
    of a and b in the surviving edge set (= triangles the edge closes)
    and keeps edges with support >= k-2. Edges with zero support drop
    out by absence from the aggregate — exactly the Spark operator's
    left_semi semantics (k > 2; the k <= 2 case is the full edge set
    and short-circuits before peeling on the Spark side). ``rounds``
    over-provisions past the fixpoint; extra rounds are no-ops."""
    parts = [f"WITH e0 AS MATERIALIZED ({_UND_97})"]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f"""n{i} AS MATERIALIZED (
            SELECT a AS u, b AS v FROM e{p} UNION ALL SELECT b, a FROM e{p}
        )""")
        parts.append(f"""e{i} AS MATERIALIZED (
            SELECT e.a, e.b FROM e{p} e
            JOIN n{i} x ON x.u = e.a
            JOIN n{i} y ON y.u = e.b AND y.v = x.v
            GROUP BY e.a, e.b
            HAVING COUNT(*) >= {k - 2}
        )""")
    return (
        parts[0] + ",\n" + ",\n".join(parts[1:])
        + f"\nSELECT a, b FROM e{rounds}"
    )


ORACLE["q121_ktruss"] = _ktruss_oracle(4, 12)


def _coredec_oracle(rounds: int) -> str:
    """Unrolled Montresor h-index fixpoint mirroring
    graph.core_decomposition: core_0 = degree, then
    core(v) <- least(deg(v), H({core(u): u in N(v)})) per round, where
    the h-index H is MAX(LEAST(rank, core)) over the neighbor cores
    sorted descending — the same prefix-count identity the Spark side
    computes with a zip_with/filter fold. Estimates only decrease, so
    over-provisioned rounds are no-ops at the fixpoint."""
    parts = [
        f"WITH e0 AS MATERIALIZED ({_UND_97})",
        """adj AS MATERIALIZED (
            SELECT a AS v, b AS u FROM e0 UNION ALL SELECT b, a FROM e0
        )""",
        "deg AS MATERIALIZED (SELECT v, COUNT(*) AS d FROM adj GROUP BY v)",
        "c0 AS MATERIALIZED (SELECT v, d AS core FROM deg)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f"""c{i} AS MATERIALIZED (
            SELECT d.v, LEAST(d.d, h.h) AS core
            FROM deg d JOIN (
                SELECT v, MAX(LEAST(rn, core)) AS h FROM (
                    SELECT adj.v, c.core,
                           ROW_NUMBER() OVER (
                               PARTITION BY adj.v ORDER BY c.core DESC
                           ) AS rn
                    FROM adj JOIN c{p} c ON c.v = adj.u
                ) GROUP BY v
            ) h ON h.v = d.v
        )""")
    return (
        parts[0] + ",\n" + ",\n".join(parts[1:])
        + f"\nSELECT v AS node_id, CAST(core AS BIGINT) AS core FROM c{rounds}"
    )


ORACLE["q122_core_decomposition"] = _coredec_oracle(26)

# Pivot-sampled closeness: the oracle replays the identical 16-source
# BFS as a recursive CTE (deterministic pivots → deterministic
# estimate), min-depth per (pivot, node), distances aggregated
# excluding the pivot's own depth-0 row.
ORACLE["q126_sampled_closeness"] = """
    WITH RECURSIVE ge AS (
        SELECT DISTINCT CAST(o_custkey % 256 AS BIGINT) AS src,
                        CAST(o_orderkey % 256 AS BIGINT) AS dst
        FROM orders WHERE o_custkey % 256 <> o_orderkey % 256
    ),
    ue AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM ge UNION ALL SELECT dst, src FROM ge
        )
    ),
    nodes AS (SELECT DISTINCT src AS node_id FROM ue),
    walk(pv, node_id, depth) AS (
        SELECT node_id, node_id, 0 FROM nodes WHERE node_id % 16 = 0
        UNION
        SELECT w.pv, ue.dst, w.depth + 1
        FROM walk w JOIN ue ON ue.src = w.node_id
        WHERE w.depth < 8
    ),
    md AS (
        SELECT pv, node_id, MIN(depth) AS depth FROM walk
        GROUP BY pv, node_id
    ),
    agg AS (
        SELECT node_id, COUNT(*) AS n_reached,
               CAST(SUM(depth) AS BIGINT) AS sum_dist
        FROM md WHERE depth > 0 GROUP BY node_id
    )
    SELECT n.node_id,
           COALESCE(a.n_reached, 0) AS n_reached,
           COALESCE(a.sum_dist, 0) AS sum_dist,
           CASE WHEN COALESCE(a.sum_dist, 0) > 0
                THEN ROUND(a.n_reached / a.sum_dist, 4)
                ELSE 0.0 END AS closeness
    FROM nodes n LEFT JOIN agg a ON a.node_id = n.node_id
"""


def _lpa_oracle(iterations: int) -> str:
    """Unrolled synchronous label propagation mirroring
    graph.label_propagation: each round a node adopts the most frequent
    neighbor label, ties to the smallest label. Pure integer logic —
    exact cross-engine equality."""
    parts = [
        f"WITH g AS MATERIALIZED ({_G97})",
        """und AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM g UNION ALL SELECT dst AS src, src AS dst FROM g
            )
        )""",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node_id, src AS community FROM und)",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(f"""l{i} AS MATERIALIZED (
            SELECT node_id, community FROM (
                SELECT u.src AS node_id, l.community,
                       ROW_NUMBER() OVER (
                           PARTITION BY u.src
                           ORDER BY COUNT(*) DESC, l.community
                       ) AS rn
                FROM und u JOIN l{p} l ON u.dst = l.node_id
                GROUP BY u.src, l.community
            ) WHERE rn = 1
        )""")
    return (
        parts[0] + ",\n" + ",\n".join(parts[1:])
        + f"\nSELECT node_id, community FROM l{iterations}"
    )


ORACLE["q25_label_propagation"] = _lpa_oracle(5)

# SCC via mutual reachability over the directed transitive closure;
# component id = the minimum node id in the component (the same label
# graph.strongly_connected_components converges to).
ORACLE["q81_scc"] = f"""
    WITH RECURSIVE g AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM ({_G97}) WHERE src <> dst
    ),
    nodes AS MATERIALIZED (
        SELECT DISTINCT node_id FROM (
            SELECT src AS node_id FROM g UNION ALL SELECT dst FROM g
        )
    ),
    reach(a, b) AS (
        SELECT src, dst FROM g
        UNION
        SELECT r.a, g.dst FROM reach r JOIN g ON g.src = r.b
    ),
    mutual AS (
        SELECT r1.a AS u, r1.b AS v
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
    )
    SELECT n.node_id, LEAST(n.node_id, COALESCE(MIN(m.v), n.node_id)) AS scc
    FROM nodes n LEFT JOIN mutual m ON m.u = n.node_id
    GROUP BY n.node_id
"""

# Closeness via the multi-source BFS closure: min depth per
# (pivot, node) pair, aggregated per node — (pivot, node, depth)
# states are bounded by n² · diameter under UNION dedup.
ORACLE["q85_closeness"] = f"""
    WITH RECURSIVE g AS MATERIALIZED ({_G97}),
    und AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM g UNION ALL SELECT dst AS src, src AS dst FROM g
        )
    ),
    nodes AS MATERIALIZED (
        SELECT DISTINCT node_id FROM (
            SELECT src AS node_id FROM und UNION ALL SELECT dst FROM und
        )
    ),
    walk(pv, node_id, depth) AS (
        SELECT node_id, node_id, 0 FROM nodes
        UNION
        SELECT w.pv, u.dst, w.depth + 1
        FROM walk w JOIN und u ON u.src = w.node_id
        WHERE w.depth < 20
    ),
    md AS (
        SELECT pv, node_id, MIN(depth) AS d
        FROM walk GROUP BY pv, node_id
    ),
    per AS (
        SELECT node_id,
               CAST(COUNT(*) AS BIGINT) AS n_reached,
               CAST(SUM(d) AS BIGINT) AS sum_dist
        FROM md WHERE d > 0 GROUP BY node_id
    )
    SELECT n.node_id,
           COALESCE(p.n_reached, 0) AS n_reached,
           COALESCE(p.sum_dist, 0) AS sum_dist,
           CASE WHEN COALESCE(p.sum_dist, 0) > 0
                THEN ROUND(p.n_reached * 1.0 / p.sum_dist, 4)
                ELSE 0.0 END AS closeness
    FROM nodes n LEFT JOIN per p ON p.node_id = n.node_id
"""


def _betweenness_oracle(depth: int) -> str:
    """Betweenness via the pair-dependency identity bc(v) = ½ Σ_{s,t}
    σ_sv·σ_vt/σ_st over triples with d(s,v)+d(v,t)=d(s,t) — the closed
    form Brandes' backward accumulation computes incrementally. σ
    (shortest-path counts) comes from a depth-unrolled DP over the
    BFS closure; counts are integer-valued, so only the final ratio
    sum is float (rounded 4dp, same as the Spark side)."""
    parts = [
        f"WITH RECURSIVE g AS MATERIALIZED ({_G97})",
        """und AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM g UNION ALL SELECT dst AS src, src AS dst FROM g
            )
        )""",
        """nodes AS MATERIALIZED (
            SELECT DISTINCT node_id FROM (
                SELECT src AS node_id FROM und UNION ALL SELECT dst FROM und
            )
        )""",
        f"""walk(pv, node_id, depth) AS (
            SELECT node_id, node_id, 0 FROM nodes
            UNION
            SELECT w.pv, u.dst, w.depth + 1
            FROM walk w JOIN und u ON u.src = w.node_id
            WHERE w.depth < {depth}
        )""",
        """md AS MATERIALIZED (
            SELECT pv AS s, node_id AS v, MIN(depth) AS d
            FROM walk GROUP BY pv, node_id
        )""",
        "s0 AS MATERIALIZED (SELECT node_id AS s, node_id AS v, 1.0 AS sig FROM nodes)",
    ]
    for k in range(1, depth + 1):
        parts.append(f"""s{k} AS MATERIALIZED (
            SELECT p.s, u.dst AS v, SUM(p.sig) AS sig
            FROM s{k-1} p
            JOIN und u ON u.src = p.v
            JOIN md ON md.s = p.s AND md.v = u.dst AND md.d = {k}
            JOIN md m2 ON m2.s = p.s AND m2.v = p.v AND m2.d = {k - 1}
            GROUP BY p.s, u.dst
        )""")
    sig_union = " UNION ALL ".join(
        f"SELECT s, v, sig FROM s{k}" for k in range(depth + 1)
    )
    parts.append(f"sig AS MATERIALIZED ({sig_union})")
    parts.append("""sd AS MATERIALIZED (
        SELECT sig.s, sig.v, sig.sig, md.d
        FROM sig JOIN md ON md.s = sig.s AND md.v = sig.v
    )""")
    return ",\n".join(parts) + """
        SELECT n.node_id,
               ROUND(COALESCE(b.bc, 0.0), 4) AS betweenness
        FROM nodes n LEFT JOIN (
            SELECT a.v AS node_id, 0.5 * SUM(a.sig * b.sig / c.sig) AS bc
            FROM sd a
            JOIN sd b ON b.s = a.v
            JOIN sd c ON c.s = a.s AND c.v = b.v
            WHERE a.d + b.d = c.d
              AND a.s <> a.v AND b.v <> a.v AND a.s <> b.v
            GROUP BY a.v
        ) b ON b.node_id = n.node_id
    """


ORACLE["q86_betweenness"] = _betweenness_oracle(20)
