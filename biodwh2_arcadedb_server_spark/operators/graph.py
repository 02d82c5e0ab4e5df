"""Graph operators over edge-list DataFrames (SURVEY.md B5-B8, C6).

The reference serves 1-hop expansion (`out()/in()/both()`), MATCH
motifs, TRAVERSE, and `shortestPath()` through its embedded graph
database (ArcadeDB SQL, `/root/reference/src/pom.xml:104-113`), which
executes them by chasing record pointers. A Spark engine has no
pointers — the idiomatic equivalents are:

- 1-hop expansion  → equi-join against the edge list (B5)
- fixed-depth motif → chained equi-joins (B6)
- TRAVERSE / BFS   → frontier iteration: join frontier→edges, anti-join
  visited, union, repeat; lineage truncated via localCheckpoint (B7)
- shortest path    → BFS recording first-reach depth and min
  predecessor (B8)
- degrees/CC/PageRank → GraphX-style batch analytics re-expressed as
  DataFrame joins + aggregations (C6; cf. the GraphX/Pregel model)

Conventions: ``edges(src: long, dst: long, ...)``, ``nodes(node_id:
long, ...)``. All loops are O(diameter) or fixed-iteration; each round
is one distributed join + aggregation, and only the loop-termination
scalar ever reaches the driver. Every traversal walks the hop relation
built by `_hop_relation` (the edge list, plus its reverse when
undirected, deduplicated and checkpointed once).

Scale notes (100 TB):
- Frontiers and component tables carry only (id, value) — the shuffle
  per round moves the minimum possible payload.
- Every loop truncates lineage with `localCheckpoint(eager=True)` so
  plan size stays O(1) across iterations (otherwise Catalyst
  re-analyzes an exponentially growing tree). The monotone fixpoints
  (hash-min CC, k-core, core numbers, SSSP, both SCC sweeps)
  checkpoint once per batch of 1, 2, 4, 4, ... steps through
  `_fixpoint`. The four frontier BFS operators (bfs,
  shortest_path_tree, closeness and betweenness) run on one level
  driver, `_bfs_levels`, which still checkpoints the level and the
  visited set at every level and stops on the first empty level.
- hash-min CC converges in O(diameter) rounds; for the pathological
  high-diameter case the known fix is large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC 2014) — same DataFrame shape, noted as the scale path.
- PageRank joins ranks⋈edges on src each round: pre-partitioning the
  edge list by src (workspace write contract) makes this a one-sided
  shuffle; AQE broadcasts the rank side when small.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from biodwh2_arcadedb_server_spark.localrel import local_df


_LOOP_ROWS_PER_PARTITION = 500_000


@contextmanager
def _tight_loop(spark, shuffle_rows: int):
    """Iterative-loop execution profile (optimization r14, guide §2).

    Inside a fixed-iteration loop the shuffle geometry is KNOWN
    up front: keys are node ids, values fixed-width doubles, volume
    |V|+|E| rows per round, no skew worth re-planning. Planning each
    round's exchanges at the session default (e.g. 200 partitions)
    and letting AQE coalesce them back down pays per-stage planning
    work every round; deriving the partition count ONCE from the data
    (`shuffle_rows` / `_LOOP_ROWS_PER_PARTITION`, 500k rows ≈ tens
    of MB of fixed-width rows per task, capped at
    the session's configured shuffle parallelism) removes that work
    while producing the same geometry AQE converges to. AQE itself
    STAYS ON (skew/local-read benefits keep applying; a measured
    three-way A/B on q24/q108/q83 gave derived-partitions+AQE
    6.16/4.58/3.79 s vs stock-AQE 8.14/5.06/4.54 s vs AQE-off
    7.08/6.89/5.69 s — switching AQE off lost codegen/planning time
    at every checkpoint).

    The session's shuffle-partition setting is restored on exit;
    callers leave the scope with an EAGER checkpoint so the heavy
    loop executions all plan under the derived count. Scale posture:
    the cap follows the cluster's own spark.sql.shuffle.partitions,
    and the derived count grows linearly with |V|+|E| — nothing is
    tuned to local[32].
    """
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions", "200")
    try:
        cap = int(old_sp)
    except ValueError:  # "auto" on some builds
        cap = 200
    target = _LOOP_ROWS_PER_PARTITION
    n = max(1, min(cap, (int(shuffle_rows) + target - 1) // target))
    conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)


def _fixpoint(state: DataFrame, step, measure, max_steps: int, prev=None) -> DataFrame:
    """Apply the monotone ``step`` to ``state`` until a fixpoint or
    ``max_steps`` steps, and return the last state.

    Steps run in BATCHES between eager checkpoints with a geometric
    cadence (1, 2, 4, 4, ...) (optimization r14/r15, guide §1.2/§2.4).
    Every caller's step is monotone (min-labels, distances and core
    estimates only decrease, peeled edge sets only shrink, reach sets
    only grow) and maps a fixpoint to itself, so extra steps after
    convergence are no-ops, and an unchanged ``measure`` across a
    batch proves that no step in the batch changed anything. Checking only at batch
    boundaries cuts the dominating per-round driver cost (checkpoint
    job + measure job + Catalyst analysis) by ~3x on deep graphs
    (sf0.1 cosine closure, diameter 17: 17 checkpoints/6.4s -> 6
    checkpoints/~4.5s, identical rows). Shallow graphs (diameter <= 2,
    the common near-dup case) still converge with no wasted pass
    because the cadence starts at 1. The batch caps at 4:
    un-checkpointed plan depth beyond that makes Catalyst analysis
    itself the bottleneck (12-20s at depth 8 vs 4.5s at depth 4 on
    the q106 closure).

    ``max_steps`` counts steps, not batches: the last batch is cut to
    land exactly on it, so a truncated result is exactly ``max_steps``
    synchronous steps. ``measure(state)`` runs on the checkpointed
    state and must be exact (a long id sum is taken as decimal(38,0),
    which cannot overflow). ``prev`` is the measure of the input state
    when the caller already knows it (the first batch can then stop);
    a measure of 0 marks an empty state, which every step maps to
    itself, so the loop neither starts from nor runs past one."""
    done, batch = 0, 1
    while done < max_steps and prev != 0:
        k = min(batch, max_steps - done)
        for _ in range(k):
            state = step(state)
        state = state.localCheckpoint(eager=True)
        m = measure(state)
        done += k
        batch = min(batch * 2, 4)
        if m == prev:
            break
        prev = m
    return state


def _count_and_sum(col: str):
    """Exact stop measure for min-label states: row count and the
    decimal(38,0) sum of a long label column (labels only decrease
    over a fixed node set, so an unchanged pair means no label moved)."""
    def measure(state: DataFrame) -> tuple:
        total = F.sum(F.col(col).cast("decimal(38,0)"))
        return tuple(state.agg(F.count(F.lit(1)), total).collect()[0])

    return measure


def _hop_relation(edges: DataFrame, directed: bool = True) -> DataFrame:
    """The (src, dst) relation a traversal walks: the edge list, plus
    its reverse when undirected, deduplicated and checkpointed once so
    no level or round re-runs the dedup exchange."""
    hop = edges.select("src", "dst")
    if not directed:
        hop = hop.unionByName(hop.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return hop.dropDuplicates(["src", "dst"]).localCheckpoint(eager=True)


def _bfs_levels(
    hop: DataFrame, start: DataFrame, max_depth: int, keys: tuple = (), aggs: tuple = ()
) -> tuple[DataFrame, int]:
    """Level-synchronous BFS over ``hop`` from the ``start`` rows
    (keys..., node_id, payload..., depth = 0), where ``keys`` name
    independent traversals that run together (one per pivot).

    Each level joins the last level to ``hop`` on node_id = src,
    groups the reached (keys..., dst) with ``aggs`` (the payload each
    new node keeps, e.g. a min predecessor or a summed path count),
    drops the (keys..., node_id) pairs already visited with an
    anti-join, stamps the depth and checkpoints; the visited set is
    re-checkpointed with it, so lineage stays one level deep. Stops on
    an empty level or at ``max_depth``. Returns (visited rows,
    last depth reached)."""
    on = [*keys, "node_id"]
    visited = level = start
    reached = 0
    payload = [c for c in start.columns if c not in (*on, "depth")]

    def group(df):
        return df.groupBy(*on).agg(*aggs) if aggs else df.select(*on).distinct()

    def unvisited(df):
        return df.join(visited.select(*on), on, "left_anti")

    for d in range(1, max_depth + 1):
        step = level.join(hop, level.node_id == hop.src).select(
            *keys, F.col("dst").alias("node_id"), "src", *payload
        )
        # Keyless, group first: Catalyst would push an anti-join on dst
        # alone below the hop join, over the whole hop relation. Keyed,
        # anti-join first: it spares the last, empty level one job.
        step = group(unvisited(step)) if keys else unvisited(group(step))
        nxt = step.withColumn("depth", F.lit(d)).localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        level, reached = nxt, d
    return visited, reached


# --- B5: 1-hop expansion ------------------------------------------------------
def expand(
    start: DataFrame,
    edges: DataFrame,
    direction: str = "out",
    id_col: str = "node_id",
    broadcast_frontier: bool = True,
) -> DataFrame:
    """out()/in()/both() — returns (node_id, neighbor) pairs.

    `start` must carry `id_col`; result column is `neighbor`.

    ``broadcast_frontier`` (default on) hints the start set broadcast:
    the selective-traversal case — a handful of start nodes against a
    100 TB edge table — must probe the edge scan in place, never
    shuffle it (measured 1.6× at 60M edges locally; at cluster scale
    the avoided edge shuffle is the whole cost). Disable when the
    frontier itself is huge (e.g. expanding from most of the graph)."""
    s = start.select(F.col(id_col).alias("_start"))
    if broadcast_frontier:
        s = F.broadcast(s)
    out_e = edges.select(F.col("src").alias("_start"), F.col("dst").alias("neighbor"))
    in_e = edges.select(F.col("dst").alias("_start"), F.col("src").alias("neighbor"))
    if direction == "out":
        hop = out_e
    elif direction == "in":
        hop = in_e
    else:
        hop = out_e.unionByName(in_e)
    return s.join(hop, "_start").select(F.col("_start").alias(id_col), "neighbor")


# --- B6: fixed-depth motif as chained joins -----------------------------------
def motif_chain(
    start: DataFrame,
    hops: list[DataFrame],
    id_col: str = "node_id",
    broadcast_frontier: bool = True,
) -> DataFrame:
    """Compile a fixed-length path pattern a -e1-> b -e2-> c ... into a
    join chain. ``hops`` is a list of edge DataFrames (src, dst); the
    result has columns n0..nK (node ids along the path).

    ``broadcast_frontier`` broadcasts the accumulated path prefix into
    each hop join: a selective motif (anchored on a filtered label)
    stays a map-side probe of every edge scan instead of shuffling the
    full edge tables per hop. Disable for unanchored patterns whose
    prefix set is edge-table-sized."""
    cur = start.select(F.col(id_col).alias("n0"))
    for i, e in enumerate(hops):
        nxt = e.select(F.col("src").alias(f"n{i}"), F.col("dst").alias(f"n{i+1}"))
        lhs = F.broadcast(cur) if broadcast_frontier else cur
        cur = lhs.join(nxt, f"n{i}")
    return cur


# --- B7/B8: BFS traversal with first-reach depth --------------------------------
def bfs(
    edges: DataFrame,
    start: DataFrame,
    max_depth: int = 10,
    id_col: str = "node_id",
) -> DataFrame:
    """Breadth-first traversal along directed edges; returns (node_id,
    depth) with the minimum hop count at which each node is first
    reached (depth 0 = start set). Equivalent to the reference's
    TRAVERSE ... MAXDEPTH n and, restricted to min depth, shortestPath
    hop counts. For an undirected traversal pass a symmetric edge list
    (both orientations of every edge).
    """
    hop = _hop_relation(edges)
    start = start.select(F.col(id_col).alias("node_id")).distinct().withColumn("depth", F.lit(0))
    with _tight_loop(edges.sparkSession, hop.count()):
        visited, _ = _bfs_levels(hop, start, max_depth)
    return visited


# --- C6: degrees -----------------------------------------------------------------
def degrees(edges: DataFrame) -> DataFrame:
    """(node_id, in_degree, out_degree, degree) — one shuffle per
    direction, merged with an outer join (both sides pre-aggregated)."""
    out_d = edges.groupBy(F.col("src").alias("node_id")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col("dst").alias("node_id")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        out_d.join(in_d, "node_id", "full_outer")
        .na.fill(0, ["in_degree", "out_degree"])
        .withColumn("degree", F.col("in_degree") + F.col("out_degree"))
    )


# --- C6: triangle counting / clustering coefficient -----------------------------------
def _oriented_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set oriented low→high by (degree,
    id) — the Cohen/Suri-Vassilvitskii degree orientation: every
    triangle has exactly one wedge-center (its minimum node in the
    order), and any node's oriented out-fan is O(sqrt(m)), which
    bounds the wedge join's worst key even on power-law graphs.
    Returns (u, v, du, dv) with (du, u) < (dv, v)."""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    j = und.join(da, "a").join(db, "b")
    fwd = (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    return j.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("da")).otherwise(F.col("db")).alias("du"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )


def triangles(edges: DataFrame) -> DataFrame:
    """All triangles as (x, y, z) rows, each exactly once. Wedge join
    at the order-minimum corner + one closing semi-equi-join — two
    shuffles on node keys, never a nested loop; candidate volume is
    Σ out-fan², bounded by the degree orientation."""
    e = _oriented_edges(edges).localCheckpoint(eager=True)  # 3 plan branches
    a = e.select(F.col("u").alias("x"), F.col("v").alias("y"), "dv").withColumnRenamed("dv", "dy")
    b = e.select(F.col("u").alias("x"), F.col("v").alias("z"), "dv").withColumnRenamed("dv", "dz")
    wedges = a.join(b, "x").where(
        (F.col("dy") < F.col("dz")) | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    closing = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    return wedges.join(closing, ["y", "z"], "left_semi").select("x", "y", "z")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Single-row global triangle count."""
    return triangles(edges).agg(F.count(F.lit(1)).alias("n_triangles"))


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(node_id, degree, n_triangles, coeff) — local clustering
    coefficient 2T/(d(d-1)) over the undirected simple graph; nodes
    with degree < 2 get 0. Per-node triangle counts come from
    exploding each triangle to its three corners (3 rows/triangle —
    at 100 TB still tiny next to the edge list)."""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    deg = (
        und.select(F.col("a").alias("node_id"))
        .unionAll(und.select(F.col("b").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = (
        triangles(edges)
        .select(F.explode(F.array("x", "y", "z")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tri, "node_id", "left")
        .na.fill(0, ["n_triangles"])
        .withColumn(
            "coeff",
            F.when(
                F.col("degree") >= 2,
                F.round(2.0 * F.col("n_triangles") / (F.col("degree") * (F.col("degree") - 1)), 4),
            ).otherwise(F.lit(0.0)),
        )
    )


# --- C6: neighborhood-similarity link prediction ------------------------------------
def link_prediction(edges: DataFrame) -> DataFrame:
    """(u, v, common_neighbors, jaccard, adamic_adar, adjacent) for
    every unordered node pair sharing at least one neighbor in the
    undirected simple graph — the classic link-prediction /
    entity-resolution feature battery (Liben-Nowell & Kleinberg).

    Plan: symmetric adjacency → wedge self-join on the shared
    neighbor w (one shuffle on w), with deg(w) attached BEFORE the
    pair aggregation so Adamic-Adar's 1/ln(deg(w)) rides the same
    shuffle; per-pair aggregate; two degree joins for Jaccard's
    denominator |N(u)|+|N(v)|−cn.

    Scale: the wedge join fans out deg(w)² pairs around hubs — the
    same skew surface as triangle counting. At 100 TB cap neighbor
    lists first (hash-order top-d per node) or drop super-hub
    neighbors (a w adjacent to everything contributes ~0 signal and
    ~n² pairs); both are one extra window/filter before the join.
    Every shared neighbor has degree ≥ 2, so ln(deg) > 0 and the
    Adamic-Adar fold never divides by zero."""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    adj = und.select(F.col("a").alias("w"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("w"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg"))
    wedges = (
        adj.select(F.col("w"), F.col("n").alias("u"))
        .join(adj.select(F.col("w"), F.col("n").alias("v")), "w")
        .where(F.col("u") < F.col("v"))
        .join(deg, "w")
    )
    pairs = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum(1.0 / F.log(F.col("deg"))).alias("_aa"),
    )
    deg_u = deg.select(F.col("w").alias("u"), F.col("deg").alias("_du"))
    deg_v = deg.select(F.col("w").alias("v"), F.col("deg").alias("_dv"))
    return (
        pairs.join(deg_u, "u")
        .join(deg_v, "v")
        .join(
            und.select(F.col("a").alias("u"), F.col("b").alias("v"), F.lit(True).alias("_adj")),
            ["u", "v"],
            "left",
        )
        .select(
            "u",
            "v",
            "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (F.col("_du") + F.col("_dv") - F.col("common_neighbors")),
                4,
            ).alias("jaccard"),
            F.round("_aa", 4).alias("adamic_adar"),
            F.coalesce(F.col("_adj"), F.lit(False)).alias("adjacent"),
        )
    )


# --- C6: connected components (hash-min) --------------------------------------------
def _cc_driver_edge_cap(spark) -> int:
    """Edge-count gate for the driver union-find fast path (conf
    ``spark.graft.cc.driverEdgeCap``, default 100k edges ≈ a few MB
    collected). Near-dup pair graphs hold only documents that HAVE a
    near-dup — a sliver of any corpus — so at bench scale the
    distributed loop pays ~10 scheduling/planning round-trips to close
    a few-hundred-edge graph (measured 4.6s for 918 edges at sf0.1).
    Below the cap the closure is a driver-side union-find over the
    already-counted edge list: the same bounded-collect posture as the
    IVF trainer's sample-capped centroid fit (FAISS practice), with the
    distributed loop unchanged above the cap. Set the conf to 0 to
    force the distributed path."""
    try:
        return int(spark.conf.get("spark.graft.cc.driverEdgeCap", "100000"))
    except ValueError:
        return 100000


def _cc_driver(
    und: DataFrame, node_type, id_col_out: str
) -> DataFrame:
    """Driver union-find over a small, pre-counted undirected edge
    list. Roots stay the minimum id of their tree (smaller root wins
    every union), so the final root of each node IS the component's
    min node id — identical output to the iterative min-propagation.
    Result is checkpointed so multi-reference consumers (e.g. the
    cluster audit's a/b sides) scan cached blocks, not a re-pickled
    Python RDD."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in und.select("src", "dst").collect():
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if ra < rb:
            parent[rb] = ra
        else:
            parent[ra] = rb
    rows = [(n, find(n)) for n in parent]
    schema = T.StructType(
        [
            T.StructField("node_id", node_type),
            T.StructField(id_col_out, node_type),
        ]
    )
    spark = und.sparkSession
    # json-literal relation (localrel): JVM-only evaluation — the
    # pickled-RDD form of createDataFrame cost ~0.6s warm / ~2.3s cold
    # in Python-worker round-trips per materialization; checkpoint so
    # the literal parses once however many times consumers reference it
    return local_df(
        spark, rows, schema, row_cap=2_000_000
    ).localCheckpoint(eager=False)


def connected_components(
    edges: DataFrame, max_iter: int = 50, id_col_out: str = "component"
) -> DataFrame:
    """Undirected CC via iterative min-id propagation. Returns
    (node_id, component) where component = min node_id in the
    component. Converges in O(diameter) rounds; see module docstring
    for the large-star/small-star scale path."""
    # Narrow materialization of the raw edge list first: the gate
    # probe, the fast path's collect, and (above the cap) the
    # undirected expansion all read it without re-evaluating the
    # caller's pair pipeline. Union-find tolerates duplicate and
    # directed edges, so the fast path skips the dropDuplicates
    # shuffle entirely.
    raw = edges.select("src", "dst").localCheckpoint(eager=True)
    if raw.count() <= _cc_driver_edge_cap(edges.sparkSession):
        return _cc_driver(raw, raw.schema["src"].dataType, id_col_out)
    und = _hop_relation(raw, directed=False)
    n_edges = und.count()
    comp = (
        und.select(F.col("src").alias("node_id"))
        .distinct()
        .withColumn("component", F.col("node_id"))
        .localCheckpoint(eager=True)
    )

    # The node's own row rides the union into the same min-fold as the
    # neighbor messages, so a step is one join + one aggregation.
    def _step(cur: DataFrame) -> DataFrame:
        msgs = und.join(cur, und.dst == cur.node_id).select(
            F.col("src").alias("node_id"), "component"
        )
        return (
            msgs.unionByName(cur.select("node_id", "component"))
            .groupBy("node_id")
            .agg(F.min("component").alias("component"))
        )

    with _tight_loop(edges.sparkSession, n_edges):
        comp = _fixpoint(comp, _step, _count_and_sum("component"), max_iter)
    return comp.select("node_id", F.col("component").alias(id_col_out))


# --- C6: connected components (large-star/small-star) --------------------------------
def connected_components_star(
    edges: DataFrame, max_iter: int = 50, id_col_out: str = "component"
) -> DataFrame:
    """Undirected CC via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014). Returns (node_id, component) with component = min
    node_id, identical to :func:`connected_components`.

    Hash-min needs O(diameter) rounds — pathological on chain-shaped
    graphs (a 100 TB citation or provenance graph easily has diameter
    in the thousands). Star contraction converges in O(log^2 n) rounds
    regardless of diameter; each round is two groupBy+join passes over
    the *current* edge set, which shrinks geometrically as stars
    collapse, so later rounds get cheaper. Edge state is canonical
    (big, small) pairs; both phases preserve that orientation, so no
    re-canonicalization shuffle between rounds.
    """
    # Same gate as hash-min: probe the raw edge list (narrow
    # materialization, no canonicalization shuffle) and close small
    # graphs with the driver union-find — raw edges cover every
    # endpoint including self-loop-only nodes, so no left_anti tail.
    raw = edges.select("src", "dst").localCheckpoint(eager=True)
    if raw.count() <= _cc_driver_edge_cap(edges.sparkSession):
        return _cc_driver(raw, raw.schema["src"].dataType, id_col_out)
    e = (
        raw.where(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint(eager=True)
    )
    # keep the same node universe as hash-min: every endpoint, even
    # self-loop-only nodes that the canonical edge set drops
    nodes = (
        raw.select(F.col("src").alias("node_id"))
        .unionByName(raw.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_count = e.count()
    with _tight_loop(edges.sparkSession, prev_count):
        for _ in range(max_iter):
            if prev_count == 0:
                break
            # large-star: every node links its larger neighbors to
            # min(neighborhood ∪ self)
            n = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mn = (
                n.groupBy("u")
                .agg(F.min("v").alias("mv"))
                .select("u", F.least("mv", F.col("u")).alias("m"))
            )
            large = (
                n.join(mn, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .dropDuplicates(["u", "v"])
            )
            # small-star: every node links its smaller neighbors and itself
            # to the minimum; edges are already directed big→small
            mn2 = large.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                large.join(mn2, "u")
                .select(F.col("v").alias("x"), "m")
                .unionByName(mn2.select(F.col("u").alias("x"), "m"))
                .where(F.col("x") != F.col("m"))
                .select(F.col("x").alias("u"), F.col("m").alias("v"))
                .dropDuplicates(["u", "v"])
                .localCheckpoint(eager=True)
            )
            cnt = small.count()
            converged = cnt == prev_count and small.join(e, ["u", "v"], "left_anti").isEmpty()
            e, prev_count = small, cnt
            if converged:
                break
    assigned = e.select(F.col("u").alias("node_id"), F.col("v").alias("component"))
    roots = nodes.join(
        e.select(F.col("u").alias("node_id")), "node_id", "left_anti"
    ).select("node_id", F.col("node_id").alias("component"))
    return assigned.unionByName(roots).select(
        "node_id", F.col("component").alias(id_col_out)
    )


# --- C6: PageRank ---------------------------------------------------------------------
def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    nodes: DataFrame | None = None,
    checkpoint_every: int = 3,
    reset: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration normalized PageRank with dangling-mass
    redistribution (ranks sum to 1). Returns (node_id, rank).

    ``reset`` personalizes the walk: a (node_id, reset) distribution
    (summing to 1) that replaces the uniform teleport — both the
    (1-d) jump and the dangling mass land on the reset nodes, giving
    topic-sensitive PageRank (Haveliwala, WWW 2002). ``None`` keeps
    the classic uniform teleport. The reset column rides inside the
    rank table, so personalization adds zero extra joins per round.

    Each round: contributions = ranks ⋈ edges on src, grouped by dst;
    dangling mass (nodes with out-degree 0) is spread uniformly. The
    per-round shuffle is on the edge key only.

    ``checkpoint_every`` bounds plan growth without paying an eager
    materialization job per round: lineage across k rounds is a
    k-deep join/agg tree (linear, unlike the BFS visited-set union),
    so truncating every ~3 rounds keeps Catalyst analysis O(1) while
    cutting the number of blocking jobs ~3×.
    """
    # one materialization: the edge list joins into every round's
    # contribs — an expensive upstream derivation would otherwise
    # recompute per iteration
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    if nodes is None:
        node_ids = (
            e.select(F.col("src").alias("node_id"))
            .unionByName(e.select(F.col("dst").alias("node_id")))
            .distinct()
        )
    else:
        node_ids = nodes.select("node_id").distinct()
    node_ids = node_ids.localCheckpoint(eager=True)
    n = node_ids.count()

    out_deg = e.groupBy(F.col("src").alias("node_id")).agg(F.count(F.lit(1)).alias("odeg"))
    # (node_id, odeg) with 0 for sinks — broadcast-sized per partition of ranks
    deg = node_ids.join(out_deg, "node_id", "left").na.fill(0, ["odeg"])
    if reset is None:
        deg = deg.withColumn("_reset", F.lit(1.0 / n))
    else:
        deg = deg.join(
            reset.select("node_id", F.col("reset").alias("_reset")), "node_id", "left"
        ).na.fill(0.0, ["_reset"])
    deg = deg.localCheckpoint(eager=True)

    ranks = deg.select("node_id", "odeg", "_reset", F.col("_reset").alias("rank"))
    with _tight_loop(edges.sparkSession, n + e.count()):
        for it in range(1, iterations + 1):
            # Optimization r14 (guide §2.4): the static (odeg, _reset)
            # attributes ride the SAME shuffle as the contributions —
            # union the deg table (null contribution) with the per-edge
            # contribution rows and aggregate once, instead of the old
            # groupBy + deg left-join. One exchange + one aggregate per
            # round where there were two exchanges + a join; the addend
            # set of sum(c) is unchanged (deg rows carry NULL c), so the
            # ranks are the same values. At scale both variants shuffle
            # O(|E| + |V|) narrow rows; this one skips a whole join
            # operator and its per-round re-exchange of the checkpointed
            # deg table.
            contribs = (
                ranks.where(F.col("odeg") > 0)
                .join(e, ranks.node_id == e.src)
                .select(
                    F.col("dst").alias("node_id"),
                    (F.col("rank") / F.col("odeg")).alias("c"),
                    F.lit(None).cast("long").alias("odeg"),
                    F.lit(None).cast("double").alias("_reset"),
                )
                .unionByName(
                    deg.select(
                        "node_id",
                        F.lit(None).cast("double").alias("c"),
                        "odeg",
                        "_reset",
                    )
                )
                .groupBy("node_id")
                .agg(
                    F.sum("c").alias("contrib"),
                    F.max("odeg").alias("odeg"),
                    F.max("_reset").alias("_reset"),
                )
            )
            # dangling mass by conservation: ranks sum to 1 every round, and
            # Σ contribs = Σ_{odeg>0} rank, so dangling = 1 − Σ contribs.
            # The 1-row total reads the aggregated per-node frame (a
            # ReusedExchange of the round's one shuffle), costing one
            # extra reduce, no extra scan.
            dangling = contribs.agg(
                (F.lit(1.0) - F.coalesce(F.sum("contrib"), F.lit(0.0))).alias("_dangling")
            )
            ranks = contribs.crossJoin(F.broadcast(dangling)).select(
                "node_id",
                "odeg",
                "_reset",
                (
                    F.lit(1.0 - damping) * F.col("_reset")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("_dangling") * F.col("_reset")
                    )
                ).alias("rank"),
            )
            if it % checkpoint_every == 0 or it == iterations:
                ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node_id", "rank")


# --- C6: HITS hubs & authorities --------------------------------------------------------
def hits(
    edges: DataFrame,
    iterations: int = 10,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg, JACM 1999): mutually recursive
    hub/authority scores. Returns (node_id, auth, hub).

    Each round:
      auth(v) = Σ_{u→v} hub(u), then L1-normalized;
      hub(u)  = Σ_{u→v} auth(v), then L1-normalized.

    L1 (sum) normalization instead of the textbook L2 keeps every
    round a plain sum/divide — exactly reproducible as unrolled SQL
    CTEs in the oracle, and scale-equivalent (the fixed point only
    differs by a constant factor per vector).

    Normalization is DEFERRED to checkpoint boundaries: the HITS
    recursion is linear, so per-round scaling factors cancel and
    normalizing every ``checkpoint_every`` rounds (plus at the end)
    produces the identical final vectors while eliminating two 1-row
    aggregate broadcasts per round. This matters doubly: a broadcast
    of a derived total re-executes its upstream join/agg subtree, and
    nested across rounds that re-execution compounds exponentially
    between checkpoints (the per-round-normalizing version measured
    30s where this one runs ~2s on the 25-node probe graph). The
    checkpoint both truncates lineage and bounds raw-score magnitude
    (growth ≤ λ(AᵀA)^checkpoint_every between normalizations, far
    inside double range). Per round: two shuffles keyed by the edge
    endpoints, nothing else; no driver round-trips.
    """
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    node_ids = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    scores = node_ids.select("node_id", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub"))
    with _tight_loop(edges.sparkSession, node_ids.count() + e.count()):
        for it in range(1, iterations + 1):
            # authority pass: pull raw hub mass along in-edges.
            # Optimization r14 (guide §2.4): the "keep every node" left
            # join is folded into the aggregation — union a zero row per
            # node with the per-edge mass rows and sum once. One exchange
            # + one aggregate per half-round instead of two exchanges +
            # a join; adding 0.0 to a sum of non-negative doubles is
            # bit-exact, so the scores are unchanged.
            auth = (
                scores.join(e, scores.node_id == e.src)
                .select(F.col("dst").alias("node_id"), F.col("hub").alias("_m"))
                .unionByName(node_ids.select("node_id", F.lit(0.0).alias("_m")))
                .groupBy("node_id")
                .agg(F.sum("_m").alias("auth"))
            )
            # hub pass: pull the round's raw authority mass along
            # out-edges; each node's own auth value rides its zero row
            # (max over exactly one non-null), so no re-join is needed to
            # carry auth into the next round's scores.
            scores = (
                auth.join(e, auth.node_id == e.dst)
                .select(
                    F.col("src").alias("node_id"),
                    F.col("auth").alias("_m"),
                    F.lit(None).cast("double").alias("_a"),
                )
                .unionByName(
                    auth.select(
                        "node_id", F.lit(0.0).alias("_m"), F.col("auth").alias("_a")
                    )
                )
                .groupBy("node_id")
                .agg(F.max("_a").alias("auth"), F.sum("_m").alias("hub"))
            )
            if it % checkpoint_every == 0 or it == iterations:
                scores = scores.localCheckpoint(eager=True)
                tot = scores.agg(
                    F.sum("auth").alias("_ta"), F.sum("hub").alias("_th")
                )
                # broadcast reads the checkpoint just taken — one tiny job
                scores = scores.crossJoin(F.broadcast(tot)).select(
                    "node_id",
                    (F.col("auth") / F.col("_ta")).alias("auth"),
                    (F.col("hub") / F.col("_th")).alias("hub"),
                )
    return scores


# --- B8 ext.: weighted single-source shortest paths -------------------------------------
def sssp(
    edges: DataFrame,
    source: int,
    weight_col: str = "weight",
    max_iter: int = 20,
) -> DataFrame:
    """Weighted SSSP by synchronous Bellman-Ford relaxation: each
    round every settled node offers ``dist + w`` to its out-neighbors
    and each node keeps the minimum. Converges in ≤ diameter rounds
    on non-negative weights. Returns (node_id, dist) for reachable
    nodes.

    Per round: one join on the edge key + one min-aggregate — the
    same shuffle pair PageRank pays; rounds run in checkpointed
    batches through ``_fixpoint``. Unreachable nodes never
    materialize (no infinity sentinel rows)."""
    e = edges.select("src", "dst", F.col(weight_col).alias("_w")).localCheckpoint(eager=True)
    spark = edges.sparkSession
    # `_n` counts the times a node's distance was set (first reach, then
    # each decrease), so Σ _n is an exact stop measure; a double sum of
    # the distances could round a small decrease away.
    dist = local_df(spark, [(int(source), 0.0, 1)], "node_id long, dist double, _n long")

    def _relax(cur: DataFrame) -> DataFrame:
        offers = cur.join(e, cur.node_id == e.src).select(
            F.col("dst").alias("node_id"),
            (F.col("dist") + F.col("_w")).alias("dist"),
            F.lit(None).cast("long").alias("_n"),
        )
        best = (
            cur.unionByName(offers)
            .groupBy("node_id")
            .agg(
                F.min("dist").alias("dist"),
                F.min(F.when(F.col("_n").isNotNull(), F.col("dist"))).alias("_old"),
                F.max("_n").alias("_n"),
            )
        )
        return best.select(
            "node_id",
            "dist",
            F.coalesce(
                F.col("_n") + (F.col("dist") < F.col("_old")).cast("long"), F.lit(1)
            ).alias("_n"),
        )

    def _n_set(cur: DataFrame) -> int:
        return cur.agg(F.sum("_n")).collect()[0][0]

    with _tight_loop(spark, e.count()):
        dist = _fixpoint(dist, _relax, _n_set, max_iter, prev=1)
    return dist.select("node_id", "dist")


# --- B8: path-returning shortest path ---------------------------------------------------
def shortest_path_tree(
    edges: DataFrame,
    source: int,
    max_depth: int = 10,
    target: int | None = None,
) -> DataFrame:
    """Hop-count shortest paths from ``source`` with the actual node
    sequence — parity with ArcadeDB's ``shortestPath()`` SQL function
    (dependency surface: reference ``src/pom.xml:104-108``), which
    returns the path, not just its length.

    Returns (dst, hops, path array<long>) for every node reachable
    along directed edges (or only ``target`` when given); pass a
    symmetric edge list for an undirected tree. Among equal-hop paths the result
    is deterministic: each node records its MINIMUM first-reach
    predecessor, so the emitted path minimizes the predecessor
    sequence read backwards from ``dst`` (lexicographically minimal
    reversed path — the property the DuckDB oracle reproduces with
    ``ORDER BY list_reverse(path)``).

    Scale posture: the BFS phase shuffles only (node_id, pred) pairs —
    8+8 bytes per node regardless of path length — never paths; path
    arrays are materialized afterwards level-by-level (depth(v)=d rows
    join their depth d-1 predecessors' finished paths), so array bytes
    are written once per node, not once per frontier expansion. Both
    phases are plain hash joins + min-aggregates on node keys, and
    lineage is truncated per level with localCheckpoint.
    """
    # A self-loop only reaches a visited node, so dropping it changes no
    # row; the filter's constraint lets Catalyst infer non-null ids in
    # the path rebuild below, so both uses of each level reuse one
    # exchange (q97 at sf0.01: 52 jobs per call with it, 55 without).
    hop = _hop_relation(edges.where(F.col("src") != F.col("dst")))
    spark = edges.sparkSession
    start = local_df(spark, [(int(source), 0, None)], "node_id long, depth int, pred long")
    with _tight_loop(spark, hop.count()):
        # min() over the last level's nodes that first reach a node —
        # the deterministic tie-break the docstring promises
        visited, reached_depth = _bfs_levels(
            hop, start, max_depth, aggs=(F.min("src").alias("pred"),)
        )

    # Level-wise path reconstruction: depth-d nodes append themselves
    # to their predecessor's (already final) depth d-1 path.
    paths = visited.where(F.col("depth") == 0).select(
        "node_id", F.array(F.col("node_id")).alias("path")
    )
    done = paths
    for d in range(1, reached_depth + 1):
        level = visited.where(F.col("depth") == d).select(
            F.col("node_id").alias("_n"), F.col("pred").alias("_p")
        )
        # no checkpoint here: lineage depth is bounded by reached_depth
        # (each level joins the previous level's plan once — linear),
        # and an eager checkpoint would cost one blocking job per level
        step = level.join(paths, level["_p"] == paths["node_id"]).select(
            F.col("_n").alias("node_id"),
            F.concat(F.col("path"), F.array(F.col("_n"))).alias("path"),
        )
        done = done.unionByName(step)
        paths = step
    out = done.select(
        F.col("node_id").alias("dst"),
        (F.size("path") - 1).alias("hops"),
        "path",
    )
    if target is not None:
        out = out.where(F.col("dst") == int(target))
    return out


# --- C6: k-core decomposition -----------------------------------------------------------
def k_core(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree >= k (undirected, simple). Iterative peeling — each round
    drops nodes below k and the edges touching them; a dropped node
    can push its neighbors below k, so rounds repeat until stable.

    Scale posture: each round is one degree aggregation + two
    semi-joins on node keys (the same hash partitioning reused);
    rounds needed = peeling depth, typically O(10) on real graphs.
    The driver reads only a scalar edge count per batch of steps
    (``_fixpoint``) to detect the fixpoint — no row data ever reaches
    the driver."""
    live = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    n_edges = live.count()

    def _peel(cur: DataFrame) -> DataFrame:
        deg = (
            cur.select(F.col("a").alias("n"))
            .unionAll(cur.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("n")
        return cur.join(
            keep.withColumnRenamed("n", "a"), "a", "left_semi"
        ).join(keep.withColumnRenamed("n", "b"), "b", "left_semi")

    with _tight_loop(edges.sparkSession, n_edges):
        live = _fixpoint(live, _peel, lambda s: s.count(), max_iter, prev=n_edges)
    return (
        live.select(F.col("a").alias("node_id"))
        .unionAll(live.select(F.col("b").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .where(F.col("core_degree") >= k)
    )


# --- C6: closeness centrality (multi-source BFS) -----------------------------------------
def core_decomposition(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """(node_id, core) — the core number of EVERY node (the largest k
    for which the node survives in the k-core), via the distributed
    h-index fixpoint (Montresor, De Pellegrini & Miorandi, 2013):
    start from core = degree and repeatedly set

        core(v) ← min(deg(v), H({core(u) : u ∈ N(v)}))

    where H is the h-index (the largest h with ≥ h neighbors of core
    ≥ h). Estimates only decrease and converge to the exact core
    numbers — one call replaces max-degree many ``k_core`` peelings.

    Each round is one join of the symmetric adjacency against the
    current estimates plus a per-node aggregate; the h-index is
    computed from the sorted neighbor-core array with a zip/filter
    fold. The collect_list buffer is bounded by degree — for
    super-hub nodes the documented scale path replaces it with a
    (node, core-value) count aggregation + cumulative window (no
    array materialization), same fixpoint. Convergence is detected
    from the scalar core sum once per batch of steps (``_fixpoint``)."""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("u")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("u"))
    ).localCheckpoint(eager=True)
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("_deg")).localCheckpoint(eager=True)
    core = deg.select("v", F.col("_deg").alias("core"))

    def _hstep(cur: DataFrame) -> DataFrame:
        nb = adj.join(cur.withColumnRenamed("v", "u"), "u").groupBy("v").agg(
            F.sort_array(F.collect_list("core"), asc=False).alias("_nc")
        )
        h = F.size(
            F.filter(
                F.zip_with(
                    F.col("_nc"),
                    F.sequence(F.lit(1), F.size("_nc")),
                    lambda c, i: (c >= i).cast("int"),
                ),
                lambda x: x == 1,
            )
        )
        return deg.join(nb, "v").select(
            "v", F.least(F.col("_deg"), h).alias("core")
        )

    # Stop measure: the core sum. The node set is fixed and estimates
    # only decrease, so an unchanged sum means no estimate moved. It
    # starts at Σ degree = 2|E| and every estimate stays >= 1, so it is
    # 0 only for an empty graph.
    def _core_sum(cur: DataFrame) -> int:
        return cur.agg(F.sum("core")).collect()[0][0]

    n_adj = und.count() * 2
    with _tight_loop(edges.sparkSession, n_adj):
        core = _fixpoint(core, _hstep, _core_sum, max_iter, prev=n_adj)
    return core.select(F.col("v").alias("node_id"), "core")


def k_truss(edges: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """Edges of the k-truss: the maximal subgraph where every edge
    participates in ≥ k−2 triangles (undirected, simple) — the
    edge-cohesion companion to ``k_core``'s node-cohesion (Cohen,
    2008). Iterative support peeling: removing a weak edge can break
    its neighbors' triangles, so rounds repeat until stable.

    Each round reuses the degree-ordered ``triangles`` enumeration
    (wedge join bounded by the orientation even on power-law graphs),
    explodes every triangle to its three canonical edges, counts
    support per edge in one map-side-combined aggregate, and
    left-semi-keeps the edges meeting the threshold. The driver reads
    one scalar edge count per round for the fixpoint; no row data.
    Rounds = peeling depth (typically O(10)); each round's surviving
    edge set is eagerly checkpointed so lineage stays O(1)."""
    live = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    n_edges = live.count()
    min_support = k - 2
    if min_support <= 0:
        # The 2-truss (and below) is the full simple edge set: a zero
        # triangle threshold removes nothing, but such edges never
        # appear in the support aggregate, so peeling would wrongly
        # drop them — return early instead.
        return live.select("a", "b")
    # One step per checkpoint, not `_fixpoint`'s batches: `triangles`
    # runs an eager checkpoint inside every step, so a batch would
    # re-run its un-checkpointed prefix and enumerate triangles past
    # convergence (a 4-truss of a 40-node triangle strip: 50 jobs per
    # round-by-round call, 140 batched).
    with _tight_loop(edges.sparkSession, n_edges):
        for _ in range(max_iter):
            if n_edges == 0:
                break
            tri = triangles(live.select(F.col("a").alias("src"), F.col("b").alias("dst")))
            tri_edges = tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
                        ),
                        F.struct(
                            F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b")
                        ),
                        F.struct(
                            F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b")
                        ),
                    )
                ).alias("e")
            ).select("e.a", "e.b")
            support = tri_edges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("_sup"))
            keep = support.where(F.col("_sup") >= min_support).select("a", "b")
            nxt = live.join(keep, ["a", "b"], "left_semi").localCheckpoint(eager=True)
            n_next = nxt.count()
            live = nxt
            if n_next == n_edges:
                break
            n_edges = n_next
    return live.select("a", "b")


def _pivot_bfs(
    edges: DataFrame,
    pivots: DataFrame | None,
    max_depth: int,
    directed: bool,
    payload: tuple = (),
    aggs: tuple = (),
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """The multi-source BFS under closeness and betweenness: every
    pivot (every node when ``pivots`` is None) traverses at once, keyed
    by ``pivot``, so K sources cost depth-many levels, not K runs.
    Returns (hop relation, all nodes, visited (pivot, node_id,
    payload..., depth), last depth reached)."""
    hop = _hop_relation(edges, directed)
    all_nodes = (
        hop.select(F.col("src").alias("node_id"))
        .unionByName(hop.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    start = (
        (pivots if pivots is not None else all_nodes)
        .select(F.col("node_id").alias("pivot"), "node_id", F.lit(0).alias("depth"), *payload)
        .localCheckpoint(eager=True)
    )
    # per-level shuffle volume is O(pivots x reachable nodes)
    with _tight_loop(edges.sparkSession, start.count() * all_nodes.count()):
        visited, reached = _bfs_levels(hop, start, max_depth, ("pivot",), aggs)
    return hop, all_nodes, visited, reached


def closeness_centrality(
    edges: DataFrame,
    pivots: DataFrame | None = None,
    max_depth: int = 20,
    directed: bool = False,
) -> DataFrame:
    """(node_id, n_reached, sum_dist, closeness) where n_reached /
    sum_dist count pivots (≠ the node) that reach the node and their
    BFS distances; closeness = n_reached/sum_dist — the classic
    (n-1)/Σd when every node is a pivot and the graph is connected —
    and 0.0 when nothing reaches the node.

    One multi-source BFS (``_pivot_bfs``). With ``pivots=None`` every
    node is a source (exact, O(n·m) messages); at 100 TB pass a sampled
    pivot set: the estimator converges ~1/sqrt(K) (Eppstein-Wang) and
    the plan is unchanged."""
    _, all_nodes, visited, _ = _pivot_bfs(edges, pivots, max_depth, directed)
    per_node = (
        visited.where(F.col("depth") > 0)
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("n_reached"), F.sum("depth").alias("sum_dist"))
    )
    return (
        all_nodes.join(per_node, "node_id", "left")
        .na.fill(0, ["n_reached", "sum_dist"])
        .withColumn(
            "closeness",
            F.when(
                F.col("sum_dist") > 0,
                F.round(F.col("n_reached") / F.col("sum_dist"), 4),
            ).otherwise(F.lit(0.0)),
        )
    )


# --- C6: betweenness centrality (Brandes on multi-source BFS) ----------------------------
def betweenness_centrality(
    edges: DataFrame,
    pivots: DataFrame | None = None,
    max_depth: int = 20,
    directed: bool = False,
) -> DataFrame:
    """(node_id, betweenness) — Brandes' algorithm (J. Math. Sociol.
    2001) lifted to one multi-source traversal: the forward BFS
    carries (pivot, node, depth, sigma = #shortest paths); the
    shortest-path DAG is the edge set filtered to depth(v) =
    depth(u)+1 per pivot; dependencies accumulate backward one DEPTH
    LEVEL at a time — delta(u) = Σ_successors sigma_u/sigma_v ·
    (1+delta_v) — so the round count is the diameter in both passes,
    never the node count. With ``pivots=None`` the result is exact;
    a sampled pivot set gives the standard Brandes-Pich estimator at
    K/n of the message volume, same plan."""
    e, all_nodes, visited, max_d = _pivot_bfs(
        edges, pivots, max_depth, directed,
        payload=(F.lit(1.0).alias("sigma"),), aggs=(F.sum("sigma").alias("sigma"),),
    )
    # per-pivot shortest-path DAG: u→v with depth_v = depth_u + 1.
    # Distinct column names on the two visited projections — a bare
    # self-join on `pivot` resolves as the trivially-true predicate.
    u = visited.select(
        F.col("pivot").alias("pu"),
        F.col("node_id").alias("u"),
        F.col("depth").alias("du"),
        F.col("sigma").alias("su"),
    )
    v = visited.select(
        F.col("pivot").alias("pv"),
        F.col("node_id").alias("v"),
        F.col("depth").alias("dv"),
        F.col("sigma").alias("sv"),
    )
    dag = (
        e.join(u, e.src == u.u)
        .join(v, (F.col("dst") == F.col("v")) & (F.col("pu") == F.col("pv")) & (F.col("dv") == F.col("du") + 1))
        .select(F.col("pu").alias("pivot"), "u", "du", "su", "v", "sv")
        .localCheckpoint(eager=True)
    )
    # backward accumulation, one depth level per round
    spark = edges.sparkSession
    delta_next = local_df(spark, [], "pivot long, node_id long, delta double")
    acc = delta_next
    with _tight_loop(spark, dag.count()):
        for d in range(max_d - 1, -1, -1):
            level_nodes = visited.where(F.col("depth") == d).select("pivot", "node_id")
            contrib = (
                dag.where(F.col("du") == d)
                .join(
                    delta_next.withColumnRenamed("node_id", "v"),
                    ["pivot", "v"],
                    "left",
                )
                .na.fill(0.0, ["delta"])
                .select(
                    "pivot",
                    F.col("u").alias("node_id"),
                    (F.col("su") / F.col("sv") * (F.lit(1.0) + F.col("delta"))).alias("_c"),
                )
                .groupBy("pivot", "node_id")
                .agg(F.sum("_c").alias("delta"))
            )
            delta_next = (
                level_nodes.join(contrib, ["pivot", "node_id"], "left")
                .na.fill(0.0, ["delta"])
                .localCheckpoint(eager=True)
            )
            acc = acc.unionByName(delta_next.where(F.col("delta") > 0))
    bc = (
        acc.where(F.col("node_id") != F.col("pivot"))
        .groupBy("node_id")
        .agg(F.sum("delta").alias("_b"))
    )
    scale = 0.5 if not directed else 1.0
    return (
        all_nodes.join(bc, "node_id", "left")
        .na.fill(0.0, ["_b"])
        .select("node_id", F.round(F.col("_b") * scale, 4).alias("betweenness"))
    )


# --- C6: strongly connected components ---------------------------------------------------
def strongly_connected_components(
    edges: DataFrame, max_phases: int = 30, max_inner: int = 50
) -> DataFrame:
    """SCCs of a directed graph by iterative coloring (the FW-BW /
    Orzan family used by distributed SCC systems): each phase
    (1) propagates the minimum reachable source id forward along
    edges to a fixpoint — every node's ``color`` is then the smallest
    id that can reach it; (2) nodes with ``color == id`` are pivots,
    and a backward sweep restricted to same-color nodes marks exactly
    the pivot's SCC (v has color p ⇒ p→v exists; v reaches p within
    the color class ⇒ v→p, so v ~ p); (3) settled SCCs leave the
    graph and the next phase runs on the remainder. Phases needed =
    length of the longest pivot-elimination chain — O(log n) expected
    on random graphs.

    Returns (node_id, scc) where scc = min node id of the component.
    Every step is a key equi-join + min-aggregate; per-batch driver
    traffic is a scalar stop measure (see ``_fixpoint``), never rows."""
    e_all = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    live = (
        e_all.select(F.col("src").alias("node_id"))
        .unionByName(e_all.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    assigned = local_df(spark, [], "node_id long, scc long")
    with _tight_loop(spark, e_all.count()):
        for _ in range(max_phases):
            if live.count() == 0:
                break
            e = (
                e_all.join(live.withColumnRenamed("node_id", "src"), "src", "left_semi")
                .join(live.withColumnRenamed("node_id", "dst"), "dst", "left_semi")
                .localCheckpoint(eager=True)
            )
            # (1) forward min-label to fixpoint: min-propagation along
            # directed edges, measured like connected_components
            def _forward(color: DataFrame) -> DataFrame:
                offers = color.join(e, color.node_id == e.src).select(
                    F.col("dst").alias("node_id"), "color"
                )
                return (
                    color.unionByName(offers)
                    .groupBy("node_id")
                    .agg(F.min("color").alias("color"))
                )

            color = _fixpoint(
                live.withColumn("color", F.col("node_id")),
                _forward,
                _count_and_sum("color"),
                max_inner,
            )

            # (2) backward sweep from pivots within each color class;
            # reach only grows, so its row count is the measure
            def _backward(cur: DataFrame) -> DataFrame:
                step = e.join(cur.withColumnRenamed("node_id", "dst"), "dst").select(
                    F.col("src").alias("node_id"), "color"
                )
                # keep only nodes whose own color matches the pivot color
                step = step.join(color, ["node_id", "color"], "left_semi")
                return cur.unionByName(step).dropDuplicates(["node_id"])

            reach = (
                color.where(F.col("color") == F.col("node_id"))
                .select("node_id", "color")
                .localCheckpoint(eager=True)
            )
            reach = _fixpoint(reach, _backward, lambda s: s.count(), max_inner, prev=reach.count())
            assigned = assigned.unionByName(
                reach.select("node_id", F.col("color").alias("scc"))
            ).localCheckpoint(eager=True)
            live = live.join(reach, "node_id", "left_anti").localCheckpoint(eager=True)
    # isolated nodes (no edges) never enter `live`; callers pass a node
    # set if they need singleton SCCs for them
    return assigned


# --- C6: label propagation --------------------------------------------------------------
def label_propagation(edges: DataFrame, max_iter: int = 5) -> DataFrame:
    """Synchronous LPA for community detection: each round a node
    adopts the most frequent label among neighbors (ties → smallest
    label, for determinism). Returns (node_id, community)."""
    und = _hop_relation(edges, directed=False)
    labels = und.select(F.col("src").alias("node_id")).distinct().withColumn(
        "community", F.col("node_id")
    )
    # loop shuffles move O(|E|) (src, community) rows — derived
    # partition geometry (optimization r14, see _tight_loop).
    # Checkpoint every SECOND round (optimization r15): LPA runs a
    # fixed round count with no convergence probe, so the per-round
    # eager checkpoint bought nothing but lineage truncation — paying
    # it every 2 rounds halves the checkpoint jobs at an
    # un-checkpointed depth of 2 joins + 4 aggregations, still under
    # the measured Catalyst depth cliff (each LPA round is ~2 CC
    # steps of plan, and CC's cliff sits at 4 steps).
    with _tight_loop(edges.sparkSession, und.count()):
        for it in range(1, max_iter + 1):
            freq = (
                und.join(labels, und.dst == labels.node_id)
                .groupBy(F.col("src").alias("node_id"), "community")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            best = freq.groupBy("node_id").agg(
                F.min_by(
                    F.struct("community"), F.struct(F.col("cnt").cast("long") * -1, F.col("community"))
                )["community"].alias("community")
            )
            labels = best
            if it % 2 == 0 or it == max_iter:
                labels = labels.localCheckpoint(eager=True)
    return labels
