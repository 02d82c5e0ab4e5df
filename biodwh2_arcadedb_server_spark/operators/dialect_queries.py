"""Driver-contract probes for the ArcadeDB SQL dialect (B6/B7 +
LET) — user-typed MATCH / TRAVERSE / LET statements fed through
``arcadesql.execute`` against a workspace derived deterministically
from the testdata star schema, oracled by plain DuckDB join SQL.

The reference's users type these statements into Studio
(`ArcadeDBService.java:81-105` passes command strings through); a
green hash-match here means the whole path — lexer, parser, compiled
Spark SQL / BFS plan — reproduces the join semantics, not just the
underlying operators.

Mini-workspace (disjoint node-id ranges so one unified ``edges``
view serves all labels):

- ``n_Customer``: node_id = c_custkey*3
- ``n_Order``:    node_id = o_orderkey*3+1
- ``n_Part``:     node_id = p_partkey*3+2
- ``edges``: PLACED (customer→order, from orders) and CONTAINS
  (order→part, one edge per lineitem row — ArcadeDB materializes an
  edge per source record, duplicates included).

Scale: the MATCH probe compiles to one Catalyst plan (typed-view
scans JOIN edges), so pushdown of the anchored where, broadcast of
the small customer leg, and AQE re-planning all apply; TRAVERSE runs
the frontier-join BFS with localCheckpoint truncation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biodwh2_arcadedb_server_spark import arcadesql
from biodwh2_arcadedb_server_spark.sources.registry import load_table


_STAR_CACHE: dict = {}


def _register_star_workspace(spark: SparkSession, sf_dir: str) -> None:
    """Memoized per (applicationId, sf_dir, view epoch): 23 dialect /
    GraphQL probes call this, and re-registering the identical views
    cost ~0.5s per probe (q154 profile, round 10 — HALF that probe's
    wall time was view registration, the conflict-check suspect cost
    ~0). workspace.VIEW_EPOCH invalidates the memo whenever
    load_workspace displaces the session views (e.g. q171's RID probe
    or a DML probe loading a real workspace mid-run)."""
    from biodwh2_arcadedb_server_spark import workspace as ws

    key = (spark.sparkContext.applicationId, sf_dir, ws.VIEW_EPOCH)
    if _STAR_CACHE.get("key") == key:
        return
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")

    n_customer = c.select(
        (F.col("c_custkey") * 3).cast("long").alias("node_id"),
        F.lit("Customer").alias("label"),
        F.col("c_custkey").cast("string").alias("natural_key"),
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment",
    )
    n_order = o.select(
        (F.col("o_orderkey") * 3 + 1).cast("long").alias("node_id"),
        F.lit("Order").alias("label"),
        F.col("o_orderkey").cast("string").alias("natural_key"),
        "o_orderkey", "o_orderstatus", "o_totalprice",
    )
    n_part = (
        l.select("l_partkey")
        .distinct()
        .select(
            (F.col("l_partkey") * 3 + 2).cast("long").alias("node_id"),
            F.lit("Part").alias("label"),
            F.col("l_partkey").cast("string").alias("natural_key"),
            F.col("l_partkey").alias("p_partkey"),
        )
    )
    n_customer.createOrReplaceTempView("n_Customer")
    n_order.createOrReplaceTempView("n_Order")
    n_part.createOrReplaceTempView("n_Part")

    placed = o.select(
        (F.col("o_custkey") * 3).cast("long").alias("src"),
        (F.col("o_orderkey") * 3 + 1).cast("long").alias("dst"),
        F.lit("PLACED").alias("label"),
    )
    contains = l.select(
        (F.col("l_orderkey") * 3 + 1).cast("long").alias("src"),
        (F.col("l_partkey") * 3 + 2).cast("long").alias("dst"),
        F.lit("CONTAINS").alias("label"),
        # edge property for MATCH edge-alias probes ({as: e} binds the
        # typed view; the unified `edges` view stays 3-column)
        F.col("l_quantity").cast("double").alias("l_quantity"),
    )
    placed.createOrReplaceTempView("e_PLACED")
    contains.createOrReplaceTempView("e_CONTAINS")
    placed.unionByName(
        contains.select("src", "dst", "label")
    ).createOrReplaceTempView("edges")

    nodes = (
        n_customer.select("node_id", "label", "natural_key")
        .unionByName(n_order.select("node_id", "label", "natural_key"))
        .unionByName(n_part.select("node_id", "label", "natural_key"))
        .withColumn("props", F.create_map())
    )
    nodes.createOrReplaceTempView("nodes")
    # the star views just displaced whatever was registered; bump the
    # epoch so OTHER consumers (and a stale memo) can tell, then pin
    # the memo to the post-registration epoch. The bump takes the
    # engine DML lock: load_workspace's bump is lock-guarded, and an
    # unsynchronized read-modify-write here could lose one of the two
    # increments and leave the memo pinned at a wrongly-current epoch
    # (round-10 review).
    from biodwh2_arcadedb_server_spark import arcadesql as _asql

    with _asql._DML_LOCK:
        ws.VIEW_EPOCH += 1
        _STAR_CACHE["key"] = (
            spark.sparkContext.applicationId, sf_dir, ws.VIEW_EPOCH,
        )


# --- B6: MATCH pattern chain through the dialect ---------------------------------
def q136_match_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-facing MATCH text → one Spark SQL join chain."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "MATCH {type: Customer, as: c, where: (c_custkey <= 50)}"
        "-PLACED->{type: Order, as: o, where: (o_orderstatus = 'F')}"
        "-CONTAINS->{type: Part, as: p} "
        "RETURN c.c_custkey AS c_custkey, "
        "count(distinct p.node_id) AS n_parts, "
        "count(*) AS n_paths",
    )


# --- B7: TRAVERSE through the dialect --------------------------------------------
def q137_traverse_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-facing TRAVERSE text → frontier-join BFS; roots depth 0."""
    _register_star_workspace(spark, sf_dir)
    out = arcadesql.execute(
        spark,
        "TRAVERSE out('PLACED'), out('CONTAINS') FROM "
        "(SELECT FROM Customer WHERE c_custkey <= 3) MAXDEPTH 2",
    )
    # props is a map column — driver canonicalizer needs scalars only
    return out.select("node_id", "label", "natural_key", "depth")


# --- LET context variables through the dialect -----------------------------------
def q138_let_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LET $top = (SELECT max ...) — broadcast scalar subquery."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "SELECT c_custkey, c_acctbal, $top AS top_bal FROM Customer "
        "LET $top = (SELECT max(c_acctbal) FROM Customer) "
        "WHERE c_acctbal >= $top - 1000",
    )


# --- B5 scalar: graph-projection degree through the dialect ----------------------
def q139_degree_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out('PLACED').size() — the graph projection: one
    ``relations.gather`` over the kept customers (FROM + WHERE),
    LEFT JOINed back on ``node_id``."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "SELECT c_custkey, out('PLACED').size() AS n_orders "
        "FROM Customer WHERE c_custkey <= 100",
    )


# --- B5: expand() through the dialect --------------------------------------------
def q140_expand_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expand(out('PLACED')) — neighbor node rows from the unified
    nodes view (IN-subquery semi-join, no row multiplication)."""
    _register_star_workspace(spark, sf_dir)
    out = arcadesql.execute(
        spark,
        "SELECT expand(out('PLACED')) FROM Customer WHERE c_custkey <= 10",
    )
    # props is a map column — driver canonicalizer needs scalars only
    return out.select("node_id", "label", "natural_key")


# --- B9/B11 through the dialect: GROUP BY + aggregates + ORDER/LIMIT -------------
def q141_agg_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-typed aggregate SELECT: the dialect's GROUP BY / ORDER BY
    / LIMIT path, compiled to one Spark SQL string."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "SELECT o_orderstatus, count(*) AS n, "
        "round(min(o_totalprice), 4) AS min_price "
        "FROM Order GROUP BY o_orderstatus ORDER BY o_orderstatus",
    )


# --- B8 through the dialect: shortestPath() --------------------------------------
def q146_shortestpath_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-typed ``shortestPath(3, node_id, 'OUT')`` (ArcadeDB's
    path function; source = customer 1's node) through
    arcadesql.execute: ONE frontier-join BFS tree from the literal
    source, then the call site's correlated scalar subquery is
    decorrelated by Catalyst into a left join against the tree — a
    per-row path lookup that costs one join at any destination count,
    never one BFS per row. Deterministic among equal-hop paths via
    min-pred backtrack (graph.shortest_path_tree), the property the
    DuckDB recursive-CTE oracle reproduces with ORDER BY depth,
    list_reverse(path). Unreachable parts: path '' / length -1."""
    _register_star_workspace(spark, sf_dir)
    out = arcadesql.execute(
        spark,
        "SELECT node_id, natural_key, "
        "shortestPath(3, node_id, 'OUT') AS path, "
        "shortestPath(3, node_id, 'OUT').size() AS path_len "
        "FROM Part",
    )
    return out.select(
        "node_id",
        "natural_key",
        F.concat_ws(",", F.col("path").cast("array<string>")).alias("path_repr"),
        F.coalesce(F.col("path_len"), F.lit(-1)).cast("int").alias("path_len"),
    )


# --- B20: GraphQL read surface, driver-checkable ---------------------------------
def q145_graphql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-typed GraphQL document through graphql.execute — root
    scan + argument pushdown + one nested edge join aggregated to a
    sorted array<struct>, compiled to ONE Spark SQL statement. The nested
    array is stringified for the driver canonicalizer (struct sort
    is by field order; o_orderkey leads and is unique)."""
    from biodwh2_arcadedb_server_spark import graphql

    _register_star_workspace(spark, sf_dir)
    out = graphql.execute(
        spark,
        "{ Customer { c_custkey c_acctbal "
        "placed { o_orderkey o_orderstatus } } }",
    )
    return out.where(F.col("c_custkey") <= 40).select(
        "c_custkey",
        F.round("c_acctbal", 4).alias("c_acctbal"),
        F.concat_ws(
            ";",
            F.transform(
                "placed",
                lambda s: F.concat_ws(
                    ":",
                    s["o_orderkey"].cast("string"),
                    s["o_orderstatus"],
                ),
            ),
        ).alias("orders_repr"),
    )


# --- B6 extensions: optional / negative MATCH patterns --------------------------
def q148_match_optional_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-typed ``optional: true`` MATCH pattern: per-customer count
    of finished orders INCLUDING customers with none (the rows an
    inner pattern would drop). Compiles to a LEFT JOIN of a derived
    leg subquery with the leg's own ``where:`` folded inside — per
    anchor row the leg yields its matches or one all-null row, so
    COUNT(o_orderkey) is 0 for order-less customers, never absent."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "MATCH {type: Customer, as: c, where: (c_custkey <= 60)}"
        "-PLACED->{type: Order, as: o, optional: true, "
        "where: (o_orderstatus = 'F')} "
        "RETURN c.c_custkey AS c_custkey, count(o.o_orderkey) AS n_f_orders "
        "ORDER BY c_custkey",
    )


def q149_match_not_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-typed negative pattern (``, NOT { … }``) plus a
    cross-alias ``$matched`` predicate: customers ≤ 100 with NO open
    order, whose negative leg is a NOT EXISTS the optimizer plans as
    a left-anti join on the edge key — one shuffle, no cartesian."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "MATCH {type: Customer, as: c, where: (c_custkey <= 100)}, "
        "NOT {as: c}-PLACED->{type: Order, where: (o_orderstatus = 'O')} "
        "RETURN c.c_custkey AS c_custkey ORDER BY c_custkey",
    )


# --- B17 through the dialect: UNWIND ---------------------------------------------
def q150_unwind_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-typed ``UNWIND`` over a graph-projection collection:
    one row per (customer, placed-order) pair, customers with no
    orders kept as a single null row (LATERAL VIEW OUTER explode —
    the record is never dropped, ArcadeDB semantics). Explode is a
    map-side Generate node: no shuffle beyond the projection's own
    gather join."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "SELECT c_custkey, out('PLACED') AS ord_node FROM Customer "
        "WHERE c_custkey <= 30 UNWIND ord_node",
    )


# --- B6 extension: variable-length MATCH steps -----------------------------------
def q153_match_vl_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``maxDepth: 2`` variable-length step from each customer across
    the unlabeled edge set: per-customer count of distinct nodes
    reachable in 1-2 hops (orders + parts). Compiles to a bounded
    unroll — UNION ALL of the 1-hop and 2-hop edge self-joins,
    DISTINCT endpoint pairs, ONE join onto the chain — so Catalyst
    plans plain hash joins; unbounded reachability stays TRAVERSE's
    frontier BFS."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "MATCH {type: Customer, as: c, where: (c_custkey <= 20)}"
        "-->{as: x, maxDepth: 2} "
        "RETURN c.c_custkey AS c_custkey, count(*) AS n_reach "
        "ORDER BY c_custkey",
    )


# --- B14 through the dialect: field-method chaining -------------------------------
def q155_methods_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArcadeDB field-method chaining (`x.toLowerCase()`,
    `x.substring(0,3)`, Java 0-based `indexOf`) — the Studio idiom —
    compiled to plain Spark string expressions: whole-stage codegen,
    scan-level pruning, no UDFs."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "SELECT c_custkey, c_mktsegment.toLowerCase() AS seg, "
        "c_mktsegment.substring(0, 3) AS pre, "
        "c_mktsegment.indexOf('U') AS iu, "
        "c_mktsegment.append('!').length() AS ln "
        "FROM Customer WHERE c_custkey <= 50 ORDER BY c_custkey",
    )


# --- B19 through the dialect: UPDATE / INSERT / DELETE --------------------------
def q147_dml_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-typed DML (the ArcadeDB SQL surface Studio users get,
    `pom.xml:104-108` [B]) through ``arcadesql.execute`` behind the
    explicit ``allow_writes`` gate: force-build a small Nation/Region/
    Customer workspace from the source tables, INSERT two vertices
    (VALUES form), UPDATE a predicate slice, DELETE VERTEX with edge
    cascade, CREATE EDGE (one valid append + one dangling endpoint
    silently skipped, the reference's A11 posture), then read back
    name + ``both().size()`` degree per
    nation through a dialect SELECT. Every mutation is a partition-
    parallel dataset recompute + atomic swap (the Spark-native
    mutation model — no in-place record edits at 100 TB), and the
    readback proves the cascade: the deleted nation is gone AND no
    dangling edges contribute to any surviving node's degree.
    Deterministic: the workspace is force-rebuilt from source every
    run, so the oracle can recompute the end state from the raw
    tables.

    Bench floor note: this probe's wall time is SCALE-INDEPENDENT
    (Region/Nation are fixed-size dims at every SF) and composed of
    ~25 tiny sequential Spark jobs — force-build, then 5 DML
    statements each doing predicate-count + dataset write + view
    refresh — i.e. job-count × local scheduling floor, not plan
    cost. Inserts are mode("append") (O(inserted) IO); on a cluster
    these are interactive statements, not a batch pipeline."""
    import hashlib
    import os

    from biodwh2_arcadedb_server_spark import workspace as ws

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    wdir = os.path.join("/tmp", f"biodwh2_dml_probe_{tag}")
    # Region+Nation only: DML routing correctness is row-volume
    # independent (the volume ETL is q02/q46's job), and the small
    # build keeps the probe at fixed-job-overhead cost.
    node_specs = [s for s in ws.NODE_SPECS if s.label in ("Region", "Nation")]
    edge_specs = [s for s in ws.EDGE_SPECS if s.label == "IN_REGION"]
    ws.build_workspace(
        spark, sf_dir, wdir, force=True,
        node_specs=node_specs, edge_specs=edge_specs,
    )
    ws.load_workspace(spark, wdir)
    for stmt in (
        "INSERT INTO Nation (natural_key, n_name) "
        "VALUES (990, 'ATLANTIS'), (991, 'MU')",
        "UPDATE Nation SET n_name = lower(n_name) WHERE natural_key < 5",
        "DELETE VERTEX Nation WHERE natural_key = 7",
        # edge DML: a second region edge for nation 0 (+1 degree) and
        # a dangling one that must be silently skipped (A11 posture)
        "CREATE EDGE IN_REGION FROM 0 TO 1",
        "CREATE EDGE IN_REGION FROM 9999 TO 1",
    ):
        arcadesql.execute(spark, stmt, workspace_dir=wdir, allow_writes=True)
    out = arcadesql.execute(
        spark,
        "SELECT natural_key, n_name, both().size() AS degree "
        "FROM Nation ORDER BY natural_key",
    )
    return out.withColumn("degree", F.col("degree").cast("int"))


# --- B20: GraphQL variables ------------------------------------------------------
def q151_graphql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``query ($seg: String!) { … }`` + a ``variables`` dict — the
    standard GraphQL client pattern (the reference bundles the full
    arcadedb-graphql plugin, pom.xml:109-113). Values substitute at
    parse time, so the compiled plan pushes the variable filter down
    to the parquet scan exactly like a literal argument; the nested
    selection stays one join + collect_list aggregation."""
    from biodwh2_arcadedb_server_spark import graphql

    _register_star_workspace(spark, sf_dir)
    out = graphql.execute(
        spark,
        "query ($seg: String!, $lim: Int = 1000000) "
        "{ Customer(c_mktsegment: $seg, limit: $lim) "
        "{ c_custkey placed { o_orderkey } } }",
        variables={"seg": "BUILDING"},
    )
    return out.where(F.col("c_custkey") <= 120).select(
        "c_custkey",
        F.concat_ws(
            ";",
            F.transform("placed", lambda s: s["o_orderkey"].cast("string")),
        ).alias("orders_repr"),
    )


# --- B20: GraphQL fragments + introspection --------------------------------------
def q154_graphql_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-fragment spreads (the shared-field-list client pattern)
    through graphql.execute — the fragment inlines post-parse, so the
    compiled plan is IDENTICAL to the literal selection: pushdown +
    one nested join, nothing fragment-shaped survives into Catalyst."""
    from biodwh2_arcadedb_server_spark import graphql

    _register_star_workspace(spark, sf_dir)
    out = graphql.execute(
        spark,
        "query ($seg: String!) { Customer(c_mktsegment: $seg) { ...basics } } "
        "fragment basics on Customer { c_custkey placed { o_orderkey } }",
        variables={"seg": "MACHINERY"},
    )
    return out.where(F.col("c_custkey") <= 150).select(
        "c_custkey",
        F.concat_ws(
            ";",
            F.transform("placed", lambda s: s["o_orderkey"].cast("string")),
        ).alias("orders_repr"),
    )


def q157_graphql_inline_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline fragments (``... on T``, round-7 GraphQL completion —
    the reference bundles the full arcadedb-graphql module,
    pom.xml:109-113): a type condition matching the enclosing label
    splices its fields (including a nested relationship selection), a
    non-matching KNOWN type contributes nothing — both in one
    document, so the compiled plan is identical to the literal
    selection: pushdown + one nested join."""
    from biodwh2_arcadedb_server_spark import graphql

    _register_star_workspace(spark, sf_dir)
    out = graphql.execute(
        spark,
        '{ Customer(c_mktsegment: "HOUSEHOLD") { c_custkey '
        "... on Customer { c_acctbal placed { o_orderkey } } "
        "... on Order { o_totalprice } } }",
    )
    return out.where(F.col("c_custkey") <= 150).select(
        "c_custkey",
        "c_acctbal",
        F.concat_ws(
            ";",
            F.transform("placed", lambda s: s["o_orderkey"].cast("string")),
        ).alias("orders_repr"),
    )


def q165_graphql_aliases_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field aliases (GraphQL spec §2.7) + @skip/@include directives
    (spec §5.5) driven by variables — round-8 parity with the bundled
    graphql-java surface (reference pom.xml:109-113). One document
    exercises: the same scalar under a different response key, a
    variable-driven @skip dropping a field, an @include keeping a
    nested relationship under an alias, and an @include(if: false)
    removing another nested selection entirely. Directives evaluate
    at parse time (where variables substitute), so the compiled
    Catalyst plan carries ONLY the kept selections — a skipped field
    costs nothing at any scale."""
    from biodwh2_arcadedb_server_spark import graphql

    _register_star_workspace(spark, sf_dir)
    out = graphql.execute(
        spark,
        "query($withOrders: Boolean!, $noBal: Boolean!) "
        '{ Customer(c_mktsegment: "AUTOMOBILE") { '
        "ckey: c_custkey "
        "balance: c_acctbal "
        "c_acctbal @skip(if: $noBal) "
        "orders: placed @include(if: $withOrders) { o_orderkey } "
        "never: placed @include(if: false) { o_orderkey } "
        "} }",
        variables={"withOrders": True, "noBal": True},
    )
    assert "c_acctbal" not in out.columns and "never" not in out.columns
    return out.where(F.col("ckey") <= 150).select(
        "ckey",
        "balance",
        F.concat_ws(
            ";",
            F.transform("orders", lambda s: s["o_orderkey"].cast("string")),
        ).alias("orders_repr"),
    )


def q166_dml_return_after_before(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DML ``RETURN AFTER/BEFORE`` (round 8 — ArcadeDB returns the
    mutated records instead of a count, SQL surface [B],
    pom.xml:104-108): UPDATE ... RETURN AFTER $current yields the
    post-mutation rows (stable node ids captured pre-swap, then a
    semi-join against the rewritten dataset); DELETE ... RETURN
    BEFORE yields the deleted rows' pre-mutation state (checkpointed
    ahead of the swap). Deterministic: force-rebuilt Region/Nation
    workspace each run, so DuckDB recomputes both result sets from
    the raw table. Same scale-independent job-count floor as q147."""
    import hashlib
    import os

    from biodwh2_arcadedb_server_spark import workspace as ws

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    wdir = os.path.join("/tmp", f"biodwh2_ret_probe_{tag}")
    node_specs = [s for s in ws.NODE_SPECS if s.label in ("Region", "Nation")]
    edge_specs = [s for s in ws.EDGE_SPECS if s.label == "IN_REGION"]
    ws.build_workspace(
        spark, sf_dir, wdir, force=True,
        node_specs=node_specs, edge_specs=edge_specs,
    )
    ws.load_workspace(spark, wdir)
    upd = arcadesql.execute(
        spark,
        "UPDATE Nation SET n_name = lower(n_name) RETURN AFTER $current "
        "WHERE natural_key < 10",
        workspace_dir=wdir, allow_writes=True,
    )
    dele = arcadesql.execute(
        spark,
        "DELETE FROM Nation RETURN BEFORE WHERE natural_key = 20",
        workspace_dir=wdir, allow_writes=True,
    )
    return upd.select(
        F.lit("after").alias("op"), "natural_key", "n_name"
    ).unionByName(
        dele.select(F.lit("before").alias("op"), "natural_key", "n_name")
    )


def q158_ddl_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 DDL surface end-to-end (ArcadeDB SQL DDL [B],
    `pom.xml:104-108`): on a force-built Region/Nation workspace,
    CREATE a fresh vertex type + typed property + edge type, populate
    them, then exercise every inverse — DROP PROPERTY (column-drop
    rewrite), DROP INDEX (manifest record), DROP TYPE (gated
    directory removal), and ALTER TYPE ... NAME — whose rename
    CASCADES the content-derived identity: node ids are
    xxhash64(label, natural_key), so ids are recomputed and the
    LOCATED edge endpoints remapped via an (old, new) id join. The
    readback traverses the renamed type's edges, proving the remap.
    Deterministic: force-rebuilt from source each run. Same bench
    floor note as q147: ~12 tiny sequential jobs, scale-independent."""
    import hashlib
    import os

    from biodwh2_arcadedb_server_spark import workspace as ws

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    wdir = os.path.join("/tmp", f"biodwh2_ddl_probe_{tag}")
    node_specs = [s for s in ws.NODE_SPECS if s.label in ("Region", "Nation")]
    edge_specs = [s for s in ws.EDGE_SPECS if s.label == "IN_REGION"]
    ws.build_workspace(
        spark, sf_dir, wdir, force=True,
        node_specs=node_specs, edge_specs=edge_specs,
    )
    ws.load_workspace(spark, wdir)
    for stmt in (
        "CREATE VERTEX TYPE Depot",
        "CREATE PROPERTY Depot.cap LONG",
        "CREATE PROPERTY Depot.tmp STRING",
        "INSERT INTO Depot (natural_key, cap) VALUES (1, 500), (2, 700)",
        "CREATE EDGE TYPE LOCATED FROM Depot TO Nation",
        "CREATE EDGE LOCATED FROM 1 TO 3",
        "CREATE EDGE LOCATED FROM 2 TO 5",
        "DROP PROPERTY Depot.tmp",
        "CREATE INDEX ON Depot (natural_key) UNIQUE",
        "DROP INDEX ON Depot (natural_key)",
        "CREATE VERTEX TYPE Scratch",
        "DROP TYPE Scratch",
        "ALTER TYPE Depot NAME Warehouse",
    ):
        arcadesql.execute(spark, stmt, workspace_dir=wdir, allow_writes=True)
    out = arcadesql.execute(
        spark,
        "SELECT natural_key, cap, out('LOCATED').size() AS n_sites "
        "FROM Warehouse ORDER BY natural_key",
    )
    return out.select(
        F.col("natural_key").cast("long").alias("natural_key"),
        F.col("cap").cast("long").alias("cap"),
        F.col("n_sites").cast("int").alias("n_sites"),
    )


def q159_match_edge_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH path variables (round 7, ROADMAP item d): ``{as: e}`` on
    an edge step binds the traversed edge, joining the TYPED
    ``e_<LABEL>`` view instead of the 3-column unified slice so
    RETURN can aggregate edge properties — here total l_quantity per
    customer across the 2-hop Customer-PLACED->Order-CONTAINS->Part
    chain. Compiles to the same single join chain; the only plan
    difference is which edge dataset the step scans (at 100 TB the
    typed dataset is the SMALLER scan: one label's slice + pruned
    columns)."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "MATCH {type: Customer, as: c, where: (c_custkey <= 20)}"
        "-PLACED->{type: Order, as: o}"
        "-CONTAINS{as: e}->{type: Part, as: p} "
        "RETURN c.c_custkey AS c_custkey, "
        "sum(e.l_quantity) AS total_qty, count(*) AS n_lines",
    )


def q160_select_over_traverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT ... FROM (TRAVERSE ...) — ArcadeDB's filter-a-traversal
    Studio pattern (round 7): the frontier BFS materializes once
    (spec-hashed view, same convention as shortestPath), the outer
    SELECT aggregates it relationally, and $depth binds to the
    traversal depth column."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "SELECT label, $depth AS depth, count(*) AS n FROM "
        "(TRAVERSE out('PLACED'), out('CONTAINS') FROM "
        "(SELECT FROM Customer WHERE c_custkey <= 3) MAXDEPTH 2) "
        "WHERE $depth >= 1 GROUP BY label, $depth ORDER BY label, depth",
    )


def q161_collection_agg_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArcadeDB set()/list() collection aggregates through the
    dialect (round 7): per market segment, the SORTED set of nation
    keys plus the row count — compiles to sort_array(collect_set(…)),
    one hash-aggregate shuffle. The set is returned through the
    dialect's ``.asString()`` method chain (round 8): the driver's
    canonicalizer hashes scalar cells, so the probe contract is the
    STRING form ``[k1, k2, …]`` — which also exercises method
    chaining on an aggregate call, not just on fields."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "SELECT c_mktsegment, set(c_nationkey).asString() AS nations, "
        "count(*) AS n "
        "FROM Customer GROUP BY c_mktsegment ORDER BY c_mktsegment",
    )


def q164_correlated_let_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record correlated LET (round 8) — ArcadeDB evaluates
    ``LET $x = (SELECT agg FROM T WHERE <field> =
    $parent.$current.<field>)`` once per outer record (dialect [B],
    reference pom.xml:104-108). The Spark compile emits a correlated
    scalar subquery per binding; Catalyst decorrelates each into ONE
    join + partial aggregate keyed on the correlation column
    (plan-verified BroadcastHashJoin at this scale) — per-record
    semantics at join cost, never a per-row execution, which is what
    survives 100 TB."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "SELECT o_orderkey, o_orderstatus, "
        "$status_total AS status_total, $status_n AS status_n "
        "FROM Order "
        "LET $status_total = (SELECT sum(o_totalprice) FROM Order "
        "WHERE o_orderstatus = $parent.$current.o_orderstatus), "
        "$status_n = (SELECT count(*) FROM Order "
        "WHERE o_orderstatus = $parent.$current.o_orderstatus) "
        "WHERE o_orderkey <= 100 ORDER BY o_orderkey",
    )


def q167_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized dialect statement (round 8) — the ``{"command",
    "params"}`` wire contract of ArcadeDB's v1 REST API and of every
    client driver (the reference embeds arcadedb-server,
    pom.xml:104-108). Named ``:name`` placeholders bind as ESCAPED
    literals before parsing (``arcadesql.bind_params``): the hostile
    ``:hostile`` value here stays one string literal — proving the
    injection boundary — while the list value compiles to an IN
    array. Binding is textual, so the compiled statement is still ONE
    Spark SQL string: pushdown of the bound predicates into the
    parquet scan applies exactly as for inline literals."""
    _register_star_workspace(spark, sf_dir)
    return arcadesql.execute(
        spark,
        "SELECT c_mktsegment, count(*) AS n, avg(c_acctbal) AS avg_bal "
        "FROM Customer "
        "WHERE c_acctbal > :minBal AND c_mktsegment IN :segs "
        "AND c_mktsegment <> :hostile "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment",
        params={
            "minBal": 1000.0,
            "segs": ["BUILDING", "AUTOMOBILE", "MACHINERY"],
            "hostile": "x' OR '1'='1",
        },
    )


def q171_rid_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RID-literal addressing (`SELECT FROM #bucket:pos`) round-trip —
    the last commonly-typed ArcadeDB SQL form (pom.xml:104-108 [B];
    RIDs are how Studio deep-links records). Force-builds the small
    Region/Nation workspace, echoes ``@rid`` for three nations through
    one dialect SELECT, then fetches each back through a RID-literal
    FROM (one also composes a WHERE) and returns the re-read
    (natural_key, n_name) rows. Divergence documented at
    workspace.RID_BUCKET_LABELS: bucket = manifest node-type order,
    pos = content-derived node_id — the echo round-trip is the
    contract, not ArcadeDB's physical page:slot. The per-RID lookup
    compiles to `n_Nation WHERE node_id = <p>` — a pushed-down point
    predicate on the 8-byte id column, the same plan shape an indexed
    point read keeps at 100 TB."""
    import hashlib
    import os

    from biodwh2_arcadedb_server_spark import workspace as ws

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    wdir = os.path.join("/tmp", f"biodwh2_rid_probe_{tag}")
    node_specs = [s for s in ws.NODE_SPECS if s.label in ("Region", "Nation")]
    edge_specs = [s for s in ws.EDGE_SPECS if s.label == "IN_REGION"]
    ws.build_workspace(
        spark, sf_dir, wdir, force=True,
        node_specs=node_specs, edge_specs=edge_specs,
    )
    ws.load_workspace(spark, wdir)
    bucket = ws.RID_BUCKET_LABELS.index("Nation")
    echoed = arcadesql.execute(
        spark,
        "SELECT natural_key, @rid AS rid FROM Nation "
        "WHERE natural_key IN [3, 5, 9]",
    ).collect()  # bounded: 3 rows (the interactive deep-link shape)
    out = None
    for r in sorted(echoed, key=lambda x: x.natural_key):
        stmt = f"SELECT natural_key, n_name FROM #{bucket}:{r.rid}"
        if r.natural_key == 5:
            # WHERE composes with the RID predicate
            stmt += " WHERE n_name IS NOT NULL"
        got = arcadesql.execute(spark, stmt)
        out = got if out is None else out.unionByName(got)
    return out.orderBy("natural_key")


QUERIES = {
    "q171_rid_lookup": q171_rid_lookup,
    "q151_graphql_variables": q151_graphql_variables,
    "q167_parameterized_query": q167_parameterized_query,
    "q164_correlated_let_dialect": q164_correlated_let_dialect,
    "q157_graphql_inline_fragments": q157_graphql_inline_fragments,
    "q165_graphql_aliases_directives": q165_graphql_aliases_directives,
    "q154_graphql_fragments": q154_graphql_fragments,
    "q136_match_dialect": q136_match_dialect,
    "q147_dml_readback": q147_dml_readback,
    "q158_ddl_readback": q158_ddl_readback,
    "q166_dml_return_after_before": q166_dml_return_after_before,
    "q159_match_edge_alias": q159_match_edge_alias,
    "q160_select_over_traverse": q160_select_over_traverse,
    "q161_collection_agg_dialect": q161_collection_agg_dialect,
    "q148_match_optional_dialect": q148_match_optional_dialect,
    "q150_unwind_dialect": q150_unwind_dialect,
    "q153_match_vl_dialect": q153_match_vl_dialect,
    "q155_methods_dialect": q155_methods_dialect,
    "q149_match_not_dialect": q149_match_not_dialect,
    "q141_agg_dialect": q141_agg_dialect,
    "q145_graphql": q145_graphql,
    "q137_traverse_dialect": q137_traverse_dialect,
    "q138_let_dialect": q138_let_dialect,
    "q139_degree_dialect": q139_degree_dialect,
    "q140_expand_dialect": q140_expand_dialect,
    "q146_shortestpath_dialect": q146_shortestpath_dialect,
}

ORACLE = {
    "q171_rid_lookup": """
        SELECT CAST(n_nationkey AS BIGINT) AS natural_key, n_name
        FROM nation WHERE n_nationkey IN (3, 5, 9)
        ORDER BY natural_key
    """,
    "q167_parameterized_query": """
        SELECT c_mktsegment, count(*) AS n, avg(c_acctbal) AS avg_bal
        FROM customer
        WHERE c_acctbal > 1000.0
          AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
          AND c_mktsegment <> 'x'' OR ''1''=''1'
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "q166_dml_return_after_before": """
        SELECT 'after' AS op, n_nationkey AS natural_key,
               lower(n_name) AS n_name
        FROM nation WHERE n_nationkey < 10
        UNION ALL
        SELECT 'before' AS op, n_nationkey AS natural_key, n_name
        FROM nation WHERE n_nationkey = 20
    """,
    "q164_correlated_let_dialect": """
        SELECT o.o_orderkey, o.o_orderstatus,
               (SELECT sum(o2.o_totalprice) FROM orders o2
                WHERE o2.o_orderstatus = o.o_orderstatus) AS status_total,
               (SELECT count(*) FROM orders o2
                WHERE o2.o_orderstatus = o.o_orderstatus) AS status_n
        FROM orders o WHERE o.o_orderkey <= 100 ORDER BY o.o_orderkey
    """,
    "q165_graphql_aliases_directives": """
        SELECT c.c_custkey AS ckey, c.c_acctbal AS balance,
               COALESCE(string_agg(
                   CAST(o.o_orderkey AS VARCHAR),
                   ';' ORDER BY o.o_orderkey), '') AS orders_repr
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'AUTOMOBILE' AND c.c_custkey <= 150
        GROUP BY c.c_custkey, c.c_acctbal
    """,
    "q157_graphql_inline_fragments": """
        SELECT c.c_custkey, c.c_acctbal,
               COALESCE(string_agg(
                   CAST(o.o_orderkey AS VARCHAR),
                   ';' ORDER BY o.o_orderkey), '') AS orders_repr
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'HOUSEHOLD' AND c.c_custkey <= 150
        GROUP BY c.c_custkey, c.c_acctbal
    """,
    "q154_graphql_fragments": """
        SELECT c.c_custkey,
               COALESCE(string_agg(
                   CAST(o.o_orderkey AS VARCHAR),
                   ';' ORDER BY o.o_orderkey), '') AS orders_repr
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'MACHINERY' AND c.c_custkey <= 150
        GROUP BY c.c_custkey
    """,
    "q151_graphql_variables": """
        SELECT c.c_custkey,
               COALESCE(string_agg(
                   CAST(o.o_orderkey AS VARCHAR),
                   ';' ORDER BY o.o_orderkey), '') AS orders_repr
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey <= 120
        GROUP BY c.c_custkey
    """,
    "q155_methods_dialect": """
        SELECT c_custkey,
               lower(c_mktsegment) AS seg,
               substr(c_mktsegment, 1, 3) AS pre,
               CAST(strpos(c_mktsegment, 'U') - 1 AS INT) AS iu,
               CAST(length(c_mktsegment) + 1 AS INT) AS ln
        FROM customer WHERE c_custkey <= 50 ORDER BY c_custkey
    """,
    "q153_match_vl_dialect": """
        WITH reach AS (
            SELECT DISTINCT c.c_custkey, o.o_orderkey * 3 + 1 AS nid
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey <= 20
            UNION
            SELECT DISTINCT c.c_custkey, l.l_partkey * 3 + 2 AS nid
            FROM customer c
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_custkey <= 20
        )
        SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_reach
        FROM reach GROUP BY c_custkey ORDER BY c_custkey
    """,
    "q150_unwind_dialect": """
        SELECT c.c_custkey AS c_custkey,
               CAST(o.o_orderkey * 3 + 1 AS BIGINT) AS ord_node
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey <= 30
    """,
    "q148_match_optional_dialect": """
        SELECT c.c_custkey AS c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_f_orders
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        WHERE c.c_custkey <= 60
        GROUP BY c.c_custkey
        ORDER BY c_custkey
    """,
    "q149_match_not_dialect": """
        SELECT c.c_custkey AS c_custkey
        FROM customer c
        WHERE c.c_custkey <= 100
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'O')
        ORDER BY c_custkey
    """,
    "q161_collection_agg_dialect": """
        SELECT c_mktsegment,
               '[' || array_to_string(
                   list_sort(list(DISTINCT c_nationkey)), ', ')
                   || ']' AS nations,
               COUNT(*) AS n
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "q160_select_over_traverse": """
        WITH d1 AS (
            SELECT DISTINCT CAST(o.o_orderkey * 3 + 1 AS BIGINT) AS node_id,
                   'Order' AS label, 1 AS depth
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey <= 3
        ), d2 AS (
            SELECT DISTINCT CAST(l.l_partkey * 3 + 2 AS BIGINT) AS node_id,
                   'Part' AS label, 2 AS depth
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey <= 3
        )
        SELECT label, depth, COUNT(*) AS n
        FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
        GROUP BY label, depth ORDER BY label, depth
    """,
    "q159_match_edge_alias": """
        SELECT c.c_custkey,
               SUM(CAST(l.l_quantity AS DOUBLE)) AS total_qty,
               COUNT(*) AS n_lines
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_custkey <= 20
        GROUP BY c.c_custkey
    """,
    "q158_ddl_readback": """
        SELECT CAST(1 AS BIGINT) AS natural_key, CAST(500 AS BIGINT) AS cap,
               CAST(1 AS INT) AS n_sites
        UNION ALL
        SELECT 2, 700, 1
        ORDER BY natural_key
    """,
    "q147_dml_readback": """
        SELECT CAST(n.n_nationkey AS BIGINT) AS natural_key,
               CASE WHEN n.n_nationkey < 5 THEN lower(n.n_name)
                    ELSE n.n_name END AS n_name,
               CAST(1 + CASE WHEN n.n_nationkey = 0 THEN 1 ELSE 0 END
                    AS INT) AS degree
        FROM nation n WHERE n.n_nationkey <> 7
        UNION ALL SELECT 990, 'ATLANTIS', 0
        UNION ALL SELECT 991, 'MU', 0
        ORDER BY natural_key
    """,
    "q141_agg_dialect": """
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MIN(o_totalprice), 4) AS min_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q145_graphql": """
        SELECT c.c_custkey,
               ROUND(c.c_acctbal, 4) AS c_acctbal,
               COALESCE(string_agg(
                   CAST(o.o_orderkey AS VARCHAR) || ':' || o.o_orderstatus,
                   ';' ORDER BY o.o_orderkey), '') AS orders_repr
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey <= 40
        GROUP BY c.c_custkey, c.c_acctbal
    """,
    "q136_match_dialect": """
        SELECT c.c_custkey AS c_custkey,
               CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT) AS n_parts,
               CAST(COUNT(*) AS BIGINT) AS n_paths
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_custkey <= 50 AND o.o_orderstatus = 'F'
        GROUP BY c.c_custkey
    """,
    "q137_traverse_dialect": """
        WITH roots AS (
            SELECT CAST(c_custkey * 3 AS BIGINT) AS node_id,
                   'Customer' AS label,
                   CAST(c_custkey AS VARCHAR) AS natural_key,
                   0 AS depth
            FROM customer WHERE c_custkey <= 3
        ), d1 AS (
            SELECT DISTINCT CAST(o.o_orderkey * 3 + 1 AS BIGINT) AS node_id,
                   'Order' AS label,
                   CAST(o.o_orderkey AS VARCHAR) AS natural_key,
                   1 AS depth
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey <= 3
        ), d2 AS (
            SELECT DISTINCT CAST(l.l_partkey * 3 + 2 AS BIGINT) AS node_id,
                   'Part' AS label,
                   CAST(l.l_partkey AS VARCHAR) AS natural_key,
                   2 AS depth
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey <= 3
        )
        SELECT * FROM roots
        UNION ALL SELECT * FROM d1
        UNION ALL SELECT * FROM d2
    """,
    "q138_let_dialect": """
        SELECT c_custkey, c_acctbal,
               (SELECT MAX(c_acctbal) FROM customer) AS top_bal
        FROM customer
        WHERE c_acctbal >= (SELECT MAX(c_acctbal) FROM customer) - 1000
    """,
    "q139_degree_dialect": """
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS INTEGER) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey <= 100
        GROUP BY c.c_custkey
    """,
    "q140_expand_dialect": """
        SELECT DISTINCT CAST(o.o_orderkey * 3 + 1 AS BIGINT) AS node_id,
               'Order' AS label,
               CAST(o.o_orderkey AS VARCHAR) AS natural_key
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey <= 10
    """,
    "q146_shortestpath_dialect": """
        WITH RECURSIVE g AS (
          SELECT DISTINCT CAST(o_custkey*3 AS BIGINT) AS src,
                 CAST(o_orderkey*3+1 AS BIGINT) AS dst FROM orders
          UNION
          SELECT DISTINCT CAST(l_orderkey*3+1 AS BIGINT),
                 CAST(l_partkey*3+2 AS BIGINT) FROM lineitem
        ),
        walk(node_id, depth, path) AS (
          SELECT CAST(3 AS BIGINT), 0, [CAST(3 AS BIGINT)]
          UNION ALL
          SELECT g.dst, walk.depth+1, list_append(walk.path, g.dst)
          FROM walk JOIN g ON g.src = walk.node_id
          WHERE walk.depth < 10 AND NOT list_contains(walk.path, g.dst)
        ),
        best AS (
          SELECT node_id, path,
            ROW_NUMBER() OVER (
                PARTITION BY node_id
                ORDER BY depth, list_reverse(path)
            ) AS rn
          FROM walk
        ),
        parts AS (
          SELECT DISTINCT CAST(l_partkey*3+2 AS BIGINT) AS node_id,
                 CAST(l_partkey AS VARCHAR) AS natural_key
          FROM lineitem
        )
        SELECT p.node_id, p.natural_key,
               COALESCE(array_to_string(b.path, ','), '') AS path_repr,
               COALESCE(CAST(len(b.path) AS INT), -1) AS path_len
        FROM parts p
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.node_id = p.node_id
    """,
}


def q184_graphql_mutation_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphQL mutations through the gated DML machinery + a
    ``__typename``-bearing readback — the B20 closure item (VERDICT
    r11 #2; the reference bundles arcadedb-graphql, pom.xml:109-113,
    whose endpoint real clients drive with exactly this create/
    update/delete + re-query pattern). q147's device, GraphQL-side:
    force-build a Region+Nation workspace, then createNation (one
    literal, one via variables — the client path), updateNation with
    ``_set``, deleteNation, and read the end state back through a
    GraphQL query with ``__typename`` and the in_region relationship.
    Mutations are partition-parallel dataset recomputes + atomic view
    swaps (the Spark-native model, no in-place edits at 100 TB);
    writes are opt-in per call (allow_writes), mirroring the
    reference's read-only default.

    Bench floor note: like q147, scale-independent (fixed-size dims)
    and composed of ~20 tiny sequential jobs — a job-count floor,
    not plan cost."""
    import hashlib
    import os

    from biodwh2_arcadedb_server_spark import graphql
    from biodwh2_arcadedb_server_spark import workspace as ws

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    wdir = os.path.join("/tmp", f"biodwh2_gqlmut_probe_{tag}")
    node_specs = [s for s in ws.NODE_SPECS if s.label in ("Region", "Nation")]
    edge_specs = [s for s in ws.EDGE_SPECS if s.label == "IN_REGION"]
    ws.build_workspace(
        spark, sf_dir, wdir, force=True,
        node_specs=node_specs, edge_specs=edge_specs,
    )
    ws.load_workspace(spark, wdir)
    for doc, var in (
        ('mutation { createNation(natural_key: 990, n_name: "ATLANTIS") }', None),
        (
            'mutation ($k: Int!) { createNation(natural_key: $k, n_name: "MU") }',
            {"k": 991},
        ),
        ('mutation { updateNation(natural_key: 2, _set: {n_name: "deux"}) }', None),
        ("mutation { deleteNation(natural_key: 7) }", None),
    ):
        graphql.execute(
            spark, doc, variables=var, workspace_dir=wdir, allow_writes=True
        )
    out = graphql.execute(
        spark,
        "{ Nation { __typename natural_key n_name in_region { r_name } } }",
    )
    return out.select(
        F.col("__typename").alias("typename"),
        "natural_key",
        "n_name",
        F.concat_ws(
            ";", F.transform("in_region", lambda s: s["r_name"])
        ).alias("region_repr"),
    )


QUERIES["q184_graphql_mutation_roundtrip"] = q184_graphql_mutation_roundtrip
ORACLE["q184_graphql_mutation_roundtrip"] = """
    SELECT 'Nation' AS typename,
           CAST(n.n_nationkey AS VARCHAR) AS natural_key,
           CASE WHEN n.n_nationkey = 2 THEN 'deux' ELSE n.n_name END AS n_name,
           r.r_name AS region_repr
    FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE n.n_nationkey <> 7
    UNION ALL SELECT 'Nation', '990', 'ATLANTIS', ''
    UNION ALL SELECT 'Nation', '991', 'MU', ''
"""


def q186_ddl_rename_128bit_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 128-bit DML completion probe (VERDICT r11 #4): the q147
    statement battery plus ``ALTER TYPE ... NAME`` on an
    ``id_bits=128`` workspace — INSERT, UPDATE, DELETE VERTEX (edge
    cascade), CREATE EDGE with the second lane derived from the
    endpoint node tables (src2/dst2 — the dialect feeds first-lane
    rows only), then the rename's TWO-LANE remap (both ids recomputed
    from (new_label, natural_key); edge endpoints remapped via the
    16-byte pair join so a first-lane collision cannot cross-wire),
    and a degree readback through the renamed label. The oracle
    recomputes the end state from the raw tables — identical to
    q147's because the id scheme is invisible to the relational
    surface, which is exactly the property under test.

    Bench floor note: like q147, scale-independent fixed-size dims,
    ~25 tiny sequential jobs — a job-count floor, not plan cost."""
    import hashlib
    import os

    from biodwh2_arcadedb_server_spark import workspace as ws

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    wdir = os.path.join("/tmp", f"biodwh2_dml128_probe_{tag}")
    node_specs = [s for s in ws.NODE_SPECS if s.label in ("Region", "Nation")]
    edge_specs = [s for s in ws.EDGE_SPECS if s.label == "IN_REGION"]
    ws.build_workspace(
        spark, sf_dir, wdir, force=True,
        node_specs=node_specs, edge_specs=edge_specs, id_bits=128,
    )
    ws.load_workspace(spark, wdir)
    for stmt in (
        "INSERT INTO Nation (natural_key, n_name) VALUES (990, 'ATLANTIS')",
        "UPDATE Nation SET n_name = lower(n_name) WHERE natural_key < 5",
        "DELETE VERTEX Nation WHERE natural_key = 7",
        "CREATE EDGE IN_REGION FROM 0 TO 1",
        "ALTER TYPE Nation NAME Country",
    ):
        arcadesql.execute(spark, stmt, workspace_dir=wdir, allow_writes=True)
    out = arcadesql.execute(
        spark,
        "SELECT natural_key, n_name, both().size() AS degree "
        "FROM Country ORDER BY natural_key",
    )
    return out.withColumn("degree", F.col("degree").cast("int"))


QUERIES["q186_ddl_rename_128bit_readback"] = q186_ddl_rename_128bit_readback
ORACLE["q186_ddl_rename_128bit_readback"] = """
    SELECT CAST(n.n_nationkey AS BIGINT) AS natural_key,
           CASE WHEN n.n_nationkey < 5 THEN lower(n.n_name)
                ELSE n.n_name END AS n_name,
           CAST(1 + CASE WHEN n.n_nationkey = 0 THEN 1 ELSE 0 END
                AS INT) AS degree
    FROM nation n WHERE n.n_nationkey <> 7
    UNION ALL SELECT 990, 'ATLANTIS', 0
    ORDER BY natural_key
"""


# --- B20 closure: stock getIntrospectionQuery round-trip (round 13) ---------------

# graphql-js's getIntrospectionQuery() output, verbatim shape (public
# GraphQL spec §4.5 / graphql-js src/utilities/getIntrospectionQuery.ts)
# minus deprecation-era additions the model types as NULLs anyway.
_STOCK_INTROSPECTION = """
query IntrospectionQuery {
  __schema {
    queryType { name }
    mutationType { name }
    subscriptionType { name }
    types { ...FullType }
    directives { name description locations args { ...InputValue } }
  }
}
fragment FullType on __Type {
  kind name description
  fields(includeDeprecated: true) {
    name description
    args { ...InputValue }
    type { ...TypeRef }
    isDeprecated deprecationReason
  }
  inputFields { ...InputValue }
  interfaces { ...TypeRef }
  enumValues(includeDeprecated: true) {
    name description isDeprecated deprecationReason
  }
  possibleTypes { ...TypeRef }
}
fragment InputValue on __InputValue {
  name description type { ...TypeRef } defaultValue
}
fragment TypeRef on __Type {
  kind name
  ofType { kind name ofType { kind name ofType { kind name ofType {
    kind name ofType { kind name ofType { kind name ofType {
    kind name } } } } } } }
}
"""


def _render_typeref(c, levels: int = 8):
    """Nested TypeRef struct column → 'LIST<OBJECT:Order>' /
    'SCALAR:Long' — a flat string the driver canonicalizer hashes.
    ``levels`` is the stock fragment's struct depth (kind/name + 7
    nested ofType); the innermost struct has NO ofType field, so the
    recursion must stop with the document, exactly like a JSON client
    truncates. Model chains are ≤ 2 deep — truncation never bites."""
    base = F.concat(c["kind"], F.lit(":"), F.coalesce(c["name"], F.lit("")))
    if levels <= 1:
        return F.when(c.isNull(), F.lit("")).otherwise(base)
    return F.when(c.isNull(), F.lit("")).otherwise(
        F.when(
            c["kind"].isin("LIST", "NON_NULL"),
            F.concat(
                c["kind"], F.lit("<"),
                _render_typeref(c["ofType"], levels - 1), F.lit(">"),
            ),
        ).otherwise(base)
    )


def q189_graphql_full_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL stock ``getIntrospectionQuery()`` document (not just
    the GraphiQL opening document) through graphql.execute, flattened
    to hashable rows (VERDICT r12 #2; reference surface: the bundled
    arcadedb-graphql module, src/pom.xml:109-113, answers the same
    document). Covers the spec shape a buildClientSchema client
    depends on: per-type field lists with full TypeRef wrapper
    chains, OBJECT types carrying ``interfaces: []`` (not null),
    SCALAR types carrying null fields, a null ``subscriptionType``,
    and the executable @skip/@include directives with their
    NON_NULL<Boolean> ``if:`` argument. The DuckDB twin derives the
    parquet-backed columns' GraphQL scalar names from
    information_schema over the SAME parquet views — the typemap
    itself is what's being cross-checked — plus literal rows for the
    synthetic/root surface. All catalog metadata: no table scans on
    the Spark side."""
    from biodwh2_arcadedb_server_spark import graphql
    from biodwh2_arcadedb_server_spark.graphql import Rel

    _register_star_workspace(spark, sf_dir)
    rels = {
        "Customer": {"placed": Rel("PLACED", "out", "Order")},
        "Order": {"contains": Rel("CONTAINS", "out", "Part")},
        "Part": {},
    }
    full = graphql.execute(spark, _STOCK_INTROSPECTION, relationships=rels)

    t = full.select(F.explode("types").alias("t"))
    field_rows = (
        t.where(F.col("t.fields").isNotNull())
        .select(
            F.col("t.name").alias("tname"),
            F.explode("t.fields").alias("f"),
        )
        .select(
            F.lit("field").alias("section"),
            "tname",
            F.col("f.name").alias("fname"),
            _render_typeref(F.col("f.type")).alias("tref"),
        )
    )
    type_rows = t.select(
        F.lit("type").alias("section"),
        F.col("t.name").alias("tname"),
        F.col("t.kind").alias("fname"),
        F.when(F.col("t.interfaces").isNull(), F.lit("ifaces=null"))
        .otherwise(
            F.concat(
                F.lit("ifaces["), F.size("t.interfaces").cast("string"),
                F.lit("]"),
            )
        )
        .alias("tref"),
    )
    root_rows = full.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("queryType").alias("tname"),
                    F.col("queryType.name").alias("fname"),
                ),
                F.struct(
                    F.lit("mutationType").alias("tname"),
                    F.col("mutationType.name").alias("fname"),
                ),
                F.struct(
                    F.lit("subscriptionType").alias("tname"),
                    F.coalesce(
                        F.col("subscriptionType.name"), F.lit("<null>")
                    ).alias("fname"),
                ),
            )
        ).alias("r")
    ).select(
        F.lit("root").alias("section"),
        F.col("r.tname").alias("tname"),
        F.col("r.fname").alias("fname"),
        F.lit("").alias("tref"),
    )
    dir_rows = full.select(F.explode("directives").alias("d")).select(
        F.lit("directive").alias("section"),
        F.col("d.name").alias("tname"),
        F.concat_ws("|", "d.locations").alias("fname"),
        F.concat_ws(
            ",",
            F.transform(
                "d.args",
                lambda a: F.concat(
                    a["name"], F.lit(":"), _render_typeref(a["type"])
                ),
            ),
        ).alias("tref"),
    )
    # PIN the projected universe to the star workspace: the
    # introspection enumerates every n_<Label> view in the SESSION
    # catalog, and probes sharing a session (the pytest "tests"
    # fixture, a bench segment after a DML probe) may have loaded a
    # full 7-type workspace — extra labels would leak extra type
    # rows, extra Query/Mutation fields and extra scalars into the
    # hash. The full document still compiles over everything; only
    # the hashed projection is label-stable.
    _star = ("Customer", "Order", "Part")
    _types = _star + (
        "Query", "Mutation", "MutationResult",
        "Boolean", "Float", "Int", "Long", "String",
    )
    _mut = tuple(f"{v}{l}" for v in ("create", "update", "delete") for l in _star)
    keep = F.col("tname").isin(*_types) & (
        (F.col("section") != F.lit("field"))
        | ~F.col("tname").isin("Query", "Mutation")
        | ((F.col("tname") == "Query") & F.col("fname").isin(*_star))
        | ((F.col("tname") == "Mutation") & F.col("fname").isin(*_mut))
    )
    return (
        field_rows.unionByName(type_rows)
        .where(keep)
        .unionByName(root_rows)
        .unionByName(dir_rows)
        .orderBy("section", "tname", "fname")
    )


QUERIES["q189_graphql_full_introspection"] = q189_graphql_full_introspection
# DuckDB twin: the parquet-backed scalar fields come from
# information_schema.columns over the same registered parquet views
# (BIGINT→Long, INTEGER→Int, DOUBLE→Float, VARCHAR→String — the
# typemap under test); everything synthetic (node ids, relationship
# fields, roots, directives, MutationResult) is pinned literally.
ORACLE["q189_graphql_full_introspection"] = """
    WITH colmap AS (
      SELECT table_name, column_name,
             CASE data_type
               WHEN 'BIGINT' THEN 'SCALAR:Long'
               WHEN 'INTEGER' THEN 'SCALAR:Int'
               WHEN 'DOUBLE' THEN 'SCALAR:Float'
               WHEN 'VARCHAR' THEN 'SCALAR:String'
               ELSE 'SCALAR:String'
             END AS tref
      FROM information_schema.columns
    ),
    labels(tname) AS (VALUES ('Customer'), ('Order'), ('Part')),
    fields AS (
      SELECT 'Customer' AS tname, column_name AS fname, tref
      FROM colmap WHERE table_name = 'customer' AND column_name IN
        ('c_custkey', 'c_nationkey', 'c_acctbal', 'c_mktsegment')
      UNION ALL
      SELECT 'Order', column_name, tref
      FROM colmap WHERE table_name = 'orders' AND column_name IN
        ('o_orderkey', 'o_orderstatus', 'o_totalprice')
      UNION ALL
      SELECT 'Part', 'p_partkey', tref
      FROM colmap WHERE table_name = 'lineitem' AND column_name = 'l_partkey'
      UNION ALL
      SELECT l.tname, s.fname, s.tref
      FROM labels l, (VALUES ('node_id', 'SCALAR:Long'),
                             ('label', 'SCALAR:String'),
                             ('natural_key', 'SCALAR:String')) s(fname, tref)
      UNION ALL
      SELECT 'Customer', 'placed', 'LIST<OBJECT:Order>'
      UNION ALL
      SELECT 'Order', 'contains', 'LIST<OBJECT:Part>'
      UNION ALL
      SELECT 'Query', tname, 'LIST<OBJECT:' || tname || '>' FROM labels
      UNION ALL
      SELECT 'Mutation', v.verb || l.tname, 'OBJECT:MutationResult'
      FROM labels l, (VALUES ('create'), ('update'), ('delete')) v(verb)
      UNION ALL
      SELECT 'MutationResult', s.fname, s.tref
      FROM (VALUES ('operation', 'SCALAR:String'),
                   ('label', 'SCALAR:String'),
                   ('count', 'SCALAR:Long')) s(fname, tref)
    ),
    types(tname, fname, tref) AS (
      SELECT tname, 'OBJECT', 'ifaces[0]' FROM labels
      UNION ALL
      SELECT v.tname, 'OBJECT', 'ifaces[0]'
      FROM (VALUES ('Query'), ('Mutation'), ('MutationResult')) v(tname)
      UNION ALL
      SELECT v.tname, 'SCALAR', 'ifaces=null'
      FROM (VALUES ('Boolean'), ('Float'), ('Int'),
                   ('Long'), ('String')) v(tname)
    )
    SELECT 'field' AS section, tname, fname, tref FROM fields
    UNION ALL
    SELECT 'type', tname, fname, tref FROM types
    UNION ALL
    SELECT 'root', v.tname, v.fname, '' FROM (VALUES
      ('queryType', 'Query'), ('mutationType', 'Mutation'),
      ('subscriptionType', '<null>')) v(tname, fname)
    UNION ALL
    SELECT 'directive', v.tname,
           'FIELD|FRAGMENT_SPREAD|INLINE_FRAGMENT',
           'if:NON_NULL<SCALAR:Boolean>'
    FROM (VALUES ('include'), ('skip')) v(tname)
    ORDER BY section, tname, fname
"""


# --- B: schema TVF targets (round 14, VERDICT r13 #7 / ROADMAP #4) ----------------
def q193_schema_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT FROM schema:{types|indexes|buckets}`` — ArcadeDB's
    system table-valued FROM targets (the Studio schema browser's
    queries; the reference serves that browser through its bundled
    Studio, pom.xml [B]). Force-builds the Region/Nation workspace,
    creates a UNIQUE index through dialect DDL, then reads all three
    schema tables back through dialect SELECTs (one with WHERE, one
    with projections) and unifies them into a single audit frame. The
    rows come from the manifest RE-READ at query time, so the
    just-created index is visible without a reload — that liveness is
    half of what this probe pins. Fixed-size dims at every SF: the
    oracle recomputes counts from the raw tables and hardcodes the
    structure the build specs imply."""
    import hashlib
    import os

    from biodwh2_arcadedb_server_spark import workspace as ws

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    wdir = os.path.join("/tmp", f"biodwh2_tvf_probe_{tag}")
    node_specs = [s for s in ws.NODE_SPECS if s.label in ("Region", "Nation")]
    edge_specs = [s for s in ws.EDGE_SPECS if s.label == "IN_REGION"]
    ws.build_workspace(
        spark, sf_dir, wdir, force=True,
        node_specs=node_specs, edge_specs=edge_specs,
    )
    ws.load_workspace(spark, wdir)
    arcadesql.execute(
        spark, "CREATE INDEX ON Nation (natural_key) UNIQUE",
        workspace_dir=wdir, allow_writes=True,
    )
    types = arcadesql.execute(
        spark, "SELECT name, kind, records, properties FROM schema:types"
    ).select(
        F.lit("type").alias("section"),
        F.col("name"),
        F.concat(F.col("kind"), F.lit(":"), F.concat_ws(",", "properties"))
        .alias("detail"),
        F.col("records"),
    )
    idx = arcadesql.execute(
        spark, "SELECT name, type_name, is_unique FROM schema:indexes"
    ).select(
        F.lit("index").alias("section"),
        F.col("name"),
        F.concat(
            F.col("type_name"),
            F.when(F.col("is_unique"), F.lit(":unique")).otherwise(F.lit("")),
        ).alias("detail"),
        F.lit(None).cast("long").alias("records"),
    )
    buckets = arcadesql.execute(
        spark, "SELECT bucket, name FROM schema:buckets WHERE bucket >= 0"
    ).select(
        F.lit("bucket").alias("section"),
        F.col("name"),
        F.col("bucket").cast("string").alias("detail"),
        F.lit(None).cast("long").alias("records"),
    )
    return types.unionByName(idx).unionByName(buckets).orderBy(
        "section", "name"
    )


QUERIES["q193_schema_tvf"] = q193_schema_tvf
ORACLE["q193_schema_tvf"] = """
    SELECT * FROM (
      SELECT 'bucket' AS section, 'Region' AS name, '0' AS detail,
             CAST(NULL AS BIGINT) AS records
      UNION ALL
      SELECT 'bucket', 'Nation', '1', NULL
      UNION ALL
      SELECT 'index', 'Nation[natural_key]', 'Nation:unique', NULL
      UNION ALL
      SELECT 'type', 'Region', 'vertex:r_name',
             (SELECT count(*) FROM region)
      UNION ALL
      SELECT 'type', 'Nation', 'vertex:n_name',
             (SELECT count(*) FROM nation)
      UNION ALL
      SELECT 'type', 'IN_REGION', 'edge:',
             (SELECT count(*) FROM nation)
    ) ORDER BY section, name
"""
