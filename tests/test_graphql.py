"""B20 GraphQL surface: executable-document subset compiled to one
Spark SQL statement over the workspace views, differentially checked
against the equivalent Spark SQL."""

from __future__ import annotations

import pytest

from biodwh2_arcadedb_server_spark import graphql
from biodwh2_arcadedb_server_spark.workspace import build_workspace, load_workspace


@pytest.fixture(scope="module")
def ws(spark, sf_small, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("gqlws"))
    build_workspace(spark, sf_small, d)
    load_workspace(spark, d)
    return d


def test_scalar_selection_with_filter(spark, ws):
    df = graphql.execute(
        spark, '{ Customer(c_mktsegment: "BUILDING") { c_name c_acctbal } }'
    )
    assert df.columns == ["c_name", "c_acctbal"]
    expect = spark.sql(
        "SELECT c_name, c_acctbal FROM n_Customer WHERE c_mktsegment = 'BUILDING'"
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, expect.collect()))
    assert expect.count() > 0


def test_limit_caps_root(spark, ws):
    df = graphql.execute(spark, "{ Customer(limit: 5) { c_name } }")
    assert df.count() == 5


def test_nested_out_edge(spark, ws):
    df = graphql.execute(
        spark, "{ Nation(natural_key: 3) { n_name in_region { r_name } } }"
    )
    rows = df.collect()
    assert len(rows) == 1
    expect = spark.sql(
        """SELECT r.r_name FROM n_Nation n
           JOIN e_IN_REGION e ON e.src = n.node_id
           JOIN n_Region r ON r.node_id = e.dst
           WHERE n.natural_key = 3"""
    ).collect()
    assert [x.r_name for x in rows[0].in_region] == [r.r_name for r in expect]


def test_nested_rev_edge_and_child_filter(spark, ws):
    # Orders of one customer, reverse-traversed from Order via _rev is
    # exercised the other way: Customer -> placed -> Order with child filter
    df = graphql.execute(
        spark,
        '{ Customer(natural_key: 1) { c_name placed(o_orderstatus: "O") { o_orderstatus o_totalprice } } }',
    )
    rows = df.collect()
    assert len(rows) == 1
    expect = spark.sql(
        """SELECT o.o_totalprice FROM n_Customer c
           JOIN e_PLACED e ON e.src = c.node_id
           JOIN n_Order o ON o.node_id = e.dst
           WHERE c.natural_key = 1 AND o.o_orderstatus = 'O'"""
    ).count()
    assert len(rows[0].placed) == expect
    assert all(p.o_orderstatus == "O" for p in rows[0].placed)


def test_two_level_nesting(spark, ws):
    df = graphql.execute(
        spark,
        "{ Customer(natural_key: 1) { c_name cust_in_nation { n_name in_region { r_name } } } }",
    )
    rows = df.collect()
    assert len(rows) == 1
    nat = rows[0].cust_in_nation
    assert len(nat) == 1
    assert len(nat[0].in_region) == 1
    expect = spark.sql(
        """SELECT r.r_name FROM n_Customer c
           JOIN e_CUST_IN_NATION cn ON cn.src = c.node_id
           JOIN n_Nation n ON n.node_id = cn.dst
           JOIN e_IN_REGION ir ON ir.src = n.node_id
           JOIN n_Region r ON r.node_id = ir.dst
           WHERE c.natural_key = 1"""
    ).collect()[0].r_name
    assert nat[0].in_region[0].r_name == expect


def test_parents_without_children_keep_empty_array(spark, ws):
    # every Region appears even though Region has only rev edges selected
    df = graphql.execute(
        spark, '{ Region { r_name in_region_rev(n_name: "no-such-nation") { n_name } } }'
    )
    rows = df.collect()
    assert len(rows) == spark.table("n_Region").count()
    assert all(r.in_region_rev == [] for r in rows)


def test_operation_keyword_and_name(spark, ws):
    df = graphql.execute(spark, "query Q { Region { r_name } }")
    assert df.count() == spark.table("n_Region").count()


@pytest.mark.parametrize(
    "doc,msg",
    [
        ("{ Customer }", "selection set"),
        ("{ Customer { no_such_field } }", "unknown field"),
        ("{ Customer(bogus: 1) { c_name } }", "unknown argument"),
        ("{ NoSuchType { x } }", "unknown type"),
        ("{ Customer { nope { x } } }", "unknown relationship"),
        ("{ Customer { c_name } } trailing", "one root field"),
    ],
)
def test_errors(spark, ws, doc, msg):
    with pytest.raises(graphql.GraphQLError, match=msg):
        graphql.execute(spark, doc).collect()


def test_parse_values():
    f = graphql.parse('{ T(a: "s", b: 2, c: 2.5, d: true, e: null) { x } }')
    assert f.args == {"a": "s", "b": 2, "c": 2.5, "d": True, "e": None}


def test_variables_substitute_and_push_down(spark, ws):
    df = graphql.execute(
        spark,
        "query Q($seg: String!) { Customer(c_mktsegment: $seg) { c_name } }",
        variables={"seg": "BUILDING"},
    )
    expect = spark.sql(
        "SELECT c_name FROM n_Customer WHERE c_mktsegment = 'BUILDING'"
    )
    assert sorted(r.c_name for r in df.collect()) == sorted(
        r.c_name for r in expect.collect()
    )


def test_variable_defaults_and_override(spark, ws):
    doc = "query ($lim: Int = 5) { Customer(limit: $lim) { c_name } }"
    assert graphql.execute(spark, doc).count() == 5
    assert graphql.execute(spark, doc, variables={"lim": 3}).count() == 3


def test_variable_list_type_and_nested_use(spark, ws):
    df = graphql.execute(
        spark,
        "query ($k: Int!, $st: [String!]) "
        "{ Nation(natural_key: $k) { n_name in_region { r_name } } }",
        variables={"k": 3, "st": ["x"]},
    )
    assert df.count() == 1


def test_variable_errors():
    with pytest.raises(graphql.GraphQLError, match="no value"):
        graphql.parse("query ($x: String) { T(a: $x) { y } }")
    with pytest.raises(graphql.GraphQLError, match="not declared"):
        graphql.parse(
            "query ($x: String) { T(a: $other) { y } }", {"x": "v", "other": "w"}
        )
    # undeclared-but-provided is fine when no declarations exist at all
    f = graphql.parse("{ T(a: $x) { y } }", {"x": "v"})
    assert f.args == {"a": "v"}
    with pytest.raises(graphql.GraphQLError, match="expected a type name"):
        graphql.parse("query ($x: 5) { T { y } }")


def test_fragment_spread(spark, ws):
    df = graphql.execute(
        spark,
        "query { Customer(limit: 5) { ...basics } } "
        "fragment basics on Customer { c_name c_acctbal }",
    )
    assert df.columns == ["c_name", "c_acctbal"]
    assert df.count() == 5


def test_fragment_with_nested_and_order_free(spark, ws):
    """Fragment declared BEFORE the operation, containing a nested
    relationship selection."""
    df = graphql.execute(
        spark,
        "fragment natinfo on Nation { n_name in_region { r_name } } "
        "{ Nation(natural_key: 3) { ...natinfo } }",
    )
    assert df.columns == ["n_name", "in_region"]
    assert df.count() == 1


def test_fragment_errors(spark, ws):
    with pytest.raises(graphql.GraphQLError, match="unknown fragment"):
        graphql.execute(spark, "{ Customer { ...nope } }")
    with pytest.raises(graphql.GraphQLError, match="fragment cycle"):
        graphql.execute(
            spark,
            "{ Customer { ...a } } "
            "fragment a on Customer { ...b } fragment b on Customer { ...a }",
        )
    # wrong-type spread surfaces as the build-time unknown-field error
    with pytest.raises(graphql.GraphQLError, match="unknown field"):
        graphql.execute(
            spark,
            "{ Customer { ...o } } fragment o on Order { o_totalprice }",
        )


def test_introspection_types(spark, ws):
    df = graphql.execute(spark, "{ __schema { types } }")
    rows = {r.name: r for r in df.collect()}
    assert "Customer" in rows and "Nation" in rows
    assert "c_acctbal" in rows["Customer"].fields
    assert "placed" in rows["Customer"].relationships
    assert "in_region" in rows["Nation"].relationships


def test_mutation_create_and_delete_roundtrip(spark, sf_small, tmp_path_factory):
    from biodwh2_arcadedb_server_spark.workspace import build_workspace, load_workspace

    ws_dir = str(tmp_path_factory.mktemp("gql_mut") / "ws")
    build_workspace(spark, sf_small, ws_dir, force=True)
    load_workspace(spark, ws_dir)
    # disabled by default — the reference endpoint is read-only
    with pytest.raises(graphql.GraphQLError, match="read-only"):
        graphql.execute(
            spark, 'mutation { createNation(natural_key: 990, n_name: "MU") }'
        )
    res = graphql.execute(
        spark,
        "mutation ($k: Int!) { createNation(natural_key: $k, n_name: \"MU\") }",
        variables={"k": 990},
        workspace_dir=ws_dir,
        allow_writes=True,
    ).collect()[0]
    assert (res.operation, res.label, res["count"]) == ("insert", "Nation", 1)
    got = graphql.execute(spark, "{ Nation(natural_key: 990) { n_name } }")
    assert [r.n_name for r in got.collect()] == ["MU"]
    res2 = graphql.execute(
        spark,
        "mutation { deleteNation(natural_key: 990) }",
        workspace_dir=ws_dir,
        allow_writes=True,
    ).collect()[0]
    assert (res2.operation, res2["count"]) == ("delete", 1)
    assert graphql.execute(
        spark, "{ Nation(natural_key: 990) { n_name } }"
    ).count() == 0


def test_mutation_errors(spark, ws):
    with pytest.raises(graphql.GraphQLError, match="unsupported mutation"):
        graphql.execute(
            spark, "mutation { renameNation(natural_key: 1) }",
            workspace_dir="/tmp/x", allow_writes=True,
        )
    with pytest.raises(graphql.GraphQLError, match="requires arguments"):
        graphql.execute(
            spark, "mutation { createNation }",
            workspace_dir="/tmp/x", allow_writes=True,
        )


# ---------------------------------------------------------------- round 7: inline fragments / update / __type
def test_inline_fragment_matching_type(spark, ws):
    df = graphql.execute(
        spark,
        '{ Customer(c_mktsegment: "BUILDING") { c_name ... on Customer '
        "{ c_acctbal } } }",
    )
    assert df.columns == ["c_name", "c_acctbal"]
    expect = graphql.execute(
        spark, '{ Customer(c_mktsegment: "BUILDING") { c_name c_acctbal } }'
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, expect.collect()))


def test_inline_fragment_non_matching_known_type_skipped(spark, ws):
    df = graphql.execute(
        spark,
        "{ Nation(natural_key: 3) { n_name ... on Region { r_name } } }",
    )
    assert df.columns == ["n_name"]
    assert df.count() == 1


def test_inline_fragment_nested_and_with_named_spread(spark, ws):
    df = graphql.execute(
        spark,
        "fragment Money on Customer { c_acctbal } "
        "{ Nation(natural_key: 3) { n_name ... on Nation "
        "{ cust_in_nation_rev { ...Money } } } }",
    )
    assert df.columns == ["n_name", "cust_in_nation_rev"]
    rows = df.collect()
    assert len(rows) == 1 and len(rows[0].cust_in_nation_rev) > 0


def test_inline_fragment_unknown_type_errors(spark, ws):
    with pytest.raises(graphql.GraphQLError, match="unknown type condition"):
        graphql.execute(
            spark, "{ Nation(natural_key: 3) { n_name ... on Bogus { x } } }"
        )


def test_mutation_update(spark, sf_small, tmp_path_factory):
    ws_dir = str(tmp_path_factory.mktemp("gql_upd") / "ws")
    build_workspace(spark, sf_small, ws_dir, force=True)
    load_workspace(spark, ws_dir)
    res = graphql.execute(
        spark,
        'mutation { updateNation(natural_key: 3, _set: {n_name: "RENAMED"}) }',
        workspace_dir=ws_dir,
        allow_writes=True,
    ).collect()[0]
    assert (res.operation, res.label, res["count"]) == ("update", "Nation", 1)
    got = graphql.execute(spark, "{ Nation(natural_key: 3) { n_name } }")
    assert [r.n_name for r in got.collect()] == ["RENAMED"]
    # read-only by default, like create/delete
    with pytest.raises(graphql.GraphQLError, match="read-only"):
        graphql.execute(
            spark, 'mutation { updateNation(natural_key: 3, _set: {n_name: "X"}) }'
        )


def test_mutation_update_errors(spark, ws):
    with pytest.raises(graphql.GraphQLError, match="_set"):
        graphql.execute(
            spark, "mutation { updateNation(natural_key: 1) }",
            workspace_dir="/tmp/x", allow_writes=True,
        )
    with pytest.raises(graphql.GraphQLError, match="filter argument"):
        graphql.execute(
            spark, 'mutation { updateNation(_set: {n_name: "X"}) }',
            workspace_dir="/tmp/x", allow_writes=True,
        )


def test_type_introspection(spark, ws):
    df = graphql.execute(spark, '{ __type(name: "Customer") { name fields } }')
    row = df.collect()[0]
    assert row.name == "Customer"
    fields = {f.name: f.type for f in row.fields}
    assert "c_acctbal" in fields and "node_id" in fields
    assert fields["c_name"] == "string"
    rels = {r.name: r for r in row.relationships}
    assert rels["placed"].target == "Order" and rels["placed"].direction == "out"
    with pytest.raises(graphql.GraphQLError, match="unknown type"):
        graphql.execute(spark, '{ __type(name: "Bogus") { name } }')
    with pytest.raises(graphql.GraphQLError, match="requires a name"):
        graphql.execute(spark, "{ __type { name } }")


def test_nested_limit_is_per_parent(spark, ws):
    """limit on a nested field slices EACH parent's (sorted) child
    list — not the child table globally."""
    full = graphql.execute(
        spark, "{ Nation { natural_key cust_in_nation_rev { natural_key } } }"
    )
    limited = graphql.execute(
        spark,
        "{ Nation { natural_key cust_in_nation_rev(limit: 2) { natural_key } } }",
    )
    want = {
        r.natural_key: [x.natural_key for x in r.cust_in_nation_rev][:2]
        for r in full.collect()
    }
    got = {
        r.natural_key: [x.natural_key for x in r.cust_in_nation_rev]
        for r in limited.collect()
    }
    assert got == want
    assert any(len(v) == 2 for v in got.values())  # actually sliced


def test_nested_limit_survives_repeated_fragment_spread(spark, ws):
    """A fragment carrying a per-parent limit, spread twice — the
    shared Field must not be mutated by the first use (round-7
    review: args.pop dropped the limit from the second spread)."""
    doc = (
        "fragment f on Nation { cust_in_nation_rev(limit: 1) { natural_key } } "
        "{ Nation { natural_key ...f } }"
    )
    first = graphql.execute(spark, doc).collect()
    second = graphql.execute(spark, doc).collect()
    for rows in (first, second):
        assert all(len(r.cust_in_nation_rev) <= 1 for r in rows)
        assert any(len(r.cust_in_nation_rev) == 1 for r in rows)


# ------------------------------------------------ aliases + directives (round 8)
def test_field_alias_response_keys(spark, ws):
    """spec §2.7: the response key is the alias; the same field can be
    requested twice under different keys."""
    df = graphql.execute(
        spark,
        '{ Customer(natural_key: 1) { nm: c_name bal: c_acctbal '
        "also: c_acctbal } }",
    )
    assert df.columns == ["nm", "bal", "also"]
    row = df.collect()[0]
    assert row.nm is not None and row.bal == row.also


def test_nested_alias(spark, ws):
    """An aliased relationship field names the output column; the
    relationship itself resolves by field NAME."""
    df = graphql.execute(
        spark,
        "{ Customer(natural_key: 1) { c_name orders: placed { o_orderstatus } } }",
    )
    assert df.columns == ["c_name", "orders"]
    assert len(df.collect()[0].orders) > 0


def test_skip_include_directives(spark, ws):
    """spec §5.5: @skip(if: true) and @include(if: false) drop the
    selection; variable-driven conditions evaluate where variables
    substitute."""
    df = graphql.execute(
        spark,
        "query($s: Boolean!, $i: Boolean!) { Customer(natural_key: 1) { "
        "c_mktsegment c_name @skip(if: $s) c_acctbal @include(if: $i) "
        "placed @include(if: false) { o_orderkey } } }",
        variables={"s": True, "i": False},
    )
    assert df.columns == ["c_mktsegment"]
    # flipped values keep everything
    df2 = graphql.execute(
        spark,
        "query($s: Boolean!, $i: Boolean!) { Customer(natural_key: 1) { "
        "c_mktsegment c_name @skip(if: $s) c_acctbal @include(if: $i) } }",
        variables={"s": False, "i": True},
    )
    assert df2.columns == ["c_mktsegment", "c_name", "c_acctbal"]


def test_directive_on_spread_and_inline_fragment(spark, ws):
    df = graphql.execute(
        spark,
        "fragment N on Customer { c_name } "
        "{ Customer(natural_key: 1) { c_mktsegment ...N @skip(if: true) "
        "... on Customer @include(if: false) { c_acctbal } } }",
    )
    assert df.columns == ["c_mktsegment"]


def test_directive_errors(spark, ws):
    with pytest.raises(graphql.GraphQLError, match="unsupported directive"):
        graphql.execute(
            spark, "{ Customer { c_name @deprecated(reason: \"x\") } }"
        )
    with pytest.raises(graphql.GraphQLError, match="must be a Boolean"):
        graphql.execute(spark, '{ Customer { c_name @skip(if: "yes") } }')
    with pytest.raises(graphql.GraphQLError, match="if: argument"):
        graphql.execute(spark, "{ Customer { c_name @skip(unless: true) } }")


def test_duplicate_response_key_conflicting_fields_rejected(spark, ws):
    """Spec §5.3.2: the same response key over different fields is an
    unmergeable document — loud error, never silent first-wins
    (round-8 review finding)."""
    import pytest as _pytest

    from biodwh2_arcadedb_server_spark.graphql import GraphQLError, execute

    with _pytest.raises(GraphQLError, match="conflicting"):
        execute(spark, "{ Customer { bal: c_name bal: c_acctbal } }")
    # same key, same field: merges fine (spec-sanctioned)
    df = execute(spark, "{ Customer(natural_key: 1) { k: c_acctbal k: c_acctbal } }")
    assert df.columns == ["k"]
    # an aliased SCALAR and a NESTED relationship under one response
    # key is just as unmergeable — the nested join must not silently
    # overwrite the scalar column (round-9 advice finding)
    with _pytest.raises(GraphQLError, match="conflicting"):
        execute(
            spark,
            "{ Customer(natural_key: 1) "
            "{ placed: c_acctbal placed { o_orderkey } } }",
        )
    with _pytest.raises(GraphQLError, match="conflicting"):
        execute(
            spark,
            "{ Customer(natural_key: 1) "
            "{ placed { o_orderkey } placed: c_acctbal } }",
        )


def test_type_introspection_spec_shaped(spark, ws):
    """__type(name:) with a nested selection answers the standard
    __Type shape (round-12: same dispatch as __schema) — per-field
    type refs with ofType chains, kind, typed NULLs for unmodeled
    metadata — while the bare-name compact form stays unchanged; the
    synthetic roots resolve by name like any other type."""
    row = graphql.execute(
        spark,
        '{ __type(name: "Customer") { kind name description '
        "fields { name type { kind name ofType { kind name } } } } }",
    ).collect()[0]
    assert (row.kind, row.name, row.description) == ("OBJECT", "Customer", None)
    fields = {f.name: f.type for f in row.fields}
    assert fields["c_name"].kind == "SCALAR" and fields["c_name"].name == "String"
    assert fields["placed"].kind == "LIST"
    assert fields["placed"].ofType.kind == "OBJECT"
    assert fields["placed"].ofType.name == "Order"
    q = graphql.execute(
        spark, '{ __type(name: "Query") { kind name fields { name } } }'
    ).collect()[0]
    assert q.kind == "OBJECT" and {f.name for f in q.fields} >= {"Customer", "Nation"}
    s = graphql.execute(
        spark, '{ __type(name: "String") { kind name fields { name } } }'
    ).collect()[0]
    assert s.kind == "SCALAR" and s.fields is None


# ------------------------------------------- differential battery (one packed set)
def _gql_key(v):
    """Sort key with Spark's ascending order: NULL first, structs and
    arrays field by field."""
    if v is None:
        return (0,)
    if isinstance(v, (tuple, list)):
        return (1, tuple(_gql_key(x) for x in v))
    return (1, v)


def _gql_norm(v):
    """Result value → plain tuples (structs) and lists (arrays)."""
    from pyspark.sql import Row

    if isinstance(v, Row):
        return tuple(_gql_norm(x) for x in v)
    if isinstance(v, list):
        return [_gql_norm(x) for x in v]
    return v


def _gql_kids(spark, edge, direction, label, cols, where="", nested=None):
    """Oracle for one relationship field: parent node_id → the sorted
    list of child tuples, from a flat SQL join grouped in Python.
    ``nested`` maps a child node_id to its own nested list (appended
    to the child tuple) for two-level documents."""
    near, far = ("src", "dst") if direction == "out" else ("dst", "src")
    sel = ", ".join(f"c.`{c}`" for c in cols)
    rows = spark.sql(
        f"SELECT e.{near} AS _p, c.node_id AS _k, {sel} FROM e_{edge} e "
        f"JOIN n_{label} c ON c.node_id = e.{far}"
        + (f" WHERE {where}" if where else "")
    ).collect()
    out: dict = {}
    for r in rows:
        t = tuple(r[2:])
        if nested is not None:
            t = t + (nested.get(r._k, []),)
        out.setdefault(r._p, []).append(t)
    return {p: sorted(v, key=_gql_key) for p, v in out.items()}


def test_differential_battery(spark, ws):
    """One packed document set, each answer checked against a flat SQL
    join grouped and sorted in Python: quoting, literal types, limits,
    sibling and two-level relationships, childless roots, duplicated
    edges, aliases, __typename and fragments."""
    # the customer of an order holding the same part twice
    dup_order = spark.sql(
        "SELECT src FROM e_CONTAINS GROUP BY src, dst HAVING count(*) > 1 "
        "ORDER BY src LIMIT 1"
    ).collect()[0].src
    (ok, cust), = spark.sql(
        "SELECT o.natural_key AS ok, c.natural_key AS cust FROM n_Order o "
        "JOIN e_PLACED e ON e.dst = o.node_id JOIN n_Customer c "
        f"ON c.node_id = e.src WHERE o.node_id = {dup_order}"
    ).collect()
    bal = spark.sql(
        f"SELECT c_acctbal FROM n_Customer WHERE natural_key = {cust}"
    ).collect()[0].c_acctbal
    assert isinstance(bal, float)

    def roots(label, cols, where=""):
        sel = ", ".join(f"`{c}`" for c in cols)
        return spark.sql(
            f"SELECT node_id, {sel} FROM n_{label}"
            + (f" WHERE {where}" if where else "")
        ).collect()

    contains = _gql_kids(spark, "CONTAINS", "out", "Part", ["natural_key"])
    assert any(
        len(v) != len(set(v)) for v in contains.values()
    ), "fixture holds no duplicated edge"
    placed_nk = _gql_kids(spark, "PLACED", "out", "Order", ["natural_key"])
    placed_two = _gql_kids(
        spark, "PLACED", "out", "Order", ["natural_key"],
        nested={k: v for k, v in contains.items()},
    )
    placed_price = _gql_kids(
        spark, "PLACED", "out", "Order", ["natural_key", "o_totalprice"]
    )
    in_nation = _gql_kids(spark, "CUST_IN_NATION", "out", "Nation", ["n_name"])
    nation_custs = _gql_kids(
        spark, "CUST_IN_NATION", "in", "Customer", ["natural_key"]
    )
    nation_supps = _gql_kids(
        spark, "SUPP_IN_NATION", "in", "Supplier", ["natural_key"]
    )
    typed_orders = {
        p: [("Order",) + t for t in v] for p, v in placed_nk.items()
    }
    building = roots("Customer", ["natural_key"], "c_mktsegment = 'BUILDING'")

    cases = [
        # ' and \ reach the filter as data, never as SQL
        (
            '{ Customer(c_name: "O\'Brien \\\\ x") { c_name } }', None,
            ["c_name"], [],
        ),
        (
            "query ($n: String!) { Customer(c_name: $n) "
            "{ c_name placed(o_orderpriority: $n) { natural_key } } }",
            {"n": "x' OR '1'='1"}, ["c_name", "placed"], [],
        ),
        # a float argument against a DOUBLE column
        (
            f"{{ Customer(c_acctbal: {bal!r}) {{ natural_key }} }}", None,
            ["natural_key"],
            [(r.natural_key,) for r in roots(
                "Customer", ["natural_key", "c_acctbal"]
            ) if r.c_acctbal == bal],
        ),
        # sibling relationships on one type
        (
            f"{{ Customer(natural_key: {cust}) {{ c_name "
            "placed { natural_key o_totalprice } cust_in_nation { n_name } } }",
            None, ["c_name", "placed", "cust_in_nation"],
            [
                (r.c_name, placed_price.get(r.node_id, []),
                 in_nation.get(r.node_id, []))
                for r in roots("Customer", ["c_name"], f"natural_key = {cust}")
            ],
        ),
        # a per-parent nested limit
        (
            "{ Nation { natural_key cust_in_nation_rev(limit: 2) "
            "{ natural_key } } }", None,
            ["natural_key", "cust_in_nation_rev"],
            [
                (r.natural_key, nation_custs.get(r.node_id, [])[:2])
                for r in roots("Nation", ["natural_key"])
            ],
        ),
        # two-level nesting over an order holding a duplicated edge
        (
            f"{{ Customer(natural_key: {cust}) {{ natural_key "
            "placed { natural_key contains { natural_key } } } }",
            None, ["natural_key", "placed"],
            [
                (r.natural_key, placed_two.get(r.node_id, []))
                for r in roots("Customer", ["natural_key"], f"natural_key = {cust}")
            ],
        ),
        # the duplicated edge is kept twice
        (
            f"{{ Order(natural_key: {ok}) {{ contains {{ natural_key }} }} }}",
            None, ["contains"], [(contains[dup_order],)],
        ),
        # roots without children answer []
        (
            "{ Nation { natural_key supp_in_nation_rev { natural_key } } }",
            None, ["natural_key", "supp_in_nation_rev"],
            [
                (r.natural_key, nation_supps.get(r.node_id, []))
                for r in roots("Nation", ["natural_key"])
            ],
        ),
        # aliases, __typename and a fragment
        (
            f"query {{ Customer(natural_key: {cust}) {{ t: __typename "
            "__typename nm: c_name ...F orders: placed { __typename "
            "key: natural_key } } } fragment F on Customer { c_mktsegment }",
            None, ["t", "__typename", "nm", "c_mktsegment", "orders"],
            [
                ("Customer", "Customer", r.c_name, r.c_mktsegment,
                 typed_orders.get(r.node_id, []))
                for r in roots(
                    "Customer", ["c_name", "c_mktsegment"],
                    f"natural_key = {cust}",
                )
            ],
        ),
    ]
    childless = cases[-2][3]
    assert any(kids == [] for _, kids in childless), "fixture holds no childless Nation"
    for doc, variables, cols, want in cases:
        df = graphql.execute(spark, doc, variables=variables)
        assert df.columns == cols, doc
        got = sorted((_gql_norm(r) for r in df.collect()), key=_gql_key)
        assert got == sorted(want, key=_gql_key), doc

    # a root limit keeps that many filtered roots, each answered whole
    df = graphql.execute(
        spark,
        '{ Customer(c_mktsegment: "BUILDING", limit: 4) '
        "{ natural_key placed { natural_key } } }",
    )
    full = {r.natural_key: placed_nk.get(r.node_id, []) for r in building}
    got = [_gql_norm(r) for r in df.collect()]
    assert len(got) == min(4, len(full)) == len({k for k, _ in got})
    assert all(full[k] == v for k, v in got)


@pytest.mark.parametrize(
    "language, request_text",
    [
        ("graphql", "{ Customer(natural_key: 1) { placed { o_totalprice } } }"),
        (
            "sql",
            "SELECT natural_key, out('PLACED').size() AS n FROM Customer "
            "WHERE natural_key = 1",
        ),
    ],
    ids=["graphql", "dialect"],
)
def test_nested_aggregate_reads_only_kept_roots(spark, ws, language, request_text):
    """A one-key read pays for that key's edges: the root's equality
    predicate sits in the input subtree of every aggregate, so no
    aggregate reads the whole edge label, and the labelled edge leg
    scans the one edge dataset it names."""
    import re

    from biodwh2_arcadedb_server_spark import arcadesql

    run = graphql.execute if language == "graphql" else arcadesql.execute
    df = run(spark, request_text)
    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==")[0]
    lines = text.splitlines()
    depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    root_pred = re.compile(r"natural_key#\d+L? = 1\b|EqualTo\(natural_key,1\)")
    aggs = [i for i, ln in enumerate(lines) if "Aggregate(" in ln]
    assert aggs, text
    for i in aggs:
        below = []
        for j in range(i + 1, len(lines)):
            if depth[j] <= depth[i]:
                break
            below.append(lines[j])
        assert any(root_pred.search(ln) for ln in below), text
    edge_scans = {
        m.group(1)
        for ln in lines
        if "FileScan" in ln
        for m in [re.search(r"/edges/(\w+)\]", ln)]
        if m
    }
    assert edge_scans == {"PLACED"}, text


@pytest.mark.parametrize("limit", ['"x"', "2.5", "true", "-1"])
@pytest.mark.parametrize("level", ["root", "nested"])
def test_limit_must_be_a_non_negative_int(spark, ws, level, limit):
    """`limit` is outside input: anything but a non-negative Int is a
    GraphQLError, never a bare ValueError, a silently truncated count
    or a negative LIMIT / slice length handed to Spark."""
    doc = {
        "root": f"{{ Customer(limit: {limit}) {{ c_name }} }}",
        "nested": (
            f"{{ Customer(natural_key: 1) {{ placed(limit: {limit}) "
            "{ o_totalprice } } }"
        ),
    }[level]
    with pytest.raises(graphql.GraphQLError, match="non-negative Int"):
        graphql.execute(spark, doc)
