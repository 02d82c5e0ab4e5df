"""Differential tests for the ArcadeDB SQL dialect (arcadesql.py).

Covers the surface the reference's users type into Studio
(`ArcadeDBService.java:81-105` passes command strings through):
SELECT, graph projections, expand(), TRAVERSE (per-step direction +
label legs), MATCH pattern chains, and LET context variables — each
checked against a hand-written Spark SQL / DataFrame equivalent on a
tiny deterministic graph.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from biodwh2_arcadedb_server_spark import arcadesql
from biodwh2_arcadedb_server_spark.arcadesql import (
    ArcadeSQLError,
    execute,
    translate,
)


@pytest.fixture(scope="module")
def graph_ws(spark):
    """Tiny workspace: Person/City nodes, KNOWS/LIVES_IN edges.

    ids:  persons 1-5, cities 10-12
    KNOWS:    1->2, 2->3, 3->4, 1->3, 4->5
    LIVES_IN: 1->10, 2->10, 3->11, 4->12, 5->12
    """
    persons = spark.createDataFrame(
        [(i, "Person", str(i), f"p{i}", i * 10) for i in range(1, 6)],
        "node_id long, label string, natural_key string, name string, age long",
    )
    cities = spark.createDataFrame(
        [(c, "City", str(c), n) for c, n in [(10, "ams"), (11, "ber"), (12, "cdg")]],
        "node_id long, label string, natural_key string, name string",
    )
    persons.createOrReplaceTempView("n_Person")
    cities.createOrReplaceTempView("n_City")
    knows = [(1, 2), (2, 3), (3, 4), (1, 3), (4, 5)]
    lives = [(1, 10), (2, 10), (3, 11), (4, 12), (5, 12)]
    edges = spark.createDataFrame(
        [(s, d, "KNOWS") for s, d in knows]
        + [(s, d, "LIVES_IN") for s, d in lives],
        "src long, dst long, label string",
    )
    edges.createOrReplaceTempView("edges")
    # typed edge view with a property — the MATCH edge-alias surface
    # ({as: e}) joins e_<LABEL> so RETURN can project edge props
    spark.createDataFrame(
        [(s, d, "KNOWS", float(s * 10 + d)) for s, d in knows],
        "src long, dst long, label string, weight double",
    ).createOrReplaceTempView("e_KNOWS")
    nodes = persons.select(
        "node_id", "label", "natural_key", F.create_map(F.lit("name"), "name").alias("props")
    ).unionByName(
        cities.select(
            "node_id", "label", "natural_key",
            F.create_map(F.lit("name"), "name").alias("props"),
        )
    )
    nodes.createOrReplaceTempView("nodes")
    return spark


def _ids(df, col="node_id"):
    return sorted(r[col] for r in df.collect())


# ---------------------------------------------------------------- SELECT
def test_select_where_order(graph_ws):
    df = execute(
        graph_ws, "SELECT name, age FROM Person WHERE age >= 20 ORDER BY age DESC LIMIT 2"
    )
    assert [(r.name, r.age) for r in df.collect()] == [("p5", 50), ("p4", 40)]


def test_select_rid_type(graph_ws):
    df = execute(graph_ws, "SELECT @rid AS rid, @type AS t FROM City")
    assert _ids(df, "rid") == [10, 11, 12]
    assert {r.t for r in df.collect()} == {"City"}


def test_graph_projection_degree(graph_ws):
    df = execute(
        graph_ws,
        "SELECT name, out('KNOWS').size() AS deg FROM Person ORDER BY name",
    )
    assert [(r.name, r.deg) for r in df.collect()] == [
        ("p1", 2), ("p2", 1), ("p3", 1), ("p4", 1), ("p5", 0),
    ]


def test_expand(graph_ws):
    df = execute(
        graph_ws, "SELECT expand(out('LIVES_IN')) FROM Person WHERE age <= 20"
    )
    assert _ids(df) == [10]  # p1 and p2 both live in ams


def test_expand_oute_returns_edge_rows(graph_ws):
    df = execute(
        graph_ws, "SELECT expand(outE('KNOWS')) FROM Person WHERE age = 10"
    )
    assert sorted((r.src, r.dst, r.label) for r in df.collect()) == [
        (1, 2, "KNOWS"), (1, 3, "KNOWS"),
    ]


def test_expand_bothe(graph_ws):
    df = execute(
        graph_ws, "SELECT expand(bothE('KNOWS')) FROM Person WHERE age = 30"
    )
    # p3: in-edges 2->3, 1->3; out-edge 3->4
    assert sorted((r.src, r.dst) for r in df.collect()) == [(1, 3), (2, 3), (3, 4)]


def test_oute_size_degree(graph_ws):
    df = execute(
        graph_ws, "SELECT name, outE('KNOWS').size() AS deg FROM Person WHERE age = 10"
    )
    assert [(r.name, r.deg) for r in df.collect()] == [("p1", 2)]


# ---------------------------------------------------------------- TRAVERSE
def test_traverse_runs_and_depths(graph_ws):
    df = execute(
        graph_ws,
        "TRAVERSE out('KNOWS') FROM (SELECT FROM Person WHERE age = 10) MAXDEPTH 2",
    )
    rows = {r.node_id: r.depth for r in df.collect()}
    # 1 at depth 0; 2,3 at depth 1; 4 at depth 2 (5 is depth 3, cut)
    assert rows == {1: 0, 2: 1, 3: 1, 4: 2}
    assert set(df.columns) == {"node_id", "label", "natural_key", "props", "depth"}


def test_traverse_unbounded(graph_ws):
    df = execute(
        graph_ws, "TRAVERSE out('KNOWS') FROM (SELECT FROM Person WHERE age = 10)"
    )
    assert _ids(df) == [1, 2, 3, 4, 5]


def test_traverse_per_step_direction_and_label(graph_ws):
    # out('LIVES_IN'), in('LIVES_IN') from p1: city 10 via out, then
    # back in to its inhabitants {1,2} — NOT out-KNOWS or in-KNOWS.
    df = execute(
        graph_ws,
        "TRAVERSE out('LIVES_IN'), in('LIVES_IN') FROM "
        "(SELECT FROM Person WHERE age = 10) MAXDEPTH 2",
    )
    assert _ids(df) == [1, 2, 10]


def test_traverse_mixed_labels_stay_per_step(graph_ws):
    # out('KNOWS'), out('LIVES_IN') from p4: depth1 = {5 (KNOWS), 12
    # (LIVES_IN)}, depth2 adds 5's city 12 (already seen). A pooled
    # label filter would be identical here, but a pooled DIRECTION
    # union would also pull in-edges — assert exact closure.
    df = execute(
        graph_ws,
        "TRAVERSE out('KNOWS'), out('LIVES_IN') FROM "
        "(SELECT FROM Person WHERE age = 40)",
    )
    assert _ids(df) == [4, 5, 12]


def test_traverse_both_direction(graph_ws):
    # both('KNOWS') from p3 at depth 1: out 3->4, in {1,2}->3
    df = execute(
        graph_ws,
        "TRAVERSE both('KNOWS') FROM (SELECT FROM Person WHERE age = 30) MAXDEPTH 1",
    )
    assert _ids(df) == [1, 2, 3, 4]


def test_match_both_step(graph_ws):
    # .both('KNOWS') from p3 matches neighbors in either direction
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: p, where: (age = 30)}.both('KNOWS')"
        "{type: Person, as: q} RETURN q.name AS name ORDER BY name",
    )
    assert [r.name for r in df.collect()] == ["p1", "p2", "p4"]


def test_traverse_unlabeled_step_follows_all_edges(graph_ws):
    # unlabeled out() from p4 follows BOTH edge types
    df = execute(
        graph_ws, "TRAVERSE out() FROM (SELECT FROM Person WHERE age = 40) MAXDEPTH 1"
    )
    assert _ids(df) == [4, 5, 12]


# ---------------------------------------------------------------- MATCH
def test_match_basic_chain(graph_ws):
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: p, where: (age <= 20)}-LIVES_IN->"
        "{type: City, as: c} RETURN p.name AS person, c.name AS city",
    )
    assert sorted((r.person, r.city) for r in df.collect()) == [
        ("p1", "ams"), ("p2", "ams"),
    ]


def test_match_two_hops_with_agg(graph_ws):
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a}-KNOWS->{type: Person, as: b}"
        "-LIVES_IN->{type: City, as: c} "
        "RETURN c.name AS city, count(distinct a.node_id) AS n_knowers "
        "ORDER BY city",
    )
    # knowers of inhabitants: ams<-p2 known by {1}; ber<-p3 by {1,2};
    # cdg<-p4 by {3}, p5 by {4}
    assert [(r.city, r.n_knowers) for r in df.collect()] == [
        ("ams", 1), ("ber", 2), ("cdg", 2),
    ]


def test_match_in_arrow(graph_ws):
    df = execute(
        graph_ws,
        "MATCH {type: City, as: c, where: (name = 'ams')}<-LIVES_IN-"
        "{type: Person, as: p} RETURN p.name AS name ORDER BY name",
    )
    assert [r.name for r in df.collect()] == ["p1", "p2"]


def test_match_method_step_and_where_before_as(graph_ws):
    df = execute(
        graph_ws,
        "MATCH {type: Person, where: (age = 10), as: p}.out('KNOWS')"
        "{type: Person, as: q} RETURN q.name AS name ORDER BY name",
    )
    assert [r.name for r in df.collect()] == ["p2", "p3"]


def test_match_translate_is_one_sql(graph_ws):
    sql = translate(
        "MATCH {type: Person, as: p}-KNOWS->{type: Person, as: q} "
        "RETURN p.node_id AS a, q.node_id AS b"
    )
    assert sql.count("JOIN") == 2 and "n_Person p" in sql
    assert _ids(graph_ws.sql(sql), "a") == [1, 1, 2, 3, 4]


# ---------------------------------------------------------------- LET
def test_let_scalar_subquery(graph_ws):
    df = execute(
        graph_ws,
        "SELECT name, $top AS top_age FROM Person "
        "LET $top = (SELECT max(age) FROM Person) WHERE age >= $top - 10",
    )
    assert sorted((r.name, r.top_age) for r in df.collect()) == [
        ("p4", 50), ("p5", 50),
    ]


def test_let_expression_and_chained(graph_ws):
    df = execute(
        graph_ws,
        "SELECT name FROM Person LET $base = 10, $cut = $base * 3 "
        "WHERE age > $cut ORDER BY name",
    )
    assert [r.name for r in df.collect()] == ["p4", "p5"]


def test_let_unbound_var_raises(graph_ws):
    with pytest.raises(ArcadeSQLError, match="unbound context variable"):
        translate("SELECT name FROM Person WHERE age > $nope")


# ---------------------------------------------------------------- escaping
def test_edge_label_quote_escaped():
    sql = translate("SELECT out('a\\'b').size() AS d FROM Person")
    assert "a\\'b" in sql and "'a'b'" not in sql


def test_match_label_escaped():
    sql = translate(
        "MATCH {type: Person, as: p}.out('x\\'y'){type: Person, as: q} "
        "RETURN p.node_id AS a"
    )
    assert "x\\'y" in sql


# ---------------------------------------------------------------- errors
def test_dml_rejected():
    with pytest.raises(ArcadeSQLError):
        translate("UPDATE Person SET age = 1")


def test_unsupported_function_rejected():
    with pytest.raises(ArcadeSQLError, match="unsupported function"):
        translate("SELECT sketchy(name) FROM Person")


# ---------------------------------------------------------------- totality
def test_parser_total_on_arbitrary_input():
    """Any input must either translate or raise ArcadeSQLError — never
    a raw IndexError/ValueError/RecursionError leaking from the
    parser (the server surfaces these messages to HTTP clients)."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        import pytest as _pytest

        _pytest.skip("hypothesis not installed")

    fragments = st.sampled_from(
        ["SELECT", "FROM", "WHERE", "MATCH", "TRAVERSE", "LET", "RETURN",
         "out", "in", "both", "(", ")", "{", "}", "-", "->", "<-", "'x'",
         "1", "1.5", "$v", "@rid", "*", ",", "name", "Person", "AND",
         "LIMIT", "SKIP", "GROUP", "ORDER", "BY", "=", "AS", ":", ".",
         "IN", "<", "-1", "expand", "outE", "shortestPath"]
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(fragments, min_size=1, max_size=12).map(" ".join))
    def run(sql):
        try:
            translate(sql)
        except ArcadeSQLError:
            pass

    run()


def test_limit_float_is_clean_error():
    with pytest.raises(ArcadeSQLError, match="integer"):
        translate("SELECT name FROM Person LIMIT 1.5")


# ---------------------------------------------------------------- r5 fixes
def test_unspaced_negative_literal_not_arrow(graph_ws):
    """`x<-1` is a comparison with a negative literal, not a MATCH
    in-arrow (ADVICE r4 regression)."""
    df = execute(graph_ws, "SELECT name FROM Person WHERE 0-age<-25")
    assert sorted(r.name for r in df.collect()) == ["p3", "p4", "p5"]
    # the plain spaced form still works identically
    df2 = execute(graph_ws, "SELECT name FROM Person WHERE 0 - age < -25")
    assert sorted(r.name for r in df2.collect()) == ["p3", "p4", "p5"]


def test_in_subquery(graph_ws):
    """IN (SELECT ...) compiles to a real SQL IN-subquery (VERDICT r4:
    it used to miscompile to array_contains(<scalar subquery>, x))."""
    sql = "SELECT name FROM Person WHERE @rid IN (SELECT @rid FROM Person WHERE age >= 30)"
    assert "IN (SELECT" in translate(sql)
    df = execute(graph_ws, sql)
    assert sorted(r.name for r in df.collect()) == ["p3", "p4", "p5"]


def test_in_scalar_rhs_raises(graph_ws):
    """parser-totality: a non-list, non-subquery IN RHS is a clean
    ArcadeSQLError, never a silently-miscompiled array_contains."""
    with pytest.raises(ArcadeSQLError, match="IN requires"):
        translate("SELECT name FROM Person WHERE age IN 5")
    with pytest.raises(ArcadeSQLError, match="IN requires"):
        translate("SELECT name FROM Person WHERE age IN name")


def test_expand_with_let_binding(graph_ws):
    """The outE expand branch must run LET inlining too (ADVICE r4:
    it returned early and leaked the __LET__ sentinel)."""
    df = execute(
        graph_ws,
        "SELECT expand(outE('KNOWS')) FROM Person LET $a = 30 WHERE age >= $a",
    )
    assert sorted((r.src, r.dst) for r in df.collect()) == [(3, 4), (4, 5)]


def test_expand_with_unbound_let_raises(graph_ws):
    with pytest.raises(ArcadeSQLError, match="unbound context variable"):
        translate("SELECT expand(outE('KNOWS')) FROM Person WHERE age > $nope")


def test_let_sentinel_in_string_literal_untouched(graph_ws):
    """LET substitution is string-literal-aware: a user literal that
    happens to contain the sentinel pattern is not rewritten."""
    df = execute(
        graph_ws,
        "SELECT name FROM Person LET $v = 10 "
        "WHERE name <> '__LET_v__' AND age > 30 + $v",
    )
    assert sorted(r.name for r in df.collect()) == ["p5"]
    # and a sentinel-looking literal alone must not trip the unbound check
    out = translate("SELECT name FROM Person WHERE name = '__LET_x__'")
    assert "'__LET_x__'" in out


def test_let_sentinel_identifier_rejected():
    with pytest.raises(ArcadeSQLError, match="reserved"):
        translate("SELECT __LET_v__ FROM Person")


# ---------------------------------------------------------------- shortestPath
def test_shortest_path_out(graph_ws):
    """shortestPath(1, node_id, 'OUT'): min-pred deterministic paths
    on the KNOWS graph (1->2, 2->3, 3->4, 1->3, 4->5)."""
    df = execute(
        graph_ws,
        "SELECT node_id, shortestPath(1, node_id, 'OUT', 'KNOWS') AS p, "
        "shortestPath(1, node_id, 'OUT', 'KNOWS').size() AS n "
        "FROM Person",
    )
    rows = {r.node_id: (list(r.p) if r.p is not None else None, r.n) for r in df.collect()}
    assert rows[1] == ([1], 1)
    assert rows[2] == ([1, 2], 2)
    assert rows[3] == ([1, 3], 2)  # direct edge beats 1->2->3
    assert rows[4] == ([1, 3, 4], 3)
    assert rows[5] == ([1, 3, 4, 5], 4)


def test_shortest_path_default_both_and_in(graph_ws):
    """Default direction is BOTH (ArcadeDB's documented default);
    'IN' walks reversed edges."""
    df = execute(graph_ws, "SELECT node_id, shortestPath(5, node_id) AS p FROM Person")
    both = {r.node_id: list(r.p) if r.p is not None else None for r in df.collect()}
    # undirected: 5-4-3 reaches 3 in 2 hops
    assert both[4] == [5, 4] and both[3] == [5, 4, 3]
    df = execute(
        graph_ws,
        "SELECT node_id, shortestPath(5, node_id, 'IN', 'KNOWS') AS p FROM Person",
    )
    rin = {r.node_id: list(r.p) if r.p is not None else None for r in df.collect()}
    assert rin[4] == [5, 4] and rin[1] == [5, 4, 3, 1]


def test_shortest_path_maxdepth_and_unreachable(graph_ws):
    df = execute(
        graph_ws,
        "SELECT node_id, shortestPath(1, node_id, 'OUT', 'KNOWS', 2) AS p FROM Person",
    )
    rows = {r.node_id: r.p for r in df.collect()}
    assert rows[5] is None  # needs 3 hops, maxdepth 2
    assert list(rows[4]) == [1, 3, 4]


def test_shortest_path_dedups_identical_specs(graph_ws):
    """Two identical calls share ONE BFS-tree view."""
    from biodwh2_arcadedb_server_spark.arcadesql import _Parser

    p = _Parser(
        "SELECT shortestPath(1, node_id, 'OUT'), "
        "shortestPath(1, node_id, 'OUT').size() FROM Person"
    )
    p.parse()
    assert len(p.shortest_paths) == 1
    p = _Parser(
        "SELECT shortestPath(1, node_id, 'OUT'), "
        "shortestPath(2, node_id, 'OUT') FROM Person"
    )
    p.parse()
    assert len(p.shortest_paths) == 2


def test_shortest_path_requires_literal_source_and_translate_raises():
    with pytest.raises(ArcadeSQLError, match="literal node id"):
        translate("SELECT shortestPath(node_id, 3) FROM Person")
    with pytest.raises(ArcadeSQLError, match="use execute"):
        translate("SELECT shortestPath(1, node_id) FROM Person")
    with pytest.raises(ArcadeSQLError, match="direction"):
        translate("SELECT shortestPath(1, node_id, 'SIDEWAYS') FROM Person")
    with pytest.raises(ArcadeSQLError, match="only .size"):
        translate("SELECT shortestPath(1, node_id).length() FROM Person")


# ---------------------------------------------------------------- MATCH optional / NOT / $matched
def test_match_optional_left_join(graph_ws):
    """Person 5 knows nobody — optional keeps the row with null b."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a}-KNOWS->{type: Person, as: b, optional: true} "
        "RETURN a.node_id AS src, b.node_id AS dst "
        "ORDER BY src, dst",
    )
    rows = [(r.src, r.dst) for r in df.collect()]
    assert (5, None) in rows
    assert (1, 2) in rows and (1, 3) in rows
    # exactly one null row for person 5, none for the others
    assert sum(1 for s, d in rows if d is None) == 1


def test_match_optional_where_stays_inside_leg(graph_ws):
    """The optional node's where: filters the LEG, not the outer row —
    a person whose only friends fail the filter still appears (null),
    never drops."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a}-KNOWS->"
        "{type: Person, as: b, where: (age >= 40), optional: true} "
        "RETURN a.node_id AS src, b.node_id AS dst",
    )
    rows = sorted((r.src, r.dst) for r in df.collect())
    # only persons 4 (age 40) and 5 (age 50) pass the leg filter;
    # 3->4 and 4->5 survive; 1, 2, 5 get single null rows; 1 and 3
    # each know someone but none aged >= 40 except 3->4
    assert rows == [(1, None), (2, None), (3, 4), (4, 5), (5, None)]


def test_match_optional_chained_propagates(graph_ws):
    """A step after an optional node is also left — null anchors
    propagate instead of dropping rows."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a, where: (node_id = 5)}"
        "-KNOWS->{type: Person, as: b, optional: true}"
        "-LIVES_IN->{type: City, as: c} "
        "RETURN a.node_id AS pa, b.node_id AS pb, c.node_id AS pc",
    )
    assert [(r.pa, r.pb, r.pc) for r in df.collect()] == [(5, None, None)]


def test_match_not_pattern_anti_join(graph_ws):
    """NOT {as: a}-KNOWS->{} keeps only persons with no out-KNOWS."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a}, NOT {as: a}-KNOWS->{type: Person} "
        "RETURN a.node_id AS src ORDER BY src",
    )
    assert [r.src for r in df.collect()] == [5]


def test_match_not_pattern_with_inner_where(graph_ws):
    """Persons who know NOBODY aged >= 30: 2 knows 3 (30) -> excluded;
    1 knows 2 (20) and 3 (30) -> excluded; 3 knows 4 (40) -> excluded;
    4 knows 5 (50) -> excluded; 5 knows nobody -> kept."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a}, "
        "NOT {as: a}-KNOWS->{type: Person, where: (age >= 30)} "
        "RETURN a.node_id AS src ORDER BY src",
    )
    assert [r.src for r in df.collect()] == [5]
    # and the complement filter (>= 60: nobody qualifies, all kept)
    df2 = execute(
        graph_ws,
        "MATCH {type: Person, as: a}, "
        "NOT {as: a}-KNOWS->{type: Person, where: (age >= 60)} "
        "RETURN a.node_id AS src ORDER BY src",
    )
    assert [r.src for r in df2.collect()] == [1, 2, 3, 4, 5]


def test_match_extra_positive_chain_shares_alias(graph_ws):
    """Second chain anchored at a bound alias extends the join: pairs
    (a knows b) where both live in the same city — via a comma chain
    closing the cycle on c."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a}-KNOWS->{type: Person, as: b}"
        "-LIVES_IN->{type: City, as: c}, "
        "{as: a}-LIVES_IN->{as: c} "
        "RETURN a.node_id AS pa, b.node_id AS pb",
    )
    # KNOWS pairs: (1,2),(2,3),(3,4),(1,3),(4,5); same city only 1-2 (ams)
    # and 4-5 (cdg)
    assert sorted((r.pa, r.pb) for r in df.collect()) == [(1, 2), (4, 5)]


def test_match_matched_cross_alias_where(graph_ws):
    """$matched.<alias>.<prop> in a later pattern's where: — older
    friends only."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a}-KNOWS->"
        "{type: Person, as: b, where: (age > $matched.a.age + 10)} "
        "RETURN a.node_id AS pa, b.node_id AS pb",
    )
    # pairs where age(b) > age(a) + 10: (1,3): 30>20 yes; (1,2): 20>20 no;
    # (2,3): 30>30 no; (3,4): 40>40 no; (4,5): 50>50 no
    assert sorted((r.pa, r.pb) for r in df.collect()) == [(1, 3)]


def test_match_optional_rejects_matched_and_cycle(graph_ws):
    with pytest.raises(ArcadeSQLError, match="cannot correlate"):
        translate(
            "MATCH {type: Person, as: a}-KNOWS->"
            "{type: Person, as: b, optional: true, "
            "where: (age > $matched.a.age)} RETURN a.node_id"
        )
    with pytest.raises(ArcadeSQLError, match="close a cycle"):
        translate(
            "MATCH {type: Person, as: a}-KNOWS->{type: Person, as: b}, "
            "{as: b}-KNOWS->{as: a, optional: true} RETURN a.node_id"
        )
    with pytest.raises(ArcadeSQLError, match="already-bound alias"):
        translate(
            "MATCH {type: Person, as: a}, {type: City, as: z}-KNOWS->"
            "{type: Person} RETURN a.node_id"
        )
    with pytest.raises(ArcadeSQLError, match="contradictory"):
        translate(
            "MATCH {type: Person, as: a}, NOT {as: a}-KNOWS->"
            "{type: Person, optional: true} RETURN a.node_id"
        )


# ---------------------------------------------------------------- UNWIND
def test_unwind_graph_projection(graph_ws):
    df = execute(
        graph_ws,
        "SELECT name, out('KNOWS') AS friend FROM Person UNWIND friend",
    )
    rows = sorted((r.name, r.friend) for r in df.collect())
    # 1->{2,3}, 2->3, 3->4, 4->5, 5->{} (kept as null)
    assert rows == [
        ("p1", 2), ("p1", 3), ("p2", 3), ("p3", 4), ("p4", 5), ("p5", None),
    ]


def test_unwind_list_literal_with_order_limit(graph_ws):
    df = execute(
        graph_ws,
        "SELECT node_id AS nid, [1, 2, 3] AS xs FROM Person "
        "WHERE node_id <= 2 UNWIND xs ORDER BY nid, xs LIMIT 4",
    )
    assert [(r.nid, r.xs) for r in df.collect()] == [
        (1, 1), (1, 2), (1, 3), (2, 1),
    ]


def test_unwind_multiple_fields_cartesian(graph_ws):
    df = execute(
        graph_ws,
        "SELECT node_id AS nid, [1, 2] AS xs, [3, 4] AS ys FROM Person "
        "WHERE node_id = 1 UNWIND xs, ys",
    )
    assert sorted((r.xs, r.ys) for r in df.collect()) == [
        (1, 3), (1, 4), (2, 3), (2, 4),
    ]


def test_unwind_errors(graph_ws):
    with pytest.raises(ArcadeSQLError, match="not found"):
        translate("SELECT name FROM Person UNWIND friends")
    with pytest.raises(ArcadeSQLError, match="explicit projections"):
        translate("SELECT * FROM Person UNWIND friends")
    with pytest.raises(ArcadeSQLError, match="carry a result name"):
        translate("SELECT name, out('KNOWS') FROM Person UNWIND name")


# ---------------------------------------------------------------- variable-length MATCH
def test_match_variable_length_maxdepth(graph_ws):
    """maxDepth: N → depths 1..N, distinct endpoint pairs."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a, where: (node_id = 1)}"
        "-KNOWS->{type: Person, as: b, maxDepth: 2} "
        "RETURN b.node_id AS nid",
    )
    # from 1: depth1 {2,3}, depth2 {3,4} -> distinct {2,3,4}
    assert sorted(r.nid for r in df.collect()) == [2, 3, 4]


def test_match_variable_length_while_includes_depth0(graph_ws):
    """while: ($depth < 2) → depths 0..2 (anchor included, OrientDB
    contract)."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a, where: (node_id = 1)}"
        "-KNOWS->{type: Person, as: b, while: ($depth < 2)} "
        "RETURN b.node_id AS nid",
    )
    assert sorted(r.nid for r in df.collect()) == [1, 2, 3, 4]


def test_match_variable_length_chain_continues(graph_ws):
    """A fixed step after the variable-length one keeps joining."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a, where: (node_id = 1)}"
        "-KNOWS->{type: Person, as: b, maxDepth: 3}"
        "-LIVES_IN->{type: City, as: c} "
        "RETURN b.node_id AS nid, c.name AS city",
    )
    rows = sorted((r.nid, r.city) for r in df.collect())
    # reach {2,3,4,5} in <=3 hops; cities: 2->ams, 3->ber, 4->cdg, 5->cdg
    assert rows == [(2, "ams"), (3, "ber"), (4, "cdg"), (5, "cdg")]


def test_match_variable_length_errors(graph_ws):
    with pytest.raises(ArcadeSQLError, match="capped at depth 10"):
        translate(
            "MATCH {type: Person, as: a}-KNOWS->"
            "{type: Person, as: b, maxDepth: 50} RETURN b.node_id"
        )
    with pytest.raises(ArcadeSQLError, match="cannot be optional"):
        translate(
            "MATCH {type: Person, as: a}-KNOWS->"
            "{type: Person, as: b, maxDepth: 2, optional: true} "
            "RETURN b.node_id"
        )
    with pytest.raises(ArcadeSQLError, match="supports only .depth"):
        translate(
            "MATCH {type: Person, as: a}-KNOWS->"
            "{type: Person, as: b, while: ($foo < 2)} RETURN b.node_id"
        )


# ---------------------------------------------------------------- method chaining
def test_method_chaining_strings(graph_ws):
    df = execute(
        graph_ws,
        "SELECT name.toUpperCase() AS up, name.substring(0, 1) AS first_ch, "
        "name.append('!') AS bang, name.indexOf('1') AS idx1, "
        "name.length() AS ln FROM Person WHERE node_id = 1",
    )
    r = df.collect()[0]
    assert (r.up, r.first_ch, r.bang, r.idx1, r.ln) == ("P1", "p", "p1!", 1, 2)


def test_method_chaining_casts_and_chain(graph_ws):
    df = execute(
        graph_ws,
        "SELECT age.asString() AS s, name.toUpperCase().substring(1) AS tail "
        "FROM Person WHERE node_id = 3",
    )
    r = df.collect()[0]
    assert (r.s, r.tail) == ("30", "3")


def test_method_chaining_in_where_and_size(graph_ws):
    df = execute(
        graph_ws,
        "SELECT node_id FROM Person WHERE name.toUpperCase() = 'P2'",
    )
    assert [r.node_id for r in df.collect()] == [2]
    df2 = execute(
        graph_ws,
        "SELECT out('KNOWS').size() AS d, name.split('p').size() AS parts "
        "FROM Person WHERE node_id = 1",
    )
    r = df2.collect()[0]
    assert (r.d, r.parts) == (2, 2)


def test_method_unknown_rejected(graph_ws):
    with pytest.raises(ArcadeSQLError, match="unsupported method"):
        translate("SELECT name.hackIt() FROM Person")


def test_text_predicates(graph_ws):
    """CONTAINSTEXT (case-insensitive substring), ILIKE, MATCHES."""
    assert _ids(execute(
        graph_ws, "SELECT node_id FROM City WHERE name CONTAINSTEXT 'M'"
    )) == [10]  # 'ams'
    assert _ids(execute(
        graph_ws, "SELECT node_id FROM City WHERE name ILIKE 'A%'"
    )) == [10]
    assert _ids(execute(
        graph_ws, "SELECT node_id FROM City WHERE name MATCHES '^[bc].*'"
    )) == [11, 12]


def test_variable_length_anchor_with_matched_where(graph_ws):
    """A cross-alias $matched predicate on the node ANCHORING a
    variable-length step must not leak into the seed subquery (it
    can't resolve there) — the global WHERE still applies it."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: z, where: (node_id = 2)}"
        "-KNOWS->{type: Person, as: a, where: ($matched.z.age < age)}"
        "-KNOWS->{type: Person, as: b, maxDepth: 2} "
        "RETURN a.node_id AS mid, b.node_id AS far",
    )
    # z=2 (age 20) knows 3 (30 > 20, passes); from 3: depth1 {4}, depth2 {5}
    assert sorted((r.mid, r.far) for r in df.collect()) == [(3, 4), (3, 5)]


# ---------------------------------------------------------------- ADVICE r6 regressions
def test_match_not_chain_anchor_where_kept(graph_ws):
    """A where: on the BOUND anchor inside a NOT { } chain is part of
    the negated pattern (ADVICE r6: it was silently dropped): a is
    excluded only when age < 30 AND an out-KNOWS edge exists, so 3-5
    survive (where fails) even though they all have out-KNOWS."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a}, "
        "NOT {as: a, where: (age < 30)}-KNOWS->{type: Person} "
        "RETURN a.node_id AS src ORDER BY src",
    )
    assert [r.src for r in df.collect()] == [3, 4, 5]


def test_optional_where_literal_survives_requalification():
    """Alias requalification of a deferred optional-leg where: must
    not rewrite inside string literals (ADVICE r6: 'b.x' silently
    became '__t0.x')."""
    sql = translate(
        "MATCH {type: Person, as: a}-KNOWS->"
        "{type: Person, as: b, optional: true, where: (name = 'b.x')} "
        "RETURN a.node_id AS pa, b.node_id AS pb"
    )
    assert "'b.x'" in sql
    assert "__t0.x" not in sql


def test_vl_seed_where_literal_survives_requalification():
    """Same literal-safety for the variable-length seed requalifier."""
    sql = translate(
        "MATCH {type: Person, as: a, where: (name = 'a.x')}"
        "-KNOWS->{type: Person, as: b, maxDepth: 2} "
        "RETURN b.node_id AS nb"
    )
    assert "__seed.x" not in sql


def test_claims_statement_routing():
    """Server/CLI head-keyword dispatch: dialect DML/DDL is claimed,
    Spark-only CREATE forms are not (ADVICE r6: blanket capture broke
    CREATE TEMPORARY VIEW through the server/REPL)."""
    claims = arcadesql.claims_statement
    assert claims("CREATE VERTEX TYPE Foo")
    assert claims("CREATE VERTEX Person SET name = 'x'")
    assert claims("CREATE INDEX ON Person (name) UNIQUE")
    assert claims("UPDATE Person SET age = 1 WHERE age = 2")
    assert claims("DELETE FROM Person WHERE age = 2")
    assert claims("INSERT INTO Person SET natural_key = 9")
    assert not claims("CREATE TEMPORARY VIEW v AS SELECT 1 AS x")
    assert not claims("CREATE OR REPLACE VIEW v AS SELECT 1 AS x")
    assert not claims("CREATE TABLE t (x INT)")
    assert not claims("SELECT name FROM Person")
    assert not claims("")


def test_run_sql_spark_create_view_not_hijacked(graph_ws):
    """CREATE TEMPORARY VIEW through the REPL/server routing executes
    as Spark SQL — not hijacked by the dialect (ADVICE r6 regression).
    Since round 8 session-mutating statements additionally require
    allow_writes (round-7 ADVICE write gate); the routing concern this
    test pins is unchanged."""
    from biodwh2_arcadedb_server_spark.cli import _run_sql

    _run_sql(
        graph_ws,
        "CREATE OR REPLACE TEMPORARY VIEW __adv6_v AS SELECT 1 AS x",
        allow_writes=True,
    )
    assert _run_sql(graph_ws, "SELECT x FROM __adv6_v").collect()[0].x == 1


# ---------------------------------------------------------------- MATCH edge aliases (path variables)
def test_match_edge_alias_projects_edge_props(graph_ws):
    """{as: e} on an edge step binds the traversed edge (ROADMAP item
    d — path variables): RETURN projects its properties from the
    typed e_<LABEL> view."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a}-KNOWS{as: e}->{type: Person, as: b} "
        "RETURN a.node_id AS src, b.node_id AS dst, e.weight AS w "
        "ORDER BY src, dst",
    )
    assert [(r.src, r.dst, r.w) for r in df.collect()] == [
        (1, 2, 12.0), (1, 3, 13.0), (2, 3, 23.0), (3, 4, 34.0), (4, 5, 45.0),
    ]


def test_match_edge_alias_aggregate(graph_ws):
    """Edge properties flow through MATCH's implicit grouping."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: a}-KNOWS{as: e}->{type: Person} "
        "RETURN a.node_id AS src, sum(e.weight) AS tw ORDER BY src",
    )
    assert [(r.src, r.tw) for r in df.collect()] == [
        (1, 25.0), (2, 23.0), (3, 34.0), (4, 45.0),
    ]


def test_match_edge_alias_method_form_and_in(graph_ws):
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: b}<-KNOWS{as: e}-{type: Person, as: a} "
        "RETURN a.node_id AS src, b.node_id AS dst, e.weight AS w "
        "ORDER BY src, dst",
    )
    assert [(r.src, r.dst, r.w) for r in df.collect()][:2] == [
        (1, 2, 12.0), (1, 3, 13.0),
    ]
    # method-form braces stay the NODE pattern (OrientDB grammar) —
    # no edge alias there
    df2 = execute(
        graph_ws,
        "MATCH {type: Person, as: a, where: (node_id = 1)}"
        ".out('KNOWS'){type: Person, as: b} "
        "RETURN b.node_id AS dst ORDER BY dst",
    )
    assert [r.dst for r in df2.collect()] == [2, 3]


def test_match_edge_alias_errors(graph_ws):
    with pytest.raises(ArcadeSQLError, match="optional or variable-length"):
        translate(
            "MATCH {type: Person, as: a}-KNOWS{as: e}->"
            "{type: Person, as: b, optional: true} RETURN a.node_id"
        )
    with pytest.raises(ArcadeSQLError, match="collides"):
        translate(
            "MATCH {type: Person, as: a}-KNOWS{as: a}->{type: Person} "
            "RETURN a.node_id"
        )
    with pytest.raises(ArcadeSQLError, match="NOT pattern"):
        translate(
            "MATCH {type: Person, as: a}, "
            "NOT {as: a}-KNOWS{as: e}->{type: Person} RETURN a.node_id"
        )
    with pytest.raises(ArcadeSQLError, match="edge patterns support only"):
        translate(
            "MATCH {type: Person, as: a}-KNOWS{type: X}->{as: b} "
            "RETURN a.node_id"
        )


# ---------------------------------------------------------------- SELECT over TRAVERSE
def test_select_over_traverse_subquery(graph_ws):
    """SELECT ... FROM (TRAVERSE ...) — the Studio filter-a-traversal
    pattern; $depth binds to the traversal depth column."""
    df = execute(
        graph_ws,
        "SELECT node_id, $depth AS d FROM "
        "(TRAVERSE out('KNOWS') FROM (SELECT FROM Person WHERE age = 10) "
        "MAXDEPTH 3) WHERE $depth >= 1 ORDER BY node_id",
    )
    assert [(r.node_id, r.d) for r in df.collect()] == [
        (2, 1), (3, 1), (4, 2), (5, 3),
    ]


def test_select_star_over_traverse(graph_ws):
    df = execute(
        graph_ws,
        "SELECT FROM (TRAVERSE out('KNOWS') FROM "
        "(SELECT FROM Person WHERE age = 10))",
    )
    assert df.count() == 5 and "depth" in df.columns


def test_select_over_traverse_translate_is_plan_level(graph_ws):
    with pytest.raises(ArcadeSQLError, match="plan-level"):
        translate(
            "SELECT FROM (TRAVERSE out('KNOWS') FROM "
            "(SELECT FROM Person WHERE age = 10))"
        )


def test_collection_aggregates_set_list(graph_ws):
    """ArcadeDB's set()/list() collection aggregates (sorted for
    determinism) — per city, the set of resident names; in MATCH,
    implicit grouping treats them as aggregates."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: p}-LIVES_IN->{type: City, as: c} "
        "RETURN c.name AS city, set(p.name) AS residents ORDER BY city",
    )
    assert [(r.city, list(r.residents)) for r in df.collect()] == [
        ("ams", ["p1", "p2"]), ("ber", ["p3"]), ("cdg", ["p4", "p5"]),
    ]
    df2 = execute(
        graph_ws,
        "SELECT label, list(natural_key) AS keys FROM "
        "(TRAVERSE out('KNOWS') FROM (SELECT FROM Person WHERE age = 10)) "
        "GROUP BY label",
    )
    assert [list(r.keys) for r in df2.collect()] == [["1", "2", "3", "4", "5"]]
    with pytest.raises(ArcadeSQLError, match="exactly one"):
        translate("SELECT set(name, age) FROM Person GROUP BY age")


# -------------------------------------------------- correlated LET (round 8)
def test_correlated_let_scalar_agg(graph_ws):
    """LET $x = (SELECT agg FROM T WHERE f = $parent.$current.f) is
    evaluated per outer record (ArcadeDB per-record LET semantics).
    Here: for each person, how many persons share their city."""
    df = execute(
        graph_ws,
        "SELECT name, $n AS same_age_decade FROM Person "
        "LET $n = (SELECT count(*) FROM Person "
        "WHERE age <= $parent.$current.age) "
        "ORDER BY name",
    )
    # ages 10..50 → running count 1..5
    assert [(r.name, r.same_age_decade) for r in df.collect()] == [
        (f"p{i}", i) for i in range(1, 6)
    ]


def test_correlated_let_in_where(graph_ws):
    """A correlated LET binding referenced from WHERE filters per
    record: persons whose age is the max within their age-mod-20
    cohort."""
    df = execute(
        graph_ws,
        "SELECT name FROM Person "
        "LET $maxage = (SELECT max(age) FROM Person "
        "WHERE age % 20 = $parent.$current.age % 20) "
        "WHERE age = $maxage ORDER BY name",
    )
    # cohorts: {10,30,50} max 50 → p5; {20,40} max 40 → p4
    assert [r.name for r in df.collect()] == ["p4", "p5"]


def test_current_field_reference(graph_ws):
    """$current.<field> resolves to the current record's own field."""
    df = execute(
        graph_ws,
        "SELECT $current.name AS n FROM Person WHERE $current.age > 30 "
        "ORDER BY n",
    )
    assert [r.n for r in df.collect()] == ["p4", "p5"]


def test_parent_current_outside_subquery_rejected(graph_ws):
    with pytest.raises(ArcadeSQLError, match=r"\$parent\.\$current"):
        execute(graph_ws, "SELECT $parent.$current.age FROM Person")


def test_parent_without_current_rejected(graph_ws):
    with pytest.raises(ArcadeSQLError, match=r"\$parent must be followed"):
        execute(
            graph_ws,
            "SELECT name FROM Person LET $x = (SELECT count(*) FROM "
            "Person WHERE age = $parent.age)",
        )


def test_uncorrelated_let_still_single_scalar(graph_ws):
    """Regression: an uncorrelated (SELECT agg) binding stays a plain
    scalar subquery under the new aliasing scheme."""
    df = execute(
        graph_ws,
        "SELECT name FROM Person "
        "LET $avg = (SELECT avg(age) FROM Person) "
        "WHERE age > $avg ORDER BY name",
    )
    assert [r.name for r in df.collect()] == ["p4", "p5"]


# ----------------------------------------------------------- parameters
# ArcadeDB's wire contract ({"command": ..., "params": ...}) and every
# client driver bind :name / positional ? placeholders server-side
# (reference embeds arcadedb-server, pom.xml:104-108).


def test_params_named(graph_ws):
    df = execute(
        graph_ws,
        "SELECT name FROM Person WHERE age > :minAge AND name <> :skip "
        "ORDER BY name",
        params={"minAge": 20, "skip": "p4"},
    )
    assert [r.name for r in df.collect()] == ["p3", "p5"]


def test_params_positional(graph_ws):
    df = execute(
        graph_ws,
        "SELECT name FROM Person WHERE age > ? AND age < ? ORDER BY name",
        params=[10, 40],
    )
    assert [r.name for r in df.collect()] == ["p2", "p3"]


def test_params_list_value_for_in(graph_ws):
    df = execute(
        graph_ws,
        "SELECT name FROM Person WHERE age IN :ages ORDER BY name",
        params={"ages": [10, 30, 99]},
    )
    assert [r.name for r in df.collect()] == ["p1", "p3"]


def test_params_injection_stays_one_literal(graph_ws):
    """A hostile value must stay ONE string literal — binding renders
    escaped literals, it never splices statement text."""
    df = execute(
        graph_ws,
        "SELECT name FROM Person WHERE name = :n",
        params={"n": "p1' OR '1'='1"},
    )
    assert df.count() == 0
    # and a value holding a quote still matches exactly when present
    graph_ws.sql("SELECT * FROM n_Person").withColumn(
        "name", F.when(F.col("node_id") == 1, F.lit("o'b")).otherwise(F.col("name"))
    ).createOrReplaceTempView("n_Person")
    try:
        df = execute(
            graph_ws,
            "SELECT node_id FROM Person WHERE name = :n",
            params={"n": "o'b"},
        )
        assert _ids(df) == [1]
    finally:
        # restore the fixture view for later tests
        graph_ws.sql("SELECT * FROM n_Person").withColumn(
            "name", F.when(F.col("node_id") == 1, F.lit("p1")).otherwise(F.col("name"))
        ).createOrReplaceTempView("n_Person")


def test_params_only_outside_strings_and_known_names(graph_ws):
    # ':noon' inside the literal is untouched; unknown :other is left
    # for the parser to reject loudly
    df = execute(
        graph_ws,
        "SELECT name FROM Person WHERE name <> ':noon' AND age = :a",
        params={"a": 30},
    )
    assert [r.name for r in df.collect()] == ["p3"]
    with pytest.raises(ArcadeSQLError):
        execute(graph_ws, "SELECT name FROM Person WHERE age = :missing",
                params={"a": 1})


def test_params_positional_count_mismatch(graph_ws):
    with pytest.raises(ArcadeSQLError, match="2 positional"):
        execute(graph_ws, "SELECT 1 FROM Person WHERE age > ? AND age < ?",
                params=[1])


def test_params_match_pattern_colon_untouched(graph_ws):
    """MATCH object syntax ({type: Person}) shares the colon — binding
    must not rewrite it even when a param name collides."""
    df = execute(
        graph_ws,
        "MATCH {type: Person, as: p, where: (age = :age)} RETURN p.name",
        params={"age": 20, "type": "nope", "as": "nope"},
    )
    assert [r.name for r in df.collect()] == ["p2"]


def test_params_render_types(graph_ws):
    import datetime as dt

    from biodwh2_arcadedb_server_spark.arcadesql import _render_param

    assert _render_param(None) == "null"
    assert _render_param(True) == "true"
    assert _render_param(3) == "3"
    assert _render_param(2.5) == "2.5"
    assert _render_param([1, "a"]) == "[1, 'a']"
    assert _render_param(dt.date(2024, 3, 1)) == "'2024-03-01'"
    assert _render_param(dt.datetime(2024, 3, 1, 12, 30)) == "'2024-03-01 12:30:00'"
    with pytest.raises(ArcadeSQLError):
        _render_param(float("inf"))
    with pytest.raises(ArcadeSQLError):
        _render_param(object())


# ------------------------------------- collection operators / indexing


@pytest.fixture(scope="module")
def tagged_ws(graph_ws):
    graph_ws.createDataFrame(
        [
            (100, "Doc", "a", ["red", "green"], "x,y,z"),
            (101, "Doc", "b", ["green", "blue"], "p,q"),
            (102, "Doc", "c", ["blue"], "only"),
        ],
        "node_id long, label string, natural_key string, "
        "tags array<string>, csv string",
    ).createOrReplaceTempView("n_Doc")
    return graph_ws


def test_containsany(tagged_ws):
    df = execute(
        tagged_ws,
        "SELECT natural_key FROM Doc WHERE tags CONTAINSANY "
        "['red', 'blue'] ORDER BY natural_key",
    )
    assert [r.natural_key for r in df.collect()] == ["a", "b", "c"]


def test_containsall(tagged_ws):
    df = execute(
        tagged_ws,
        "SELECT natural_key FROM Doc WHERE tags CONTAINSALL "
        "['green', 'blue']",
    )
    assert [r.natural_key for r in df.collect()] == ["b"]


def test_collection_index_and_slice(tagged_ws):
    df = execute(
        tagged_ws,
        "SELECT natural_key, tags[0] AS first_tag, "
        "csv.split(',')[1] AS second_field, "
        "tags[0-1].size() AS head_len "
        "FROM Doc WHERE natural_key = 'a'",
    )
    row = df.collect()[0]
    assert row.first_tag == "red"
    assert row.second_field == "y"
    assert row.head_len == 2


def test_index_method_interleave(tagged_ws):
    df = execute(
        tagged_ws,
        "SELECT csv.split(',')[0].toUpperCase() AS h FROM Doc "
        "WHERE natural_key = 'b'",
    )
    assert df.collect()[0].h == "P"


def test_reversed_range_rejected(tagged_ws):
    with pytest.raises(ArcadeSQLError, match="reversed"):
        translate("SELECT tags[3-1] FROM Doc")


def test_traverse_while_depth(graph_ws):
    # WHILE gates record INCLUSION (ArcadeDB semantics): $depth <= 1
    # keeps depth-0/1 records — exactly MAXDEPTH 1
    df = execute(
        graph_ws,
        "TRAVERSE out('KNOWS') FROM (SELECT FROM Person WHERE "
        "node_id = 1) WHILE $depth <= 1",
    )
    assert _ids(df) == [1, 2, 3]
    # $depth < 2 is the same set spelled strictly
    df = execute(
        graph_ws,
        "TRAVERSE out('KNOWS') FROM (SELECT FROM Person WHERE "
        "node_id = 1) WHILE ($depth < 2)",
    )
    assert _ids(df) == [1, 2, 3]
    # <= 2 reaches one frontier further
    df = execute(
        graph_ws,
        "TRAVERSE out('KNOWS') FROM (SELECT FROM Person WHERE "
        "node_id = 1) WHILE $depth <= 2",
    )
    assert _ids(df) == [1, 2, 3, 4]
    # degenerate: < 1 keeps the roots only (depth 0 passes, depth 1
    # fails the inclusion gate)
    df = execute(
        graph_ws,
        "TRAVERSE out('KNOWS') FROM (SELECT FROM Person WHERE "
        "node_id = 1) WHILE $depth < 1",
    )
    assert _ids(df) == [1]
    # a bound FALSE at depth 0 excludes the roots too — the condition
    # is evaluated on every visited record including the anchors
    # (round-9 advice finding: clamping to MAXDEPTH 0 wrongly kept
    # them)
    for cond in ("$depth < 0", "$depth <= -1"):
        df = execute(
            graph_ws,
            "TRAVERSE out('KNOWS') FROM (SELECT FROM Person WHERE "
            f"node_id = 1) WHILE {cond}",
        )
        assert _ids(df) == []


def test_traverse_while_non_depth_rejected(graph_ws):
    with pytest.raises(ArcadeSQLError, match="only \\$depth"):
        execute(
            graph_ws,
            "TRAVERSE out('KNOWS') FROM (SELECT FROM Person) "
            "WHILE ($other < 1)",
        )


# ------------------------------------------------------------ EXPLAIN
def test_explain_select_returns_plan(graph_ws):
    df = execute(graph_ws, "EXPLAIN SELECT name FROM Person WHERE age > 20")
    assert df.columns == ["plan"]
    plan = df.collect()[0].plan
    # temp views over createDataFrame show as ExistingRDD scans; the
    # load-bearing assertions are a real plan with the filter intact
    assert "Physical Plan" in plan and "Filter" in plan


def test_explain_match_and_rejections(graph_ws):
    df = execute(
        graph_ws,
        "EXPLAIN MATCH {type: Person, as: p}-KNOWS->{type: Person, as: q} "
        "RETURN p.name",
    )
    assert "Physical Plan" in df.collect()[0].plan


def test_explain_traverse_names_depth_and_legs(graph_ws):
    """Round 9 (VERDICT r8 next #8): EXPLAIN TRAVERSE emits the BFS
    plan — depth bound, per-step edge legs, and the roots' physical
    plan — instead of rejecting."""
    df = execute(
        graph_ws,
        "EXPLAIN TRAVERSE out('KNOWS'), in('LIVES_IN') FROM "
        "(SELECT FROM Person WHERE age > 20) MAXDEPTH 3",
    )
    assert df.columns == ["plan"]
    plan = df.collect()[0].plan
    assert "maxdepth 3" in plan
    assert "out('KNOWS')" in plan and "in('LIVES_IN')" in plan
    assert "roots physical plan:" in plan and "Physical Plan" in plan
    # unbounded spelled out; WHILE-false-at-0 named as empty
    plan2 = execute(
        graph_ws, "EXPLAIN TRAVERSE out() FROM (SELECT FROM Person)"
    ).collect()[0].plan
    assert "unbounded" in plan2
    plan3 = execute(
        graph_ws,
        "EXPLAIN TRAVERSE out() FROM (SELECT FROM Person) WHILE $depth < 0",
    ).collect()[0].plan
    assert "empty result" in plan3


def test_explain_dml_staged_write_summary(graph_ws):
    """EXPLAIN <dml> returns the staged-write summary — inspectable
    WITHOUT the writes gate (nothing executes)."""
    plan = execute(
        graph_ws,
        "EXPLAIN UPDATE Person SET name = 'x', age = 1 WHERE age > 30",
    ).collect()[0].plan
    assert "UPDATE on Person" in plan
    assert "predicate:" in plan and "age > 30" in plan
    assert "assignments: name, age" in plan
    assert "atomic swap" in plan and "allow_writes" in plan
    plan2 = execute(
        graph_ws,
        "EXPLAIN INSERT INTO Person (natural_key, name) "
        "VALUES (90, 'a'), (91, 'b')",
    ).collect()[0].plan
    assert "INSERT on Person" in plan2 and "rows staged: 2" in plan2
    plan3 = execute(
        graph_ws, "EXPLAIN DELETE VERTEX Person WHERE age = 10"
    ).collect()[0].plan
    assert "DELETE on Person" in plan3


# ------------------------------------------------------------ sqlscript
def test_split_script():
    from biodwh2_arcadedb_server_spark.arcadesql import split_script

    assert split_script("SELECT 1; SELECT 2;") == ["SELECT 1", "SELECT 2"]
    # semicolons inside string literals are NOT separators
    assert split_script("SELECT 'a;b' FROM T; SELECT 2") == [
        "SELECT 'a;b' FROM T", "SELECT 2",
    ]
    assert split_script("  \n ;; ") == []


def test_params_float_plain_decimal(graph_ws):
    """repr() floats ('1e-05') don't tokenize — binding must render
    plain decimal notation (round-8 review finding)."""
    from biodwh2_arcadedb_server_spark.arcadesql import _render_param

    assert _render_param(1e-05) == "0.00001"
    assert _render_param(1e20) == "100000000000000000000"
    df = execute(
        graph_ws,
        "SELECT name FROM Person WHERE age * 1.0 > :eps ORDER BY name LIMIT 1",
        params={"eps": 1e-05},
    )
    assert [r.name for r in df.collect()] == ["p1"]


def test_schema_tvf_errors(spark):
    """schema:<unknown> is a parse error; schema:types without a
    loaded workspace errors with guidance (round 14)."""
    import pytest as _pytest

    from biodwh2_arcadedb_server_spark import arcadesql
    from biodwh2_arcadedb_server_spark import workspace as ws
    from biodwh2_arcadedb_server_spark.arcadesql import ArcadeSQLError

    with _pytest.raises(ArcadeSQLError, match="unknown schema table"):
        arcadesql.execute(spark, "SELECT FROM schema:nope")
    saved = ws.LAST_WS_DIR
    try:
        ws.LAST_WS_DIR = None
        with _pytest.raises(ArcadeSQLError, match="loaded workspace"):
            arcadesql.execute(spark, "SELECT FROM schema:types")
    finally:
        ws.LAST_WS_DIR = saved


def test_select_from_registered_views(graph_ws):
    """FROM edges / nodes / e_<LABEL> name the registered views
    themselves, not node types (they used to compile to n_edges)."""
    df = execute(
        graph_ws,
        "SELECT label, count(*) AS n FROM edges GROUP BY label ORDER BY label",
    )
    assert [(r.label, r.n) for r in df.collect()] == [
        ("KNOWS", 5), ("LIVES_IN", 5),
    ]
    df = execute(graph_ws, "SELECT FROM e_KNOWS WHERE weight > 20")
    assert sorted((r.src, r.dst, r.weight) for r in df.collect()) == [
        (2, 3, 23.0), (3, 4, 34.0), (4, 5, 45.0),
    ]
    assert execute(graph_ws, "SELECT count(*) AS n FROM nodes").first().n == 8


# ------------------------------------------------- one oriented-edge leg
def test_both_multiplicity_battery(spark):
    """Every dialect form walks ``both`` as the UNION ALL of its two
    orientations, so a form that keeps one row per edge meets a
    self-loop twice; variable-length MATCH, expand(both()) and
    TRAVERSE return distinct nodes. One graph pins every form: a self-loop 3->3, a 2-cycle 1<->2, an edge 2->3
    and an isolated node 4. Its views live in a separate session, so
    the module fixture's views stay as they are."""
    from collections import Counter

    s = spark.newSession()
    s.createDataFrame(
        [(i, "Person", str(i)) for i in range(1, 5)],
        "node_id long, label string, natural_key string",
    ).createOrReplaceTempView("n_Person")
    s.sql(
        "SELECT node_id, label, natural_key, map('k', natural_key) AS props "
        "FROM n_Person"
    ).createOrReplaceTempView("nodes")
    s.createDataFrame(
        [(1, 2, "KNOWS"), (2, 1, "KNOWS"), (2, 3, "KNOWS"), (3, 3, "KNOWS")],
        "src long, dst long, label string",
    ).createOrReplaceTempView("edges")

    def pairs(sql):
        return Counter(tuple(r) for r in execute(s, sql).collect())

    # each edge once per orientation: the self-loop twice
    both_pairs = {(1, 2): 2, (2, 1): 2, (2, 3): 1, (3, 2): 1, (3, 3): 2}
    assert pairs(
        "MATCH {type: Person, as: a}.both('KNOWS'){type: Person, as: b} "
        "RETURN a.node_id AS a, b.node_id AS b"
    ) == both_pairs
    assert pairs(
        "MATCH {type: Person, as: a}.both('KNOWS')"
        "{type: Person, as: b, optional: true} "
        "RETURN a.node_id AS a, b.node_id AS b"
    ) == {**both_pairs, (4, None): 1}
    assert pairs(
        "MATCH {type: Person, as: a}, NOT {as: a}.both('KNOWS'){type: Person} "
        "RETURN a.node_id AS a"
    ) == {(4,): 1}
    # cycle-closing: out pairs (1,2) (2,1) (2,3) (3,3), each times the
    # number of both-rows leading back from b to a
    assert pairs(
        "MATCH {type: Person, as: a}-KNOWS->{type: Person, as: b}, "
        "{as: b}.both('KNOWS'){as: a} RETURN a.node_id AS a, b.node_id AS b"
    ) == {(1, 2): 2, (2, 1): 2, (2, 3): 1, (3, 3): 2}
    # variable-length steps bind distinct endpoints
    assert pairs(
        "MATCH {type: Person, as: a, where: (node_id = 3)}.both('KNOWS')"
        "{type: Person, as: b, maxDepth: 2} RETURN b.node_id AS b"
    ) == {(1,): 1, (2,): 1, (3,): 1}
    rows = execute(
        s,
        "SELECT node_id, both('KNOWS') AS nb, both('KNOWS').size() AS deg "
        "FROM Person ORDER BY node_id",
    ).collect()
    assert [(r.node_id, list(r.nb), r.deg) for r in rows] == [
        (1, [2, 2], 2), (2, [1, 1, 3], 3), (3, [2, 3, 3], 3), (4, [], 0),
    ]
    # expand(both()) returns each neighbour node once (IN semi-join)
    assert _ids(execute(
        s, "SELECT expand(both('KNOWS')) FROM Person WHERE node_id = 3"
    )) == [2, 3]
    assert pairs(
        "SELECT expand(bothE('KNOWS')) FROM Person WHERE node_id = 3"
    ) == {(2, 3, "KNOWS"): 1, (3, 3, "KNOWS"): 2}
    df = execute(
        s, "TRAVERSE both('KNOWS') FROM (SELECT FROM Person WHERE node_id = 3)"
    )
    assert {r.node_id: r.depth for r in df.collect()} == {3: 0, 2: 1, 1: 2}


_GRAPH_STMT_RE = re.compile(r"\b(?:MATCH|TRAVERSE)\b|expand\(|\b(?:out|in|both)E?\(")


def _graph_corpus() -> list[tuple[str, object]]:
    """Every MATCH, TRAVERSE, expand() and graph-projection statement
    this module passes as a literal argument outside a
    ``pytest.raises`` block, with its literal params."""
    tree = ast.parse(Path(__file__).read_text())
    raising: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.With) and any(
            isinstance(item.context_expr, ast.Call)
            and ast.unparse(item.context_expr.func) == "pytest.raises"
            for item in node.items
        ):
            raising |= {id(n) for n in ast.walk(node)}
    corpus: dict[tuple[str, str], tuple[str, object]] = {}
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or id(node) in raising:
            continue
        for arg in node.args:
            if not (isinstance(arg, ast.Constant) and isinstance(arg.value, str)):
                continue
            stmt = arg.value
            head = stmt.split(None, 1)[0].upper() if stmt.strip() else ""
            if head in ("SELECT", "MATCH", "TRAVERSE") and _GRAPH_STMT_RE.search(stmt):
                params = next(
                    (ast.literal_eval(k.value) for k in node.keywords
                     if k.arg == "params"),
                    None,
                )
                corpus[(stmt, repr(params))] = (stmt, params)
    return list(corpus.values())


def test_graph_statements_plan_without_nested_loops(graph_ws, monkeypatch):
    """Every graph statement in this module plans as equi-joins: no
    NestedLoopJoin or CartesianProduct in the executed plan, with
    broadcast joins allowed and with them switched off. TRAVERSE's
    frontier BFS is replaced by a stub that records its hop relation,
    so the lint plans the hop legs and the result join without
    running the loop."""
    from biodwh2_arcadedb_server_spark.operators import graph

    hops = []

    def plan_only_bfs(hop, roots, max_depth):
        hops.append(hop)
        return roots.select("node_id", F.lit(0).alias("depth"))

    monkeypatch.setattr(graph, "bfs", plan_only_bfs)
    corpus = _graph_corpus()
    assert len(corpus) >= 50  # the scan found the corpus
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = graph_ws.conf.get(key)
    bad = []
    try:
        for threshold in (saved, "-1"):
            graph_ws.conf.set(key, threshold)
            for stmt, params in corpus:
                del hops[:]
                df = execute(graph_ws, stmt, params=params)
                for frame in (df, *hops):
                    plan = frame._jdf.queryExecution().executedPlan().toString()
                    if "NestedLoopJoin" in plan or "CartesianProduct" in plan:
                        bad.append((threshold, stmt))
    finally:
        graph_ws.conf.set(key, saved)
    assert bad == []
