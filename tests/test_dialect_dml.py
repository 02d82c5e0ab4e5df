"""Dialect DML round-trip (B19): user-typed UPDATE / INSERT / DELETE /
CREATE VERTEX statements routed through ``arcadesql.execute`` to the
workspace batch-recompute API, behind the explicit ``allow_writes``
gate (default OFF — the reference serves the database read-only over
HTTP, ArcadeDBService.java:81-105 posture)."""

from __future__ import annotations

import pytest

from biodwh2_arcadedb_server_spark.arcadesql import ArcadeSQLError, execute
from biodwh2_arcadedb_server_spark.workspace import build_workspace, load_workspace


# The module shares conftest's multi-file ``dml_ws``: inserts use keys
# ≥990, update touches keys <5, delete removes key 7, and the lane
# tests at the end use Nation 4242, Customer 3 and 90 and a Note type
# of their own, so order doesn't matter.


def _nation_count(spark):
    return execute(spark, "SELECT count(*) AS n FROM Nation").collect()[0].n


def test_select_from_edge_type(spark, dml_ws):
    """`SELECT … FROM <EdgeType>` reads the type's `e_<LABEL>` view,
    over a workspace registered by load_workspace as the server does."""
    from biodwh2_arcadedb_server_spark.arcadesql import translate
    from biodwh2_arcadedb_server_spark.workspace import read_manifest

    load_workspace(spark, dml_ws)
    assert " e_PLACED " in translate("SELECT FROM PLACED")
    n = execute(spark, "SELECT count(*) AS n FROM PLACED").collect()[0].n
    assert n == read_manifest(dml_ws)["edges"]["PLACED"]["count"] > 0
    row = execute(spark, "SELECT FROM PLACED LIMIT 1").collect()[0].asDict()
    assert row["label"] == "PLACED" and {"src", "dst"} <= row.keys()
    # node types still read their n_<Label> view
    assert " n_Nation " in translate("SELECT FROM Nation")


def test_writes_disabled_by_default(spark, dml_ws):
    with pytest.raises(ArcadeSQLError, match="read-only"):
        execute(spark, "UPDATE Nation SET n_name = 'X'")
    with pytest.raises(ArcadeSQLError, match="read-only"):
        execute(spark, "DELETE FROM Nation", workspace_dir=dml_ws)
    # enabling writes without a workspace is also a clear error
    with pytest.raises(ArcadeSQLError, match="workspace_dir"):
        execute(spark, "DELETE FROM Nation", allow_writes=True)


def test_insert_select_roundtrip(spark, dml_ws):
    before = _nation_count(spark)
    res = execute(
        spark,
        "INSERT INTO Nation SET natural_key = 990, n_name = 'ATLANTIS'",
        workspace_dir=dml_ws,
        allow_writes=True,
    ).collect()[0]
    assert (res.operation, res.label, res["count"]) == ("insert", "Nation", 1)
    # the same session's dialect SELECT sees the new row
    rows = execute(
        spark, "SELECT n_name FROM Nation WHERE natural_key = 990"
    ).collect()
    assert [r.n_name for r in rows] == ["ATLANTIS"]
    assert _nation_count(spark) == before + 1
    # duplicate natural_key is silently skipped (error-tolerant, A9)
    res2 = execute(
        spark,
        "CREATE VERTEX Nation SET natural_key = 990, n_name = 'DUP'",
        workspace_dir=dml_ws,
        allow_writes=True,
    ).collect()[0]
    assert res2["count"] == 0
    assert _nation_count(spark) == before + 1


def test_insert_values_form_multirow(spark, dml_ws):
    res = execute(
        spark,
        "INSERT INTO Nation (natural_key, n_name) VALUES (991, 'MU'), (992, 'LEMURIA')",
        workspace_dir=dml_ws,
        allow_writes=True,
    ).collect()[0]
    assert res["count"] == 2
    rows = execute(
        spark,
        "SELECT n_name FROM Nation WHERE natural_key IN [991, 992] ORDER BY n_name",
    ).collect()
    assert [r.n_name for r in rows] == ["LEMURIA", "MU"]


def test_insert_requires_natural_key_and_known_columns(spark, dml_ws):
    with pytest.raises(ArcadeSQLError, match="natural_key"):
        execute(
            spark,
            "INSERT INTO Nation SET n_name = 'NOWHERE'",
            workspace_dir=dml_ws,
            allow_writes=True,
        )
    with pytest.raises(ArcadeSQLError, match="unknown propert"):
        execute(
            spark,
            "INSERT INTO Nation SET natural_key = 993, bogus = 1",
            workspace_dir=dml_ws,
            allow_writes=True,
        )


def test_update_where(spark, dml_ws):
    res = execute(
        spark,
        "UPDATE Nation SET n_name = lower(n_name) WHERE natural_key < 5",
        workspace_dir=dml_ws,
        allow_writes=True,
    ).collect()[0]
    assert (res.operation, res["count"]) == ("update", 5)
    rows = execute(
        spark,
        "SELECT natural_key, n_name FROM Nation WHERE natural_key < 6 ORDER BY natural_key",
    ).collect()
    assert all(r.n_name == r.n_name.lower() for r in rows[:5])
    assert rows[5].n_name == rows[5].n_name.upper()


def test_delete_cascades_edges(spark, dml_ws):
    doomed = execute(
        spark, "SELECT node_id FROM Nation WHERE natural_key = 7"
    ).collect()[0].node_id
    touching_before = spark.sql(
        f"SELECT count(*) AS n FROM edges WHERE src = {doomed} OR dst = {doomed}"
    ).collect()[0].n
    assert touching_before > 0  # IN_REGION + CUST/SUPP_IN_NATION edges
    res = execute(
        spark,
        "DELETE VERTEX Nation WHERE natural_key = 7",
        workspace_dir=dml_ws,
        allow_writes=True,
    ).collect()[0]
    assert (res.operation, res["count"]) == ("delete", 1)
    assert execute(
        spark, "SELECT count(*) AS n FROM Nation WHERE natural_key = 7"
    ).collect()[0].n == 0
    left = spark.sql(
        f"SELECT count(*) AS n FROM edges WHERE src = {doomed} OR dst = {doomed}"
    ).collect()[0].n
    assert left == 0


def test_dml_parse_errors_are_clean(spark):
    with pytest.raises(ArcadeSQLError, match="arity"):
        execute(
            spark,
            "INSERT INTO Nation (a, b) VALUES (1)",
            workspace_dir="/tmp/x",
            allow_writes=True,
        )
    with pytest.raises(ArcadeSQLError, match="SET and/or REMOVE"):
        execute(spark, "UPDATE Nation n_name = 'X'", allow_writes=True)


def test_create_and_delete_edge(spark, dml_ws):
    """CREATE EDGE FROM <key> TO <key> appends a validated edge;
    dangling endpoints are silently skipped (reference posture);
    DELETE EDGE removes matching rows."""
    # nation 10 -> region 0 (both exist): appended
    res = execute(
        spark,
        "CREATE EDGE IN_REGION FROM 10 TO 0",
        workspace_dir=dml_ws,
        allow_writes=True,
    ).collect()[0]
    assert (res.operation, res.label, res["count"]) == ("insert_edge", "IN_REGION", 1)
    deg = execute(
        spark, "SELECT out('IN_REGION').size() AS d FROM Nation WHERE natural_key = 10"
    ).collect()[0].d
    assert deg == 2  # original region edge + the new one
    # dangling: nation 9999 does not exist -> skipped
    res2 = execute(
        spark,
        "CREATE EDGE IN_REGION FROM 9999 TO 0",
        workspace_dir=dml_ws,
        allow_writes=True,
    ).collect()[0]
    assert res2["count"] == 0
    # delete the duplicate pair (both rows nation10->region0 go)
    from biodwh2_arcadedb_server_spark.workspace import node_id
    from pyspark.sql import functions as F

    src_id = spark.range(1).select(node_id("Nation", F.lit(10)).alias("i")).collect()[0].i
    res3 = execute(
        spark,
        f"DELETE EDGE IN_REGION WHERE src = {src_id}",
        workspace_dir=dml_ws,
        allow_writes=True,
    ).collect()[0]
    assert (res3.operation, res3["count"]) == ("delete_edge", 2)
    assert execute(
        spark, "SELECT out('IN_REGION').size() AS d FROM Nation WHERE natural_key = 10"
    ).collect()[0].d == 0


def test_create_edge_unknown_type_and_prop(spark, dml_ws):
    with pytest.raises(ArcadeSQLError, match="unknown edge type"):
        execute(
            spark, "CREATE EDGE BOGUS FROM 1 TO 2",
            workspace_dir=dml_ws, allow_writes=True,
        )
    with pytest.raises(ArcadeSQLError, match="unknown edge propert"):
        execute(
            spark, "CREATE EDGE IN_REGION FROM 1 TO 0 SET nope = 1",
            workspace_dir=dml_ws, allow_writes=True,
        )


def test_update_edge_props(spark, dml_ws):
    """UPDATE EDGE rewrites matching edge rows' properties (CONTAINS
    carries lineitem props)."""
    res = execute(
        spark,
        "UPDATE EDGE CONTAINS SET l_discount = 0.0 WHERE l_discount > 0.05",
        workspace_dir=dml_ws,
        allow_writes=True,
    ).collect()[0]
    assert res.operation == "update_edge" and res["count"] > 0
    left = spark.sql(
        "SELECT count(*) AS n FROM e_CONTAINS WHERE l_discount > 0.05"
    ).collect()[0].n
    assert left == 0


def test_ddl_create_type_property_insert_roundtrip(spark, dml_ws):
    """Studio-style DDL: create a fresh vertex type, add a typed
    property, insert into it, connect it with a new edge type, index
    it — all through user-typed statements."""
    run = lambda sql: execute(
        spark, sql, workspace_dir=dml_ws, allow_writes=True
    ).collect()[0]
    assert run("CREATE VERTEX TYPE Warehouse").operation == "ddl_node_type"
    assert run("CREATE PROPERTY Warehouse.capacity LONG").operation == "ddl_property"
    assert run("INSERT INTO Warehouse SET natural_key = 1, capacity = 500")["count"] == 1
    assert run("CREATE EDGE TYPE STORES FROM Warehouse TO Nation").operation == "ddl_edge_type"
    assert run("CREATE EDGE STORES FROM 1 TO 3")["count"] == 1
    rows = execute(
        spark, "SELECT natural_key, capacity, out('STORES').size() AS d FROM Warehouse"
    ).collect()
    assert [(r.natural_key, r.capacity, r.d) for r in rows] == [(1, 500, 1)]
    assert run("CREATE INDEX ON Warehouse (natural_key) UNIQUE").operation == "ddl_index"


def test_ddl_errors(spark, dml_ws):
    with pytest.raises(ArcadeSQLError, match="already exists"):
        execute(
            spark, "CREATE VERTEX TYPE Nation",
            workspace_dir=dml_ws, allow_writes=True,
        )
    with pytest.raises(ArcadeSQLError, match="unknown endpoint"):
        execute(
            spark, "CREATE EDGE TYPE X FROM Nation TO Bogus",
            workspace_dir=dml_ws, allow_writes=True,
        )
    with pytest.raises(ArcadeSQLError, match="read-only"):
        execute(spark, "CREATE VERTEX TYPE Z")
    # UNIQUE violation fails loud: n_name repeats? build a dup first
    execute(
        spark,
        "INSERT INTO Nation (natural_key, n_name) VALUES (995, 'DUPNAME'), (996, 'DUPNAME')",
        workspace_dir=dml_ws, allow_writes=True,
    )
    with pytest.raises(ArcadeSQLError, match="UNIQUE index .* violated"):
        execute(
            spark, "CREATE INDEX ON Nation (n_name) UNIQUE",
            workspace_dir=dml_ws, allow_writes=True,
        )


def test_server_concurrent_dml_and_reads(spark, sf_small, tmp_path_factory):
    """ThreadingHTTPServer + allow_writes: concurrent INSERT statements
    serialize through the DML lock while SELECTs keep answering —
    no lost updates, no partial datasets."""
    import base64
    import json as _json
    import threading
    import urllib.request

    from biodwh2_arcadedb_server_spark.server import QueryServer
    from biodwh2_arcadedb_server_spark.workspace import build_workspace, load_workspace

    ws = str(tmp_path_factory.mktemp("dml_conc") / "ws")
    build_workspace(spark, sf_small, ws, force=True)
    load_workspace(spark, ws)
    srv = QueryServer(spark, workspace_dir=ws, allow_writes=True)
    port = srv.start()
    auth = base64.b64encode(f"{srv.username}:{srv.password}".encode()).decode()

    def post(sql):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query",
            data=_json.dumps({"sql": sql}).encode(),
            headers={"Authorization": f"Basic {auth}"},
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            return _json.loads(resp.read())

    errors: list = []

    def insert(k):
        try:
            post(f"INSERT INTO Nation SET natural_key = {900 + k}, n_name = 'C{k}'")
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def read():
        try:
            post("SELECT count(*) AS n FROM Nation")
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    try:
        threads = [threading.Thread(target=insert, args=(k,)) for k in range(4)]
        threads += [threading.Thread(target=read) for _ in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not errors, errors
        out = post("SELECT count(*) AS n FROM Nation WHERE natural_key >= 900")
        assert out["rows"] == [["4"]]
    finally:
        srv.stop()


def test_insert_values_within_batch_duplicate_key(spark, dml_ws):
    """A single multi-row VALUES repeating a natural_key must not
    append two rows with the same node_id (ADVICE r6: the anti-join
    only guarded against EXISTING ids) — first occurrence wins, same
    silent-skip posture as the cross-batch A9 path."""
    before = _nation_count(spark)
    res = execute(
        spark,
        "INSERT INTO Nation (natural_key, n_name) "
        "VALUES (997, 'FIRST'), (997, 'SECOND'), (998, 'OK')",
        workspace_dir=dml_ws,
        allow_writes=True,
    ).collect()[0]
    assert res["count"] == 2
    assert _nation_count(spark) == before + 2
    rows = execute(
        spark,
        "SELECT natural_key, n_name FROM Nation WHERE natural_key IN [997, 998]",
    ).collect()
    assert sorted((int(r.natural_key), r.n_name) for r in rows) == [
        (997, "FIRST"), (998, "OK"),
    ]


def test_ddl_drop_property_and_index(spark, sf_small, tmp_path_factory):
    """DROP PROPERTY rewrites the dataset without the column; DROP
    INDEX removes the manifest clustering record (round-7 DDL)."""
    import json as _json
    import os

    ws = str(tmp_path_factory.mktemp("ddl_drop") / "ws")
    build_workspace(spark, sf_small, ws, force=True)
    load_workspace(spark, ws)
    run = lambda sql: execute(
        spark, sql, workspace_dir=ws, allow_writes=True
    ).collect()[0]
    assert run("CREATE PROPERTY Nation.note STRING").operation == "ddl_property"
    assert "note" in spark.table("n_Nation").columns
    assert run("DROP PROPERTY Nation.note").operation == "ddl_drop_property"
    assert "note" not in spark.table("n_Nation").columns
    with pytest.raises(ArcadeSQLError, match="unknown property"):
        run("DROP PROPERTY Nation.note")
    with pytest.raises(ArcadeSQLError, match="structural"):
        run("DROP PROPERTY Nation.node_id")
    assert run("CREATE INDEX ON Nation (n_name)").operation == "ddl_index"
    assert run("DROP INDEX ON Nation (n_name)").operation == "ddl_drop_index"
    with pytest.raises(ArcadeSQLError, match="no index"):
        run("DROP INDEX ON Nation (n_name)")
    with open(os.path.join(ws, "manifest.json")) as mh:
        assert _json.load(mh)["nodes"]["Nation"].get("indexes") == []


def test_ddl_drop_type_gates_and_cascade_order(spark, sf_small, tmp_path_factory):
    """DROP TYPE: populated types need UNSAFE; node types referenced
    by edge types must drop those first; the dataset directory and
    manifest entry go away."""
    import os

    ws = str(tmp_path_factory.mktemp("ddl_droptype") / "ws")
    build_workspace(spark, sf_small, ws, force=True)
    load_workspace(spark, ws)
    run = lambda sql: execute(
        spark, sql, workspace_dir=ws, allow_writes=True
    ).collect()[0]
    with pytest.raises(ArcadeSQLError, match="referenced by edge type"):
        run("DROP TYPE Nation")
    with pytest.raises(ArcadeSQLError, match="UNSAFE"):
        run("DROP TYPE IN_REGION")
    res = run("DROP TYPE IN_REGION UNSAFE")
    assert res.operation == "ddl_drop_type" and res["count"] > 0
    assert not os.path.exists(os.path.join(ws, "edges", "IN_REGION"))
    # empty types drop without UNSAFE
    run("CREATE VERTEX TYPE Scratch")
    assert run("DROP TYPE Scratch")["count"] == 0
    with pytest.raises(ArcadeSQLError, match="unknown type"):
        run("DROP TYPE Scratch")


def test_ddl_alter_type_rename_cascades_ids(spark, sf_small, tmp_path_factory):
    """ALTER TYPE ... NAME ...: node ids are xxhash64(label, key), so
    a rename recomputes ids AND remaps src/dst in touching edge
    datasets — graph traversals must keep working afterward."""
    ws = str(tmp_path_factory.mktemp("ddl_rename") / "ws")
    build_workspace(spark, sf_small, ws, force=True)
    load_workspace(spark, ws)
    run = lambda sql: execute(
        spark, sql, workspace_dir=ws, allow_writes=True
    ).collect()[0]
    before = execute(
        spark,
        "SELECT natural_key, out('IN_REGION').size() AS d FROM Nation",
    ).collect()
    res = run("ALTER TYPE Nation NAME Country")
    assert res.operation == "ddl_rename_type" and res["count"] == len(before)
    after = execute(
        spark,
        "SELECT natural_key, out('IN_REGION').size() AS d FROM Country",
    ).collect()
    assert sorted((r.natural_key, r.d) for r in before) == sorted(
        (r.natural_key, r.d) for r in after
    )
    # derived ids actually changed (label participates in the hash)
    from biodwh2_arcadedb_server_spark.workspace import node_id
    from pyspark.sql import functions as F

    ids = spark.table("n_Country").select(
        (F.col("node_id") == node_id("Country", F.col("natural_key"))).alias("ok")
    ).collect()
    assert all(r.ok for r in ids)
    with pytest.raises(ArcadeSQLError, match="already exists"):
        run("ALTER TYPE Region NAME Country")
    # an edge rename: the unified edges view's label is the manifest
    # key, so the new name walks every edge and the old one none
    run("ALTER TYPE IN_REGION NAME LOCATED_IN")
    degree = lambda lbl: sorted(
        (r.natural_key, r.d)
        for r in execute(
            spark,
            f"SELECT natural_key, out('{lbl}').size() AS d FROM Country",
        ).collect()
    )
    assert degree("LOCATED_IN") == sorted(
        (r.natural_key, r.d) for r in before
    )
    assert {d for _, d in degree("IN_REGION")} == {0}


def test_update_upsert(spark, dml_ws):
    """UPDATE ... SET ... UPSERT WHERE: updates when matched, inserts
    the SET row when nothing matches (ArcadeDB semantics)."""
    # no nation 980 yet -> insert branch; the WHERE equality supplies
    # the key (ArcadeDB folds matched attributes into the new record)
    res = execute(
        spark,
        "UPDATE Nation SET n_name = 'NEWLAND' UPSERT WHERE natural_key = 980",
        workspace_dir=dml_ws, allow_writes=True,
    ).collect()[0]
    assert (res.operation, res["count"]) == ("insert", 1)
    # second time -> update branch
    res2 = execute(
        spark,
        "UPDATE Nation SET n_name = 'RENLAND' UPSERT WHERE natural_key = 980",
        workspace_dir=dml_ws, allow_writes=True,
    ).collect()[0]
    assert (res2.operation, res2["count"]) == ("update", 1)
    rows = execute(
        spark, "SELECT n_name FROM Nation WHERE natural_key = 980"
    ).collect()
    assert [r.n_name for r in rows] == ["RENLAND"]
    with pytest.raises(ArcadeSQLError, match="vertex UPDATE only"):
        execute(
            spark, "UPDATE EDGE CONTAINS SET l_discount = 0 UPSERT",
            workspace_dir=dml_ws, allow_writes=True,
        )


def test_update_identity_columns_rejected(spark, dml_ws):
    """Identity columns are immutable through UPDATE — node ids derive
    from (label, natural_key), so a key rewrite would silently break
    the derived-identity invariant (round-7 review finding)."""
    with pytest.raises(ArcadeSQLError, match="identity column"):
        execute(
            spark, "UPDATE Nation SET natural_key = 5 WHERE natural_key = 3",
            workspace_dir=dml_ws, allow_writes=True,
        )
    with pytest.raises(ArcadeSQLError, match="structural column"):
        execute(
            spark, "UPDATE EDGE IN_REGION SET src = 1",
            workspace_dir=dml_ws, allow_writes=True,
        )


def test_drop_last_type_refreshes_unified_views(spark, sf_small, tmp_path_factory):
    """Dropping the LAST type must re-register empty unified views —
    a stale view whose plan reads the deleted dataset fails every
    later query (round-7 review finding)."""
    from biodwh2_arcadedb_server_spark.workspace import NODE_SPECS

    ws = str(tmp_path_factory.mktemp("drop_last") / "ws")
    specs = [s for s in NODE_SPECS if s.label == "Region"]
    build_workspace(spark, sf_small, ws, force=True, node_specs=specs, edge_specs=[])
    load_workspace(spark, ws)
    res = execute(
        spark, "DROP TYPE Region UNSAFE", workspace_dir=ws, allow_writes=True
    ).collect()[0]
    assert res["count"] == 5
    assert spark.table("nodes").count() == 0
    assert spark.table("edges").count() == 0


# ------------------------------------------------ RETURN AFTER/BEFORE (round 8)
def test_update_return_after(spark, dml_ws):
    """UPDATE ... RETURN AFTER $current returns the mutated records
    (ArcadeDB DML result projection) instead of the count."""
    rows = execute(
        spark,
        "UPDATE Nation SET n_name = 'RA' RETURN AFTER $current "
        "WHERE natural_key >= 20 AND natural_key <= 22",
        workspace_dir=dml_ws, allow_writes=True,
    ).collect()
    assert len(rows) == 3
    assert all(r.n_name == "RA" for r in rows)
    assert sorted(r.natural_key for r in rows) == [20, 21, 22]


def test_update_return_before(spark, dml_ws):
    before = execute(
        spark,
        "UPDATE Nation SET n_name = 'RB' RETURN BEFORE "
        "WHERE natural_key = 21",
        workspace_dir=dml_ws, allow_writes=True,
    ).collect()
    assert len(before) == 1
    assert before[0].n_name != "RB"  # pre-mutation state
    now = execute(
        spark, "SELECT n_name FROM Nation WHERE natural_key = 21"
    ).collect()[0]
    assert now.n_name == "RB"  # mutation did apply


def test_delete_return_before(spark, dml_ws):
    n0 = _nation_count(spark)
    gone = execute(
        spark,
        "DELETE FROM Nation RETURN BEFORE WHERE natural_key = 11",
        workspace_dir=dml_ws, allow_writes=True,
    ).collect()
    assert len(gone) == 1 and gone[0].natural_key == 11
    assert _nation_count(spark) == n0 - 1


def test_upsert_return_after_insert_branch(spark, dml_ws):
    rows = execute(
        spark,
        "UPDATE Nation SET n_name = 'UPSERTED' UPSERT RETURN AFTER "
        "WHERE natural_key = 987",
        workspace_dir=dml_ws, allow_writes=True,
    ).collect()
    assert len(rows) == 1
    assert rows[0].n_name == "UPSERTED" and rows[0].natural_key == 987


def test_return_mode_errors(spark, dml_ws):
    with pytest.raises(ArcadeSQLError, match="RETURN supports BEFORE"):
        execute(
            spark,
            "DELETE FROM Nation RETURN AFTER WHERE natural_key = 1",
            workspace_dir=dml_ws, allow_writes=True,
        )
    with pytest.raises(ArcadeSQLError, match="RETURN supports"):
        execute(
            spark,
            "UPDATE Nation SET n_name = 'x' RETURN COUNT",
            workspace_dir=dml_ws, allow_writes=True,
        )


def test_create_edge_set_endpoints(spark, sf_small, tmp_path_factory):
    """CREATE EDGE FROM (SELECT …) TO (SELECT …) — ArcadeDB's set
    form: one edge per (src, dst) pair of the two result sets
    (round 8)."""
    from biodwh2_arcadedb_server_spark.arcadesql import execute

    ws = str(tmp_path_factory.mktemp("edge_sets") / "ws")
    build_workspace(spark, sf_small, ws, force=True)
    load_workspace(spark, ws)
    before = execute(spark, "SELECT count(*) AS n FROM (SELECT "
                            "expand(outE('IN_REGION')) FROM Nation)").collect()[0].n
    res = execute(
        spark,
        "CREATE EDGE IN_REGION FROM (SELECT FROM Nation WHERE "
        "natural_key <= 2) TO (SELECT FROM Region WHERE "
        "natural_key >= 3)",
        workspace_dir=ws,
        allow_writes=True,
    ).collect()[0]
    assert res["count"] == 6  # 3 nations x 2 regions
    after = execute(spark, "SELECT count(*) AS n FROM (SELECT "
                           "expand(outE('IN_REGION')) FROM Nation)").collect()[0].n
    assert after == before + 6
    # mixed form: literal src, set dst
    res2 = execute(
        spark,
        "CREATE EDGE IN_REGION FROM 20 TO (SELECT FROM Region "
        "WHERE natural_key <= 1)",
        workspace_dir=ws,
        allow_writes=True,
    ).collect()[0]
    assert res2["count"] == 2
    # a subquery over rows without node_id is a clear error
    with pytest.raises(ArcadeSQLError, match="node_id"):
        execute(
            spark,
            "CREATE EDGE IN_REGION FROM (SELECT n_name FROM Nation) TO 0",
            workspace_dir=ws,
            allow_writes=True,
        )


def test_update_remove_property(spark, sf_small, tmp_path_factory):
    """UPDATE … REMOVE p clears the value (NULL) on matching rows,
    keeps the column and its type; combines with SET."""
    from biodwh2_arcadedb_server_spark.arcadesql import execute

    ws = str(tmp_path_factory.mktemp("upd_remove") / "ws")
    build_workspace(spark, sf_small, ws, force=True)
    load_workspace(spark, ws)
    run = lambda s: execute(spark, s, workspace_dir=ws, allow_writes=True)
    run("CREATE PROPERTY Nation.note STRING")
    run("UPDATE Nation SET note = 'kept'")
    res = run("UPDATE Nation REMOVE note WHERE natural_key <= 3").collect()[0]
    assert res["count"] == 4
    rows = execute(
        spark,
        "SELECT natural_key, note FROM Nation WHERE natural_key <= 5 "
        "ORDER BY natural_key",
    ).collect()
    assert all(r.note is None for r in rows[:4])
    assert all(r.note == "kept" for r in rows[4:])
    # SET + REMOVE combined
    run("UPDATE Nation SET note = 'back' WHERE natural_key = 9")
    res2 = run(
        "UPDATE Nation SET n_name = 'X' REMOVE note WHERE natural_key = 9"
    ).collect()[0]
    assert res2["count"] == 1
    row = execute(
        spark, "SELECT n_name, note FROM Nation WHERE natural_key = 9"
    ).collect()[0]
    assert row.n_name == "X" and row.note is None
    # identity columns still refused through REMOVE
    with pytest.raises(ArcadeSQLError):
        run("UPDATE Nation REMOVE natural_key")
    # neither SET nor REMOVE is a parse error
    with pytest.raises(ArcadeSQLError, match="SET and/or REMOVE"):
        run("UPDATE Nation WHERE natural_key = 1")


def test_delete_edge_between_endpoints(spark, sf_small, tmp_path_factory):
    """DELETE EDGE <T> FROM <x> TO <y> — endpoint-scoped deletion
    (literal keys and subquery sets), duplicates between the same
    endpoints all go, WHERE composes (round 8)."""
    from biodwh2_arcadedb_server_spark.arcadesql import execute

    ws = str(tmp_path_factory.mktemp("del_between") / "ws")
    build_workspace(spark, sf_small, ws, force=True)
    load_workspace(spark, ws)
    run = lambda s: execute(spark, s, workspace_dir=ws, allow_writes=True)
    # create two extra duplicate edges nation10 -> its region (0)
    run("CREATE EDGE IN_REGION FROM 10 TO 0").collect()
    run("CREATE EDGE IN_REGION FROM 10 TO 0").collect()
    deg = execute(
        spark,
        "SELECT out('IN_REGION').size() AS d FROM Nation WHERE natural_key = 10",
    ).collect()[0].d
    assert deg == 3  # original + 2 dups
    res = run("DELETE EDGE IN_REGION FROM 10 TO 0").collect()[0]
    assert res["count"] == 3  # all edges between the pair go
    deg2 = execute(
        spark,
        "SELECT out('IN_REGION').size() AS d FROM Nation WHERE natural_key = 10",
    ).collect()[0].d
    assert deg2 == 0
    # subquery endpoints: delete all IN_REGION edges from nations 0-2
    res2 = run(
        "DELETE EDGE IN_REGION FROM (SELECT FROM Nation WHERE "
        "natural_key <= 2) TO (SELECT FROM Region)"
    ).collect()[0]
    assert res2["count"] == 3
    # nothing between an unrelated pair
    res3 = run("DELETE EDGE IN_REGION FROM 3 TO 4").collect()[0]
    assert res3["count"] == 0


def test_rid_literals(spark, sf_small, tmp_path_factory):
    """ArcadeDB RID addressing (B): `SELECT FROM #bucket:pos` fetches
    the one record whose node_id the same session's `SELECT @rid`
    echoed; bucket = manifest node-type order. WHERE composes;
    expression position (`@rid = #b:p`) compiles to the id literal;
    out-of-range buckets error loudly (round-9, VERDICT r8 next #4)."""
    from biodwh2_arcadedb_server_spark import workspace as ws_mod
    from biodwh2_arcadedb_server_spark.arcadesql import execute as ex

    ws = str(tmp_path_factory.mktemp("rid_ws") / "ws")
    build_workspace(spark, sf_small, ws, force=True)
    load_workspace(spark, ws)
    bucket = ws_mod.RID_BUCKET_LABELS.index("Nation")
    rid = ex(
        spark, "SELECT @rid AS rid FROM Nation WHERE natural_key = 5"
    ).collect()[0].rid
    rows = ex(spark, f"SELECT FROM #{bucket}:{rid}").collect()
    assert len(rows) == 1 and rows[0].natural_key == 5
    # WHERE composes with the RID predicate (and can veto the row)
    assert ex(
        spark, f"SELECT FROM #{bucket}:{rid} WHERE natural_key = 5"
    ).count() == 1
    assert ex(
        spark, f"SELECT FROM #{bucket}:{rid} WHERE natural_key = 6"
    ).count() == 0
    # expression position: @rid = #b:p
    got = ex(
        spark,
        f"SELECT natural_key FROM Nation WHERE @rid = #{bucket}:{rid}",
    ).collect()
    assert [r.natural_key for r in got] == [5]
    # out-of-range bucket is a loud error, not an empty result
    with pytest.raises(ArcadeSQLError, match="out of range"):
        ex(spark, f"SELECT FROM #99:{rid}")
    with pytest.raises(ArcadeSQLError, match="out of range"):
        ex(spark, f"SELECT FROM Nation WHERE @rid = #99:{rid}")
    # a RID whose position matches no record returns empty (valid
    # bucket, absent id) — ArcadeDB's not-found read shape
    assert ex(spark, f"SELECT FROM #{bucket}:1").count() == 0


def test_dml_battery_parity_64_vs_128bit(spark, sf_small, tmp_path_factory):
    """The whole dialect DML battery (INSERT, UPDATE, DELETE VERTEX
    with cascade, CREATE EDGE with SET props, UPDATE EDGE, ALTER TYPE
    NAME) re-run on an id_bits=128 workspace must produce a readback
    IDENTICAL to the 64-bit run — the id scheme is invisible to the
    relational surface (VERDICT r11 #4). Also pins the round-12 fix:
    the dialect CREATE EDGE must leave src2/dst2 to insert_edges'
    endpoint-table derivation (a NULL-materialized lane made the
    appended edge dodge the rename's pair-keyed remap)."""
    from pyspark.sql import functions as F

    def run_battery(bits):
        ws = str(tmp_path_factory.mktemp(f"dmlpar{bits}") / "ws")
        from biodwh2_arcadedb_server_spark import workspace as wsmod

        node_specs = [
            s for s in wsmod.NODE_SPECS if s.label in ("Region", "Nation")
        ]
        edge_specs = [s for s in wsmod.EDGE_SPECS if s.label == "IN_REGION"]
        build_workspace(
            spark, sf_small, ws, force=True,
            node_specs=node_specs, edge_specs=edge_specs, id_bits=bits,
        )
        load_workspace(spark, ws)
        for stmt in (
            "INSERT INTO Nation (natural_key, n_name) "
            "VALUES (990, 'ATLANTIS'), (991, 'MU')",
            "UPDATE Nation SET n_name = lower(n_name) WHERE natural_key < 5",
            "DELETE VERTEX Nation WHERE natural_key = 7",
            "CREATE EDGE IN_REGION FROM 0 TO 1",
            "CREATE EDGE IN_REGION FROM 9999 TO 1",  # dangling: skipped
            "ALTER TYPE Nation NAME Country",
        ):
            execute(spark, stmt, workspace_dir=ws, allow_writes=True)
        out = execute(
            spark,
            "SELECT natural_key, n_name, both().size() AS degree "
            "FROM Country ORDER BY natural_key",
        )
        return [tuple(r) for r in out.collect()]

    r64 = run_battery(64)
    r128 = run_battery(128)
    assert r64 == r128
    # the battery did real work: insert visible, dup edge counted
    by_key = {r[0]: r for r in r128}
    assert by_key[990][1] == "ATLANTIS" and by_key[990][2] == 0
    assert by_key[0][2] == 2 and 7 not in by_key


def test_schema_reads_never_see_a_torn_manifest(spark, sf_small, tmp_path_factory):
    """``SELECT FROM schema:types`` reads the manifest without the DML
    lock, so concurrent DDL must replace the file atomically: a reader
    sees the old manifest or the new one, never a truncated one (an
    in-place rewrite made these reads fail with JSONDecodeError)."""
    import sys
    import threading
    import time

    ws = str(tmp_path_factory.mktemp("torn_manifest") / "ws")
    build_workspace(spark, sf_small, ws, force=True)
    load_workspace(spark, ws)
    stop = threading.Event()
    writer_errors: list = []
    reads: list = []  # None, or the failed read's error
    writes = 0

    def ddl_loop():
        nonlocal writes
        try:
            while not stop.is_set():
                for sql in (
                    "CREATE INDEX ON Nation (n_name)",
                    "DROP INDEX ON Nation (n_name)",
                ):
                    execute(spark, sql, workspace_dir=ws, allow_writes=True)
                    writes += 1
        except Exception as exc:  # noqa: BLE001
            writer_errors.append(exc)

    def read_once():
        try:
            execute(spark, "SELECT FROM schema:types")
            reads.append(None)
        except Exception as exc:  # noqa: BLE001
            reads.append(repr(exc))

    def read_loop():
        while not stop.is_set():
            read_once()

    # frequent thread switches and two extra reader threads make the
    # readers land inside a write often enough to catch a torn file
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=ddl_loop)]
    threads += [threading.Thread(target=read_loop) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            read_once()
    finally:
        stop.set()
        for t in threads:
            t.join(60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert writer_errors == []
    assert writes > 0 and reads
    errors = [r for r in reads if r is not None]
    assert errors == [], f"{len(errors)} of {len(reads)} reads failed: {errors[:3]}"


def test_statement_scale_writes_run_few_jobs_without_shuffle(spark, dml_ws):
    """Statement-scale DML runs on the driver lanes. INSERT and CREATE
    EDGE collect their literal rows with no job and probe their ids
    with one pushed-down scan per dataset; UPDATE, DELETE EDGE and
    DELETE VERTEX locate their rows with one scan-only job per touched
    dataset and patch the files holding them. Every job is a single
    stage (no shuffle), and collecting a result runs no job."""
    from biodwh2_arcadedb_server_spark.workspace import read_manifest

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def stages_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = tracker.getJobIdsForGroup(group)
        return out, [len(tracker.getJobInfo(j).stageIds) for j in jobs]

    def run(sql, group):
        res, stages = stages_of(group, lambda: execute(
            spark, sql, workspace_dir=dml_ws, allow_writes=True
        ))
        rows, collect_stages = stages_of(group + "-collect", res.collect)
        assert collect_stages == [], (sql, collect_stages)
        assert set(stages) <= {1}, (sql, stages)
        return rows[0]["count"], len(stages)

    assert run(
        "INSERT INTO Nation SET natural_key = 4242, n_name = 'PIN'", "pin-insert"
    ) == (1, 1)  # the Nation id probe
    # the Nation and the Region probe
    assert run("CREATE EDGE IN_REGION FROM 4242 TO 1", "pin-edge") == (1, 2)
    assert run(
        "UPDATE Nation SET n_name = 'PUN' WHERE natural_key = 4242", "pin-update"
    ) == (1, 1)
    assert run("CREATE EDGE IN_REGION FROM 4242 TO 2", "pin-edge2") == (1, 2)
    src = _nid(spark, "Nation", 4242)
    assert run(
        f"DELETE EDGE IN_REGION WHERE src = {src} AND dst = "
        f"{_nid(spark, 'Region', 2)}", "pin-delete-edge",
    ) == (1, 1)
    touching = sum(
        "Nation" in (i["src_label"], i["dst_label"])
        for i in read_manifest(dml_ws)["edges"].values()
    )
    assert run(
        "DELETE VERTEX Nation WHERE natural_key = 4242", "pin-delete"
    ) == (1, 1 + touching)
    assert execute(
        spark, f"SELECT count(*) AS n FROM e_IN_REGION WHERE src = {src}"
    ).collect()[0].n == 0


def _nid(spark, label, key):
    from pyspark.sql import functions as F

    from biodwh2_arcadedb_server_spark.workspace import node_id

    return spark.range(1).select(node_id(label, F.lit(key)).alias("i")).collect()[0].i


def _inodes(path):
    import os

    return {
        e.name: e.inode() for e in os.scandir(path)
        if not e.name.startswith((".", "_"))
    }


def _file_of(spark, ws_dir, kind, label, where):
    from biodwh2_arcadedb_server_spark.workspace import read_dataset

    rows = (
        read_dataset(spark, ws_dir, kind, label)
        .where(where).select("_metadata.file_name").distinct().collect()
    )
    return {r.file_name for r in rows}


def test_patch_keeps_every_untouched_file(spark, dml_ws):
    """UPDATE and DELETE VERTEX replace only the files holding their
    rows: every other file of the multi-file label keeps its inode."""
    import os

    from biodwh2_arcadedb_server_spark.workspace import dataset_path

    def run(sql):
        return execute(
            spark, sql, workspace_dir=dml_ws, allow_writes=True
        ).collect()[0]["count"]

    path = dataset_path(dml_ws, "nodes", "Customer")
    before = _inodes(path)
    assert len(before) > 2
    held = _file_of(spark, dml_ws, "nodes", "Customer", "natural_key IN (3, 90)")
    assert run("UPDATE Customer SET c_name = 'X' WHERE natural_key = 3 OR natural_key = 90") == 2
    after = _inodes(path)
    assert after.keys() == before.keys()
    assert {n for n in after if after[n] != before[n]} == held
    assert [r.c_name for r in execute(
        spark, "SELECT c_name FROM Customer WHERE natural_key = 3 OR natural_key = 90"
    ).collect()] == ["X", "X"]

    edges = dataset_path(dml_ws, "edges", "CUST_IN_NATION")
    e_before = _inodes(edges)
    e_held = _file_of(
        spark, dml_ws, "edges", "CUST_IN_NATION",
        f"src = {_nid(spark, 'Customer', 90)}",
    )
    held = _file_of(spark, dml_ws, "nodes", "Customer", "natural_key = 90")
    before = _inodes(path)
    assert run("DELETE VERTEX Customer WHERE natural_key = 90") == 1
    after = _inodes(path)
    assert {n: i for n, i in after.items() if n not in held} == {
        n: i for n, i in before.items() if n not in held
    }
    e_after = _inodes(edges)
    assert {n: i for n, i in e_after.items() if n not in e_held} == {
        n: i for n, i in e_before.items() if n not in e_held
    }
    assert all(e_after.get(n) != e_before[n] for n in e_held)
    # no patch temp file, and no checksum of a replaced file, is left
    for d, files in ((path, after), (edges, e_after)):
        for f in os.listdir(d):
            assert not f.endswith(".tmp"), f
            if f.endswith(".parquet.crc"):
                assert f[1:-len(".crc")] in files and f[1:-len(".crc")] not in held | e_held, f


@pytest.fixture(scope="module")
def note_types(spark, dml_ws):
    """A vertex type Note and a Note→Note edge type NOTE_ON carrying a
    DOUBLE property ``w``, for the positional-semantics tests."""
    for sql in (
        "CREATE VERTEX TYPE Note",
        "CREATE PROPERTY Note.score DOUBLE",
        "CREATE EDGE TYPE NOTE_ON FROM Note TO Note",
        "CREATE PROPERTY NOTE_ON.w DOUBLE",
        "INSERT INTO Note (natural_key, score) VALUES (1, 0.0), (2, 0.0), (3, 0.0)",
    ):
        execute(spark, sql, workspace_dir=dml_ws, allow_writes=True)
    return dml_ws


@pytest.mark.parametrize("lane", ["patch", "rewrite"])
def test_delete_edge_keeps_rows_whose_predicate_is_null(
    spark, note_types, monkeypatch, lane
):
    """DELETE EDGE … WHERE deletes only the rows where the predicate is
    TRUE: an edge whose ``w`` is NULL stays, on the patch lane and on
    the above-cap rewrite."""
    from biodwh2_arcadedb_server_spark import workspace as ws

    if lane == "rewrite":
        monkeypatch.setattr(ws, "_DRIVER_CAP", 0)

    def run(sql):
        return execute(
            spark, sql, workspace_dir=note_types, allow_writes=True
        ).collect()[0]["count"]

    run("DELETE EDGE NOTE_ON WHERE src = src")
    for w in ("10.0", "NULL", "1.0"):
        assert run(f"CREATE EDGE NOTE_ON FROM 1 TO 2 SET w = {w}") == 1
    assert run("DELETE EDGE NOTE_ON WHERE w > 5") == 1
    left = sorted(
        (r.w is None, r.w) for r in
        spark.sql("SELECT w FROM e_NOTE_ON").collect()
    )
    assert left == [(False, 1.0), (True, None)]
    assert ws.read_manifest(note_types)["edges"]["NOTE_ON"]["count"] == 2
    run("DELETE EDGE NOTE_ON WHERE src = src")


@pytest.mark.parametrize("lane", ["patch", "rewrite"])
def test_dml_is_positional(spark, note_types, monkeypatch, lane):
    """UPDATE EDGE sets every duplicate edge it matches, and DELETE
    VERTEX removes a self-loop on the vertex once: rows are addressed
    by position, so identical rows are distinct rows."""
    from biodwh2_arcadedb_server_spark import workspace as ws

    if lane == "rewrite":
        monkeypatch.setattr(ws, "_DRIVER_CAP", 0)

    def run(sql):
        return execute(
            spark, sql, workspace_dir=note_types, allow_writes=True
        ).collect()[0]["count"]

    def edges():
        return sorted(
            (r.s, r.d, r.w) for r in spark.sql(
                "SELECT n1.natural_key AS s, n2.natural_key AS d, e.w "
                "FROM e_NOTE_ON e JOIN n_Note n1 ON e.src = n1.node_id "
                "JOIN n_Note n2 ON e.dst = n2.node_id"
            ).collect()
        )

    run("DELETE EDGE NOTE_ON WHERE src = src")
    run("INSERT INTO Note SET natural_key = 9, score = 0.0")
    for sql in (
        "CREATE EDGE NOTE_ON FROM 1 TO 3 SET w = 0.5",
        "CREATE EDGE NOTE_ON FROM 1 TO 3 SET w = 0.5",
        "CREATE EDGE NOTE_ON FROM 9 TO 9 SET w = 0.5",
        "CREATE EDGE NOTE_ON FROM 9 TO 1 SET w = 0.5",
        "CREATE EDGE NOTE_ON FROM 2 TO 3 SET w = 0.5",
    ):
        assert run(sql) == 1
    one = _nid(spark, "Note", 1)
    assert run(f"UPDATE EDGE NOTE_ON SET w = 2.0 WHERE src = {one}") == 2
    assert edges() == [
        (1, 3, 2.0), (1, 3, 2.0), (2, 3, 0.5), (9, 1, 0.5), (9, 9, 0.5)
    ]
    assert run("DELETE VERTEX Note WHERE natural_key = 9") == 1
    assert edges() == [(1, 3, 2.0), (1, 3, 2.0), (2, 3, 0.5)]
    manifest = ws.read_manifest(note_types)
    assert manifest["edges"]["NOTE_ON"]["count"] == 3
    assert manifest["nodes"]["Note"]["count"] == spark.sql(
        "SELECT count(*) AS n FROM n_Note"
    ).collect()[0].n == 3
    run("DELETE EDGE NOTE_ON WHERE src = src")


def test_delete_reinsert_delete_same_id(spark, note_types):
    """DELETE VERTEX, re-INSERT of the same natural key, DELETE again:
    the id comes back and goes again, outside a transaction and inside
    one (the statements applied to the transaction's shadow copy)."""
    from biodwh2_arcadedb_server_spark import workspace as ws
    from biodwh2_arcadedb_server_spark.transactions import TransactionManager

    def count(key):
        return spark.sql(
            f"SELECT count(*) AS n FROM n_Note WHERE natural_key = {key}"
        ).collect()[0].n

    cycle = [
        "DELETE VERTEX Note WHERE natural_key = 2",
        "INSERT INTO Note SET natural_key = 2, score = 7.0",
        "DELETE VERTEX Note WHERE natural_key = 2",
        "INSERT INTO Note SET natural_key = 2, score = 8.0",
    ]
    for sql, want in zip(cycle, (0, 1, 0, 1)):
        execute(spark, sql, workspace_dir=note_types, allow_writes=True)
        assert count(2) == want, sql
    mgr = TransactionManager()
    sid = mgr.begin(note_types)
    for sql in cycle[:3]:
        mgr.stage(sid, sql)
    untouched = ws._VIEW_REG["nodes"]["Customer"]
    assert mgr.commit(spark, sid, allow_writes=True) == 3
    assert count(2) == 0
    # the commit re-registered only the labels the transaction touched
    assert ws._VIEW_REG["nodes"]["Customer"] is untouched
    sid = mgr.begin(note_types)
    for sql in cycle[1:]:
        mgr.stage(sid, sql)
    assert mgr.commit(spark, sid, allow_writes=True) == 3
    assert [r.score for r in spark.sql(
        "SELECT score FROM n_Note WHERE natural_key = 2"
    ).collect()] == [8.0]
