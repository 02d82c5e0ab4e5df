"""Unit tests for the LPG workspace ETL (A1-A15) and type mapping (A6-A9)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biodwh2_arcadedb_server_spark import typemap
from biodwh2_arcadedb_server_spark.workspace import (
    build_workspace,
    delete_nodes,
    insert_nodes,
    is_stale,
    load_workspace,
    node_id,
    read_manifest,
    source_checksum,
    update_rows,
)


# --- A6/A7 type mapping -----------------------------------------------------
@pytest.mark.parametrize(
    "name,expected",
    [
        ("string", T.StringType()),
        ("boolean", T.BooleanType()),
        ("byte", T.ByteType()),
        ("short", T.ShortType()),
        ("integer", T.IntegerType()),
        ("long", T.LongType()),
        ("float", T.FloatType()),
        ("double", T.DoubleType()),
        ("list<integer>", T.ArrayType(T.IntegerType())),
        ("list<list<long>>", T.ArrayType(T.ArrayType(T.LongType()))),
        ("list", T.ArrayType(T.StringType())),  # unknown component → String
        ("no_such_type", T.StringType()),  # unknown → String fallback
    ],
)
def test_resolve_type(name, expected):
    assert typemap.resolve_type(name) == expected


def test_permissive_cast_bad_records(spark):
    # A9: bad values become NULL, the job never aborts.
    df = spark.createDataFrame([("1",), ("x",), (None,)], ["v"])
    out = df.select(typemap.permissive_cast(F.col("v"), T.IntegerType()).alias("v")).collect()
    assert [r.v for r in out] == [1, None, None]


def test_permissive_cast_array(spark):
    df = spark.createDataFrame([(["1", "z", "3"],)], ["v"])
    out = df.select(
        typemap.permissive_cast(F.col("v"), T.ArrayType(T.IntegerType())).alias("v")
    ).collect()
    assert out[0].v == [1, None, 3]


# --- A15 checksum memoization + A14 overwrite + build ------------------------
def test_build_and_memoize(spark, sf_small, tmp_path):
    ws = str(tmp_path / "ws")
    m1 = build_workspace(spark, sf_small, ws)
    assert set(m1["nodes"]) >= {"Customer", "Order", "Nation", "Region", "Supplier", "Part"}
    assert set(m1["edges"]) >= {"PLACED", "CONTAINS", "IN_REGION"}
    assert m1["nodes"]["Nation"]["count"] == 25
    assert m1["edges"]["IN_REGION"]["count"] == 25
    # PLACED edge count == orders row count (no dangling endpoints here)
    orders_n = spark.read.parquet(os.path.join(sf_small, "orders.parquet")).count()
    assert m1["edges"]["PLACED"]["count"] == orders_n

    # memoization: rebuild is a no-op returning the stored manifest
    marker = os.path.join(ws, "manifest.json")
    mtime1 = os.path.getmtime(marker)
    time.sleep(0.05)
    m2 = build_workspace(spark, sf_small, ws)
    assert os.path.getmtime(marker) == mtime1
    assert m2["nodes"]["Nation"]["count"] == 25
    assert not is_stale(sf_small, ws)

    # force: rewrites
    m3 = build_workspace(spark, sf_small, ws, force=True)
    assert os.path.getmtime(marker) > mtime1
    assert m3["nodes"]["Nation"]["count"] == 25


def test_incremental_rebuild_skips_unchanged_labels(spark, sf_small, tmp_path):
    # Writable copy of the source so we can touch one table.
    import shutil

    src = str(tmp_path / "src")
    os.makedirs(src)
    for name in os.listdir(sf_small):
        if name.endswith(".parquet"):
            shutil.copy(os.path.join(sf_small, name), os.path.join(src, name))
    ws = str(tmp_path / "ws")
    m1 = build_workspace(spark, src, ws)
    assert m1["rebuilt"]  # first build builds everything

    placed_dir = os.path.join(ws, "edges", "PLACED")
    placed_mtime = os.path.getmtime(placed_dir)
    cust_dir = os.path.join(ws, "nodes", "Customer")
    cust_mtime = os.path.getmtime(cust_dir)

    # touch only nation.parquet → Nation node + its incident edges
    time.sleep(0.05)
    os.utime(os.path.join(src, "nation.parquet"))
    m2 = build_workspace(spark, src, ws)
    assert set(m2["rebuilt"]) == {
        "n:Nation",
        "e:CUST_IN_NATION",
        "e:SUPP_IN_NATION",
        "e:IN_REGION",
    }
    # untouched labels were not rewritten
    assert os.path.getmtime(placed_dir) == placed_mtime
    assert os.path.getmtime(cust_dir) == cust_mtime
    assert m2["nodes"]["Nation"]["count"] == 25

    # third run with nothing changed: global fast path, zero rebuilds
    m3 = build_workspace(spark, src, ws)
    assert m3["rebuilt"] == []


def test_checksum_changes_with_source(sf_small, tmp_path):
    c1 = source_checksum(sf_small)
    assert c1 == source_checksum(sf_small)  # stable
    # different dir (different files) → different hash
    other = "/root/testdata/sf0.01"
    assert c1 != source_checksum(other)


def test_node_id_deterministic(spark):
    df = spark.range(3)
    a = df.select(node_id("Customer", F.col("id")).alias("n")).collect()
    b = df.select(node_id("Customer", F.col("id")).alias("n")).collect()
    assert a == b
    c = df.select(node_id("Order", F.col("id")).alias("n")).collect()
    assert a != c  # label participates in the hash


def test_dangling_edges_dropped(spark, tmp_path):
    # A11 semantics: edges whose endpoint is missing are skipped
    # (reference: fromNode != null && toNode != null).
    from biodwh2_arcadedb_server_spark.workspace import EdgeSpec, build_edges

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame([(1, "a")], ["c_custkey", "c_name"]).write.parquet(
        os.path.join(src, "customer.parquet")
    )
    # order 10 belongs to existing customer 1; order 20 to missing customer 99
    spark.createDataFrame(
        [(10, 1), (20, 99)], ["o_orderkey", "o_custkey"]
    ).write.parquet(os.path.join(src, "orders.parquet"))

    from biodwh2_arcadedb_server_spark.workspace import NodeSpec, build_nodes

    nodes = {
        "Customer": build_nodes(spark, src, NodeSpec("Customer", "customer", "c_custkey", [])),
        "Order": build_nodes(spark, src, NodeSpec("Order", "orders", "o_orderkey", [])),
    }
    edges = build_edges(
        spark, src, EdgeSpec("PLACED", "orders", "Customer", "o_custkey", "Order", "o_orderkey"), nodes
    )
    assert edges.count() == 1  # the dangling one was dropped


# --- B19: DML as batch recompute ----------------------------------------------
def test_dml_insert_update_delete_cascade(spark, sf_small, tmp_path):
    ws = str(tmp_path / "ws_dml")
    m = build_workspace(spark, sf_small, ws)
    n_nations0 = m["nodes"]["Nation"]["count"]

    # INSERT: new nation appended; duplicate natural key skipped (A9 posture)
    rows = spark.createDataFrame([(990, "ATLANTIS"), (0, "DUPLICATE")], ["natural_key", "n_name"])
    n = insert_nodes(spark, ws, "Nation", rows)
    assert n == 1
    assert read_manifest(ws)["nodes"]["Nation"]["count"] == n_nations0 + 1

    # UPDATE: rename the new nation
    touched = update_rows(
        spark, ws, "nodes", "Nation", F.col("natural_key") == 990,
        {"n_name": F.lit("LEMURIA")},
    )
    assert touched == 1
    got = (
        spark.read.parquet(os.path.join(ws, "nodes", "Nation"))
        .where(F.col("natural_key") == 990)
        .collect()
    )
    assert got[0].n_name == "LEMURIA"

    # DELETE cascades: dropping a nation removes its IN_REGION edge and
    # every CUST_IN_NATION / SUPP_IN_NATION edge pointing at it
    import json as _json

    with open(os.path.join(ws, "manifest.json")) as fh:
        before = _json.load(fh)
    victim = 0  # nationkey 0 exists in testdata with customers attached
    n_del = delete_nodes(spark, ws, "Nation", F.col("natural_key") == victim)
    assert n_del == 1
    with open(os.path.join(ws, "manifest.json")) as fh:
        after = _json.load(fh)
    assert after["nodes"]["Nation"]["count"] == before["nodes"]["Nation"]["count"] - 1
    assert after["edges"]["IN_REGION"]["count"] == before["edges"]["IN_REGION"]["count"] - 1
    assert after["edges"]["CUST_IN_NATION"]["count"] < before["edges"]["CUST_IN_NATION"]["count"]
    # no dangling endpoints remain
    nation_ids = {r.node_id for r in spark.read.parquet(os.path.join(ws, "nodes", "Nation")).collect()}
    dst_ids = {r.dst for r in spark.read.parquet(os.path.join(ws, "edges", "CUST_IN_NATION")).collect()}
    assert dst_ids <= nation_ids

    # DELETE with no matches is a no-op
    assert delete_nodes(spark, ws, "Nation", F.col("natural_key") == 999999) == 0


def test_load_workspace_views(spark, sf_small, tmp_path):
    ws = str(tmp_path / "ws2")
    build_workspace(spark, sf_small, ws)
    load_workspace(spark, ws)
    n = spark.sql("SELECT COUNT(*) AS n FROM nodes").collect()[0].n
    e = spark.sql("SELECT COUNT(*) AS n FROM edges").collect()[0].n
    assert n > 0 and e > 0
    # unified view and per-label views agree
    n_cust = spark.sql("SELECT COUNT(*) AS n FROM n_Customer").collect()[0].n
    n_cust_u = spark.sql("SELECT COUNT(*) AS n FROM nodes WHERE label='Customer'").collect()[0].n
    assert n_cust == n_cust_u
    # node ids are globally unique across labels
    dup = spark.sql(
        "SELECT node_id FROM nodes GROUP BY node_id HAVING COUNT(*) > 1"
    ).count()
    assert dup == 0
    # §1.3 escape hatch: unified view exposes typed per-label props as
    # a string map, queryable label-agnostically
    seg = spark.sql(
        "SELECT COUNT(*) AS n FROM nodes "
        "WHERE label = 'Customer' AND props['c_mktsegment'] = 'BUILDING'"
    ).collect()[0].n
    direct = spark.sql(
        "SELECT COUNT(*) AS n FROM n_Customer WHERE c_mktsegment = 'BUILDING'"
    ).collect()[0].n
    assert seg == direct > 0


def test_validate_node_ids_forged_collision(spark):
    """The collision audit must fail loudly on a duplicate global id
    (forged here — xxhash64 collisions are not constructible — by
    handing the validator two labels sharing an id) and pass on
    disjoint ids."""
    import pytest as _pytest

    from biodwh2_arcadedb_server_spark.workspace import validate_node_ids

    a = spark.createDataFrame([(1,), (2,)], "node_id long")
    b = spark.createDataFrame([(2,), (3,)], "node_id long")
    with _pytest.raises(ValueError, match="collision"):
        validate_node_ids({"A": a, "B": b})
    c = spark.createDataFrame([(4,), (5,)], "node_id long")
    validate_node_ids({"A": a, "C": c})  # disjoint: no raise


def test_build_workspace_runs_collision_audit(spark, sf_small, tmp_path, monkeypatch):
    """build_workspace must invoke the audit when node labels rebuild."""
    from biodwh2_arcadedb_server_spark import workspace as ws

    calls = []
    real = ws.validate_node_ids
    monkeypatch.setattr(
        ws, "validate_node_ids",
        lambda nf, **kw: calls.append(len(nf)) or real(nf, **kw),
    )
    ws.build_workspace(spark, sf_small, str(tmp_path / "ws_audit"), force=True)
    assert calls, "validate_node_ids was not called on a fresh build"


# ---------------------------------------------------------------- 128-bit id scheme (round 7)
def test_build_workspace_128bit_ids(spark, sf_small, tmp_path):
    """id_bits=128 (the SCALE.md collision-ceiling escape hatch):
    nodes carry both lanes, edges carry src2/dst2 derived locally
    from the FK, the dangling semi-join keys on the 16-byte pair, and
    the manifest records the scheme."""
    from biodwh2_arcadedb_server_spark.workspace import (
        build_workspace,
        load_workspace,
        node_id2,
    )

    ws = str(tmp_path / "ws128")
    manifest = build_workspace(spark, sf_small, ws, force=True, id_bits=128)
    assert manifest["id_scheme"] == "xxhash64x2(label,key)"
    assert manifest["id_bits"] == 128
    load_workspace(spark, ws)
    n = spark.table("n_Nation")
    assert {"node_id", "node_id2"} <= set(n.columns)
    # second lane is derived, deterministic, and independent of lane 1
    chk = n.select(
        (F.col("node_id2") == node_id2("Nation", F.col("natural_key"))).alias("ok"),
        (F.col("node_id2") != F.col("node_id")).alias("indep"),
    ).collect()
    assert all(r.ok and r.indep for r in chk)
    e = spark.table("e_IN_REGION")
    assert {"src", "src2", "dst", "dst2"} <= set(e.columns)
    # both lanes of every edge endpoint resolve to the same node row
    joined = (
        e.join(
            n.select(F.col("node_id").alias("src"), F.col("node_id2").alias("_n2")),
            "src",
        )
        .where(F.col("src2") != F.col("_n2"))
        .count()
    )
    assert joined == 0
    # unified views stay 64-bit-shaped (node_id2 is an id lane, not a prop)
    props_keys = spark.table("nodes").select(
        F.explode(F.map_keys("props")).alias("k")
    ).distinct().collect()
    assert "node_id2" not in {r.k for r in props_keys}


def test_validate_node_ids_128bit_pair_semantics(spark):
    """Collision audit under the 128-bit scheme: a first-lane clash
    with differing second lanes is NOT a collision; an identical PAIR
    across labels is."""
    from biodwh2_arcadedb_server_spark.workspace import validate_node_ids

    a = spark.createDataFrame([(1, 10), (2, 20)], "node_id long, node_id2 long")
    b = spark.createDataFrame([(2, 99), (3, 30)], "node_id long, node_id2 long")
    validate_node_ids({"A": a, "B": b}, id_bits=128)  # lane-1 clash only: ok
    with pytest.raises(ValueError, match="collision"):
        validate_node_ids({"A": a, "B": b})  # same frames, 64-bit rules
    c = spark.createDataFrame([(2, 20), (4, 40)], "node_id long, node_id2 long")
    with pytest.raises(ValueError, match="collision"):
        validate_node_ids({"A": a, "C": c}, id_bits=128)  # pair clash


def test_insert_nodes_derives_second_lane(spark, sf_small, tmp_path):
    """Dialect INSERT into a 128-bit workspace derives both lanes."""
    from biodwh2_arcadedb_server_spark.arcadesql import execute
    from biodwh2_arcadedb_server_spark.workspace import (
        build_workspace,
        load_workspace,
        node_id2,
    )

    ws = str(tmp_path / "ws128ins")
    build_workspace(spark, sf_small, ws, force=True, id_bits=128)
    load_workspace(spark, ws)
    execute(
        spark,
        "INSERT INTO Nation SET natural_key = 990, n_name = 'MU'",
        workspace_dir=ws, allow_writes=True,
    )
    row = spark.read.parquet(f"{ws}/nodes/Nation").where(
        F.col("natural_key") == 990
    ).collect()[0]
    expect = spark.range(1).select(
        node_id2("Nation", F.lit(990)).alias("x")
    ).collect()[0].x
    assert row.node_id2 == expect


def test_rename_type_128bit_two_lane_cascade(spark, sf_small, tmp_path):
    """ALTER TYPE ... NAME on a 128-bit workspace (round 8 — closes
    the ROADMAP '128-bit DML completion' seam): both id lanes are
    recomputed from (new_label, natural_key), and every touching edge
    dataset's src/src2 (or dst/dst2) pairs remap via the 16-byte pair
    join — a first-lane-only match must not remap an endpoint."""
    from biodwh2_arcadedb_server_spark.workspace import (
        build_workspace,
        load_workspace,
        node_id,
        node_id2,
        rename_type,
    )

    ws = str(tmp_path / "ws128r")
    build_workspace(spark, sf_small, ws, force=True, id_bits=128)
    load_workspace(spark, ws)
    before_edges = spark.table("e_IN_REGION").count()
    n = rename_type(spark, ws, "Nation", "Land")
    assert n == 25
    load_workspace(spark, ws)
    nn = spark.table("n_Land")
    chk = nn.select(
        (F.col("node_id") == node_id("Land", F.col("natural_key"))).alias("a"),
        (F.col("node_id2") == node_id2("Land", F.col("natural_key"))).alias("b"),
    ).collect()
    assert all(r.a and r.b for r in chk)
    # the IN_REGION edges remapped BOTH src lanes to the new ids
    e = spark.table("e_IN_REGION")
    assert e.count() == before_edges
    joined = (
        e.join(
            nn.select(
                F.col("node_id").alias("src"),
                F.col("node_id2").alias("_n2"),
            ),
            "src",
        )
        .where(F.col("src2") != F.col("_n2"))
        .count()
    )
    assert joined == 0
    # every edge src resolves against the renamed label (none dangling)
    resolved = e.join(
        nn.select(F.col("node_id").alias("src")), "src", "left_semi"
    ).count()
    assert resolved == before_edges


def test_update_preserves_declared_column_type(spark, sf_small, tmp_path):
    """UPDATE assignments cast to the column's declared type — an
    uncast when/otherwise would coerce the whole column (e.g. long →
    string parquet) and break every later manifest-schema read
    (round-8 review finding)."""
    from biodwh2_arcadedb_server_spark.workspace import (
        build_workspace,
        load_workspace,
        update_rows,
    )

    ws = str(tmp_path / "updtype")
    build_workspace(spark, sf_small, ws, force=True)
    load_workspace(spark, ws)
    before_type = dict(spark.table("n_Customer").dtypes)["c_acctbal"]
    update_rows(
        spark, ws, "nodes", "Customer",
        F.col("natural_key") == 1,
        {"c_acctbal": F.lit("123.5")},  # string literal into a numeric col
    )
    load_workspace(spark, ws)
    after = spark.table("n_Customer")
    assert dict(after.dtypes)["c_acctbal"] == before_type
    assert after.where(F.col("natural_key") == 1).collect()[0].c_acctbal == 123.5


def test_staged_append_writer_commit_and_abort(spark, tmp_path):
    """Round 13 (VERDICT r12 #6): the staged-commit append writer.
    Commit moves exactly the staged files in and leaves no staging
    residue; a FAILED write aborts — dataset byte-identical, staging
    cleaned; concurrent token-scoped writes each read back their own
    count."""
    import os
    import threading

    from pyspark.sql import functions as F

    from biodwh2_arcadedb_server_spark.workspace import _append_via_tmp

    d = str(tmp_path / "ds")
    spark.range(5).selectExpr("id AS node_id").write.parquet(d)

    n = _append_via_tmp(spark.range(5, 8).selectExpr("id AS node_id"), d)
    assert n == 3
    assert spark.read.parquet(d).count() == 8
    leftovers = [f for f in os.listdir(d) if f.startswith((".staging", ".append"))]
    assert leftovers == []

    # abort path: the write job fails mid-flight -> dataset unchanged
    # assert_true must live INSIDE the kept column or Catalyst prunes it
    bad = spark.range(3).select(
        F.coalesce(
            F.assert_true(F.col("id") < 0).cast("long"), F.col("id")
        ).alias("node_id")
    )
    import pytest as _pytest

    with _pytest.raises(Exception):
        _append_via_tmp(bad, d)
    assert spark.read.parquet(d).count() == 8
    assert [f for f in os.listdir(d) if f.startswith(".staging")] == []

    # concurrent appends: token-scoped summaries never cross wires
    results, errors = {}, []

    def app(k):
        try:
            results[k] = _append_via_tmp(
                spark.range(100 * k, 100 * k + k).selectExpr("id AS node_id"), d
            )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    ts = [threading.Thread(target=app, args=(k,)) for k in (1, 2, 3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(120)
    assert not errors and results == {1: 1, 2: 2, 3: 3}
    assert spark.read.parquet(d).count() == 14


def test_manifest_commit_mode_survives_torn_publication(spark, tmp_path):
    """Round 14 (VERDICT r13 #4): the object-store commit lane. In
    manifest mode nothing is ever renamed — data files are written
    once under uuid names and the single-file manifest replace IS the
    commit. A write that dies after its data files landed but BEFORE
    the manifest update (the torn state a non-atomic rename would
    produce on S3) must leave readers on the old consistent dataset;
    completing the publication must expose exactly the new rows."""
    import os

    from biodwh2_arcadedb_server_spark.sources.staged_write import (
        MANIFEST_NAME,
        dataset_files,
        driver_staged_append,
        ensure_registered,
        manifest_files,
        manifest_publish,
        read_dataset,
        read_last_append,
    )

    d = str(tmp_path / "mds")
    spark.range(5).selectExpr("id AS node_id").write.parquet(d)

    # first manifest-mode write: bootstraps the manifest from the
    # rename-committed history, then publishes its own files
    ensure_registered(spark)
    (
        spark.range(5, 9).selectExpr("id AS node_id")
        .write.format("workspace_append")
        .option("path", d).option("token", "t1")
        .option("commit_mode", "manifest")
        .mode("append").save()
    )
    assert read_last_append(d, "t1") == 4
    files, version = manifest_files(d)
    assert version >= 1 and len(files) >= 2
    assert read_dataset(spark, d).count() == 9

    # TORN WRITE SIMULATION: data files land, manifest never updates
    # (crash between the two) — readers must stay on the old manifest
    import pyarrow as pa
    import pyarrow.parquet as pq

    orphan = os.path.join(d, "part-99999-deadbeef.parquet")
    pq.write_table(pa.table({"node_id": pa.array([100, 101], pa.int64())}), orphan)
    assert read_dataset(spark, d).count() == 9  # orphan invisible
    assert orphan not in dataset_files(d)

    # completing the publication (the manifest PUT) exposes the rows
    manifest_publish(d, [os.path.basename(orphan)])
    assert read_dataset(spark, d).count() == 11
    files2, version2 = manifest_files(d)
    assert version2 == version + 1

    # the statement-scale driver fast path keeps a manifest dataset
    # coherent too
    schema = spark.range(1).selectExpr("id AS node_id").schema
    rows = spark.range(200, 203).selectExpr("id AS node_id").collect()
    assert driver_staged_append(d, schema, rows) == 3
    assert read_dataset(spark, d).count() == 14

    # abort parity: a failed manifest-mode write leaves the dataset
    # (as seen through the manifest) byte-identical
    from pyspark.sql import functions as F
    import pytest as _pytest

    bad = spark.range(3).select(
        F.coalesce(
            F.assert_true(F.col("id") < 0).cast("long"), F.col("id")
        ).alias("node_id")
    )
    with _pytest.raises(Exception):
        (
            bad.write.format("workspace_append")
            .option("path", d).option("token", "t2")
            .option("commit_mode", "manifest")
            .mode("append").save()
        )
    assert read_dataset(spark, d).count() == 14
    assert manifest_files(d)[1] == version2 + 1  # fast path bumped once
    assert not os.path.exists(os.path.join(d, ".append-t2.json"))
