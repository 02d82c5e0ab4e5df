"""Round-9 advice regressions: transaction crash-window recovery, the
UPSERT-in-transaction dirty-read window, and unknown-property DML
errors. Reference posture: ArcadeDB HTTP transactions are atomic and
never expose uncommitted data to concurrent readers."""

from __future__ import annotations

import os

import pytest

from biodwh2_arcadedb_server_spark import transactions
from biodwh2_arcadedb_server_spark.arcadesql import ArcadeSQLError, execute
from biodwh2_arcadedb_server_spark.transactions import (
    TransactionError,
    TransactionManager,
)
from biodwh2_arcadedb_server_spark.workspace import (
    build_workspace,
    load_workspace,
)


@pytest.fixture()
def txn_ws(spark, sf_small, tmp_path_factory):
    ws = str(tmp_path_factory.mktemp("txn_recovery") / "ws")
    build_workspace(spark, sf_small, ws, force=True)
    load_workspace(spark, ws)
    return ws


def _nation_count(spark):
    return execute(spark, "SELECT count(*) AS n FROM Nation").collect()[0].n


def test_commit_swap_failure_restores_base(spark, txn_ws, monkeypatch):
    """If the second rename (shadow→base) fails AFTER base→old
    succeeded, the except handler must rename old back to base before
    cleanup — otherwise the live workspace is stranded at the
    __txn_old_ path and load_workspace masks the real error with
    FileNotFoundError (round-9 advice finding)."""
    mgr = TransactionManager()
    sid = mgr.begin(txn_ws)
    mgr.stage(sid, "INSERT INTO Nation SET natural_key = 970, n_name = 'X'")
    before = _nation_count(spark)

    real_rename = os.rename

    def failing_rename(src, dst):
        # fail ONLY the shadow→base swap; the recovery rename
        # (old→base) must go through
        if dst == txn_ws and "__txn_old_" not in src:
            raise OSError("simulated crash mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr(transactions.os, "rename", failing_rename)
    # the swap failure surfaces as-is (not a statement failure), but
    # the handler must have restored the live workspace first
    with pytest.raises(OSError, match="simulated crash"):
        mgr.commit(spark, sid, allow_writes=True)
    monkeypatch.undo()

    # base restored, shadow and old gone, data unchanged, views live
    assert os.path.isfile(os.path.join(txn_ws, "manifest.json"))
    parent = os.path.dirname(txn_ws)
    leftovers = [d for d in os.listdir(parent) if "__txn" in d]
    assert leftovers == []
    assert _nation_count(spark) == before
    # the workspace is still fully usable: a fresh transaction commits
    sid2 = mgr.begin(txn_ws)
    mgr.stage(sid2, "INSERT INTO Nation SET natural_key = 971, n_name = 'Y'")
    assert mgr.commit(spark, sid2, allow_writes=True) == 1
    assert _nation_count(spark) == before + 1


def test_upsert_insert_branch_in_txn_never_repoints_views(
    spark, txn_ws, monkeypatch
):
    """A staged `UPDATE … UPSERT` that takes the INSERT branch recurses
    into the DML executor; the recursion must forward
    refresh_views=False so the live session views are never repointed
    at the uncommitted shadow mid-commit (round-9 advice finding:
    the recursive call defaulted to True)."""
    from biodwh2_arcadedb_server_spark import workspace as ws_mod

    loaded_paths: list[str] = []
    real_load = ws_mod.load_workspace

    def spy_load(spark_, path, *a, **kw):
        loaded_paths.append(path)
        return real_load(spark_, path, *a, **kw)

    monkeypatch.setattr(ws_mod, "load_workspace", spy_load)
    mgr = TransactionManager()
    sid = mgr.begin(txn_ws)
    # natural_key 972 doesn't exist → the UPSERT takes the insert branch
    mgr.stage(
        sid,
        "UPDATE Nation SET n_name = 'UPS' UPSERT WHERE natural_key = 972",
    )
    assert mgr.commit(spark, sid, allow_writes=True) == 1
    # no load ever targeted a shadow path; the post-commit re-register
    # targets the live base exactly
    assert all("__txn" not in p for p in loaded_paths), loaded_paths
    assert txn_ws in loaded_paths
    row = execute(
        spark, "SELECT n_name FROM Nation WHERE natural_key = 972"
    ).collect()
    assert [r.n_name for r in row] == ["UPS"]


def test_update_unknown_property_clean_error(spark, txn_ws):
    """SET/REMOVE naming an undeclared property is a clean dialect
    error (ArcadeSQLError), not a raw KeyError escaping from the
    schema lookup (round-9 advice finding)."""
    run = lambda s: execute(spark, s, workspace_dir=txn_ws, allow_writes=True)
    with pytest.raises(ArcadeSQLError, match="unknown propert"):
        run("UPDATE Nation SET nonexistent = 1 WHERE natural_key = 0")
    with pytest.raises(ArcadeSQLError, match="unknown propert"):
        run("UPDATE Nation REMOVE ghost WHERE natural_key = 0")
    with pytest.raises(ArcadeSQLError, match="unknown propert"):
        run("UPDATE EDGE IN_REGION SET ghost = 1")


def test_txn_insert_then_delete_same_vertex(spark, txn_ws):
    """Every statement of a transaction applies to the shadow copy:
    a DELETE staged after an INSERT of the same vertex must see (and
    remove) the inserted record. Reading the dataset path from the
    manifest sent the DELETE to the live workspace, so it matched
    nothing and the committed vertex survived."""
    before = _nation_count(spark)
    mgr = TransactionManager()
    sid = mgr.begin(txn_ws)
    mgr.stage(sid, "INSERT INTO Nation SET natural_key = 980, n_name = 'T'")
    mgr.stage(sid, "DELETE VERTEX Nation WHERE natural_key = 980")
    assert mgr.commit(spark, sid, allow_writes=True) == 2
    rows = execute(
        spark, "SELECT natural_key FROM Nation WHERE natural_key = 980"
    ).collect()
    assert rows == []
    assert _nation_count(spark) == before


def test_txn_rolled_back_delete_leaves_live_workspace(spark, txn_ws):
    """A transaction whose later statement fails is rolled back: the
    live workspace keeps every record, including ones an earlier
    statement deleted in the shadow (and the edges that delete
    cascaded to). The shadow hardlinks every workspace file, so the
    manifest the staged DDL and DELETE rewrote in the shadow must
    leave the live manifest byte-identical: a lane that wrote a
    workspace file in place would change it through the link."""
    import hashlib

    def manifest_sha():
        with open(os.path.join(txn_ws, "manifest.json"), "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()

    before = _nation_count(spark)
    edges_before = spark.table("e_IN_REGION").count()
    sha_before = manifest_sha()
    mgr = TransactionManager()
    sid = mgr.begin(txn_ws)
    mgr.stage(sid, "DELETE VERTEX Nation WHERE natural_key = 1")
    mgr.stage(sid, "CREATE PROPERTY Nation.note STRING")
    mgr.stage(sid, "UPDATE Nation SET ghost = 1 WHERE natural_key = 0")
    with pytest.raises(TransactionError, match="rolled back"):
        mgr.commit(spark, sid, allow_writes=True)
    assert _nation_count(spark) == before
    assert spark.table("e_IN_REGION").count() == edges_before
    assert manifest_sha() == sha_before
    assert "note" not in spark.table("n_Nation").columns
