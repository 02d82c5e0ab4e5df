from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# The suite reads small local parquet: opt in to the small-split
# scan tuning that get_spark() no longer bakes in as a library
# default (round-7 ADVICE).
os.environ.setdefault("SPARK_GRAFT_LOCAL_TUNING", "1")

from biodwh2_arcadedb_server_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF0001


@pytest.fixture(scope="session")
def sf_medium():
    return SF001


@pytest.fixture(scope="module")
def dml_ws(spark, sf_small, tmp_path_factory):
    """A workspace for one module's DML tests, registered as the
    session's views. It is written with a small maxRecordsPerFile, so
    every label of more than 8 rows spans several files and the DML
    lanes meet multi-file datasets. The module's tests share it, so
    each must touch rows (or types) of its own."""
    from biodwh2_arcadedb_server_spark.workspace import build_workspace, load_workspace

    ws = str(tmp_path_factory.mktemp("dml") / "ws")
    key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "8")
    try:
        build_workspace(spark, sf_small, ws, force=True)
    finally:
        spark.conf.unset(key)
    load_workspace(spark, ws)
    return ws
