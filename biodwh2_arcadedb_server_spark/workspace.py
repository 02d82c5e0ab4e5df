"""LPG workspace build pipeline — the reference's core ETL, Spark-first.

Reference behavior (`/root/reference/src/.../ArcadeDBService.java`):
``createDatabase`` opens the source graph read-only (:129), creates a
vertex type per node label with declared property schema (:141-154),
writes all nodes while building a sourceId→RID map (:156-162), creates
an edge type per edge label (:225-238), writes edges probing the id
map for both endpoints and skipping dangling ones (:240-254), then
builds indices (:258-283). ``deleteOldDatabase`` (:112-122) makes the
build a destructive overwrite, and the server stores a pseudo-hash of
the source to skip/flag rebuilds (`ArcadeDBServer.java:76-90,105-119`,
`HashUtils.java:21-24`).

Spark-first re-expression (and the 100 TB design decisions):

- **Node identity without a driver-side map.** The reference keeps a
  ``HashMap<Long, RID>`` on the heap — at 100 TB that map doesn't fit
  anywhere. We derive ``node_id = xxhash64(label, natural_key)``
  deterministically, so edge endpoint ids are computed *locally from
  the foreign key with zero shuffle*; no id-assignment pass, no
  broadcast. (64-bit collisions become a concern past ~10^9 nodes;
  every build that touches a node label runs ``validate_node_ids`` —
  a groupBy(node_id) HAVING count>1 audit across all labels — and
  fails loudly on a hit; the manifest records the scheme so a 128-bit
  variant can be swapped in.)
- **Dangling-edge semantics preserved** via ``left_semi`` joins
  against the node sets (the reference skips edges whose endpoint is
  missing, :241-243). The semi-join carries only (node_id) — at scale
  it is a shuffle on the join key of a 1-column table, or a broadcast
  when the node set is small.
- **Schema-first writes** (:149-154): explicit StructType per label,
  internal fields dropped (A5), permissive casts (A9).
- **Destructive overwrite** = ``write.mode("overwrite")`` (A14).
- **Memoization** (A15): md5("{mtime}__{size}") per source file, same
  construction as HashUtils.java:21-24.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from biodwh2_arcadedb_server_spark.sources.registry import load_table
from biodwh2_arcadedb_server_spark.typemap import IGNORED_FIELDS


@dataclass
class NodeSpec:
    label: str
    table: str
    key: str
    props: list[str] = field(default_factory=list)


@dataclass
class EdgeSpec:
    label: str
    table: str
    src_label: str
    src_key: str
    dst_label: str
    dst_key: str
    props: list[str] = field(default_factory=list)
    distinct: bool = False


# RID bucket registry (ArcadeDB SQL record-id addressing,
# `SELECT FROM #bucket:pos`): bucket index = the label's position in
# the manifest's node-type insertion order — stable under additions
# (new types append) and refreshed by every load_workspace. pos is
# the content-derived node_id (our documented divergence from
# ArcadeDB's physical page:slot positions). Session-global like the
# registered views it addresses.
RID_BUCKET_LABELS: list[str] = []

# Edge types of the last-loaded workspace: the dialect compiles
# `SELECT FROM <EdgeType>` to its `e_<LABEL>` view. Set under the DML
# lock with RID_BUCKET_LABELS.
EDGE_LABELS: frozenset[str] = frozenset()

# Bumped every time load_workspace (re)registers the session views —
# lets probe-side view caches (dialect_queries._register_star_workspace)
# know their temp views were displaced and must re-register (round 10:
# 23 dialect/GraphQL probes were paying ~0.5s of identical view
# registration EACH per bench run).
VIEW_EPOCH = 0

# Directory of the last-loaded workspace (round 14): the dialect's
# `schema:types` / `schema:indexes` / `schema:buckets` TVF targets
# re-read the manifest from here at query time, so DDL that ran since
# the load is reflected without a reload. Set under the DML lock with
# RID_BUCKET_LABELS.
LAST_WS_DIR: str | None = None


# The TPC-H star schema viewed as a labeled property graph — the same
# shape the reference ETLs out of a BioDWH2 workspace (per-label node
# and edge sets with typed properties).
NODE_SPECS = [
    NodeSpec("Region", "region", "r_regionkey", ["r_name"]),
    NodeSpec("Nation", "nation", "n_nationkey", ["n_name"]),
    NodeSpec("Customer", "customer", "c_custkey", ["c_name", "c_acctbal", "c_mktsegment"]),
    NodeSpec("Supplier", "supplier", "s_suppkey", ["s_name", "s_acctbal"]),
    NodeSpec("Part", "part", "p_partkey", ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"]),
    NodeSpec("Order", "orders", "o_orderkey", ["o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]),
    NodeSpec("Document", "documents", "doc_id", ["lang", "source", "n_chars"]),
]

EDGE_SPECS = [
    EdgeSpec("PLACED", "orders", "Customer", "o_custkey", "Order", "o_orderkey"),
    EdgeSpec(
        "CONTAINS", "lineitem", "Order", "l_orderkey", "Part", "l_partkey",
        ["l_quantity", "l_extendedprice", "l_discount", "l_linenumber"],
    ),
    EdgeSpec("SUPPLIED_BY", "lineitem", "Part", "l_partkey", "Supplier", "l_suppkey", distinct=True),
    EdgeSpec("CUST_IN_NATION", "customer", "Customer", "c_custkey", "Nation", "c_nationkey"),
    EdgeSpec("SUPP_IN_NATION", "supplier", "Supplier", "s_suppkey", "Nation", "s_nationkey"),
    EdgeSpec("IN_REGION", "nation", "Nation", "n_nationkey", "Region", "n_regionkey"),
]


def node_id(label: str, key_col) -> F.Column:
    """Deterministic global node id: xxhash64(label, natural key)."""
    return F.xxhash64(F.lit(label), key_col.cast("long"))


def node_id2(label: str, key_col) -> F.Column:
    """Second, independent 64-bit id lane for the 128-bit scheme
    (SCALE.md: 64-bit collisions become material past ~10⁹ nodes).
    A distinct leading salt makes the two lanes behave as independent
    hash functions, so the pair collides with ~2⁻¹²⁸ probability —
    still computed locally from the FK with zero shuffle, preserving
    the no-id-assignment-pass property the scheme exists for."""
    return F.xxhash64(F.lit("__idlane2__"), F.lit(label), key_col.cast("long"))


def dataset_path(ws_dir: str, kind: str, label: str) -> str:
    """Directory of one label's parquet dataset (``kind`` is "nodes"
    or "edges"). Always derived from ``ws_dir``, never stored: a
    transaction applies its statements to a copy of the workspace
    under another directory, and every lane must mutate that copy."""
    return os.path.join(ws_dir, kind, label)


# The workspace's schema catalog: types, schemas, counts, indexes and
# RID bucket order. Only read_manifest/write_manifest touch the file.
_MANIFEST = "manifest.json"
# Suffix of the temp file a replace-write fills before its os.replace;
# a transaction's shadow copy skips such files.
TMP_SUFFIX = ".tmp"


def _replace_text(path: str, text: str) -> None:
    """Write ``path`` as a NEW file swapped in by ``os.replace``, never
    in place: concurrent readers see the old or the new content whole,
    and a transaction shadow's hardlink keeps the old inode."""
    tmp = path + TMP_SUFFIX
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def read_manifest(ws_dir: str) -> dict:
    """The workspace manifest; safe without the DML lock, because every
    write replaces the file whole."""
    with open(os.path.join(ws_dir, _MANIFEST)) as mh:
        return json.load(mh)


def write_manifest(ws_dir: str, manifest: dict) -> None:
    """Replace the workspace manifest atomically (see _replace_text)."""
    _replace_text(os.path.join(ws_dir, _MANIFEST), json.dumps(manifest, indent=2))


def label_kind(manifest: dict, label: str) -> str:
    """The manifest section ("nodes" or "edges") declaring ``label``."""
    for kind in ("nodes", "edges"):
        if label in manifest[kind]:
            return kind
    raise ValueError(f"unknown type {label!r}")


def read_dataset(
    spark: SparkSession,
    ws_dir: str,
    kind: str,
    label: str,
    manifest: dict | None = None,
) -> DataFrame:
    """One label's dataset, read with the schema its manifest entry
    declares. The manifest schema is written at build time and kept
    current by every schema-changing DDL, so no parquet footer is read
    (each inferring read is a one-task Spark job); the schema is
    inferred only for an entry without one, or an unknown label."""
    if manifest is None:
        manifest = read_manifest(ws_dir)
    schema_json = manifest.get(kind, {}).get(label, {}).get("schema")
    path = dataset_path(ws_dir, kind, label)
    if schema_json:
        return spark.read.schema(StructType.fromJson(schema_json)).parquet(path)
    return spark.read.parquet(path)


def _dataset_row_count(spark: SparkSession, path: str) -> int:
    """Row count for a freshly written dataset. Small datasets (the
    interactive create/DDL path) answer DRIVER-SIDE from the parquet
    footers — no Spark job; large ones fall back to the distributed
    footer-pushdown count (spark.sql.parquet.aggregatePushdown)."""
    import pyarrow.parquet as pa_pq

    parts = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    if len(parts) <= 64:
        return sum(
            pa_pq.read_metadata(os.path.join(path, f)).num_rows
            for f in parts
        )
    return spark.read.parquet(path).count()


def pseudo_hash(path: str) -> str:
    """A15 / HashUtils.java:21-24: md5 of "<mtime>__<size>" — a fast
    change detector that never reads file contents."""
    st = os.stat(path)
    token = f"{int(st.st_mtime * 1000)}__{st.st_size}"
    return hashlib.md5(token.encode()).hexdigest()


def source_checksum(src_dir: str) -> str:
    """Combined pseudo-hash over every parquet in the source dir."""
    parts = [
        f"{name}:{pseudo_hash(os.path.join(src_dir, name))}"
        for name in sorted(os.listdir(src_dir))
        if name.endswith(".parquet")
    ]
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def build_nodes(
    spark: SparkSession, src_dir: str, spec: NodeSpec, id_bits: int = 64
) -> DataFrame:
    """A10: per-label node set with global id + declared properties.
    Internal bookkeeping fields are dropped (A5). ``id_bits=128`` adds
    the second id lane (``node_id2``) — the SCALE.md collision-ceiling
    escape hatch for >10⁹-node graphs."""
    df = load_table(spark, src_dir, spec.table)
    keep = [c for c in spec.props if c not in IGNORED_FIELDS]
    lanes = [node_id(spec.label, F.col(spec.key)).alias("node_id")]
    if id_bits == 128:
        lanes.append(node_id2(spec.label, F.col(spec.key)).alias("node_id2"))
    return df.select(
        *lanes,
        F.col(spec.key).cast("long").alias("natural_key"),
        F.lit(spec.label).alias("label"),
        *keep,
    )


def build_edges(
    spark: SparkSession,
    src_dir: str,
    spec: EdgeSpec,
    nodes: dict[str, DataFrame],
    id_bits: int = 64,
) -> DataFrame:
    """A11+A12: edge set with endpoint ids computed locally from the
    foreign keys (no remap join needed for id *assignment*), then
    validated with left_semi joins so dangling edges are dropped —
    the reference's `fromNode != null && toNode != null` skip
    (ArcadeDBService.java:241-243). Under ``id_bits=128`` the
    endpoints carry both lanes (``src2``/``dst2``) — still derived
    locally from the FK — and the dangling validation joins on the
    16-byte pair, so a first-lane collision can't smuggle a dangling
    edge through."""
    df = load_table(spark, src_dir, spec.table)
    cols = [
        node_id(spec.src_label, F.col(spec.src_key)).alias("src"),
        node_id(spec.dst_label, F.col(spec.dst_key)).alias("dst"),
        *[c for c in spec.props if c not in IGNORED_FIELDS],
    ]
    if id_bits == 128:
        cols[2:2] = [
            node_id2(spec.src_label, F.col(spec.src_key)).alias("src2"),
            node_id2(spec.dst_label, F.col(spec.dst_key)).alias("dst2"),
        ]
    e = df.select(*cols)
    if spec.distinct:
        e = e.dropDuplicates(["src", "dst"])
    if id_bits == 128:
        src_ids = nodes[spec.src_label].select("node_id", "node_id2")
        dst_ids = nodes[spec.dst_label].select("node_id", "node_id2")
        e = e.join(
            src_ids,
            (e.src == src_ids.node_id) & (e.src2 == src_ids.node_id2),
            "left_semi",
        )
        e = e.join(
            dst_ids,
            (e.dst == dst_ids.node_id) & (e.dst2 == dst_ids.node_id2),
            "left_semi",
        )
    else:
        src_ids = nodes[spec.src_label].select("node_id")
        dst_ids = nodes[spec.dst_label].select("node_id")
        e = e.join(src_ids, e.src == src_ids.node_id, "left_semi")
        e = e.join(dst_ids, e.dst == dst_ids.node_id, "left_semi")
    return e.withColumn("label", F.lit(spec.label))


def validate_node_ids(node_frames: dict[str, DataFrame], id_bits: int = 64) -> None:
    """Collision audit for the hash-derived id scheme (the q17 unique-
    validation pattern applied to the ETL's own output): xxhash64 ids
    must be unique ACROSS labels — edges reference the global id, so a
    cross-label collision silently rewires the graph. Cost is one
    shuffle of a 1-column table, the cheapest insurance the 100 TB
    posture can buy (the docstring's "collisions become a concern past
    ~10^9 nodes" admission is now enforced, not assumed).

    Raises ``ValueError`` naming the colliding labels so the operator
    can switch the manifest's id_scheme to a 128-bit variant."""
    key = ["node_id", "node_id2"] if id_bits == 128 else ["node_id"]
    ids = None
    for label, nf in node_frames.items():
        part = nf.select(*key, F.lit(label).alias("_lbl"))
        ids = part if ids is None else ids.unionByName(part)
    if ids is None:
        return
    clashes = (
        ids.groupBy(*key)
        .agg(F.count("*").alias("n"), F.collect_set("_lbl").alias("labels"))
        .where(F.col("n") > 1)
        .limit(5)
        .collect()
    )
    if clashes:
        detail = ", ".join(
            f"node_id={r['node_id']} labels={sorted(r['labels'])}" for r in clashes
        )
        raise ValueError(
            f"node_id collision(s) detected — xxhash64(label,key) is not "
            f"injective over this input ({detail}); rebuild with a wider "
            f"id scheme"
        )


def build_workspace(
    spark: SparkSession,
    src_dir: str,
    ws_dir: str,
    *,
    force: bool = False,
    node_specs: list[NodeSpec] | None = None,
    edge_specs: list[EdgeSpec] | None = None,
    id_bits: int = 64,
) -> dict:
    """E1 lifecycle (`--create`): build the LPG workspace incrementally.

    A15 memoization, taken one step further than the reference: the
    reference stores ONE pseudo-hash for the whole source and rebuilds
    everything on any change (ArcadeDBServer.java:76-90). We store the
    pseudo-hash *per label* in the manifest, so touching one source
    table rebuilds only the labels derived from it:

    - node label stale ⇔ its source table's hash changed (or its
      output is missing / it's new to the spec);
    - edge label stale ⇔ its own source table changed OR either
      endpoint node label was rebuilt this run (the dangling-edge
      semi-join reads those node sets).

    At 100 TB this is the difference between re-ETLing the whole lake
    and re-ETLing one updated feed. ``force`` restores the reference's
    destructive full overwrite (A14). ``node_specs``/``edge_specs``
    select a subset of the schema to ETL (default: the full spec
    lists). Returns the manifest, with the labels rebuilt this run
    under ``"rebuilt"`` (not persisted).
    """
    checksum_file = os.path.join(ws_dir, "checksum.txt")
    checksum = source_checksum(src_dir)
    old: dict = {"nodes": {}, "edges": {}}
    if force:
        # A14 destructive overwrite (deleteOldDatabase, ArcadeDBService.java:112-122)
        if os.path.exists(ws_dir):
            shutil.rmtree(ws_dir)
    elif os.path.exists(os.path.join(ws_dir, _MANIFEST)):
        old = read_manifest(ws_dir)
        if os.path.exists(checksum_file):
            with open(checksum_file) as fh:
                if fh.read().strip() == checksum:
                    old["rebuilt"] = []
                    return old
    os.makedirs(ws_dir, exist_ok=True)

    def _src_hash(table: str) -> str:
        return pseudo_hash(os.path.join(src_dir, f"{table}.parquet"))

    if id_bits not in (64, 128):
        raise ValueError(f"id_bits must be 64 or 128, got {id_bits}")
    manifest: dict = {
        "version": 2,
        # the manifest records the scheme so readers/DML know which
        # lanes exist (SCALE.md: the 128-bit variant "swaps in")
        "id_scheme": (
            "xxhash64(label,key)" if id_bits == 64
            else "xxhash64x2(label,key)"
        ),
        "id_bits": id_bits,
        "nodes": {},
        "edges": {},
    }
    rebuilt: list[str] = []
    node_frames: dict[str, DataFrame] = {}
    for spec in (node_specs if node_specs is not None else NODE_SPECS):
        if not os.path.exists(os.path.join(src_dir, f"{spec.table}.parquet")):
            continue
        out = dataset_path(ws_dir, "nodes", spec.label)
        h = _src_hash(spec.table)
        prev = old["nodes"].get(spec.label)
        if prev and prev.get("source_hash") == h and os.path.exists(out):
            manifest["nodes"][spec.label] = prev
            node_frames[spec.label] = spark.read.parquet(out)
            continue
        nf = build_nodes(spark, src_dir, spec, id_bits=id_bits)
        nf.write.mode("overwrite").parquet(out)
        node_frames[spec.label] = spark.read.parquet(out)
        rebuilt.append(f"n:{spec.label}")
        manifest["nodes"][spec.label] = {
            "key": spec.key,
            "source_hash": h,
            "schema": node_frames[spec.label].schema.jsonValue(),
            "count": _dataset_row_count(spark, out),
        }
    if any(r.startswith("n:") for r in rebuilt):
        validate_node_ids(node_frames, id_bits=id_bits)

    for spec in (edge_specs if edge_specs is not None else EDGE_SPECS):
        if spec.src_label not in node_frames or spec.dst_label not in node_frames:
            continue
        out = dataset_path(ws_dir, "edges", spec.label)
        h = _src_hash(spec.table)
        prev = old["edges"].get(spec.label)
        endpoints_fresh = not any(
            f"n:{lbl}" in rebuilt for lbl in (spec.src_label, spec.dst_label)
        )
        if prev and prev.get("source_hash") == h and endpoints_fresh and os.path.exists(out):
            manifest["edges"][spec.label] = prev
            continue
        ef = build_edges(spark, src_dir, spec, node_frames, id_bits=id_bits)
        # Partitioning contract: edges are written hash-distributed by
        # src so per-source expansions and degree aggregations read
        # co-located data. At cluster scale this becomes
        # .repartition(N, "src") with N sized to the edge count.
        ef.repartition("src").write.mode("overwrite").parquet(out)
        edf = spark.read.parquet(out)
        rebuilt.append(f"e:{spec.label}")
        manifest["edges"][spec.label] = {
            "src_label": spec.src_label,
            "dst_label": spec.dst_label,
            "source_hash": h,
            "schema": edf.schema.jsonValue(),
            "count": _dataset_row_count(spark, out),
        }

    # RID bucket order is RECORDED in the manifest at build time
    # (ADVICE r9): stable per workspace across rebuilds — labels keep
    # their prior slot, removed labels become None tombstones (indices
    # never shift), new labels append. DDL maintains the same list.
    prev_buckets = old.get("rid_buckets") or list(old.get("nodes", {}))
    buckets: list = [
        b if b in manifest["nodes"] else None for b in prev_buckets
    ]
    buckets.extend(
        lbl for lbl in manifest["nodes"] if lbl not in prev_buckets
    )
    manifest["rid_buckets"] = buckets

    write_manifest(ws_dir, manifest)
    _replace_text(checksum_file, checksum)
    manifest["rebuilt"] = rebuilt
    return manifest


# --- B19: DML as batch recompute ------------------------------------------------
# The shipped system accepts INSERT / UPDATE / DELETE VERTEX through
# ArcadeDB SQL (pom.xml:104-108 [B]). Every statement is size-dispatched
# on the rows it touches, at most _DRIVER_CAP of them:
# - INSERT / CREATE EDGE append new files (_append_via_tmp);
# - UPDATE and DELETE locate their rows with one scan-only job
#   (_locate: file name + row index of each match) and the DRIVER
#   rewrites only the files holding them (_patch_files), each published
#   by an os.replace onto its own name;
# - above the cap, a declarative transform of the whole label dataset
#   followed by an atomic dataset swap (_rewrite_dataset), the
#   partition-parallel Spark mutation.

# Statement scale: the most rows a DML statement moves through the
# driver lanes above.
_DRIVER_CAP = 10_000


def _rewrite_dataset(df: DataFrame, path: str) -> None:
    """Materialize ``df`` next to ``path`` then atomically swap — a
    parquet dataset can't be overwritten while a plan is reading it."""
    tmp = path + "__tmp"
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.replace(tmp, path)


def _is_local(df: DataFrame) -> bool:
    """True when Catalyst folds ``df`` to a LocalRelation (statement
    literals projected over ``VALUES``): collecting it runs no job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _append_via_tmp(
    df: DataFrame,
    path: str,
    driver_cap: int = _DRIVER_CAP,
    screen=None,
    validate=None,
) -> int:
    """Append the candidate rows of ``df`` through the STAGED-COMMIT
    protocol (sources/staged_write.py): a failed or cancelled insert
    leaves the dataset byte-identical, retries cannot double-append,
    and the count comes from the commit record. Size-dispatched on the
    CANDIDATE rows, ahead of any validation:

    - at most ``driver_cap`` rows (every dialect INSERT / CREATE EDGE):
      the rows are collected once, ``screen(rows)`` checks them on the
      driver (point probes of the id columns) and the DRIVER is the
      single write task (``driver_staged_append``) — no join, no
      shuffle, no Python-worker launch;
    - more: ``validate(df)`` applies the distributed joins and the
      ``workspace_append`` writer stages in parallel tasks.

    Returns rows appended."""
    import uuid as _uuid

    from biodwh2_arcadedb_server_spark.sources.staged_write import (
        driver_staged_append,
        ensure_registered,
        read_last_append,
    )

    spark = df.sparkSession
    # Persisted BEFORE the size probe: partitions the probe computed are
    # reused by the >cap write, so every input row is evaluated once (a
    # nondeterministic upstream cannot diverge between probe and write).
    # A local input (the dialect's statement rows) is already evaluated
    # in the plan, and its probe runs no job.
    persist = not _is_local(df)
    if persist:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # a wider input takes a few jobs over growing partition counts
        rows = df.limit(driver_cap + 1).collect()
        if len(rows) <= driver_cap:
            if screen is not None:
                rows = screen(rows)
            return driver_staged_append(path, df.schema, rows)
        if validate is not None:
            df = validate(df)
        ensure_registered(spark)
        token = _uuid.uuid4().hex
        (
            df.write.format("workspace_append")
            .option("path", path)
            .option("token", token)
            .mode("append")
            .save()
        )
        return read_last_append(path, token)
    finally:
        if persist:
            df.unpersist()


def _positioned(df: DataFrame) -> DataFrame:
    """A dataset read with each row's position: its file's name
    (``_file``) and its index among that file's rows (``_row``)."""
    return df.select(
        "*",
        F.col("_metadata.file_name").alias("_file"),
        F.col("_metadata.row_index").alias("_row"),
    )


def _locate(matched: DataFrame, *cols) -> list | None:
    """Positions (``_file``, ``_row``) and ``cols`` of the rows of
    ``matched``, a filter or semi-join of a ``_positioned`` read: one
    scan-only job. None when more than _DRIVER_CAP rows match. A task
    keeps at most _DRIVER_CAP + 1 of its rows (the low 33 bits of
    ``monotonically_increasing_id`` count them), so an above-cap match
    ships a bounded list, not every match, to the driver."""
    nth = F.monotonically_increasing_id() % F.lit(1 << 33)
    rows = (
        matched.select("_file", "_row", *cols, nth.alias("_nth"))
        .where(F.col("_nth") <= _DRIVER_CAP)
        .collect()
    )
    return rows if len(rows) <= _DRIVER_CAP else None


def _data_files(path: str) -> list:
    """The dataset's data files, one ``os.scandir``: names starting
    with ``.`` or ``_`` are skipped, as Spark's listing skips them."""
    with os.scandir(path) as entries:
        return [e for e in entries if not e.name.startswith((".", "_"))]


def _patch_files(
    path: str, schema: StructType, located: list, assigned: tuple = ()
) -> None:
    """Rewrite, on the driver, only the files holding ``located``
    rows: drop those rows, or with ``assigned`` set those columns to
    each row's located value. A file is written beside itself under a
    hidden temp name and published by ``os.replace`` onto its own name,
    so a transaction shadow's hardlink of it is replaced, never
    written, and every other file keeps its inode. A file left with no
    rows is removed; a dataset left with no file gets one empty file."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pa_pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    by_file: dict = {}
    for r in located:
        by_file.setdefault(r["_file"], []).append(r)
    for name, hits in by_file.items():
        hits.sort(key=lambda r: r["_row"])
        target = os.path.join(path, name)
        old = pa_pq.read_table(target)
        mask = np.zeros(old.num_rows, dtype=bool)
        mask[[r["_row"] for r in hits]] = True
        cols = []
        for f in arrow:
            col = old.column(f.name).combine_chunks().cast(f.type)
            if f.name in assigned:
                new = pa.array([r[f.name] for r in hits], f.type)
                col = pc.replace_with_mask(col, pa.array(mask), new)
            cols.append(col)
        table = pa.Table.from_arrays(cols, schema=arrow)
        if not assigned:
            table = table.filter(pa.array(~mask))
        # Hadoop's local filesystem checks a file against its `.crc`
        # sibling; a stale one would fail the next Spark read
        crc = os.path.join(path, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        if table.num_rows == 0:
            os.remove(target)
            continue
        tmp = os.path.join(path, f".{name}{TMP_SUFFIX}")
        pa_pq.write_table(table, tmp)
        os.replace(tmp, target)
    if not _data_files(path):
        _write_empty_dataset(schema, path)


def _probe_nodes(
    spark: SparkSession,
    ws_dir: str,
    manifest: dict,
    label: str,
    ids: set,
    cols: tuple[str, ...] = ("node_id",),
) -> dict:
    """node_id → Row of ``cols`` for those of ``ids`` present in the
    label's node dataset: one job, the IN list pushed to the scan."""
    if not ids:
        return {}
    found = (
        read_dataset(spark, ws_dir, "nodes", label, manifest)
        .where(F.col("node_id").isin(*ids))
        .select(*cols)
    )
    return {r.node_id: r for r in found.collect()}


def insert_nodes(spark: SparkSession, ws_dir: str, label: str, rows: DataFrame) -> int:
    """CREATE VERTEX: append rows (node_id derived from natural_key;
    existing ids are rejected rows — duplicates silently skipped, the
    reference's error-tolerant ingest posture, A9). Within one batch
    the first row of an id wins. Returns rows inserted.

    Scale: inserts are appends — new parquet files land next to the
    dataset, O(inserted) IO with no rewrite of existing data (at 100 TB
    an insert must never touch the other 100 TB). A statement-scale
    batch probes its ids with one pushed-down ``node_id IN (…)`` scan;
    a larger one anti-joins against the existing ids, shuffling only
    the 8-byte id column."""
    manifest = read_manifest(ws_dir)
    path = dataset_path(ws_dir, "nodes", label)
    cur = read_dataset(spark, ws_dir, "nodes", label, manifest)
    new = rows.withColumn("node_id", node_id(label, F.col("natural_key"))).withColumn(
        "label", F.lit(label)
    )
    if "node_id2" in cur.columns:  # 128-bit scheme: derive both lanes
        new = new.withColumn("node_id2", node_id2(label, F.col("natural_key")))

    def screen(batch):
        first: dict = {}
        for r in batch:
            first.setdefault(r.node_id, r)
        taken = _probe_nodes(spark, ws_dir, manifest, label, set(first))
        return [r for i, r in first.items() if i not in taken]

    def validate(df):
        # the surviving row of a within-batch duplicate is
        # partition-arbitrary here; the dialect dedupes its literal rows
        # first-wins BEFORE this call
        return df.dropDuplicates(["node_id"]).join(
            cur.select("node_id"), "node_id", "left_anti"
        )

    n_ins = _append_via_tmp(
        new.select(*cur.columns), path, screen=screen, validate=validate
    )
    if n_ins:
        manifest["nodes"][label]["count"] += n_ins
        write_manifest(ws_dir, manifest)
    return n_ins


# UPDATE contract per kind: the identity columns no assignment may
# touch, how the error names the record type, and the refusal wording.
_UPDATE_RULES = {
    "nodes": (
        frozenset({"node_id", "node_id2", "label", "natural_key"}),
        "vertex",
        "cannot UPDATE identity column(s) {} — node ids derive "
        "from (label, natural_key); DELETE + INSERT instead",
    ),
    "edges": (
        frozenset({"src", "src2", "dst", "dst2", "label"}),
        "edge",
        "cannot UPDATE EDGE structural column(s) {} — "
        "DELETE EDGE + CREATE EDGE instead",
    ),
}


def update_rows(
    spark: SparkSession,
    ws_dir: str,
    kind: str,
    label: str,
    predicate: F.Column,
    assignments: dict[str, F.Column],
) -> int:
    """UPDATE [EDGE] ... SET ... WHERE: set the assignments on the
    rows of ``label``'s ``kind`` dataset that match. Returns rows
    touched. Statement scale patches the files holding the matches
    (the located values are the assignments evaluated on each matched
    row); more matches rewrite the dataset. Identity columns are
    immutable — node ids DERIVE from (label, natural_key), so
    rewriting the key without recomputing node_id (and every
    referencing edge) would silently break the invariant (round-7
    review finding); use DELETE + INSERT, or ALTER TYPE for label
    renames. Edge endpoints and the label are immutable the same way —
    DELETE EDGE + CREATE EDGE instead."""
    frozen, type_word, refusal = _UPDATE_RULES[kind]
    bad = sorted(frozen & set(assignments))
    if bad:
        raise ValueError(refusal.format(bad))
    path = dataset_path(ws_dir, kind, label)
    cur = read_dataset(spark, ws_dir, kind, label)
    unknown = sorted(set(assignments) - set(cur.columns))
    if unknown:
        raise ValueError(
            f"unknown propert{'ies' if len(unknown) > 1 else 'y'} "
            f"{unknown} on {type_word} type {label!r} — declare with "
            "CREATE PROPERTY first"
        )
    # cast the assignment to the column's DECLARED type: the schema is
    # the contract (manifest-registered views read with it), and an
    # uncast when/otherwise would silently coerce the whole column —
    # e.g. SET age = 'x' turning long into string parquet that the
    # stale manifest schema can no longer scan (round-8 review finding)
    typed = {
        c: expr.cast(cur.schema[c].dataType) for c, expr in assignments.items()
    }
    located = _locate(
        _positioned(cur).where(predicate), *[v.alias(c) for c, v in typed.items()]
    )
    if located is not None:
        _patch_files(path, cur.schema, located, tuple(typed))
        return len(located)
    # above the cap: the touched count is observed during the rewrite
    # (nulls count 0, as they match nothing)
    obs = Observation()
    out = cur.observe(
        obs,
        F.coalesce(
            F.sum(F.when(predicate, 1).otherwise(0)), F.lit(0)
        ).alias("touched"),
    )
    for col_name, value in typed.items():
        out = out.withColumn(
            col_name, F.when(predicate, value).otherwise(F.col(col_name))
        )
    _rewrite_dataset(out, path)
    return int(obs.get["touched"])


def update_nodes(
    spark: SparkSession, ws_dir: str, label: str, predicate: F.Column, assignments: dict[str, F.Column]
) -> int:
    """Vertex UPDATE: ``update_rows`` on the node datasets (the entry
    point the dialect's UPDATE calls, and perfbench traces)."""
    return update_rows(spark, ws_dir, "nodes", label, predicate, assignments)


def delete_nodes(spark: SparkSession, ws_dir: str, label: str, predicate: F.Column) -> int:
    """DELETE VERTEX ... WHERE: drop matching nodes AND every edge
    touching them (ArcadeDB's DELETE VERTEX cascades to connected
    edges [B]). Statement scale locates the doomed nodes with their
    ids, then each touching edge dataset's rows with ``src``/``dst IN
    (ids)``, one job per dataset, and patches the files holding them.
    More doomed nodes rewrite the label and anti-join every touching
    edge dataset on a 1-column id set. Returns nodes deleted."""
    manifest = read_manifest(ws_dir)
    path = dataset_path(ws_dir, "nodes", label)
    cur = read_dataset(spark, ws_dir, "nodes", label, manifest)
    located = _locate(_positioned(cur).where(predicate), "node_id")
    if located is not None:
        if not located:
            return 0
        n_del = len(located)
        _patch_files(path, cur.schema, located)
        ids = [r.node_id for r in located]
    else:
        doomed = cur.where(predicate).select("node_id").localCheckpoint(eager=True)
        n_del = doomed.count()
        _rewrite_dataset(cur.join(doomed, "node_id", "left_anti"), path)
    manifest["nodes"][label]["count"] -= n_del
    for e_label, info in manifest["edges"].items():
        ends = [e for e in ("src", "dst") if info[f"{e}_label"] == label]
        if not ends:
            continue
        e_path = dataset_path(ws_dir, "edges", e_label)
        e_cur = read_dataset(spark, ws_dir, "edges", e_label, manifest)
        if located is not None:
            hit = F.lit(False)
            for e in ends:
                hit = hit | F.col(e).isin(ids)
            info["count"] -= _delete_rows(e_path, e_cur, hit)
            continue
        kept = e_cur
        for e in ends:
            kept = kept.join(doomed.withColumnRenamed("node_id", e), e, "left_anti")
        # surviving-edge count observed DURING the rewrite
        obs = Observation()
        _rewrite_dataset(kept.observe(obs, F.count(F.lit(1)).alias("n")), e_path)
        info["count"] = int(obs.get["n"])
    write_manifest(ws_dir, manifest)
    return n_del


def _delete_rows(path: str, cur: DataFrame, predicate: F.Column, match=None) -> int:
    """Delete the rows of the dataset ``cur`` (read from ``path``) where
    ``predicate`` is TRUE and, given ``match``, that survive
    ``match(rows)`` (semi-joins); returns rows deleted. A NULL
    predicate keeps its row. At most _DRIVER_CAP rows patch their
    files; more rewrite the dataset without their positions."""
    matched = _positioned(cur).where(predicate)
    if match is not None:
        matched = match(matched)
    located = _locate(matched)
    if located is not None:
        if located:
            _patch_files(path, cur.schema, located)
        return len(located)
    doomed = matched.select("_file", "_row")
    n_del = doomed.count()
    _rewrite_dataset(
        _positioned(cur).join(doomed, ["_file", "_row"], "left_anti").select(*cur.columns),
        path,
    )
    return n_del


def insert_edges(spark: SparkSession, ws_dir: str, label: str, rows: DataFrame) -> int:
    """CREATE EDGE: append edge rows (``src``/``dst`` node ids +
    declared props). Edges with a missing endpoint are silently
    skipped, the reference's `fromNode != null && toNode != null`
    posture (ArcadeDBService.java:241-243): a statement-scale batch
    probes its endpoint ids (one pushed-down scan per endpoint dataset),
    a larger one left_semi-joins the endpoint node sets. Duplicates are
    NOT collapsed: ArcadeDB materializes one edge per statement.
    Returns edges appended."""
    manifest = read_manifest(ws_dir)
    info = manifest["edges"][label]
    path = dataset_path(ws_dir, "edges", label)
    cur = read_dataset(spark, ws_dir, "edges", label, manifest)
    new = rows.withColumn("label", F.lit(label))
    src_label, dst_label = info["src_label"], info["dst_label"]
    # 128-bit workspace fed first-lane-only rows (the dialect CREATE
    # EDGE path): the second lane cannot be derived from the first
    # (both are independent xxhash64 lanes of the natural key), so it
    # comes from the endpoint node rows — the lookup that validates
    # existence
    lane2 = "src2" in cur.columns and "src2" not in new.columns
    if lane2:
        new = new.withColumn("src2", F.lit(None).cast("long")).withColumn(
            "dst2", F.lit(None).cast("long")
        )
    cols = ("node_id", "node_id2") if lane2 else ("node_id",)

    def screen(batch):
        srcs = {r.src for r in batch}
        dsts = {r.dst for r in batch}
        if src_label == dst_label:
            found = _probe_nodes(spark, ws_dir, manifest, src_label, srcs | dsts, cols)
            src_found = dst_found = found
        else:
            src_found = _probe_nodes(spark, ws_dir, manifest, src_label, srcs, cols)
            dst_found = _probe_nodes(spark, ws_dir, manifest, dst_label, dsts, cols)
        kept = [r for r in batch if r.src in src_found and r.dst in dst_found]
        if not lane2:
            return kept
        return [
            Row(**{
                **r.asDict(),
                "src2": src_found[r.src].node_id2,
                "dst2": dst_found[r.dst].node_id2,
            })
            for r in kept
        ]

    def validate(df):
        src_nodes = read_dataset(spark, ws_dir, "nodes", src_label, manifest)
        dst_nodes = read_dataset(spark, ws_dir, "nodes", dst_label, manifest)
        if lane2:
            return (
                df.drop("src2", "dst2")
                .join(
                    src_nodes.select(
                        F.col("node_id").alias("src"), F.col("node_id2").alias("src2")
                    ),
                    "src",
                )
                .join(
                    dst_nodes.select(
                        F.col("node_id").alias("dst"), F.col("node_id2").alias("dst2")
                    ),
                    "dst",
                )
                .select(*cur.columns)
            )
        src_ids = src_nodes.select("node_id")
        dst_ids = dst_nodes.select("node_id")
        return df.join(src_ids, df.src == src_ids.node_id, "left_semi").join(
            dst_ids, df.dst == dst_ids.node_id, "left_semi"
        )

    # append, not rewrite: O(inserted) IO (100 TB posture)
    n_new = _append_via_tmp(
        new.select(*cur.columns), path, screen=screen, validate=validate
    )
    if n_new:
        info["count"] += n_new
        write_manifest(ws_dir, manifest)
    return n_new


def delete_edges(
    spark: SparkSession, ws_dir: str, label: str, predicate: F.Column, match=None
) -> int:
    """DELETE EDGE ... [FROM … TO …] WHERE: drop the edge rows where
    ``predicate`` is TRUE (no cascade — edges have no dependents);
    ``match`` narrows them as in ``_delete_rows``, e.g. semi-joins on
    endpoint sets. Rows go by position, so duplicate edges between the
    same endpoints all go, matching ArcadeDB. Returns edges deleted."""
    manifest = read_manifest(ws_dir)
    path = dataset_path(ws_dir, "edges", label)
    cur = read_dataset(spark, ws_dir, "edges", label, manifest)
    n_del = _delete_rows(path, cur, predicate, match)
    if n_del:
        manifest["edges"][label]["count"] -= n_del
        write_manifest(ws_dir, manifest)
    return n_del


# --- DDL as manifest + dataset operations (B19 companion) ----------------------
# ArcadeDB Studio users type CREATE VERTEX TYPE / CREATE PROPERTY /
# CREATE INDEX (the reference's ETL issues the same calls
# programmatically, ArcadeDBService.java:143-154, 258-283). Here each
# is a manifest + parquet-dataset operation: types are empty datasets
# with declared schemas, properties are typed null columns, and a
# UNIQUE index is a validation query (the A13 re-expression — at
# 100 TB the "index" is layout + footer stats, uniqueness is a
# groupBy audit).


def _write_empty_dataset(schema, path: str) -> None:
    """Write an empty parquet dataset DRIVER-SIDE (pyarrow): creating
    a type is a metadata operation and must not launch a distributed
    job for zero rows (round-8 q158 trim — each empty Spark write was
    a ~0.5s job in an interactive DDL sequence)."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    pa_pq.write_table(
        pa.Table.from_arrays(
            [pa.array([], type=f.type) for f in to_arrow_schema(schema)],
            schema=to_arrow_schema(schema),
        ),
        os.path.join(path, "part-00000-empty.parquet"),
    )


def create_node_type(spark: SparkSession, ws_dir: str, label: str) -> None:
    manifest = read_manifest(ws_dir)
    if label in manifest["nodes"]:
        raise ValueError(f"node type {label!r} already exists")
    # new types APPEND to the recorded bucket order (never reuse a
    # tombstoned slot — previously-echoed RIDs must stay stable)
    buckets = manifest.get("rid_buckets") or list(manifest["nodes"])
    buckets.append(label)
    manifest["rid_buckets"] = buckets
    empty = spark.createDataFrame(
        [], "node_id long, natural_key long, label string"
    )
    _write_empty_dataset(empty.schema, dataset_path(ws_dir, "nodes", label))
    manifest["nodes"][label] = {
        "key": "natural_key",
        "source_hash": "ddl",
        "schema": empty.schema.jsonValue(),
        "count": 0,
    }
    write_manifest(ws_dir, manifest)


def create_edge_type(
    spark: SparkSession, ws_dir: str, label: str, src_label: str, dst_label: str
) -> None:
    """Engine extension vs plain ArcadeDB: endpoint labels are
    REQUIRED (``FROM <SrcType> TO <DstType>``) because edge appends
    validate endpoints against the typed node sets (A11)."""
    manifest = read_manifest(ws_dir)
    if label in manifest["edges"]:
        raise ValueError(f"edge type {label!r} already exists")
    for lbl in (src_label, dst_label):
        if lbl not in manifest["nodes"]:
            raise ValueError(f"unknown endpoint node type {lbl!r}")
    empty = spark.createDataFrame([], "src long, dst long, label string")
    _write_empty_dataset(empty.schema, dataset_path(ws_dir, "edges", label))
    manifest["edges"][label] = {
        "src_label": src_label,
        "dst_label": dst_label,
        "source_hash": "ddl",
        "schema": empty.schema.jsonValue(),
        "count": 0,
    }
    write_manifest(ws_dir, manifest)


def add_property(
    spark: SparkSession, ws_dir: str, label: str, prop: str, type_name: str
) -> None:
    """CREATE PROPERTY <T>.<prop> <TYPE>: a typed null column added
    to the label dataset (`definition.createProperty`,
    ArcadeDBService.java:152-154 parity). One partition-parallel
    rewrite; existing rows carry NULL (the reference's null-dropping
    posture in reverse)."""
    from biodwh2_arcadedb_server_spark.typemap import resolve_type

    manifest = read_manifest(ws_dir)
    kind = label_kind(manifest, label)
    path = dataset_path(ws_dir, kind, label)
    cur = read_dataset(spark, ws_dir, kind, label, manifest)
    if prop in cur.columns:
        raise ValueError(f"property {label}.{prop} already exists")
    dtype = resolve_type({"datetime": "timestamp"}.get(type_name.lower(), type_name))
    out = cur.withColumn(prop, F.lit(None).cast(dtype))
    if manifest[kind][label].get("count") == 0:
        # empty type: pure schema change, no rows to rewrite —
        # driver-side (round-8 q158 trim)
        _write_empty_dataset(out.schema, path)
    else:
        _rewrite_dataset(out, path)
    manifest[kind][label]["schema"] = out.schema.jsonValue()
    write_manifest(ws_dir, manifest)


def create_index(
    spark: SparkSession, ws_dir: str, label: str, cols: list[str], unique: bool
) -> None:
    """CREATE INDEX ON <T> (cols) [UNIQUE]: UNIQUE runs the A13
    uniqueness validation (groupBy(cols) HAVING count>1 — fails loud
    naming the violation count); both flavors are recorded in the
    manifest so layout tooling (sources/layout.py Z-order, bucketing)
    can pick the clustering columns — the 100 TB analog of an index."""
    manifest = read_manifest(ws_dir)
    kind = label_kind(manifest, label)
    df = read_dataset(spark, ws_dir, kind, label, manifest)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown column(s) {missing} on {label!r}")
    if unique and manifest[kind][label].get("count", 1) != 0:
        # (an empty type is trivially unique — no audit job)
        dups = df.groupBy(*cols).count().where(F.col("count") > 1).count()
        if dups:
            raise ValueError(
                f"UNIQUE index on {label}({', '.join(cols)}) violated: "
                f"{dups} duplicated key value(s)"
            )
    manifest[kind][label].setdefault("indexes", []).append(
        {"columns": cols, "unique": unique}
    )
    write_manifest(ws_dir, manifest)


def drop_type(spark: SparkSession, ws_dir: str, label: str, unsafe: bool = False) -> int:
    """DROP TYPE <T> [UNSAFE]: remove the label dataset + manifest
    entry (round-7 DDL completion — the inverse of create_node_type/
    create_edge_type). A POPULATED type requires UNSAFE (ArcadeDB's
    posture: dropping live records must be explicit), and a node type
    referenced by a declared edge type cannot be dropped until those
    edge types are — otherwise the schema would dangle. Returns
    records dropped. O(1) IO: directory removal, no rewrite."""
    manifest = read_manifest(ws_dir)
    if label in manifest["edges"]:
        info = manifest["edges"][label]
        # manifest counts are maintained by every mutation — a DDL
        # statement must not pay a dataset re-scan for bookkeeping
        # (round-7 VERDICT #8)
        n = info["count"]
        if n and not unsafe:
            raise ValueError(
                f"edge type {label!r} holds {n} edge(s) — "
                "use DROP TYPE ... UNSAFE to drop it with its records"
            )
        shutil.rmtree(dataset_path(ws_dir, "edges", label))
        del manifest["edges"][label]
    elif label in manifest["nodes"]:
        refs = sorted(
            e for e, i in manifest["edges"].items()
            if label in (i["src_label"], i["dst_label"])
        )
        if refs:
            raise ValueError(
                f"node type {label!r} is referenced by edge type(s) "
                f"{refs} — DROP those first"
            )
        info = manifest["nodes"][label]
        n = info["count"]
        if n and not unsafe:
            raise ValueError(
                f"node type {label!r} holds {n} record(s) — "
                "use DROP TYPE ... UNSAFE to drop it with its records"
            )
        shutil.rmtree(dataset_path(ws_dir, "nodes", label))
        # tombstone the bucket slot (None) instead of shifting later
        # buckets — RID indices recorded in the manifest stay stable
        # after DROP TYPE (ADVICE r9)
        buckets = manifest.get("rid_buckets") or list(manifest["nodes"])
        if label in buckets:
            buckets[buckets.index(label)] = None
        manifest["rid_buckets"] = buckets
        del manifest["nodes"][label]
    else:
        raise ValueError(f"unknown type {label!r}")
    write_manifest(ws_dir, manifest)
    return n


def drop_property(spark: SparkSession, ws_dir: str, label: str, prop: str) -> None:
    """DROP PROPERTY <T>.<p>: one partition-parallel rewrite without
    the column (the inverse of add_property). Structural columns
    (node_id/label/natural_key, src/dst) are protected; manifest
    index records referencing the property are removed with it."""
    if any(prop in frozen for frozen, _, _ in _UPDATE_RULES.values()):
        raise ValueError(f"cannot drop structural column {prop!r}")
    manifest = read_manifest(ws_dir)
    kind = label_kind(manifest, label)
    path = dataset_path(ws_dir, kind, label)
    cur = read_dataset(spark, ws_dir, kind, label, manifest)
    if prop not in cur.columns:
        raise ValueError(f"unknown property {label}.{prop}")
    out = cur.drop(prop)
    _rewrite_dataset(out, path)
    manifest[kind][label]["schema"] = out.schema.jsonValue()
    idx = manifest[kind][label].get("indexes")
    if idx:
        manifest[kind][label]["indexes"] = [
            i for i in idx if prop not in i["columns"]
        ]
    write_manifest(ws_dir, manifest)


def drop_index(spark: SparkSession, ws_dir: str, label: str, cols: list[str]) -> None:
    """DROP INDEX ON <T> (cols): remove the manifest index record
    (the clustering hint create_index recorded)."""
    manifest = read_manifest(ws_dir)
    kind = label_kind(manifest, label)
    idx = manifest[kind][label].get("indexes", [])
    kept = [i for i in idx if i["columns"] != cols]
    if len(kept) == len(idx):
        raise ValueError(
            f"no index on {label}({', '.join(cols)}) "
            f"(declared: {[i['columns'] for i in idx]})"
        )
    manifest[kind][label]["indexes"] = kept
    write_manifest(ws_dir, manifest)


def rename_type(spark: SparkSession, ws_dir: str, label: str, new_label: str) -> int:
    """ALTER TYPE <T> NAME <New>: rename a type, cascading the
    DERIVED identity. Node ids are xxhash64(label, natural_key) — a
    content-derived scheme with no driver-side map (A10) — so a node
    rename RECOMPUTES every id and remaps src/dst in every touching
    edge dataset via an (old_id, new_id) join: two hash joins per
    edge type on 8-byte keys, the Spark-shaped cascade (at 100 TB the
    remap shuffles only ids, and only for edge types declared against
    the renamed label). Edge renames rewrite just their own label
    column. Returns rows rewritten in the renamed dataset."""
    manifest = read_manifest(ws_dir)
    for side in ("nodes", "edges"):
        if new_label in manifest[side]:
            raise ValueError(f"type {new_label!r} already exists")
    if label in manifest["edges"]:
        info = manifest["edges"][label]
        path = dataset_path(ws_dir, "edges", label)
        cur = read_dataset(spark, ws_dir, "edges", label, manifest)
        n = info["count"]  # maintained invariant — no re-scan
        new_path = dataset_path(ws_dir, "edges", new_label)
        cur.withColumn("label", F.lit(new_label)).write.mode("overwrite").parquet(new_path)
        shutil.rmtree(path)
        manifest["edges"][new_label] = info
        del manifest["edges"][label]
        write_manifest(ws_dir, manifest)
        return n
    if label not in manifest["nodes"]:
        raise ValueError(f"unknown type {label!r}")
    info = manifest["nodes"][label]
    path = dataset_path(ws_dir, "nodes", label)
    cur = read_dataset(spark, ws_dir, "nodes", label, manifest)
    # 128-bit workspaces (SCALE.md collision-ceiling escape hatch)
    # rename the SAME way with both lanes recomputed and the edge
    # remap joined on the 16-byte pair — a first-lane collision can't
    # cross-wire the remap (round-8: closes the ROADMAP "128-bit DML
    # completion" seam that previously raised here).
    two_lane = "node_id2" in cur.columns
    n = info["count"]  # maintained invariant — no re-scan
    lanes = [
        F.col("node_id").alias("_old"),
        node_id(new_label, F.col("natural_key")).alias("_new"),
    ]
    if two_lane:
        lanes += [
            F.col("node_id2").alias("_old2"),
            node_id2(new_label, F.col("natural_key")).alias("_new2"),
        ]
    mapping = cur.select(*lanes).localCheckpoint(eager=True)
    # re-run the cross-label collision audit BEFORE committing: the
    # recomputed xxhash64(new_label, key) ids face the same hazard
    # build_workspace refuses to ship (round-7 review finding) —
    # a silent collision would cross-wire traversals
    id_cols = ["node_id", "node_id2"] if two_lane else ["node_id"]
    others = None
    for other in manifest["nodes"]:
        if other == label:
            continue
        part = read_dataset(spark, ws_dir, "nodes", other, manifest).select(
            *id_cols
        )
        others = part if others is None else others.unionByName(part)
    if others is not None:
        new_ids = mapping.select(F.col("_new").alias("node_id"))
        if two_lane:
            # a clash means BOTH lanes collide — the pair is the id
            new_ids = mapping.select(
                F.col("_new").alias("node_id"),
                F.col("_new2").alias("node_id2"),
            )
        clashes = new_ids.join(others, id_cols, "left_semi").count()
        if clashes:
            raise ValueError(
                f"renaming {label!r} to {new_label!r} would collide "
                f"{clashes} recomputed node id(s) with other labels — "
                "rebuild with a wider id scheme first"
            )
    new_path = dataset_path(ws_dir, "nodes", new_label)
    renamed = cur.withColumn(
        "node_id", node_id(new_label, F.col("natural_key"))
    ).withColumn("label", F.lit(new_label))
    if two_lane:
        renamed = renamed.withColumn(
            "node_id2", node_id2(new_label, F.col("natural_key"))
        )
    renamed.write.mode("overwrite").parquet(new_path)
    shutil.rmtree(path)
    # a rename keeps its bucket slot — RID indices stay stable
    buckets = manifest.get("rid_buckets") or list(manifest["nodes"])
    if label in buckets:
        buckets[buckets.index(label)] = new_label
    manifest["rid_buckets"] = buckets
    manifest["nodes"][new_label] = info
    del manifest["nodes"][label]
    drop_cols = ["_old", "_new"] + (["_old2", "_new2"] if two_lane else [])
    for e_label, e_info in manifest["edges"].items():
        touches = False
        e_path = dataset_path(ws_dir, "edges", e_label)
        e = read_dataset(spark, ws_dir, "edges", e_label, manifest)
        if e_info["src_label"] == label:
            cond = e.src == mapping._old
            if two_lane:
                cond = cond & (e.src2 == mapping._old2)
            e = e.join(mapping, cond, "left").withColumn(
                "src", F.coalesce("_new", "src")
            )
            if two_lane:
                e = e.withColumn("src2", F.coalesce("_new2", "src2"))
            e = e.drop(*drop_cols)
            e_info["src_label"] = new_label
            touches = True
        if e_info["dst_label"] == label:
            cond = e.dst == mapping._old
            if two_lane:
                cond = cond & (e.dst2 == mapping._old2)
            e = e.join(mapping, cond, "left").withColumn(
                "dst", F.coalesce("_new", "dst")
            )
            if two_lane:
                e = e.withColumn("dst2", F.coalesce("_new2", "dst2"))
            e = e.drop(*drop_cols)
            e_info["dst_label"] = new_label
            touches = True
        if touches:
            _rewrite_dataset(e, e_path)
    write_manifest(ws_dir, manifest)
    return n


def is_stale(src_dir: str, ws_dir: str) -> bool:
    """E2 staleness check (ArcadeDBServer.java:105-119) — warn-only."""
    checksum_file = os.path.join(ws_dir, "checksum.txt")
    if not os.path.exists(checksum_file):
        return True
    with open(checksum_file) as fh:
        return fh.read().strip() != source_checksum(src_dir)


def _label_view_key(path: str, info: dict) -> tuple:
    """Freshness fingerprint for one label's registered view: the
    dataset path, the manifest entry's schema and count, and the
    ``(name, inode)`` pair of every data file, from one ``os.scandir``
    (``DirEntry.inode()`` needs no extra ``stat``). Every mutation lane
    adds a file name, publishes a new inode under an existing name (a
    patch's ``os.replace``) or swaps in a directory of new files, so an
    unchanged key ⟺ unchanged files AND unchanged declared schema, and
    the previously registered view (whose plan captured the file
    listing at creation) is still exact. A transaction's hardlinked
    shadow keeps the inode of every file it did not touch, so its
    commit re-registers only the labels it changed."""
    try:
        files = tuple(sorted((e.name, e.inode()) for e in _data_files(path)))
    except OSError:
        files = None
    return (
        path,
        json.dumps(info.get("schema"), sort_keys=True) if info.get("schema") else None,
        info.get("count"),
        files,
    )


# (applicationId, ws_dir) -> {"nodes"|"edges": {label: (key, slim_df)}}
# — driver-side memo of registered per-label views (optimization r14,
# guide §5: the DML floor was py4j round-trip volume — ~0.28s of
# Column-building chatter per refresh × one refresh per statement).
# Guarded by the engine DML lock like every other view-registry
# global.
_VIEW_REG: dict = {}


def load_workspace(spark: SparkSession, ws_dir: str) -> dict:
    """E2 lifecycle (`--start`): register per-label views plus unified
    ``nodes``/``edges`` views for graph-wide analytics.

    Heterogeneous per-label schemas meet in the unified view through
    the SURVEY §1.3 escape hatch: per-label columns stay exactly typed
    in ``n_<Label>`` (the source of truth), and the unified ``nodes``
    view carries them as a ``props map<string,string>`` so label-
    agnostic queries (`WHERE props['name'] LIKE …`) stay expressible
    without widening every label to a common schema.

    Optimization r14: per-label registration is MEMOIZED on a
    freshness key (manifest entry + data files' inodes, see
    `_label_view_key`). An interactive DML sequence refreshes views
    after every statement, but each statement touches one label —
    unchanged labels skip the re-read/re-register py4j chatter
    entirely, and the unified views are rebuilt from the cached
    per-label projections (the label that DID change is re-read, so
    the unified plan never references replaced files)."""
    global VIEW_EPOCH
    manifest = read_manifest(ws_dir)
    # bucket order comes from the manifest (recorded at build time,
    # maintained by DDL: drops tombstone, renames keep their slot,
    # creates append — ADVICE r9), not from dict insertion order.
    # Mutation is guarded by the engine DML lock so concurrent server
    # threads never race a compile against a half-swapped list; the
    # slice assignment itself is a single atomic CPython op, so
    # lock-free readers see either the old or the new list whole.
    from biodwh2_arcadedb_server_spark import arcadesql as _asql

    global LAST_WS_DIR, EDGE_LABELS
    with _asql._DML_LOCK:
        # the epoch bump lives INSIDE the lock — an unguarded
        # read-modify-write here races _register_star_workspace's
        # locked bump and a lost increment would let a stale view
        # memo pass as current (round-10 second review pass)
        VIEW_EPOCH += 1
        RID_BUCKET_LABELS[:] = manifest.get("rid_buckets") or list(
            manifest["nodes"]
        )
        LAST_WS_DIR = ws_dir
        EDGE_LABELS = frozenset(manifest["edges"])

    # single-slot memo: valid only for (this session, this ws_dir) —
    # switching workspaces re-registers everything, because temp-view
    # NAMES are session-global and now point elsewhere
    owner = (spark.sparkContext.applicationId, ws_dir)
    with _asql._DML_LOCK:
        if _VIEW_REG.get("owner") != owner:
            _VIEW_REG.clear()
            _VIEW_REG.update({"owner": owner, "nodes": {}, "edges": {}})
        node_reg, edge_reg = _VIEW_REG["nodes"], _VIEW_REG["edges"]

    def _node_slim(df, _label):
        prop_cols = [c for c in df.columns if c not in ("node_id", "node_id2", "label", "natural_key")]
        if prop_cols:
            entries: list = []
            for c in prop_cols:
                entries.extend([F.lit(c), F.col(c).cast("string")])
            props = F.map_from_arrays(
                F.array(*entries[0::2]), F.array(*entries[1::2])
            )
        else:
            props = F.create_map()
        return df.select("node_id", "label", "natural_key", props.alias("props"))

    def _edge_slim(df, label):
        # a literal label (every writer stores the manifest key) lets
        # Catalyst prune `edges WHERE label = 'X'` to dataset X
        return df.select("src", "dst", F.lit(label).alias("label"))

    def _refresh(kind, prefix, reg, slim_fn):
        changed = False
        slims = []
        for label, info in manifest[kind].items():
            path = dataset_path(ws_dir, kind, label)
            key = _label_view_key(path, info)
            got = reg.get(label)
            if got is not None and got[0] == key:
                slims.append(got[1])
                continue
            df = read_dataset(spark, ws_dir, kind, label, manifest)
            df.createOrReplaceTempView(f"{prefix}{label}")
            slim = slim_fn(df, label)
            reg[label] = (key, slim)
            slims.append(slim)
            changed = True
        for stale in [lbl for lbl in reg if lbl not in manifest[kind]]:
            del reg[stale]
            changed = True
        return changed, slims

    n_changed, node_slims = _refresh("nodes", "n_", node_reg, _node_slim)
    e_changed, edge_slims = _refresh("edges", "e_", edge_reg, _edge_slim)

    if n_changed or "_nodes_done" not in _VIEW_REG:
        unified_nodes = None
        for slim in node_slims:
            unified_nodes = slim if unified_nodes is None else unified_nodes.unionByName(slim)
        if unified_nodes is None:
            # dropping the LAST type must not leave a stale unified view
            # whose plan reads a deleted dataset (round-7 review finding)
            # natural_key is LONG to match the populated path (build_nodes
            # casts the key to long) — a string here made the unified-view
            # schema depend on whether any node type exists (round-7
            # ADVICE).
            unified_nodes = spark.createDataFrame(
                [], "node_id long, label string, natural_key long, "
                    "props map<string,string>"
            )
        unified_nodes.createOrReplaceTempView("nodes")
        _VIEW_REG["_nodes_done"] = True
    if e_changed or "_edges_done" not in _VIEW_REG:
        unified_edges = None
        for slim in edge_slims:
            unified_edges = slim if unified_edges is None else unified_edges.unionByName(slim)
        if unified_edges is None:
            unified_edges = spark.createDataFrame(
                [], "src long, dst long, label string"
            )
        unified_edges.createOrReplaceTempView("edges")
        _VIEW_REG["_edges_done"] = True
    return manifest
