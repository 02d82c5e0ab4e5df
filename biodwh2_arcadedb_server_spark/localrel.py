"""JVM-literal local relations (optimization round 14, guide §4).

``spark.createDataFrame(rows, ddl)`` over driver-local rows compiles
to an ``ExistingRDD`` fed by a PICKLED PYTHON RDD
(``applySchemaToPythonRDD``): ``defaultParallelism`` partitions, each
task a Python-worker round-trip that unpickles the payload. Measured
on local[32]: ~0.3s of executor task time per evaluation even with
warm workers (2.8s cold), and a plan that references the frame K
times pays it K times — q189's one-row introspection frame is
referenced by 4 union branches, so every run paid 128 Python tasks /
~50s task time (~2s wall) for one metadata row. Seed/summary frames
inside iterative operators (BFS frontiers, SSSP distances) pay it
once per un-truncated re-evaluation.

``local_df`` keeps the rows in the JVM instead: the row list is
serialized to ONE json string literal and decoded with ``from_json``
— over ``VALUES`` for one row, which Catalyst folds into a
LocalRelation (collecting it runs no job), over a single-partition
``range`` for several — a three-node expression whatever the payload
shape, so Catalyst analysis stays O(1) too. (A first cut
rendered each value as a nested ``lit``/``struct``/``array`` tree;
the q189 introspection row alone produced a multi-thousand-node tree
that cost ~4s of driver analysis — the json literal form replaces the
tree with one leaf.) ``from_json`` yields the same all-nullable
schema reading as ``createDataFrame`` with a DDL string, and values
round-trip bit-exact for the JSON-safe type lattice
(string/integral/float/double/boolean + struct/array/string-keyed
map). Anything outside that lattice — dates, timestamps, decimals,
binary, NaN/Inf doubles, non-string map keys — falls back to
``createDataFrame``, as do row lists above ``_LITERAL_ROW_CAP``: a
literal relation is a DRIVER-PLAN construct and must stay small.
"""

from __future__ import annotations

import json
import math
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LITERAL_ROW_CAP = 64

_SAFE_SCALARS = (
    T.StringType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.BooleanType,
)


class _Unsupported(Exception):
    pass


def _jsonable(v, dt: T.DataType):
    """Python value → json-ready value matching ``dt``, or raise
    ``_Unsupported`` when the (value, type) pair can't round-trip
    through json bit-exact."""
    if v is None:
        return None
    if isinstance(dt, T.StructType):
        return {
            f.name: _jsonable(
                v.get(f.name) if isinstance(v, dict) else v[i], f.dataType
            )
            for i, f in enumerate(dt.fields)
        }
    if isinstance(dt, T.ArrayType):
        return [_jsonable(x, dt.elementType) for x in v]
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise _Unsupported("non-string map key")
        return {str(k): _jsonable(x, dt.valueType) for k, x in v.items()}
    if not isinstance(dt, _SAFE_SCALARS):
        raise _Unsupported(dt.simpleString())
    if isinstance(v, float) and not math.isfinite(v):
        raise _Unsupported("non-finite float")
    if isinstance(v, (str, bool, int, float)):
        return v
    raise _Unsupported(f"{type(v).__name__} as {dt.simpleString()}")


def local_df(
    spark: SparkSession,
    rows: Sequence[Iterable] | list,
    schema: str | T.StructType,
    row_cap: int | None = None,
) -> DataFrame:
    """Drop-in for ``spark.createDataFrame(rows, schema)`` on SMALL
    driver-local row lists: same rows, same schema, but a pure-JVM
    literal plan (no Python RDD, no Python workers at evaluation).

    ``row_cap`` overrides ``_LITERAL_ROW_CAP`` for callers whose row
    count is already bounded elsewhere (e.g. the CC driver fast path,
    gated on a measured edge count) and who checkpoint the result so
    the json literal is parsed once, not per plan reference."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
        if not isinstance(schema, T.StructType):
            schema = T.StructType([T.StructField("value", schema)])
    rows = list(rows)
    if len(rows) > (row_cap if row_cap is not None else _LITERAL_ROW_CAP):
        return spark.createDataFrame(rows, schema)
    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
    try:
        payload = json.dumps(
            [_jsonable(r, schema) for r in rows], allow_nan=False
        )
    except (_Unsupported, TypeError, ValueError, IndexError, KeyError):
        return spark.createDataFrame(rows, schema)
    if len(rows) == 1:
        # over VALUES, Catalyst folds the row into a LocalRelation:
        # collecting it runs no Spark job
        return literal_rows(
            spark, ["_r"], [[F.from_json(F.lit(payload[1:-1]), schema)]]
        ).select("_r.*")
    # several rows stay a plan over range: folding a large literal
    # (q22's connected-components seed) into the optimizer would make
    # every optimizer pass carry it
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.from_json(F.lit(payload), T.ArrayType(schema)))
    )


# The one-row base relation per session: parsing ``VALUES (0)`` again
# costs ~9 ms a statement.
_ONE_ROW: dict = {}


def literal_rows(spark: SparkSession, names: list[str], rows: list[list]) -> DataFrame:
    """Statement rows (each a list of Column expressions, one per name)
    as ONE local relation: ``VALUES (0), …, (n-1)`` with each column
    picked from the array of its per-row values. Catalyst evaluates the
    projection on the driver and folds it into a LocalRelation, so
    collecting or probing the rows runs no job."""
    if len(rows) == 1:
        base = _ONE_ROW.get(spark)
        if base is None:
            base = _ONE_ROW[spark] = spark.sql("VALUES (0)")
        return base.select(*[c.alias(n) for c, n in zip(rows[0], names)])
    base = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"({i})" for i in range(len(rows)))
        + " AS t(__i)"
    )
    return base.select(*[
        F.array(*[r[j] for r in rows])[F.col("__i")].alias(name)
        for j, name in enumerate(names)
    ])
