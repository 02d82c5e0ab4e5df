"""Round-14 advice regressions (ADVICE.md r13):

- HIGH jsonl_source._matches compared pushed filters against the RAW
  JSON value while the scan returns the schema-COERCED value; since
  retained filters are never re-applied by Spark, a date/timestamp
  filter (str-vs-date TypeError→False) or a string-encoded numeric
  silently dropped rows. Filters now evaluate on the same _coerce()d
  value the row yields.
- LOW jsonl_source.partitions() emitted a `_Chunk(dir, 0, 0)`
  fallback for a directory with no matching files, so read() open()ed
  the directory and the task died with IsADirectoryError; now an
  empty partition list (Spark plans a None partition; read(None)
  yields nothing).
- LOW workspace._append_via_tmp evaluated the validated plan twice on
  the >cap path (limit(cap+1).collect() probe, then the distributed
  write recomputed it); the probe now runs on a persisted frame so
  the rows written are the rows probed.
"""

from __future__ import annotations

import json as _json

import pytest
from pyspark.sql import functions as F


def _read_jsonl(spark, path, ddl, **opts):
    from biodwh2_arcadedb_server_spark.sources.jsonl_source import register

    register(spark)
    r = spark.read.format("jsonl_graph").schema(ddl).option("path", str(path))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_pushed_date_filter_sees_coerced_value(spark, tmp_path):
    """The ADVICE repro: schema 'id bigint, d date'; an unfiltered
    read coerces {"id":"2"} and {"d":"2024-01-02"}, so the filtered
    read must keep those same rows."""
    p = tmp_path / "d.jsonl"
    p.write_text(
        "\n".join(
            [
                _json.dumps({"id": 1, "d": "2024-01-01"}),
                _json.dumps({"id": "2", "d": "2024-01-02"}),  # str-encoded id
                _json.dumps({"id": 3, "d": "2023-12-31"}),
            ]
        )
        + "\n"
    )
    ddl = "id bigint, d date"
    df = _read_jsonl(spark, p, ddl)
    # baseline: coercion happens on the unfiltered read
    assert {r.id for r in df.collect()} == {1, 2, 3}

    got = df.where(F.col("d") > F.lit("2024-01-01").cast("date")).collect()
    assert [(r.id, str(r.d)) for r in got] == [(2, "2024-01-02")]

    got = df.where(F.col("id") == 2).collect()
    assert [r.id for r in got] == [2]

    # In-list and >= on the coerced date lane
    got = df.where(F.col("d") >= F.lit("2024-01-01").cast("date")).collect()
    assert sorted(r.id for r in got) == [1, 2]


def test_pushed_filter_on_uncoercible_value_drops_row(spark, tmp_path):
    """A value that coerces to NULL must not match any comparison
    (it is NULL in the returned row too) — parity with the scan."""
    p = tmp_path / "u.jsonl"
    p.write_text(
        _json.dumps({"id": "not-a-number"}) + "\n" + _json.dumps({"id": 7}) + "\n"
    )
    df = _read_jsonl(spark, p, "id bigint")
    assert [r.id for r in df.where(F.col("id") >= 0).collect()] == [7]
    # IsNotNull must also see the coerced NULL
    assert [r.id for r in df.where(F.col("id").isNotNull()).collect()] == [7]


def test_empty_directory_reads_zero_rows(spark, tmp_path):
    d = tmp_path / "empty_dir"
    d.mkdir()
    (d / "README.txt").write_text("not a jsonl file\n")
    df = _read_jsonl(spark, d, "id bigint")
    assert df.count() == 0


def test_append_probe_does_not_recompute_plan(spark, tmp_path):
    """_append_via_tmp dispatch: on the >cap path the size probe and
    the distributed write must evaluate the input exactly once
    overall (persist-before-probe). A per-row side-effect UDF counts
    evaluations — the double-eval bug produced probe_rows extra."""
    import glob
    import os

    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    from biodwh2_arcadedb_server_spark.workspace import (
        _append_via_tmp,
        _write_empty_dataset,
    )

    marks = tmp_path / "marks"
    marks.mkdir()
    mdir = str(marks)

    @udf(LongType())
    def traced(v):  # one byte appended per evaluation, per worker pid
        with open(os.path.join(mdir, f"{os.getpid()}.log"), "ab") as fh:
            fh.write(b".")
        return v

    n = 200
    df = (
        spark.range(0, n, 1, 4)
        .select(traced(F.col("id")).alias("id"))
    )
    path = str(tmp_path / "ds")
    _write_empty_dataset(df.schema, path)
    appended = _append_via_tmp(df, path, driver_cap=10)  # force >cap lane
    assert appended == n
    assert spark.read.parquet(path).count() == n
    evals = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(mdir, "*.log"))
    )
    assert evals == n, f"input evaluated {evals} times for {n} rows"


def test_byte_granularity_offsets_are_utf8_byte_exact(spark):
    """Round 14 (ROADMAP r13): byte-granularity exact-substring spans
    report offsets into the UTF-8 ENCODING. Two docs share a verbatim
    tail; the second doc's prefix contains multi-byte characters, so
    its span start in BYTES differs from its start in CHARS by
    exactly the extra encoded bytes."""
    from biodwh2_arcadedb_server_spark.operators import dedup

    shared = "the quick brown fox jumps over the lazy dog " * 4  # 180 chars
    rows = [
        (1, "abc " + shared),          # pure-ASCII prefix: 4 chars = 4 bytes
        (2, "héllo wörld Ω " + shared),  # 14 chars = 18 bytes (é,ö 2B; Ω 2B... )
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prefix2 = rows[1][1].split(shared)[0]
    extra = len(prefix2.encode()) - len(prefix2)
    assert extra > 0

    by = {
        r.doc_id: (r.span_start, r.span_end)
        for r in dedup.exact_substring_spans(
            df, "doc_id", "text", k=20, min_len=100, granularity="byte"
        ).collect()
    }
    ch = {
        r.doc_id: (r.span_start, r.span_end)
        for r in dedup.exact_substring_spans(
            df, "doc_id", "text", k=20, min_len=100, granularity="char"
        ).collect()
    }
    # canonical-keep: the span lands on the LARGER doc_id (doc 2)
    assert set(by) == set(ch) == {2}
    # char-mode start is the char offset; byte-mode start is shifted
    # by the multi-byte surplus of the prefix
    assert by[2][0] == ch[2][0] + extra
    # the common run extends LEFT through the shared preceding space
    # (both prefixes end in ' '), so it starts AT the prefix's last char
    assert ch[2][0] == len(prefix2)
    # removal refuses byte spans with guidance
    import pytest as _pytest

    spans = dedup.exact_substring_spans(
        df, "doc_id", "text", k=20, min_len=100, granularity="byte"
    )
    with _pytest.raises(ValueError, match="invalid UTF-8"):
        dedup.remove_spans(df, spans, "doc_id", "text", granularity="byte")
