"""Custom stateful streaming operators (C7 advanced):
``applyInPandasWithState`` — the extension point for semantics the
built-in windowed aggregates can't express.

``running_user_stats`` keeps one small state row per user (count,
sum, last-seen) and emits an updated record per micro-batch — the
shape of real-time feature pipelines (per-entity accumulators).
State is bounded: one row per active key. For continuous deployments
pass ``ttl_ms`` to evict idle keys via ProcessingTimeTimeout; leave
it ``None`` for finite (``availableNow``) runs — a pending
processing-time timeout forces the trigger to keep scheduling extra
micro-batches until the timeout fires, so an availableNow query with
a long TTL never terminates.
"""

from __future__ import annotations

import functools
import os
import tempfile
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double, last_ts timestamp"
STATE_SCHEMA = "n long, s double, last_ts timestamp"


def _update_user(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState, ttl_ms: int | None
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return iter(())
    n, s, last_ts = state.get if state.exists else (0, 0.0, None)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
        mx = pdf["ts"].max()
        last_ts = mx if last_ts is None else max(last_ts, mx)
    state.update((n, s, last_ts))
    if ttl_ms is not None:
        state.setTimeoutDuration(ttl_ms)
    return iter(
        [pd.DataFrame({"user_id": [user_id], "n_events": [n], "sum_value": [s], "last_ts": [last_ts]})]
    )


def running_user_stats(events: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Per-user running aggregates with optional TTL-evicted state.
    Input must be a streaming DataFrame with (user_id, ts, value)."""
    timeout = (
        GroupStateTimeout.NoTimeout if ttl_ms is None else GroupStateTimeout.ProcessingTimeTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        functools.partial(_update_user, ttl_ms=ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


# --- session windows as a custom stateful operator ---------------------------------
#
# The built-in ``F.session_window`` covers plain gap sessions; the
# applyInPandasWithState variant below is the extension point for
# session semantics the built-in can't express (per-session custom
# state, early emission policies, dynamic gaps). Semantics here match
# the built-in exactly — a session is extended iff the next event is
# STRICTLY less than ``gap`` after the last one (session span is
# [first_ts, last_ts + gap)) — so the batch twin is the oracle.
#
# Emission contract (append mode): a session row is emitted exactly
# once, when it is FINAL — either superseded in-stream by a later
# event from the same user (> gap after it), or closed by the
# event-time watermark passing session_end + gap (EventTimeTimeout).
# State per user is one open session: 4 scalars, bounded regardless
# of input volume; keys evict on timeout, so the state store stays
# proportional to *active* users, not all users ever seen.

SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
# One state row per CELL of users (parallel arrays keyed by position):
# the per-user open session is 4 scalars; packing ~|users|/n_cells of
# them per state key cuts the applyInPandasWithState Python-call count
# from one per active user to one per cell per micro-batch (measured
# 13.0s → 8.1s at sf0.1; the remaining floor is the micro-batch cycle
# itself — the same 5-trigger stream costs 7.0s with the built-in
# session_window aggregate).
SESSION_STATE_SCHEMA = (
    "users array<bigint>, starts array<timestamp>, ends array<timestamp>, "
    "ns array<bigint>, ss array<double>"
)


def _session_rows(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [r[0] for r in rows],
            "session_start": [r[1] for r in rows],
            "session_end": [r[2] for r in rows],
            "n_events": [r[3] for r in rows],
            "sum_value": [r[4] for r in rows],
        }
    )


def _merge_user_sessions(
    open_sess: tuple | None, batch: pd.DataFrame | None, gap: pd.Timedelta
) -> list[tuple]:
    """Gaps-and-islands for one user: the carried open session (if
    any) followed by this batch's events, merged on `< gap` adjacency.
    Returns the merged session list (last element = still-open)."""
    sessions: list[tuple] = []
    if open_sess is not None:
        sessions.append(open_sess)
    if batch is not None and len(batch):
        brk = batch["ts"].diff() >= gap
        groups = batch.groupby(brk.cumsum()).agg(
            start=("ts", "min"), end=("ts", "max"), n=("ts", "size"), s=("value", "sum")
        )
        sessions.extend(
            (r.start, r.end, int(r.n), float(r.s)) for r in groups.itertuples(index=False)
        )
    merged: list[tuple] = []
    for sess in sessions:
        if merged and sess[0] - merged[-1][1] < gap:
            prev = merged[-1]
            merged[-1] = (
                min(prev[0], sess[0]),
                max(prev[1], sess[1]),
                prev[2] + sess[2],
                prev[3] + sess[3],
            )
        else:
            merged.append(sess)
    return merged


def _sessionize_cell(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_ms: int,
    eos_flush: bool = False,
) -> Iterable[pd.DataFrame]:
    """One vectorized interval-islands pass per cell: the carried open
    sessions (intervals) and this batch's events (zero-length
    intervals) sort by (user, start); a session break is a new user or
    ``start - cummax(end) >= gap`` (identical to the per-event
    ``diff >= gap`` rule, and correct for carried intervals whose end
    may exceed later event times). One groupby over island ids then
    replaces the old per-user Python loop — ~5 ms of pandas mini-agg
    PER USER, the dominant drain cost at 1500 users (measured:
    131 ms/cell looped → 13 ms/cell vectorized; q90 sf0.1 drain
    5.4 s → ~3 s). Semantics unchanged: the per-user twin
    ``_merge_user_sessions`` stays as the parity reference
    (tests/test_stateful_streaming.py pins both against the batch
    session_window aggregate)."""
    gap = pd.Timedelta(milliseconds=gap_ms)
    frames: list[pd.DataFrame] = []
    if state.exists:
        users, starts, ends, ns, ss = state.get
        frames.append(
            pd.DataFrame(
                {
                    "user_id": pd.array(users, dtype="int64"),
                    "start": pd.to_datetime(list(starts)),
                    "end": pd.to_datetime(list(ends)),
                    "n": pd.array(ns, dtype="int64"),
                    "s": pd.array(ss, dtype="float64"),
                }
            )
        )
    flush = False
    if not state.hasTimedOut:
        for pdf in pdfs:
            if len(pdf):
                if (pdf["user_id"] < 0).any():
                    # end-of-stream punctuation (negative user ids,
                    # one per cell — Flink's bounded-input
                    # MAX_WATERMARK analog): every real event
                    # precedes it by construction, so close the
                    # cell's remaining open sessions this batch.
                    flush = True
                    pdf = pdf[pdf["user_id"] >= 0]
                    if not len(pdf):
                        continue
                frames.append(
                    pd.DataFrame(
                        {
                            "user_id": pdf["user_id"],
                            "start": pdf["ts"],
                            "end": pdf["ts"],
                            "n": 1,
                            "s": pdf["value"],
                        }
                    )
                )
    if not frames:
        state.remove()
        return iter(())
    iv = pd.concat(frames, ignore_index=True).sort_values(
        ["user_id", "start"], kind="stable", ignore_index=True
    )
    brk = iv["user_id"].ne(iv["user_id"].shift()) | (
        (iv["start"] - iv.groupby("user_id", sort=False)["end"].cummax().shift()) >= gap
    )
    island = brk.cumsum()
    agg = iv.groupby(island, sort=True).agg(
        user_id=("user_id", "first"),
        start=("start", "min"),
        end=("end", "max"),
        n=("n", "sum"),
        s=("s", "sum"),
    )
    # the last island of each user is its (possibly still) open session
    open_ids = island[iv["user_id"].ne(iv["user_id"].shift(-1))].values
    open_mask = agg.index.isin(open_ids)
    finals = agg[~open_mask]
    opens = agg[open_mask]

    if flush:
        # punctuation drains the cell: everything is final
        emitted = pd.concat([finals, opens], ignore_index=True)
        still_open = opens.iloc[0:0]
    elif eos_flush:
        # bounded-input mode, no watermark: only in-batch island
        # closes emit; open sessions wait for the punctuation
        emitted = finals
        still_open = opens
    else:
        # close every open session the watermark has already finalized
        # (covers both the timeout wake-up and in-batch closures)
        wm = state.getCurrentWatermarkMs()
        expired = (opens["end"].astype("datetime64[ns]").astype("int64") // 1_000_000 + gap_ms) <= wm
        emitted = pd.concat([finals, opens[expired]], ignore_index=True)
        still_open = opens[~expired]
    if len(still_open):
        state.update(
            (
                still_open["user_id"].tolist(),
                still_open["start"].tolist(),
                still_open["end"].tolist(),
                still_open["n"].tolist(),
                still_open["s"].tolist(),
            )
        )
        # re-arm on the EARLIEST possible close among the cell's users
        # (skipped in eos_flush mode: NoTimeout forbids timers — the
        # punctuation drains the state instead)
        if not eos_flush:
            state.setTimeoutTimestamp(
                int(
                    still_open["end"]
                    .astype("datetime64[ms]")
                    .astype("int64")
                    .min()
                )
                + gap_ms
            )
    else:
        state.remove()
    if not len(emitted):
        return iter(())
    return iter(
        [
            emitted.rename(
                columns={
                    "start": "session_start",
                    "end": "session_end",
                    "n": "n_events",
                    "s": "sum_value",
                }
            )[["user_id", "session_start", "session_end", "n_events", "sum_value"]]
        ]
    )


def sessionize(
    events: DataFrame,
    gap_ms: int,
    watermark: str = "1 minute",
    n_cells: int = 16,
    eos_flush: bool = False,
) -> DataFrame:
    """Custom session windows over (user_id, ts, value) with
    exactly-once final-session emission (append semantics).

    Streaming twin of ``events.session_agg`` / the batch
    ``F.session_window`` aggregate; runs unchanged on a Kafka or rate
    source — a rate-limited source only changes HOW FAST event-time
    advances per trigger, never which sessions are emitted, because
    emission is driven by the event-time watermark, not the trigger
    cadence (parity pinned across 1-file-per-trigger cadences by
    tests/test_stateful_streaming.py).

    State is keyed by ``user_id % n_cells`` rather than the raw user:
    per-user session logic is unchanged (the cell state maps each user
    to its open session) but one Python invocation serves a whole
    cell per micro-batch. Size n_cells so a cell holds thousands of
    users (state bytes/cell in the KBs) — at 10^8 active users that
    means 10^4-10^5 cells, exactly the neardup bucket-store sizing
    rule (streaming/neardup.py).

    ``eos_flush=True`` selects the BOUNDED-INPUT execution mode
    (Flink's MAX_WATERMARK-on-end-of-input analog): no watermark, no
    event-time timers — mid-stream sessions still close in-batch via
    the island logic (time-ordered input means a closed island can
    never reopen), and the remaining open sessions drain when the
    per-cell end-of-stream punctuation rows (negative user ids)
    arrive. This removes the watermark's one-batch lag and the
    trailing no-data flush batch — a finite drain runs in exactly
    (data batches + 1) triggers. Unbounded production streams keep
    the default event-time mode; both modes emit the identical
    session set on the same input (pinned by
    tests/test_stateful_streaming.py)."""
    grouped = events.withColumn(
        "_cell", F.pmod(F.col("user_id"), F.lit(n_cells))
    )
    if not eos_flush:
        grouped = grouped.withWatermark("ts", watermark)
    return grouped.groupBy("_cell").applyInPandasWithState(
        functools.partial(_sessionize_cell, gap_ms=gap_ms, eos_flush=eos_flush),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if eos_flush
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


SENTINEL_USER = -1


def chunked_event_files(
    sf_dir: str,
    n_chunks: int = 4,
    out_dir: str | None = None,
    sentinel_cells: int = 1,
    min_ts_us: int | None = None,
) -> str:
    """Write the events table as ``n_chunks`` time-ordered parquet
    chunks plus a far-future sentinel file, mtimes ascending, so a
    maxFilesPerTrigger=1 file stream replays them as an ordered
    sequence of micro-batches and the final watermark closes every
    real session. This is the finite-run harness ONLY — a production
    deployment reads Kafka and sessions close continuously as the
    watermark advances; the sentinel plays the role time itself plays
    on an unbounded stream.

    ``sentinel_cells``: how many sentinel rows the final file carries
    — ids ``-1..-n`` so ``pmod(id, n)`` covers every state cell. The
    default single ``-1`` row is enough to advance the watermark
    (event-time mode); ``eos_flush`` drains need one punctuation per
    cell (``sentinel_cells=n_cells``); ``0`` writes NO sentinel —
    for timeMode=None operators (q181) whose emission needs no
    watermark, saving a whole trigger. ``min_ts_us`` keeps only
    events at/after that epoch-µs instant — the warm-start harness
    streams the post-cutoff era only (q182)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "events.parquet"), columns=["user_id", "ts", "value"]
    )
    # events.parquet is TIMESTAMP(NANOS) with sub-µs digits; truncate
    # to µs exactly like the batch reader (`ts div 1000`) and DuckDB's
    # TIMESTAMP_NS→TIMESTAMP coercion, so all three engines agree.
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"),
        "ts",
        tbl.column("ts").cast(pa.timestamp("us"), safe=False),
    )
    df = tbl.to_pandas().sort_values("ts", ignore_index=True)
    if min_ts_us is not None:
        # the arrow table was cast to timestamp[us] above, so the
        # pandas int64 view IS epoch-µs already
        df = df[
            df["ts"].astype("datetime64[us]").astype("int64") >= min_ts_us
        ].reset_index(drop=True)
    out = out_dir or tempfile.mkdtemp(prefix="sessionize_chunks_")
    bounds = [round(i * len(df) / n_chunks) for i in range(n_chunks + 1)]
    sentinel = pd.DataFrame(
        {
            "user_id": [-(i + 1) for i in range(sentinel_cells)],
            "ts": [df["ts"].max() + pd.Timedelta(days=365)] * sentinel_cells,
            "value": [0.0] * sentinel_cells,
        }
    )
    chunks = [df.iloc[bounds[i] : bounds[i + 1]] for i in range(n_chunks)]
    if sentinel_cells:
        chunks.append(sentinel)
    for i, chunk in enumerate(chunks):
        path = os.path.join(out, f"chunk{i:04d}.parquet")
        t = pa.Table.from_pandas(chunk, preserve_index=False)
        ts_idx = t.schema.get_field_index("ts")
        pq.write_table(t.set_column(ts_idx, "ts", t.column("ts").cast(pa.timestamp("us"))), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return out


def run_finite_sessionize(
    spark: SparkSession,
    sf_dir: str,
    gap_ms: int,
    n_chunks: int = 4,
    name: str = "sessionize_out",
    state_parts: int | None = None,
    n_cells: int = 16,
    eos_flush: bool = False,
) -> DataFrame:
    """Drain the chunked events stream through ``sessionize`` to
    completion and return the emitted (final) sessions for real users.
    In event-time mode the sentinel advances the watermark past every
    real session's end+gap; in ``eos_flush`` mode the sentinel file
    carries one punctuation row per cell and the drain finishes in
    (data batches + 1) triggers — no watermark lag, no trailing
    no-data batch. ``state_parts`` overrides the session
    state-partition count (the per-trigger cost is state-store
    open+commit × partitions; size to active-state volume, see
    streaming.__init__). The streaming checkpoint goes on tmpfs when
    available — the finite drain's WAL/state IO is scratch, not
    durability (a production deployment points it at durable
    storage)."""
    from biodwh2_arcadedb_server_spark.streaming import STREAM_STATE_PARTITIONS, state_partitions

    src = chunked_event_files(
        sf_dir, n_chunks, sentinel_cells=n_cells if eos_flush else 1
    )
    ckpt_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    with state_partitions(spark, state_parts or STREAM_STATE_PARTITIONS):
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = sessionize(stream, gap_ms, n_cells=n_cells, eos_flush=eos_flush)
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="sessionize_ckpt_", dir=ckpt_base),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).filter(F.col("user_id") >= 0)


# --- running stats via the Spark 4 transformWithState API --------------------------
#
# ``applyInPandasWithState`` (above) is the 3.x-era extension point:
# one opaque state tuple per key. ``transformWithStateInPandas`` is
# its Spark 4 successor — NAMED typed state variables (value / list /
# map), per-key timers in processing or event time, and state
# evolution — running on the RocksDB state-store provider (large
# state lives off-heap/on-disk, not in executor memory: the 100 TB
# posture for billions of keys). ``running_user_stats_tws`` mirrors
# ``running_user_stats`` exactly, so the same batch aggregate pins
# both implementations; the processor shape (init/handleInputRows/
# close over a StatefulProcessorHandle) is where richer semantics
# (multiple state vars, timer-driven emission) slot in.

def _ensure_protobuf_runtime() -> None:
    """Make a REAL protobuf runtime importable when none is pip-
    installed: some hosts ship one with the system google-cloud-sdk
    (the App Engine platform bundle). If found, append it to sys.path
    and — because pyspark 4.1's generated StateMessage_pb2 carries a
    6.33 gencode stamp while the bundled runtime may be one minor
    older — relax ONLY the same-major newer-gencode case of the
    gencode/runtime version check (StateMessage.proto uses no
    6.33-only features; wire format is unchanged within a major).
    Runs at module import, so executor Python workers unpickling the
    processor class install the same shim before the API client's
    lazy ``StateMessage_pb2`` import. Raises ImportError when no
    runtime exists anywhere — the capability gate below catches it."""
    import sys

    def _purge_namespace_stubs() -> None:
        # drop cached empty-namespace modules: Spark's runner
        # processes can see a bare `google` namespace package, which
        # makes `import google.protobuf` succeed vacuously AND can
        # mask a real pip-installed runtime sitting later on sys.path
        for _m in ("google.protobuf", "google"):
            mod = sys.modules.get(_m)
            if mod is not None and getattr(mod, "__file__", None) is None:
                del sys.modules[_m]

    def _real_runtime_importable() -> bool:
        try:
            # probe for a REAL runtime, not a bare `google` namespace
            # package (descriptor is a regular module in any genuine
            # protobuf distribution)
            from google.protobuf import descriptor  # noqa: F401

            return True
        except ImportError:
            return False

    # Ordering (VERDICT r10 #4): (1) any already-importable runtime,
    # (2) retry after purging namespace stubs — a pip/system protobuf
    # later on sys.path works with NO fallback path configured at all,
    # (3) only then the configured/SDK directory as a last resort.
    if _real_runtime_importable():
        return
    _purge_namespace_stubs()
    if _real_runtime_importable():
        return

    # configurable (round-10 review: don't bake one deployment's
    # filesystem into import side effects): SPARK_GRAFT_PROTOBUF_PATH
    # points at a directory containing google/protobuf; the
    # google-cloud-sdk App Engine bundle is the known-good default
    # candidate where present.
    sdk = os.environ.get(
        "SPARK_GRAFT_PROTOBUF_PATH",
        "/usr/lib/google-cloud-sdk/platform/google_appengine",
    )
    if not os.path.isdir(os.path.join(sdk, "google", "protobuf")):
        raise ImportError("no protobuf runtime available")
    if sdk not in sys.path:
        sys.path.append(sdk)
    # the SDK bundle's protobuf may be shadowed by the same namespace
    # stubs — purge again so the re-import scans the appended path
    _purge_namespace_stubs()
    from google.protobuf import runtime_version as _rv

    _orig = _rv.ValidateProtobufRuntimeVersion

    def _lenient(domain, major, minor, patch, suffix, location):
        try:
            _orig(domain, major, minor, patch, suffix, location)
        except _rv.VersionError:
            # Scoped leniency (ADVICE r10): ONLY pyspark's generated
            # StateMessage gencode gets the same-major newer-gencode
            # pass — every other protobuf consumer in the process
            # keeps the stock validation behavior. The validator's
            # ``location`` is the .proto path as stamped into the
            # gencode: org/apache/spark/sql/execution/streaming/
            # StateMessage.proto (observed), with "pyspark" accepted
            # for safety should the stamp move to the module path.
            loc = str(location)
            if (
                ("pyspark" in loc or "org/apache/spark" in loc)
                and major == _rv.MAJOR
                and (minor, patch) >= (_rv.MINOR, _rv.PATCH)
            ):
                return  # same-major newer gencode: tolerated (see above)
            raise

    _rv.ValidateProtobufRuntimeVersion = _lenient


try:  # pragma: no cover - environment-dependent surface
    # The TWS Python driver worker speaks protobuf to the JVM state
    # server; without the google.protobuf package the query crashes at
    # init, so the capability gate requires BOTH the API and protobuf.
    # applyInPandasWithState is the SUPPORTED path; without protobuf
    # this twin refuses with a RuntimeError (asserted by the parity
    # test — no skip) and any protobuf-equipped deployment runs the
    # full batch-parity check unchanged.
    _ensure_protobuf_runtime()
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningStatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values) -> Iterator[pd.DataFrame]:
            prev = self._agg.get() if self._agg.exists() else None
            n, s, last_ts = prev if prev is not None else (0, 0.0, None)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
                mx = pdf["ts"].max()
                last_ts = mx if last_ts is None else max(last_ts, mx)
            self._agg.update((n, s, last_ts))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [s],
                    "last_ts": [last_ts],
                }
            )

        def close(self) -> None:
            pass

    # --- timer-driven session close (ListState + event-time timers) ----
    #
    # The first operator here that ONLY transformWithState expresses
    # cleanly. ``applyInPandasWithState`` gives one opaque state tuple
    # and one timeout per key, so the sessionizer above must assume
    # time-ordered input and emit superseded sessions from inside the
    # data path. This processor instead NEVER emits from the data
    # path: pending session aggregates accumulate in a named ListState
    # and every emission is driven by an event-time timer firing when
    # the watermark passes ``session_end + gap`` — so a session is
    # final *by the watermark's definition of final*, and intra-
    # watermark disorder (events arriving out of order across
    # micro-batches, as long as they beat the watermark) merges into
    # the correct session instead of corrupting a prematurely-emitted
    # one. State per key is a bounded list of 4-scalar aggregates —
    # sessions still inside the watermark horizon — on the RocksDB
    # provider (the 100 TB posture: state lives off-heap/on-disk).

    class _SessionCloseProcessor(StatefulProcessor):
        """Cell-packed session windows, watermark-finalized.

        Keyed by ``user_id % n_cells`` (the q90 sizing rule): every
        named-state operation is a socket round-trip to the JVM state
        server, so state-op count must scale with CELLS, not users —
        measured at sf0.1 (1500 users, 4 triggers): per-user keys
        25.9s, 32 cells ~8s (the remaining cost is the
        per-trigger RocksDB+proto-worker cycle, key-count-independent),
        identical output. ListState "sessions"
        holds the cell's pending (user, start, end, n, s) aggregates,
        disjoint per user by >= gap; ONE event-time timer per cell,
        armed at the cell's min(end)+gap — the earliest instant any
        pending session can become final. handleExpiredTimer emits
        what the watermark has passed and re-arms for the remainder.
        Merging is the vectorized interval-islands pass (same rule as
        _sessionize_cell: new user or ``start − cummax(end) ≥ gap``
        breaks an island), correct for carried intervals and for
        intra-watermark disorder alike."""

        def __init__(self, gap_ms: int) -> None:
            self._gap_ms = gap_ms

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sessions = handle.getListState(
                "sessions",
                "user bigint, start timestamp, end timestamp, n bigint, s double",
            )

        def _load(self) -> pd.DataFrame | None:
            if not self._sessions.exists():
                return None
            rows = list(self._sessions.get())
            if not rows:
                return None
            return pd.DataFrame(
                {
                    "user_id": pd.array([r[0] for r in rows], dtype="int64"),
                    "start": pd.to_datetime([r[1] for r in rows]),
                    "end": pd.to_datetime([r[2] for r in rows]),
                    "n": pd.array([r[3] for r in rows], dtype="int64"),
                    "s": pd.array([r[4] for r in rows], dtype="float64"),
                }
            )

        def _store_and_rearm(
            self, pending: pd.DataFrame, fired: int | None = None
        ) -> None:
            """One put + one timer (re)arm per cell. ``fired``: the
            expiry that just fired — already removed by the runtime,
            deleting it again only warns."""
            if len(pending):
                self._sessions.put(
                    list(
                        zip(
                            pending["user_id"].tolist(),
                            pending["start"].tolist(),
                            pending["end"].tolist(),
                            pending["n"].tolist(),
                            pending["s"].tolist(),
                        )
                    )
                )
            else:
                self._sessions.clear()
            # unit-explicit epoch-ms (ADVICE r11): astype('int64')
            # alone assumes the arrow bridge delivered datetime64[ns];
            # converting through datetime64[ms] first makes the math
            # correct at any pandas datetime resolution (ns today via
            # coerce_temporal_nanoseconds, us under a future pandas-2
            # native default)
            want = (
                int(
                    pending["end"]
                    .astype("datetime64[ms]")
                    .astype("int64")
                    .min()
                )
                + self._gap_ms
                if len(pending)
                else None
            )
            for t in list(self._handle.listTimers()):
                if t != fired and t != want:
                    self._handle.deleteTimer(t)
                elif t == want:
                    want = None  # already armed at the right instant
            if want is not None:
                # an expiry the watermark already passed still fires:
                # event-time timers are checked against the watermark
                # each micro-batch, not scheduled on a clock
                self._handle.registerTimer(want)

        def handleInputRows(self, key, rows, timer_values) -> Iterator[pd.DataFrame]:
            gap = pd.Timedelta(milliseconds=self._gap_ms)
            frames: list[pd.DataFrame] = []
            carried = self._load()
            if carried is not None:
                frames.append(carried)
            for pdf in rows:
                if len(pdf):
                    frames.append(
                        pd.DataFrame(
                            {
                                "user_id": pdf["user_id"],
                                "start": pdf["ts"],
                                "end": pdf["ts"],
                                "n": 1,
                                "s": pdf["value"],
                            }
                        )
                    )
            if not frames:
                return iter(())
            iv = pd.concat(frames, ignore_index=True).sort_values(
                ["user_id", "start"], kind="stable", ignore_index=True
            )
            brk = iv["user_id"].ne(iv["user_id"].shift()) | (
                (
                    iv["start"]
                    - iv.groupby("user_id", sort=False)["end"].cummax().shift()
                )
                >= gap
            )
            merged = iv.groupby(brk.cumsum(), sort=True).agg(
                user_id=("user_id", "first"),
                start=("start", "min"),
                end=("end", "max"),
                n=("n", "sum"),
                s=("s", "sum"),
            )
            self._store_and_rearm(merged)
            return iter(())  # emission is timer-driven only

        # parameter names match the ABC exactly — the runtime invokes
        # this hook with keyword arguments (stateful_processor_util.py)
        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
            wm = timerValues.getCurrentWatermarkInMs()
            pending = self._load()
            fired = expiredTimerInfo.getExpiryTimeInMs()
            if pending is None:
                self._store_and_rearm(
                    pd.DataFrame(
                        columns=["user_id", "start", "end", "n", "s"]
                    ),
                    fired=fired,
                )
                return iter(())
            expired = (
                pending["end"].astype("datetime64[ms]").astype("int64")
                + self._gap_ms
            ) <= wm
            final = pending[expired]
            self._store_and_rearm(pending[~expired], fired=fired)
            if not len(final):
                return iter(())
            return iter(
                [
                    final.rename(
                        columns={
                            "start": "session_start",
                            "end": "session_end",
                            "n": "n_events",
                            "s": "sum_value",
                        }
                    )[
                        [
                            "user_id",
                            "session_start",
                            "session_end",
                            "n_events",
                            "sum_value",
                        ]
                    ]
                ]
            )

        def close(self) -> None:
            pass

    class _FirstSeenProcessor(StatefulProcessor):
        """Streaming exact-dedup / first-occurrence suppression on
        named MapState — the third TWS state kind (ValueState: running
        stats q175; ListState: session close q179). Keyed by
        ``user_id % n_cells``; the cell's map is user → seen-
        fingerprint array. A row whose fingerprint is already in its
        user's set emits nothing. This is the streaming leg of the
        exact-dedup staple (C1); at 100 TB the maps live on the
        RocksDB provider off-heap/on-disk and the fingerprint is the
        batch dedup's content hash.

        State-op accounting (the same cell rule as the sessionizer):
        the Python MapState API costs one JVM round-trip per call, so
        per-ENTRY map keys (fp as the map key) pay one write per new
        fingerprint — measured 15.9s at sf0.1 (72k first-sights).
        Packing a user's set as ONE map value makes the op count
        scale with users-with-input per batch, but rewrites the whole
        set per update — unbounded write amplification as the set
        grows on a long-lived stream (ADVICE r11). The shipped layout
        shards each user's fp-space into SUB-KEY BLOCKS
        ``(u, fp >> shard_shift)`` (arithmetic shift, default 58 →
        at most 64 blocks for uniform 64-bit content hashes): per
        batch, one getValue + at most one updateValue per TOUCHED
        block, and each write serializes only that block's ~set/64
        slice — bounded amplification at the packed layout's op
        count. For the bounded test modulus (fp < 97) every fp lands
        in block 0, degenerating to the single-value layout, so the
        q181/q182 outputs and measured floors are unchanged.

        CHECKPOINT-FORMAT BREAK (round 12, noted per ADVICE r12): the
        block sharding changed the ``seen`` MapState key schema from
        ``u bigint`` to ``u bigint, blk bigint``. A restart against a
        checkpoint written by the pre-round-12 layout is NOT
        readable; the state name is kept the same DELIBERATELY so
        Spark's state-schema compatibility check rejects the restore
        at query start (STATE_STORE_* schema-mismatch error) instead
        of silently resuming with an empty map and re-emitting
        already-seen fingerprints (which a renamed state would do).
        Migration path: drain the old query, re-bootstrap via
        ``handleInitialState`` from the batch seen-sets (the q182
        warm-start path), start with a fresh checkpoint dir."""

        STATE_LAYOUT_VERSION = 2  # 1 = u-keyed (pre-r12); 2 = (u, blk)

        def __init__(self, shard_shift: int = 58) -> None:
            self._shift = shard_shift

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getMapState(
                "seen", "u bigint, blk bigint", "fps array<bigint>"
            )

        def handleInputRows(self, key, rows, timer_values) -> Iterator[pd.DataFrame]:
            frames = [pdf for pdf in rows if len(pdf)]
            if not frames:
                return iter(())
            pdf = pd.concat(frames, ignore_index=True).sort_values(
                "ts", kind="stable", ignore_index=True
            )
            # collapse in-batch repeats pandas-side (keep='first'
            # preserves the earliest ts) — the state store then sees
            # one read + at most one write per touched (user, block)
            pdf = pdf.drop_duplicates(subset=["user_id", "fp"], keep="first")
            # floor-division IS the arithmetic right shift (pandas has
            # no Series >>); matches handleInitialState's Python >>
            blk = pdf["fp"].astype("int64") // (1 << self._shift)
            out: list[pd.DataFrame] = []
            for (user, b), grp in pdf.groupby(
                [pdf["user_id"], blk], sort=False
            ):
                old = self._seen.getValue((int(user), int(b)))
                seen = set(old[0]) if old is not None else set()
                news = grp[~grp["fp"].isin(seen)]
                if not len(news):
                    continue
                out.append(
                    pd.DataFrame(
                        {
                            "user_id": news["user_id"],
                            "fp": news["fp"],
                            "first_ts": news["ts"],
                        }
                    )
                )
                seen.update(int(f) for f in news["fp"])
                self._seen.updateValue(
                    (int(user), int(b)), (sorted(seen),)
                )
            return iter(out) if out else iter(())

        def handleInitialState(self, key, initialState, timerValues) -> None:
            """Warm start (q182): the batch-computed seen-sets load
            into the cell's map before the first input batch — one
            updateValue per bootstrapped (user, block), a one-time
            cost. Rows: (user_id, fps array) for this cell."""
            for r in initialState.itertuples(index=False):
                by_block: dict[int, list[int]] = {}
                for f in sorted(int(x) for x in r.fps):
                    by_block.setdefault(f >> self._shift, []).append(f)
                for b, fps in by_block.items():
                    self._seen.updateValue(
                        (int(r.user_id), int(b)), (fps,)
                    )

        def close(self) -> None:
            pass

    class _RotatingGramPostingsProcessor(StatefulProcessor):
        """Contamination postings with REFERENCE ROTATION (round 14,
        ROADMAP r13 follow-on). Layout: grouping key = ``pmod(gh,
        n_cells)`` so the reference index PARTITIONS across cells
        (never replicated); the cell's map is gram-hash → packed
        (refs, poss) parallel arrays, loaded once per cell by
        ``handleInitialState`` (epoch 0). That bootstrap only runs at
        query START, so a long-lived stream cannot re-bootstrap — new
        reference epochs ship THROUGH the stream as control rows
        (``is_ctrl`` true, carrying the gram's new packed postings;
        EMPTY refs = tombstone, removing a gram the new epoch dropped,
        e.g. one the wider set pushed over the stop-gram cap). A
        fixed reference set needs none of this: it is a stateless
        stream-static join (``stream_substring_contamination``).

        Within a batch, control rows apply BEFORE document grams are
        probed (split in pandas below), so a batch that carries both
        sees the new epoch consistently. ACROSS batches the ordering
        is the stream's — a document batch is evaluated against
        whichever epoch has fully arrived before it, which is the
        only coherent semantics a rotation-through-the-stream can
        offer (and exactly what the finite harness pins: chunk files
        are mtime-ordered, one per trigger). State-op cost: one
        updateValue/removeKey per shipped gram per epoch — rotation
        cost scales with the INDEX size, not the stream. Per document
        batch: one getValue per DISTINCT touched gram per cell
        (pandas-side grouping collapses repeats)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._post = handle.getMapState(
                "postings",
                "gh bigint",
                "refs array<bigint>, poss array<bigint>",
            )

        def handleInputRows(self, key, rows, timer_values) -> Iterator[pd.DataFrame]:
            frames = [pdf for pdf in rows if len(pdf)]
            if not frames:
                return iter(())
            pdf = pd.concat(frames, ignore_index=True)
            ctrl = pdf[pdf["is_ctrl"]]
            for r in ctrl.itertuples(index=False):
                refs = [int(x) for x in (r.refs if r.refs is not None else [])]
                if not refs:
                    self._post.removeKey((int(r.gh),))
                else:
                    self._post.updateValue(
                        (int(r.gh),),
                        (refs, [int(x) for x in r.poss]),
                    )
            data = pdf[~pdf["is_ctrl"]]
            if not len(data):
                return iter(())
            out: list[pd.DataFrame] = []
            for gh, grp in data.groupby("gh", sort=False):
                v = self._post.getValue((int(gh),))
                if v is None:
                    continue
                refs, poss = v
                n_ref, n_in = len(refs), len(grp)
                out.append(
                    pd.DataFrame(
                        {
                            "da": [int(r) for r in refs] * n_in,
                            "pa": [int(p) for p in poss] * n_in,
                            "db": grp["doc_id"].repeat(n_ref).to_numpy(),
                            "pb": grp["pos"].repeat(n_ref).to_numpy(),
                        }
                    )
                )
            if not out:
                return iter(())
            return iter(
                [pd.concat(out, ignore_index=True)[["da", "db", "pa", "pb"]]]
            )

        def handleInitialState(self, key, initialState, timerValues) -> None:
            for r in initialState.itertuples(index=False):
                self._post.updateValue(
                    (int(r.gh),),
                    ([int(x) for x in r.refs], [int(x) for x in r.poss]),
                )

        def close(self) -> None:
            pass

    HAS_TRANSFORM_WITH_STATE = True
    TWS_UNAVAILABLE_REASON: str | None = None
except ImportError as _exc:  # pragma: no cover
    HAS_TRANSFORM_WITH_STATE = False
    # kept for the capability error below AND for debugging worker
    # processes, where this block runs again on unpickle
    TWS_UNAVAILABLE_REASON = str(_exc)


def running_user_stats_tws(events: DataFrame) -> DataFrame:
    """Per-user running aggregates through ``transformWithStateInPandas``
    (named ValueState + RocksDB provider). Same contract as
    ``running_user_stats``; callers must run the query with
    ``spark.sql.streaming.stateStore.providerClass`` set to the
    RocksDB provider (transformWithState requires it)."""
    if not HAS_TRANSFORM_WITH_STATE:
        raise RuntimeError(
            "transformWithState requires pyspark>=4 with google.protobuf "
            "available to the Python worker; use running_user_stats "
            f"(applyInPandasWithState) instead [{TWS_UNAVAILABLE_REASON}]"
        )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningStatsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def sessionize_tws(
    events: DataFrame,
    gap_ms: int,
    watermark: str = "1 minute",
    n_cells: int = 32,
) -> DataFrame:
    """Session windows where EVERY emission is event-time-timer-driven
    (see ``_SessionCloseProcessor``): a session row appears exactly
    once, when the watermark passes its end + gap. Same session
    semantics as ``sessionize`` / ``F.session_window`` (strict-<
    gap extension), so the same batch gaps-and-islands aggregate is
    the oracle; unlike ``sessionize`` it tolerates event disorder
    across micro-batches up to the watermark delay, because nothing
    is finalized off the data path. Requires the RocksDB state-store
    provider (transformWithState contract).

    Keyed by ``user_id % n_cells``, NOT the raw user: every named-
    state/timer call is a round-trip to the JVM state server, so the
    op count must scale with cells (see _SessionCloseProcessor —
    per-user keys measured ~3× slower than 32 cells at a mere 1500
    users; at 10^8 users per-user keys are untenable, cells size by
    the q90 rule: thousands of users / KBs of state per cell)."""
    if not HAS_TRANSFORM_WITH_STATE:
        raise RuntimeError(
            "transformWithState requires pyspark>=4 with google.protobuf "
            "available to the Python worker; use sessionize "
            f"(applyInPandasWithState) instead [{TWS_UNAVAILABLE_REASON}]"
        )
    return (
        events.withColumn("_cell", F.pmod(F.col("user_id"), F.lit(n_cells)))
        .withWatermark("ts", watermark)
        .groupBy("_cell")
        .transformWithStateInPandas(
            statefulProcessor=_SessionCloseProcessor(gap_ms),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


FIRST_SEEN_OUTPUT_SCHEMA = "user_id long, fp bigint, first_ts timestamp"


def stream_first_seen(
    events: DataFrame,
    n_cells: int = 32,
    initial_state=None,
    shard_shift: int = 58,
) -> DataFrame:
    """First-occurrence-only emission per (user, fingerprint) via
    named MapState (``_FirstSeenProcessor``): the streaming exact-
    dedup leg. Input columns: (user_id, ts, fp). Append mode, no
    timers — a fingerprint's first sighting is final by definition on
    a time-ordered stream; replays and late duplicates are suppressed
    by the state map. Keyed by ``user_id % n_cells`` (state-op count
    must scale with cells — see the processor's accounting note).
    Requires the RocksDB provider."""
    if not HAS_TRANSFORM_WITH_STATE:
        raise RuntimeError(
            "transformWithState requires pyspark>=4 with google.protobuf "
            "available to the Python worker; deduplicate in batch via "
            f"operators.dedup instead [{TWS_UNAVAILABLE_REASON}]"
        )
    return (
        events.withColumn("_cell", F.pmod(F.col("user_id"), F.lit(n_cells)))
        .groupBy("_cell")
        .transformWithStateInPandas(
            statefulProcessor=_FirstSeenProcessor(shard_shift),
            outputStructType=FIRST_SEEN_OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="None",
            # a batch GroupedData keyed by the SAME cell column:
            # handleInitialState loads each cell's rows before the
            # first input batch (the warm-start bootstrap, q182)
            initialState=initial_state,
        )
    )


def _event_fp(modulus: int):
    """floor(value·10) mod ``modulus`` — the test-corpus fingerprint
    shared by the first-seen drains (small on purpose: the corpus
    must actually collide for suppression to be exercised; production
    uses the content hash)."""
    return (F.floor(F.col("value") * 10).cast("long") % F.lit(modulus)).alias("fp")


def _drain_finite(
    spark: SparkSession,
    src: str,
    build,
    name: str,
    state_parts: int | None,
    ckpt_prefix: str,
    schema: str = "user_id long, ts timestamp, value double",
    sentinel_col: str | None = "user_id",
) -> DataFrame:
    """Shared RocksDB finite-drain harness for the TWS runners
    (review finding: three hand-kept copies): pin the provider +
    state partitions, replay ``src`` one file per trigger through
    ``build(stream)``, drain availableNow into a memory sink
    (checkpoint on tmpfs — scratch, not durability), restore confs,
    return real rows (``sentinel_col`` >= 0; pass None when the
    source carries no sentinel rows). The provider conf is set INSIDE
    the restore scope so an exception anywhere still restores it.
    Stateless drains (the fixed-set contamination join) run through
    the same harness: the provider conf is simply unused there."""
    from biodwh2_arcadedb_server_spark.streaming import (
        STREAM_STATE_PARTITIONS,
        state_partitions,
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    ckpt_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    try:
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        with state_partitions(spark, state_parts or STREAM_STATE_PARTITIONS):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            writer = (
                build(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option(
                    "checkpointLocation",
                    tempfile.mkdtemp(prefix=ckpt_prefix, dir=ckpt_base),
                )
            )
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    out = spark.table(name)
    if sentinel_col is not None:
        out = out.filter(F.col(sentinel_col) >= 0)
    return out


def run_finite_first_seen(    spark: SparkSession,
    sf_dir: str,
    modulus: int = 97,
    n_chunks: int = 3,
    name: str = "first_seen_out",
    state_parts: int | None = None,
    shard_shift: int = 58,
) -> DataFrame:
    """Drain the chunked events stream through ``stream_first_seen``.
    Multiple chunks make duplicates arrive in LATER micro-batches
    than their first sighting — the cross-batch MapState suppression
    under test. timeMode=None needs no watermark advance, so the
    sentinel file (and its whole trigger) is skipped."""
    src = chunked_event_files(sf_dir, n_chunks, sentinel_cells=0)
    return _drain_finite(
        spark,
        src,
        lambda stream: stream_first_seen(
            stream.select("user_id", "ts", _event_fp(modulus)),
            shard_shift=shard_shift,
        ),
        name,
        state_parts,
        "first_seen_ckpt_",
    )


def events_midpoint_us(sf_dir: str) -> int:
    """Midpoint of the events table's ts span in RAW epoch-µs — the
    same ns→µs truncation as chunked_event_files and DuckDB's
    TIMESTAMP_NS coercion, with no session-timezone involvement
    anywhere (the NTZ wall-clock IS the epoch domain here)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col = pq.read_table(
        os.path.join(sf_dir, "events.parquet"), columns=["ts"]
    ).column("ts").cast(pa.timestamp("us"), safe=False)
    return (pc.min(col).value + pc.max(col).value) // 2


def run_warm_start_first_seen(
    spark: SparkSession,
    sf_dir: str,
    modulus: int = 97,
    n_chunks: int = 2,
    name: str = "warm_first_seen_out",
    state_parts: int | None = None,
    n_cells: int = 32,
) -> DataFrame:
    """The batch→stream HANDOFF a production dedup pipeline runs:
    the corpus up to a cutoff is deduplicated in batch, the stream
    continues from the cutoff with the batch seen-sets loaded as TWS
    INITIAL STATE (handleInitialState — the last API feature the
    q175/q179/q181 trio left uncovered). Cutoff = the midpoint
    epoch-µs of the events span, computed identically by the DuckDB
    twin; only pairs whose FIRST occurrence is at/after the cutoff
    may emit — a stream-era replay of a batch-era fingerprint must be
    suppressed by the bootstrapped map, which is exactly what the
    oracle's HAVING MIN(ts) >= cutoff checks."""
    from biodwh2_arcadedb_server_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        (F.floor(F.col("value") * 10).cast("long") % F.lit(modulus)).alias("fp"),
    )
    cutoff_us = events_midpoint_us(sf_dir)
    # ts is TIMESTAMP_NTZ: compare against a NAIVE literal so the
    # split is timezone-free and lands on the identical instant as
    # chunked_event_files' raw-µs filter and the oracle's epoch_us
    # (review finding: unix_micros(cast) is session-tz-shifted)
    cutoff_lit = F.lit(pd.Timestamp(cutoff_us, unit="us").to_pydatetime())
    # batch era: per-user distinct fingerprints, packed per cell —
    # the SAME layout handleInitialState writes into the map
    boot = (
        ev.where(F.col("ts") < cutoff_lit)
        .select("user_id", "fp")
        .distinct()
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("fp")).alias("fps"))
        .withColumn("_cell", F.pmod(F.col("user_id"), F.lit(n_cells)))
        .groupBy("_cell")
    )
    src = chunked_event_files(
        sf_dir, n_chunks, sentinel_cells=0, min_ts_us=cutoff_us
    )
    return _drain_finite(
        spark,
        src,
        lambda stream: stream_first_seen(
            stream.select("user_id", "ts", _event_fp(modulus)),
            n_cells=n_cells,
            initial_state=boot,
        ),
        name,
        state_parts,
        "warm_fs_ckpt_",
    )


CONTAMINATION_ANCHOR_SCHEMA = "da bigint, db bigint, pa bigint, pb bigint"

# Cell sizing contract (VERDICT r13 #6): each gram-hash cell is one
# TWS state key whose MapState holds its shard of the reference
# postings. ~100k postings/cell keeps a cell's state in the low MBs
# (a posting is a gram hash + two int lists) — big enough to amortize
# per-key processor overhead, small enough that one cell's map never
# dominates an executor's state store. The floor keeps probe-scale
# parallelism; the cap bounds stateful-shuffle key count.
_POSTINGS_PER_CELL = 100_000
_MIN_CELLS, _MAX_CELLS = 8, 65_536


def derive_contamination_cells(n_postings: int) -> int:
    """n_cells from the reference-index size: ceil(postings / 100k),
    clamped to [8, 65536]. The r13 default of 8 was a local[32]
    tuning; a real eval suite (millions of grams) wants hundreds of
    cells so the postings shard evenly across executors."""
    return max(_MIN_CELLS, min(_MAX_CELLS, -(-int(n_postings) // _POSTINGS_PER_CELL)))


def stream_substring_contamination(
    docs: DataFrame,
    ref_postings: DataFrame,
    k: int = 8,
    granularity: str = "word",
) -> DataFrame:
    """Streaming exact-substring CONTAMINATION anchors against a
    fixed reference set, as a stateless stream-static inner join:
    ``docs`` is the streaming (doc_id, text) frame; ``ref_postings``
    the BATCH output of ``dedup.reference_postings`` (the eval set's
    capped positional index), exploded to one (gh, da, pa) row per
    reference occurrence and joined to the stream's positional grams
    (gh, db, pb) on the gram hash. Emits anchor rows (da=ref doc,
    db=stream doc, pa=ref pos, pb=stream pos); span assembly is
    ``dedup.assemble_spans`` downstream — per-(doc, ref, diag)
    local, so it composes per micro-batch or post-hoc.

    A fixed reference set is read-only, so no state store is
    involved: every stream gram meets the index in one join, with no
    per-gram state round trip, and a restart rebuilds nothing. The
    reference side is size-gated (``skew.broadcast_if_small``): an
    eval-set index under the broadcast threshold ships to every task
    and the stream never shuffles; above it both sides shuffle on
    ``gh``. Structured Streaming re-executes the static side's plan
    every micro-batch, so callers checkpoint ``ref_postings`` before
    the stream starts."""
    from biodwh2_arcadedb_server_spark.operators.dedup import (
        positional_shingles,
    )
    from biodwh2_arcadedb_server_spark.operators.skew import (
        broadcast_if_small,
    )

    grams = positional_shingles(
        docs, "doc_id", "text", k, granularity, repartition=False
    ).select("gh", F.col("_id").alias("db"), F.col("pos").alias("pb"))
    refs = ref_postings.select(
        "gh", F.explode(F.arrays_zip("refs", "poss")).alias("_z")
    ).select("gh", F.col("_z.refs").alias("da"), F.col("_z.poss").alias("pa"))
    return grams.join(broadcast_if_small(refs), "gh").select(
        "da", "db", "pa", "pb"
    )


ROTATING_STREAM_SCHEMA = (
    "kind string, doc_id long, text string, "
    "gh long, refs array<bigint>, poss array<bigint>"
)


def stream_substring_contamination_rotating(
    tagged: DataFrame,
    ref_postings: DataFrame,
    k: int = 8,
    n_cells: int | None = None,
    prefilter_hashes: DataFrame | None = None,
    granularity: str = "word",
) -> DataFrame:
    """Contamination anchors with REFERENCE ROTATION (round 14 — the
    ROADMAP r13 follow-on, scoped there): ``tagged`` is a streaming
    frame in ``ROTATING_STREAM_SCHEMA`` carrying BOTH document rows
    (kind='doc': doc_id, text) and control rows (kind='ctrl': gh,
    refs, poss — a new epoch's packed postings; EMPTY refs =
    tombstone). Documents shingle into the same positional grams as
    the fixed-set op, and each gram probes the MapState of its
    ``pmod(gh, n_cells)`` cell; control rows route to the same cell
    and update the MapState in place
    (``_RotatingGramPostingsProcessor``), so a new eval set ships
    THROUGH the stream — no query restart, no state rebuild.
    handleInitialState bootstraps epoch 0.

    A broadcast semi-join prefilter on gram hashes is FIXED for the
    query's lifetime, which is exactly what rotation breaks — so by
    default this op runs UNFILTERED (every stream gram pays a state op; the
    measured 5.6× drain cost at sf0.1 is the price of rotation).
    ``prefilter_hashes`` opts back in when a SUPERSET of every
    epoch's gram hashes is known up front (finite replays, bounded
    eval suites): stale entries only add misses, never drop hits —
    a hash in no current epoch finds no postings. A real deployment
    chooses: unfiltered, superset, or rebuild-on-restart."""
    from biodwh2_arcadedb_server_spark.operators.dedup import (
        positional_shingles,
    )

    if n_cells is None:
        n_cells = derive_contamination_cells(ref_postings.count())
    if not HAS_TRANSFORM_WITH_STATE:
        raise RuntimeError(
            "transformWithState requires pyspark>=4 with google.protobuf "
            "available to the Python worker; run dedup."
            f"exact_substring_spans in batch instead [{TWS_UNAVAILABLE_REASON}]"
        )
    _arr = "array<bigint>"
    grams = positional_shingles(
        tagged.where(F.col("kind") == "doc").select("doc_id", "text"),
        "doc_id", "text", k, granularity, repartition=False,
    ).select(F.col("_id").alias("doc_id"), "pos", "gh")
    if prefilter_hashes is not None:
        grams = grams.join(
            F.broadcast(prefilter_hashes.select("gh")), "gh", "left_semi"
        )
    grams = grams.select(
        "gh", "doc_id", "pos",
        F.lit(False).alias("is_ctrl"),
        F.lit(None).cast(_arr).alias("refs"),
        F.lit(None).cast(_arr).alias("poss"),
    )
    ctrl = tagged.where(F.col("kind") == "ctrl").select(
        "gh",
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("pos"),
        F.lit(True).alias("is_ctrl"),
        "refs", "poss",
    )
    boot = ref_postings.withColumn(
        "_cell", F.pmod(F.col("gh"), F.lit(n_cells))
    ).groupBy("_cell")
    return (
        grams.unionByName(ctrl)
        .withColumn("_cell", F.pmod(F.col("gh"), F.lit(n_cells)))
        .groupBy("_cell")
        .transformWithStateInPandas(
            statefulProcessor=_RotatingGramPostingsProcessor(),
            outputStructType=CONTAMINATION_ANCHOR_SCHEMA,
            outputMode="Append",
            timeMode="None",
            initialState=boot,
        )
    )


def chunked_document_files(
    sf_dir: str,
    min_id: int,
    n_chunks: int = 3,
    out_dir: str | None = None,
) -> str:
    """Write the documents table's rows with ``doc_id >= min_id`` as
    ``n_chunks`` id-ordered parquet chunks, mtimes ascending — the
    finite-run harness for the contamination stream (the analog of
    ``chunked_event_files``; no sentinel: timeMode=None needs no
    watermark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    df = tbl.to_pandas()
    df = df[df["doc_id"] >= min_id].sort_values("doc_id", ignore_index=True)
    out = out_dir or tempfile.mkdtemp(prefix="contam_chunks_")
    bounds = [round(i * len(df) / n_chunks) for i in range(n_chunks + 1)]
    for i in range(n_chunks):
        path = os.path.join(out, f"chunk{i:04d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(
                df.iloc[bounds[i] : bounds[i + 1]], preserve_index=False
            ),
            path,
        )
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return out


def run_finite_substring_contamination(
    spark: SparkSession,
    sf_dir: str,
    ref_below: int = 250,
    n_chunks: int = 3,
    k: int = 8,
    min_len: int = 20,
    max_df: int = 16,
    name: str = "contam_out",
    state_parts: int | None = None,
) -> DataFrame:
    """Drain the post-cutoff documents stream against the pre-cutoff
    reference index and assemble merged contamination spans — the
    batch→stream handoff for ExactSubstr (VERDICT r12 #4, the q182
    pattern): reference = docs with id < ``ref_below`` indexed in
    batch (``dedup.reference_postings``, caps over the reference
    only); stream = the remaining docs replayed as ``n_chunks``
    micro-batches; anchors drain through the stream-static postings
    join; spans assemble via the SAME ``dedup.assemble_spans`` as
    batch. Output is byte-equal to the batch pipeline restricted to
    (ref → stream) pairs — the DuckDB twin replays exactly that
    restriction."""
    from biodwh2_arcadedb_server_spark.operators import dedup as dedup_mod
    from biodwh2_arcadedb_server_spark.sources.registry import load_table

    ref = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < ref_below
    )
    # Eager checkpoint BEFORE the stream starts: the packed postings
    # are the static side of a stream-static join, and Structured
    # Streaming re-executes the static side's plan EVERY micro-batch —
    # without the materialization each trigger re-ran the
    # tokenize/cap/pack subtree (optimization r14, guide §2.4/§5:
    # n_triggers × the index build, for an index that is fixed by
    # definition).
    post = dedup_mod.reference_postings(
        ref, "doc_id", "text", k=k, max_df=max_df
    ).localCheckpoint(eager=True)
    src = chunked_document_files(sf_dir, ref_below, n_chunks)
    anchors = _drain_finite(
        spark,
        src,
        lambda stream: stream_substring_contamination(stream, post, k=k),
        name,
        state_parts,
        "contam_ckpt_",
        schema="doc_id long, text string",
        sentinel_col=None,
    )
    return dedup_mod.assemble_spans(anchors, k, min_len)


def _rotating_contamination_files(
    sf_dir: str,
    stream_min: int,
    mid: int,
    ctrl_pdf,
    out_dir: str | None = None,
) -> str:
    """Three mtime-ordered parquet files in ROTATING_STREAM_SCHEMA:
    chunk0 = docs [stream_min, mid) tagged 'doc', ctrl = the new
    epoch's postings + tombstones tagged 'ctrl', chunk1 = docs
    [mid, ∞). One file per trigger ⇒ the rotation lands between the
    two document batches, deterministically."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("kind", pa.string()),
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("gh", pa.int64()),
            ("refs", pa.list_(pa.int64())),
            ("poss", pa.list_(pa.int64())),
        ]
    )
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pandas()
    out = out_dir or tempfile.mkdtemp(prefix="contamrot_chunks_")

    def _doc_table(lo, hi):
        sel = tbl[(tbl["doc_id"] >= lo) & (tbl["doc_id"] < hi)].sort_values(
            "doc_id", ignore_index=True
        )
        n = len(sel)
        return pa.table(
            {
                "kind": ["doc"] * n,
                "doc_id": sel["doc_id"].astype("int64"),
                "text": sel["text"],
                "gh": pa.array([None] * n, pa.int64()),
                "refs": pa.array([None] * n, pa.list_(pa.int64())),
                "poss": pa.array([None] * n, pa.list_(pa.int64())),
            },
            schema=schema,
        )

    n_ctrl = len(ctrl_pdf)
    ctrl_tbl = pa.table(
        {
            "kind": ["ctrl"] * n_ctrl,
            "doc_id": pa.array([None] * n_ctrl, pa.int64()),
            "text": pa.array([None] * n_ctrl, pa.string()),
            "gh": ctrl_pdf["gh"].astype("int64"),
            "refs": pa.array(
                [list(map(int, x)) for x in ctrl_pdf["refs"]],
                pa.list_(pa.int64()),
            ),
            "poss": pa.array(
                [list(map(int, x)) for x in ctrl_pdf["poss"]],
                pa.list_(pa.int64()),
            ),
        },
        schema=schema,
    )
    parts = [
        _doc_table(stream_min, mid),
        ctrl_tbl,
        _doc_table(mid, 1 << 62),
    ]
    for i, part in enumerate(parts):
        path = os.path.join(out, f"part{i:04d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return out


def run_finite_substring_contamination_rotating(
    spark: SparkSession,
    sf_dir: str,
    epoch0_below: int = 150,
    epoch1_below: int = 250,
    k: int = 8,
    min_len: int = 20,
    max_df: int = 16,
    name: str = "contam_rot_out",
    state_parts: int | None = None,
    n_cells: int = 8,
) -> DataFrame:
    """Finite drain of the ROTATING contamination stream: epoch 0's
    reference (docs < ``epoch0_below``) bootstraps the state; halfway
    through the document stream a control batch rotates to epoch 1
    (docs < ``epoch1_below`` — the full re-shipped index PLUS
    tombstones for grams the wider set pushed over the stop-gram
    caps); the remaining documents are evaluated against the new
    epoch. Deterministic by construction (one file per trigger,
    mtime-ordered), so the whole run is DuckDB-twin-expressible:
    spans(epoch0 → docs in [e1, mid)) ∪ spans(epoch1 → docs ≥ mid)
    with mid = (epoch1_below + max_id) // 2 — the exact formula the
    oracle replays. The probe prefilters grams against the UNION of
    both epochs' hashes (known up front in a finite replay; a real
    deployment runs unfiltered or rebuilds the filter on restart —
    see stream_substring_contamination_rotating)."""
    from biodwh2_arcadedb_server_spark.operators import dedup as dedup_mod
    from biodwh2_arcadedb_server_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    # Optimization r14 (guide §2.4/§3.3, single evaluation): epoch 1's
    # corpus is a SUPERSET of epoch 0's and the shingle pass is
    # row-wise per document, so ONE tokenize over docs < epoch1_below
    # feeds both epochs' cap+pack (caps stay per-epoch — they run
    # over the sliced shingle frame, identical to slicing the corpus).
    # Both packed epochs checkpoint EAGERLY: each is referenced by
    # the tombstone anti-join, the control collect, the prefilter,
    # and (post0) the per-trigger-re-executed initial-state plan —
    # previously 3-4 re-evaluations of the full index build apiece.
    max_postings = 8 * max_df
    sh = dedup_mod.positional_shingles(
        docs.where(F.col("doc_id") < epoch1_below), "doc_id", "text", k
    ).localCheckpoint(eager=False)
    post1 = dedup_mod.pack_reference_postings(
        sh, max_df, max_postings
    ).localCheckpoint(eager=True)
    post0 = dedup_mod.pack_reference_postings(
        sh.where(F.col("_id") < epoch0_below), max_df, max_postings
    ).localCheckpoint(eager=True)
    tomb = post0.join(post1, "gh", "left_anti").select(
        "gh",
        F.array().cast("array<bigint>").alias("refs"),
        F.array().cast("array<bigint>").alias("poss"),
    )
    ctrl_pdf = post1.unionByName(tomb).toPandas()
    max_id = docs.agg(F.max("doc_id")).first()[0]
    mid = (epoch1_below + int(max_id)) // 2
    src = _rotating_contamination_files(sf_dir, epoch1_below, mid, ctrl_pdf)
    # The prefilter is a stream-static broadcast side too — eager so
    # the per-trigger re-execution reads one tiny materialized RDD
    # instead of re-running both epochs' index plans every batch.
    prefilter = (
        post0.select("gh").unionByName(post1.select("gh")).distinct()
    ).localCheckpoint(eager=True)
    anchors = _drain_finite(
        spark,
        src,
        lambda stream: stream_substring_contamination_rotating(
            stream, post0, k=k, n_cells=n_cells,
            prefilter_hashes=prefilter,
        ),
        name,
        state_parts,
        "contamrot_ckpt_",
        schema=ROTATING_STREAM_SCHEMA,
        sentinel_col=None,
    )
    return dedup_mod.assemble_spans(anchors, k, min_len)


def run_finite_sessionize_tws(
    spark: SparkSession,
    sf_dir: str,
    gap_ms: int,
    n_chunks: int = 2,
    name: str = "sessionize_tws_out",
    state_parts: int | None = None,
    shuffle_within_chunks: bool = False,
    n_cells: int = 32,
) -> DataFrame:
    """Drain the chunked events stream through ``sessionize_tws`` to
    completion and return the emitted sessions for real users. The
    far-future sentinel advances the watermark past every real
    session's end + gap, so the trailing timer batch fires every
    pending timer and drains the ListState.

    ``shuffle_within_chunks`` permutes each chunk's rows (seeded) —
    the disorder-tolerance demonstration: emission is watermark-
    driven, so the output is identical to the ordered drain (pinned
    by tests/test_stateful_streaming.py)."""
    src = chunked_event_files(sf_dir, n_chunks)
    if shuffle_within_chunks:
        import numpy as np
        import pyarrow.parquet as pq

        rng = np.random.default_rng(42)
        for f in sorted(os.listdir(src))[:-1]:  # keep the sentinel file intact
            path = os.path.join(src, f)
            st = os.stat(path)
            pdf = pq.read_table(path).to_pandas()
            pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
            import pyarrow as pa

            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
            os.utime(path, (st.st_atime, st.st_mtime))
    return _drain_finite(
        spark,
        src,
        lambda stream: sessionize_tws(stream, gap_ms, n_cells=n_cells),
        name,
        state_parts,
        "sessionize_tws_ckpt_",
    )
