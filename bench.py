"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is measured with the noop sink (full plan execution, no
driver-side row collection) after a warmup pass that amortizes session
startup and parquet footer caching out of the numbers.

Warmup runs EVERY headline query once at sf0.001 before timing at the
target sf: first execution of a plan pays one-time JVM JIT/codegen
compilation of its expression trees (measured 2-6s extra on the
HOF-heavy near-dup probes), which is a per-process artifact, not a
property of the plan — steady-state is what a long-lived cluster
session sees.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
# Bench runs small local files: opt in to the small-split scan
# tuning (row-group-grained tasks) that get_spark() no longer bakes
# in as a library default (round-7 ADVICE).
os.environ.setdefault("SPARK_GRAFT_LOCAL_TUNING", "1")
# Keep every stage of even the most iterative probe in the status
# store so the per-probe task-time meter never loses stages to
# eviction (VERDICT r13 #3).
os.environ.setdefault("SPARK_GRAFT_RETAINED_STAGES", "20000")


from biodwh2_arcadedb_server_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402

# Headline set: every oracled relational probe + the heavier graph and
# pipeline operators (rows-only ones included — wall-clock matters even
# without an oracle).
HEADLINE = [
    "q01_scan_filter",
    "q02_join_remap",
    "q03_two_hop",
    "q04_tpch_q1",
    "q05_distinct_count",
    "q06_topk",
    "q07_setops",
    "q08_first_order",
    "q09_scalars",
    "q10_array_norm",
    "q11_json",
    "q12_dedup_exact",
    "q13_cosine_topk",
    "q14_token_counts",
    "q15_degree",
    "q16_tumbling_window",
    "q17_unique_validation",
    "q18_rollup",
    "q19_expand_out",
    "q23_degrees",
    "q25_label_propagation",
    "q34_lang_id",
    "q35_fingerprint",
    "q39_string_functions",
    "q40_date_functions",
    "q41_collection_functions",
    "q42_exists_semi",
    "q43_tpch_q3_shape",
    "q44_tpch_q5_shape",
    "q162_tpch_q10_shape",
    "q163_tpch_q7_shape",
    "q45_sessionize",
    "q46_lpg_edge_build",
    "q47_pandas_zscore",
    "q48_window_analytics",
    "q49_asof_join",
    "q50_range_join",
    "q51_pivot",
    "q52_cube",
    "q53_percentiles",
    "q54_correlated_subquery",
    "q55_anti_join",
    "q57_offset_paging",
    "q58_grouping_sets",
    "q59_map_functions",
    "q60_approx_distinct",
    "q61_udtf_sentences",
    "q63_sliding_window",
    "q64_regex_conditionals",
    "q66_setops_all",
    "q67_let_scalars",
    "q68_regex_battery",
    "q70_train_test_split",
    "q71_sequence_packing",
    "q72_stratified_sample",
    "q78_json_roundtrip",
    "q91_decontamination",
    "q92_repetition_stats",
    "q93_tfidf_topterms",
    "q94_bm25_search",
    "q95_pii_scan",
    "q96_random_projection",
    "q109_boilerplate_removal",
    "q110_chunking",
    "q98_bigram_lm_score",
    "q99_source_cap",
    "q79_window_ranks",
    "q82_profile_stats",
    "q87_unpivot",
    "q88_scd2_history",
    "q89_approx_percentiles",
    "q101_qualify_topn",
    "q102_windowed_distinct",
    "q103_lateral_explode",
    "q105_length_batching",
    "q107_temperature_resample",
    "q111_gap_fill",
    "q112_mode_corr",
    "q113_weighted_sample",
    "q117_interval_merge",
    "q118_funnel",
    "q119_rolling_time_window",
    "q120_bloom_semi_join",
    "q123_cooccurrence_pmi",
    "q129_schema_evolution_union",
    "q130_snapshot_diff",
    "q131_training_order",
    "q132_token_budget_select",
    "q133_robust_outliers",
    "q134_sketch_rollup",
    "q135_int8_quantization",
    "q124_retention_cohorts",
    "q125_markov_transitions",
    "q20_motif_2hop",
    "q21_bfs_hops",
    "q97_shortest_path",
    "q22_connected_components",
    "q65_cc_star",
    "q74_triangle_count",
    "q75_clustering_coefficient",
    "q115_link_prediction",
    "q76_kcore",
    "q121_ktruss",
    "q122_core_decomposition",
    "q80_sssp",
    "q81_scc",
    "q126_sampled_closeness",
    "q24_pagerank",
    "q108_hits",
    "q83_personalized_pagerank",
    "q85_closeness",
    "q86_betweenness",
    # shared-cache families kept ADJACENT (one SEGMENT pays the
    # session-scoped shingle/pair/cosine caches once; straddling a
    # session restart re-derives them and moves totals ±10%).
    # q31/q77/q116 joined the family in optimization r14: they share
    # the session-cached exact-kNN contract twin (_exact_knn).
    "q31_ann_topk",
    "q77_ivf_topk",
    "q116_pq_topk",
    "q26_neardup_jaccard",
    "q100_neardup_clusters",
    "q104_leakage_safe_split",
    "q144_minhash_estimate",
    "q27_minhash_neardup",
    "q28_simhash_neardup",
    "q29_cosine_neardup",
    "q106_cosine_neardup_clusters",
    "q156_semdedup_ann_clusters",
    "q30_knn_topk",
    "q176_kmeans_embeddings",
    "q177_cluster_balanced_sample",
    "q178_cluster_threshold_sample",
    "q180_kmeanspp_assign",
    "q185_kmeans_parallel_assign",
    "q128_rag_retrieval",
    "q32_token_stats",
    "q33_quality_score",
    "q36_multimodal_meta",
    "q37_media_features",
    "q73_curation_pipeline",
    "q136_match_dialect",
    "q137_traverse_dialect",
    "q138_let_dialect",
    "q139_degree_dialect",
    "q140_expand_dialect",
    "q141_agg_dialect",
    "q142_typo_pairs",
    "q183_exact_substring_spans",
    "q187_exact_substring_removal",
    "q188_within_doc_substring_spans",
    "q190_exact_substring_granularity",
    "q196_exact_substring_byte_offsets",
    "q197_bpe_span_char_removal",
    "q143_dataset_card",
    "q145_graphql",
    "q146_shortestpath_dialect",
    "q147_dml_readback",
    "q148_match_optional_dialect",
    "q149_match_not_dialect",
    "q150_unwind_dialect",
    "q151_graphql_variables",
    "q153_match_vl_dialect",
    "q154_graphql_fragments",
    "q155_methods_dialect",
    "q38_frame_sample",
    "q152_wav_decode",
    "q199_mp4_container_frames",
    "q200_opus_container_packets",
    "q202_jpeg_frame_rows",
    "q172_png_decode",
    "q173_png_palette_decode",
    "q174_png_adam7_decode",
    "q194_jpeg_decode",
    "q198_jpeg_progressive_decode",
    "q157_graphql_inline_fragments",
    "q158_ddl_readback",
    "q186_ddl_rename_128bit_readback",
    "q159_match_edge_alias",
    "q160_select_over_traverse",
    "q161_collection_agg_dialect",
    "q164_correlated_let_dialect",
    "q165_graphql_aliases_directives",
    "q184_graphql_mutation_roundtrip",
    "q189_graphql_full_introspection",
    "q166_dml_return_after_before",
    "q167_parameterized_query",
    "q168_gopher_repetition",
    "q169_curation_funnel",
    "q170_domain_mixture",
    "q171_rid_lookup",
    "q192_jsonl_source_scan",
    "q195_csv_source_scan",
    "q193_schema_tvf",
]

# Streaming micro-batch drains, timed and reported separately: their
# local wall time is the trigger-cycle + state-store floor (the same
# 5-trigger stream costs ~7s even with a built-in JVM aggregate), not
# plan quality — folding them into the headline total would swamp the
# batch signal (VERDICT r1). On a real cluster these are continuous
# queries where the floor amortizes per-trigger.
STREAMING = [
    "q56_stateful_running_stats",
    "q175_tws_running_stats",
    "q62_stream_enrich",
    "q127_stream_stream_join",
    "q69_stream_ingest",
    "q84_stream_neardup",
    "q90_stream_sessionize",
    "q179_tws_session_close",
    "q181_tws_stream_first_seen",
    "q191_streaming_substring_contamination",
    "q201_streaming_contamination_rotation",
    "q182_tws_warm_start_dedup",
]


# Session-age control (VERDICT r3 "what's wrong" #2): one long session
# accumulates broadcast vars, ContextCleaner backlog, and state-store
# providers, and probes timed late in it published 2-4x their audited
# minimums. Two remedies, both cheap because stop()+getOrCreate() in
# the same process keeps the JVM alive (JIT code cache stays warm):
SEGMENT = 40  # restart the session every ~N timed probes
RERUN_THRESHOLD = 1.2  # s — probes slower than this get a min-of-2
# second pass in a fresh end-of-run session

# Probes sharing the per-session derived-table cache
# (pipeline_queries._SESSION_CACHE: shingle table / exact-pair set /
# cosine pairs). A session restart INSIDE this family re-derives the
# cached tables and moves family totals ±1s with no code change —
# r8's only adverse "regression" (q106 +1.0s) was exactly this
# artifact (VERDICT r8 "next" #3). Segment breaks shift AROUND the
# family, never through it.
CACHE_FAMILIES = [
    {
        "q31_ann_topk", "q77_ivf_topk", "q116_pq_topk",
        "q26_neardup_jaccard", "q100_neardup_clusters",
        "q104_leakage_safe_split", "q144_minhash_estimate",
        "q27_minhash_neardup", "q28_simhash_neardup",
        "q29_cosine_neardup", "q106_cosine_neardup_clusters",
        "q156_semdedup_ann_clusters",
    },
    # exact-substring span table (pipeline_queries4._es_spans):
    # q183 emits it, q187 applies it — one detection pass per session
    {"q183_exact_substring_spans", "q187_exact_substring_removal"},
]
# Break-deferral is strictly PER-FAMILY (ADVICE r14: a union-based
# check would fuse two distinct families into one deferral block if
# they ever became adjacent in HEADLINE). Families must stay
# pairwise-disjoint (pytest invariant, tests/test_bench.py).


class StageMeter:
    """Per-probe EXECUTOR task-time from the JVM AppStatusStore
    (VERDICT r13 #3: wall-clock drift adjudication needs an
    environment-insensitive signal). The store is fed by the
    scheduler's listener even with the UI disabled; stages are diffed
    by monotonically-increasing stageId, so retention eviction of old
    stages between probes can't corrupt a delta. ``executorRunTime``
    is scheduler-attributed task wall (sum over tasks — parallelism-
    invariant, unlike driver wall-clock); ``executorCpuTime`` is
    on-CPU nanoseconds, immune to machine load entirely."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._last = self._max_id()

    def _stages(self):
        sc = self._spark.sparkContext
        jvm, gw = sc._jvm, sc._gateway
        store = sc._jsc.sc().statusStore()
        lst = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        return [lst.apply(i) for i in range(lst.size())]

    def _max_id(self) -> int:
        try:
            return max((s.stageId() for s in self._stages()), default=-1)
        except Exception:  # noqa: BLE001
            return -1

    def mark(self) -> None:
        self._last = max(self._last, self._max_id())

    def delta(self) -> tuple[float, float] | None:
        """(task_sec, cpu_sec) summed over stages completed since the
        last mark()/delta(). The listener bus is drained first so a
        just-finished job's stages are all counted."""
        try:
            sc = self._spark.sparkContext
            try:
                sc._jsc.sc().listenerBus().waitUntilEmpty(2000)
            except Exception:  # noqa: BLE001
                time.sleep(0.05)
            stages = self._stages()
        except Exception:  # noqa: BLE001
            return None
        new = [s for s in stages if s.stageId() > self._last]
        if stages:
            self._last = max(
                self._last, max(s.stageId() for s in stages)
            )
        run = sum(s.executorRunTime() for s in new) / 1e3
        cpu = sum(s.executorCpuTime() for s in new) / 1e9
        return round(run, 3), round(cpu, 3)


def segment_breaks(names: list[str], segment: int = SEGMENT,
                   families: list[set] | None = None) -> set[int]:
    """Indices where the timed loop restarts the session: the first
    probe at-or-past each SEGMENT boundary that does NOT continue a
    cache family already in progress. Deterministic in the probe list
    alone, so adding probes elsewhere can't silently move a restart
    into the family block. Deferral is per-family (ADVICE r14): the
    previous and current probe must belong to the SAME family for the
    break to move past them."""
    fams = CACHE_FAMILIES if families is None else families
    breaks: set[int] = set()
    count = 0
    for i, name in enumerate(names):
        mid_family = i > 0 and any(
            name in f and names[i - 1] in f for f in fams
        )
        if count >= segment and not mid_family:
            breaks.add(i)
            count = 0
        count += 1
    return breaks


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    queries = entry_mod.queries()

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    # Warmup: run every plan once on the smallest sf so JIT/codegen
    # compilation is paid outside the timed region.
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE + STREAMING:
        fn = queries.get(name)
        if fn is None:
            continue
        try:
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # a probe that fails at warmup still gets timed (and fails loudly)

    errors: dict[str, str] = {}
    # every timing sample per probe, in run order — published in
    # bench/last_run.json so the min-of-2 application is AUDITABLE
    # (VERDICT r9 next #1: the r9 drift couldn't be attributed because
    # run counts weren't recorded)
    samples: dict[str, list[float]] = {}
    # matched per-sample executor task/CPU time (seconds) — the
    # environment-insensitive twin of each wall sample
    task_samples: dict[str, list[float]] = {}
    cpu_samples: dict[str, list[float]] = {}
    meter: StageMeter | None = None

    def run_one(s, name: str) -> float | None:
        nonlocal meter
        fn = queries.get(name)
        if fn is None:
            return None
        if meter is None or meter._spark is not s:
            meter = StageMeter(s)
        meter.mark()
        t0 = time.perf_counter()
        # per-query fault isolation: one broken probe must never
        # zero the whole round's bench — record the error, go on.
        try:
            fn(s, sf_dir).write.format("noop").mode("overwrite").save()
            t = round(time.perf_counter() - t0, 3)
            samples.setdefault(name, []).append(t)
            d = meter.delta()
            if d is not None:
                task_samples.setdefault(name, []).append(d[0])
                cpu_samples.setdefault(name, []).append(d[1])
            return t
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            return None
        finally:
            # drop py-side refs so the ContextCleaner can release the
            # iterative operators' localCheckpoint RDDs between probes
            gc.collect()

    times: dict[str, float] = {}
    breaks = segment_breaks(HEADLINE)
    for i, name in enumerate(HEADLINE):
        if i in breaks:
            spark.stop()
            spark = get_spark("bench")
        t = run_one(spark, name)
        if t is not None:
            times[name] = t

    # Min-of-2 for the slow tail: re-time anything over the threshold
    # in a fresh session so one GC pause or cleaner stall can't stand
    # as the published number.
    slow = [n for n, t in times.items() if t > RERUN_THRESHOLD]
    if slow:
        spark.stop()
        spark = get_spark("bench")
        for name in slow:
            t2 = run_one(spark, name)
            if t2 is not None:
                times[name] = min(times[name], t2)

    stream_times: dict[str, float] = {}
    for name in STREAMING:
        t = run_one(spark, name)
        if t is not None:
            stream_times[name] = t

    # Streaming drains age the session fastest (state-store providers
    # accumulate); give the slow tail the same fresh-session min-of-2
    # treatment as the batch probes.
    slow_stream = [n for n, t in stream_times.items() if t > RERUN_THRESHOLD]
    if slow_stream:
        spark.stop()
        spark = get_spark("bench")
        for name in slow_stream:
            t2 = run_one(spark, name)
            if t2 is not None:
                stream_times[name] = min(stream_times[name], t2)

    # Environment-insensitive totals (VERDICT r14 next #2b): executor
    # task-time summed over each probe's published (min) sample, batch
    # and streaming separately — the signal that decides "wall noise"
    # vs "plan regression" from the one-line BENCH record alone.
    task_total = round(
        sum(min(v) for n, v in task_samples.items() if v and n in times), 2
    )
    stream_task_total = round(
        sum(min(v) for n, v in task_samples.items() if v and n in stream_times), 2
    )
    payload = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "streaming": stream_times,
        "streaming_total_sec": round(sum(stream_times.values()), 3),
        "task_total_sec": task_total,
        "streaming_task_total_sec": stream_task_total,
        "sf": sf,
        # raw per-probe timing samples in run order; len > 1 ⟺ the
        # min-of-2 rerun fired for that probe (published = min)
        "samples": samples,
        # environment-insensitive per-probe metrics (min over samples,
        # matching the published-wall policy): scheduler-attributed
        # executor task time and on-CPU time in seconds
        "task_time_sec": {
            n: min(v) for n, v in task_samples.items() if v
        },
        "cpu_time_sec": {
            n: min(v) for n, v in cpu_samples.items() if v
        },
        "task_time_samples": task_samples,
        "cpu_time_samples": cpu_samples,
    }
    if errors:
        payload["errors"] = errors
    # Full payload → file; stdout gets a COMPACT final line. The
    # driver keeps only the last ~2000 chars of stdout and parses the
    # JSON from that window — r1/r2's verbose single line (~4.5 KB for
    # 120+ probes) was front-truncated there and recorded as
    # parsed:null. Query names collapse to their unique qNN prefix
    # (full names in bench/last_run.json), values to 2 decimals.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench", "last_run.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
    # Per-query values at 1 decimal UNCONDITIONALLY (VERDICT r14 next
    # #2a): the former 2-decimal line with a conditional 1-decimal
    # fallback flips precision exactly when the registry grows, which
    # is when round-over-round comparability matters most. Full
    # 3-decimal walls live in bench/last_run.json (and the per-round
    # bench/r*/ snapshots); the one-line record carries 1-decimal
    # walls plus the task-time totals above so wall-noise vs plan
    # regression is decidable from BENCH_r*.json alone.
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        "sf": sf,
        "queries": {k.split("_")[0]: round(v, 1) for k, v in times.items()},
        "streaming": {k.split("_")[0]: round(v, 1) for k, v in stream_times.items()},
        "streaming_total_sec": payload["streaming_total_sec"],
        "task_total_sec": task_total,
        "streaming_task_total_sec": stream_task_total,
    }
    if errors:
        compact["n_errors"] = len(errors)
    line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
