"""Probe batch 14 (round 7) — ANN-shortlisted semantic dedup.

- q156: the 100 TB semantic-dedup path (VERDICT r6 #1). q106's exact
  blocked-matmul pair source is O(n²) flops by construction — fine as
  the oracle twin, a scale-killer as the production path. q156 runs
  the SemDeDup-shaped alternative (Abbas et al. 2023: dedup within
  k-means cells of the embedding space): IVF-cell multi-probe
  shortlisting → exact within-cell cosine → the SAME connected-
  components closure — and audits it against the exact clusters in
  ONE plan with a q27-style tolerance contract.

Reference parity note: the reference repo has no dedup surface; this
is driver-mandated extension C2/C3 (BASELINE.json north star), scale
path for `similarity.cosine_near_dup_pairs`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biodwh2_arcadedb_server_spark.operators import dedup, similarity
from biodwh2_arcadedb_server_spark.operators.pipeline_queries import (
    _COSINE_PAIR,
    COSINE_THRESHOLD,
    _cached_ckpt,
    _cosine_neardup_clusters,
    _cosine_pairs,
)
from biodwh2_arcadedb_server_spark.sources.registry import load_table

# IVF shortlist operating point: 16 cells, 5-probe. Measured on the
# driver's embeddings tables: pair recall 0.983 (sf0.01) / 0.998
# (sf0.1), co-membership recall 0.955 / 0.982, zero false positives
# at both (within-cell sims are exact, so FPs are impossible).
ANN_CLUSTERS = 16
ANN_PROBE = 5


def _ann_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-shortlisted cosine pair set, session-cached like the exact
    `_cosine_pairs` (q156 and the sf1 anchor both consume it)."""
    return _cached_ckpt(
        spark,
        ("ann_cosine_pairs", sf_dir, COSINE_THRESHOLD, ANN_CLUSTERS, ANN_PROBE),
        lambda: similarity.cosine_near_dup_pairs_ann(
            load_table(spark, sf_dir, "embeddings"),
            COSINE_THRESHOLD,
            n_clusters=ANN_CLUSTERS,
            n_probe=ANN_PROBE,
        ),
    )


def q156_semdedup_ann_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-shortlisted semantic dedup, tolerance-contracted against
    the exact closure in one plan.

    Contract columns (aggregate booleans the oracle pins TRUE):
    - ``pair_recall_ok``: the ANN pair set covers >= 0.95 of the
      exact pair set.
    - ``no_false_pos``: zero ANN pairs outside the exact set (exact
      within-cell sims make a false positive impossible; the check
      still runs so a bucketing bug fails loud).
    - ``membership_ok``: >= 0.9 of exactly co-clustered pairs remain
      co-clustered under the ANN closure (a missed bridge edge can
      only SPLIT a cluster, never merge two — the directional error
      a dedup pipeline tolerates: it keeps a few extra docs, never
      drops a non-duplicate).

    Returned rows are the EXACT cluster assignment (deterministic →
    the DuckDB recursive-CTE oracle reproduces them) + the booleans,
    mirroring q27's contract shape.

    Scale: grow ``n_clusters`` ∝ corpus so cells stay bounded; the
    shortlist then costs O(n · cell · probe²) flops — LINEAR in the
    corpus vs q106's O(n²) — and the co-membership audit's per-cluster
    self-join is bounded by near-dup cluster diameters (small by
    construction; it is part of the CONTRACT leg, not the production
    path, which is shortlist → closure only)."""
    e = load_table(spark, sf_dir, "embeddings")
    exact_pairs = _cosine_pairs(spark, sf_dir).select("id_a", "id_b")
    ann_pairs = _ann_pairs(spark, sf_dir).select("id_a", "id_b")
    # exact closure from the session derived-table cache (shared with
    # q106 — identical deterministic computation, optimization r14);
    # only the ANN closure is unique to this probe
    exact_cl = _cosine_neardup_clusters(spark, sf_dir)
    ann_cl = dedup.near_dup_clusters(e, "vec_id", "embedding", pairs=ann_pairs)

    hits = exact_pairs.join(ann_pairs, ["id_a", "id_b"], "left_semi")
    extras = ann_pairs.join(exact_pairs, ["id_a", "id_b"], "left_anti")
    # exact co-membership pairs, re-scored under the ANN clustering
    exa = exact_cl.select(F.col("vec_id").alias("id_a"), F.col("cluster_id").alias("_c"))
    exb = exact_cl.select(F.col("vec_id").alias("id_b"), F.col("cluster_id").alias("_c"))
    co = exa.join(exb, "_c").where(F.col("id_a") < F.col("id_b"))
    anna = ann_cl.select(F.col("vec_id").alias("id_a"), F.col("cluster_id").alias("_ca"))
    annb = ann_cl.select(F.col("vec_id").alias("id_b"), F.col("cluster_id").alias("_cb"))
    kept = (
        co.join(anna, "id_a")
        .join(annb, "id_b")
        .select((F.col("_ca") == F.col("_cb")).cast("int").alias("_k"))
    )
    flags = (
        hits.agg(F.count("*").alias("_nh"))
        .crossJoin(exact_pairs.agg(F.count("*").alias("_nt")))
        .crossJoin(extras.agg(F.count("*").alias("_nx")))
        .crossJoin(kept.agg(F.sum("_k").alias("_km"), F.count("*").alias("_nm")))
        .select(
            (F.col("_nh") / F.greatest("_nt", F.lit(1)) >= 0.95).alias("pair_recall_ok"),
            (F.col("_nx") == 0).alias("no_false_pos"),
            (F.col("_km") / F.greatest("_nm", F.lit(1)) >= 0.9).alias("membership_ok"),
        )
    )
    return exact_cl.crossJoin(F.broadcast(flags))


QUERIES = {
    "q156_semdedup_ann_clusters": q156_semdedup_ann_clusters,
}

ORACLE = {
    "q156_semdedup_ann_clusters": f"""
        WITH RECURSIVE pairs AS (
            SELECT id_a, id_b FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COSINE_PAIR} AS sim_raw
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            WHERE sim_raw >= {COSINE_THRESHOLD}),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs),
        reach(node, comp) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node),
        comp AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
        SELECT v.vec_id,
               COALESCE(c.comp, v.vec_id) AS cluster_id,
               COALESCE(c.comp, v.vec_id) = v.vec_id AS is_canonical,
               TRUE AS pair_recall_ok,
               TRUE AS no_false_pos,
               TRUE AS membership_ok
        FROM embeddings v LEFT JOIN comp c ON c.node = v.vec_id
    """,
}


# Exact-substring operating point (VERDICT r11 #1 / Lee et al. 2022):
# 8-token anchors, 20-token minimum duplicated run, stop-gram df-cap
# 16 docs. min_len mirrors the paper's 50-BPE-token threshold at this
# corpus's whitespace-word granularity.
_ES_K, _ES_MINLEN, _ES_MAXDF = 8, 20, 16
_ES_MAXPOST = 8 * _ES_MAXDF  # postings cap (within-doc spam guard)


def _es_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc exact-substring span table at the family operating
    point, session-cached (optimization r14): q183 emits it and q187
    re-derives the IDENTICAL deterministic frame as its removal
    input — the detection leg (the interpreted-HOF tokenize pass +
    anchor join) is the family's dominant executor cost, so it joins
    the shared derived-table cache beside the shingle/pair/closure
    tables. Deterministic ⇒ sharing cannot change either consumer's
    rows (spans dedup before islanding, so window ties are unique)."""
    return _cached_ckpt(
        spark,
        ("es_spans", sf_dir, _ES_K, _ES_MINLEN, _ES_MAXDF),
        lambda: dedup.exact_substring_spans(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            k=_ES_K,
            min_len=_ES_MINLEN,
            max_df=_ES_MAXDF,
        ),
    )


def q183_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022 ExactSubstr, the one
    LLM-dedup modality dedup.py lacked): per-doc merged token spans
    duplicated verbatim (≥ 20 tokens) in a smaller-id document —
    ``dedup.exact_substring_spans``. The suffix array is replaced by
    a positional k-gram inverted index (same O(tokens) footprint);
    anchors → aligned-run islands → per-doc interval merge, all
    equi-joins + fine-grained windows (plan-gated: no nested loop, no
    corpus-wide window). The DuckDB twin replays the identical
    positional-gram SQL, so the whole removal-decision surface is
    hash-checked."""
    return _es_spans(spark, sf_dir).orderBy("doc_id", "span_start")


QUERIES["q183_exact_substring_spans"] = q183_exact_substring_spans
# shared CTE body: positional grams -> df-capped anchors -> aligned
# runs -> per-doc merged spans (ends at `merged`); q183 reads it
# directly, q187 appends the removal application, q188 swaps the
# source and enables within-doc anchors
def _es_ctes(
    source: str = "documents",
    within: bool = False,
    k: int = _ES_K,
    min_len: int = _ES_MINLEN,
    max_df: int = _ES_MAXDF,
    max_post: int | None = None,
    granularity: str = "word",
    pair_override: str | None = None,
    keep_where: str = "",
) -> str:
    if max_post is None:
        max_post = 8 * max_df
    pair = "a.doc_id < b.doc_id"
    if within:
        pair = ("(a.doc_id < b.doc_id OR "
                "(a.doc_id = b.doc_id AND a.pos < b.pos))")
    # the streaming-contamination twin (q191) restricts anchors to
    # (reference doc → stream doc) pairs and computes the stop-gram
    # caps over the REFERENCE grams only, mirroring
    # dedup.reference_postings
    if pair_override is not None:
        pair = pair_override
    if granularity == "char":
        # character positions: the gram IS substr(text, i, k), raw
        # case — mirrors positional_shingles(granularity='char')
        grams = f"""toks AS (SELECT doc_id, text FROM {source}),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             substr(text, CAST(i AS BIGINT), {k}) AS gram
      FROM toks, LATERAL (
        SELECT unnest(range(1, len(text)-{k}+2)) AS i) t
    ),"""
    elif granularity == "byte":
        # BYTE positions over the UTF-8 encoding (round 14): DuckDB
        # 1.0 has no BLOB substring, so the byte slice rides the hex
        # string — substr(hex, (i-1)*2+1, k*2) is exactly bytes
        # [i, i+k) of encode(text), and hex is ASCII so VARCHAR
        # substr is byte-safe. Gram EQUALITY on hex slices ≡ equality
        # on byte slices; positions are octet offsets, mirroring
        # positional_shingles(granularity='byte').
        grams = f"""toks AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM {source}),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             substr(hx, (CAST(i AS BIGINT) - 1) * 2 + 1, {k} * 2) AS gram
      FROM toks, LATERAL (
        SELECT unnest(range(1, nb-{k}+2)) AS i) t
    ),"""
    elif granularity == "bpe":
        # BPE-ish pieces, RAW case (mirrors positional_shingles
        # granularity='bpe'): Spark splits at word/non-word boundaries
        # via lookarounds, which RE2 lacks — but the RESULT is exactly
        # the maximal runs of word chars or of non-word-non-space
        # chars, which regexp_extract_all can produce directly (\\w
        # and \\s are ASCII classes in both engines' default modes)
        grams = f"""toks AS (
      SELECT doc_id,
             regexp_extract_all(text, '\\w+|[^\\w\\s]+') AS tk
      FROM {source}
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(tk[i:i+{k}-1], ' ') AS gram
      FROM toks, LATERAL (
        SELECT unnest(range(1, len(tk)-{k}+2)) AS i) t
    ),"""
    else:
        grams = f"""toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS tk,
             list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '') AS rtk
      FROM {source}
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(tk[i:i+{k}-1], ' ') AS gram
      FROM toks, LATERAL (
        SELECT unnest(range(1, len(tk)-{k}+2)) AS i) t
    ),"""
    return f"""{grams}
    keep AS (
      SELECT gram FROM grams {keep_where}
      GROUP BY gram HAVING count(DISTINCT doc_id) <= {max_df}
                       AND count(*) <= {max_post}
    ),
    g AS (SELECT grams.* FROM grams JOIN keep USING (gram)),
    anchors AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
      FROM g a JOIN g b USING (gram) WHERE {pair}
    ),
    runs0 AS (
      SELECT da, db, pa - pb AS diag, pa, pb,
             CASE WHEN pa - lag(pa) OVER (
                    PARTITION BY da, db, pa - pb ORDER BY pa)
                  > {k} THEN 1 ELSE 0 END AS brk0
      FROM anchors
    ),
    runs AS (
      SELECT da, db, diag, pa, pb,
             sum(brk0) OVER (
               PARTITION BY da, db, diag ORDER BY pa
               ROWS UNBOUNDED PRECEDING) AS island
      FROM runs0
    ),
    spans0 AS (
      SELECT db AS doc_id, min(pb) AS span_start,
             max(pb) + {k} - 1 AS span_end
      FROM runs GROUP BY da, db, diag, island
      HAVING max(pa) - min(pa) + {k} >= {min_len}
    ),
    -- DISTINCT before islanding: the same (doc, interval) can arrive
    -- from two source docs; duplicate rows TIE in both window sorts
    -- below, and DuckDB's isl/grp windows sort independently — a tie
    -- ordered differently in the two sorts splits one merged span
    -- into two (observed at sf0.001, doc 10008). Dedup is idempotent
    -- w.r.t. the merge, and with no ties both sorts are total orders.
    spans AS (SELECT DISTINCT doc_id, span_start, span_end FROM spans0),
    isl AS (
      SELECT doc_id, span_start, span_end,
             CASE WHEN span_start > coalesce(max(span_end) OVER (
                    PARTITION BY doc_id ORDER BY span_start, span_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -2) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM spans
    ),
    grp AS (
      SELECT doc_id, span_start, span_end,
             sum(brk) OVER (
               PARTITION BY doc_id ORDER BY span_start, span_end
               ROWS UNBOUNDED PRECEDING) AS gid
      FROM isl
    ),
    merged AS (
      SELECT doc_id, min(span_start) AS span_start,
             max(span_end) AS span_end
      FROM grp GROUP BY doc_id, gid
    )"""


_ES_SPAN_CTES = _es_ctes()

ORACLE["q183_exact_substring_spans"] = f"""
    WITH {_ES_SPAN_CTES}
    SELECT doc_id, span_start, span_end,
           span_end - span_start + 1 AS span_tokens
    FROM merged ORDER BY doc_id, span_start
"""


def q187_exact_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span APPLICATION — the second half of Lee et al. 2022's
    ExactSubstr (q183 detects; this removes): rebuild every document
    with its flagged token ranges dropped via
    ``dedup.remove_spans`` — spans pack to one array per doc, join
    the corpus on the doc key, and a MAP-ONLY positional HOF filter
    drops covered tokens (no token-row explosion; the only shuffle is
    the doc-keyed span join). Untouched docs pass through verbatim.
    The DuckDB twin appends the identical indexed-lambda filter to
    q183's span CTEs, so detection AND application are hash-checked
    in one probe — including the rebuilt text itself."""
    docs = load_table(spark, sf_dir, "documents")
    spans = _es_spans(spark, sf_dir)
    return (
        dedup.remove_spans(docs, spans, "doc_id", "text")
        .orderBy("doc_id")
    )


QUERIES["q187_exact_substring_removal"] = q187_exact_substring_removal
ORACLE["q187_exact_substring_removal"] = f"""
    WITH {_ES_SPAN_CTES},
    sp AS (
      SELECT doc_id,
             list(struct_pack(s := span_start, e := span_end)) AS spans
      FROM merged GROUP BY doc_id
    ),
    applied AS (
      SELECT t.doc_id, t.rtk,
             list_filter(
               t.rtk,
               (x, i) -> NOT len(list_filter(
                 coalesce(s.spans, []::STRUCT(s BIGINT, e BIGINT)[]),
                 sp -> i >= sp.s AND i <= sp.e)) > 0
             ) AS kept
      FROM toks t LEFT JOIN sp s USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(rtk) AS INTEGER) AS n_tokens,
           CAST(len(rtk) - len(kept) AS INTEGER) AS n_removed,
           coalesce(array_to_string(kept, ' '), '') AS cleaned_text
    FROM applied ORDER BY doc_id
"""
# (coalesce: DuckDB's array_to_string([]) is NULL; Spark's concat_ws
# of an empty array is '' — a fully-removed doc must match)


def q188_within_doc_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document exact-substring spans (Lee et al. 2022 dedup
    self-repeats too; ``within_doc=True`` adds same-doc anchors at
    ``pa < pb``, landing the removal span on the LATER occurrence —
    the positional analog of smaller-id canonical keep). The test
    corpus has no natural self-repeats, so the probe derives one IN
    THE PLAN, identically on both engines: docs 50–99 verbatim plus
    docs 0–49 DOUBLED (text || ' ' || text) under offset ids with
    their originals withheld — every doubled doc's duplicate half is
    detectable ONLY through the within-doc pass, and any cross-doc
    span among the verbatim docs must still coexist in the same
    merged output."""
    d = load_table(spark, sf_dir, "documents")
    derived = d.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)).select(
        "doc_id", "text"
    ).unionByName(
        d.where(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" "), F.col("text")).alias("text"),
        )
    )
    return dedup.exact_substring_spans(
        derived, "doc_id", "text",
        k=_ES_K, min_len=_ES_MINLEN, max_df=_ES_MAXDF,
        within_doc=True,
    ).orderBy("doc_id", "span_start")


QUERIES["q188_within_doc_substring_spans"] = q188_within_doc_substring_spans
ORACLE["q188_within_doc_substring_spans"] = f"""
    WITH docs2 AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id >= 50 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text || ' ' || text AS text
      FROM documents WHERE doc_id < 50
    ),
    {_es_ctes("docs2", within=True)}
    SELECT doc_id, span_start, span_end,
           span_end - span_start + 1 AS span_tokens
    FROM merged ORDER BY doc_id, span_start
"""


def q190_exact_substring_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granularity modes for exact-substring dedup (VERDICT r12 #3 —
    Lee et al. 2022's threshold is 50 BPE tokens; a word-granular
    index misses sub-word-aligned overlaps). The probe derives a
    corpus IN THE PLAN, identically on both engines, where word and
    character granularity provably disagree: docs 0–19 truncated to
    their first 24 whitespace words (kept only when ≥ 24 words and
    ≥ 120 chars), plus offset-id twins with an 'X' GLUED to the first
    word (no space). Word-aligned, the twin shares only 23 of 24
    tokens (< min_len 24 → word mode misses the pair); character-
    aligned, the twin CONTAINS the full base verbatim (≥ 120 ≥
    min_len 100 chars → char mode flags it). Both modes' spans return
    with a ``mode`` column; the DuckDB twin replays both gram
    pipelines (word: lowered token k-grams; char: raw substr(text,
    pos, k)) through the shared anchor→island→merge CTEs, so the
    divergence itself is hash-checked.

    Scale: identical posture to q183 — the char-granularity index is
    O(characters) rows instead of O(words), same equi-join/window
    plan; real deployments pick k/min_len in the unit's scale (char
    k=20 ≈ word k=4-5)."""
    _toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 20)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(_toks, 1, 24)).alias("base"),
            F.size(_toks).alias("_nw"),
        )
        .where((F.col("_nw") >= 24) & (F.length("base") >= 120))
        .select("doc_id", F.col("base").alias("text"))
    )
    derived = d.unionByName(
        d.select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.lit("X"), F.col("text")).alias("text"),
        )
    )
    word = dedup.exact_substring_spans(
        derived, "doc_id", "text", k=_ES_K, min_len=24, max_df=_ES_MAXDF
    ).withColumn("mode", F.lit("word"))
    char = dedup.exact_substring_spans(
        derived, "doc_id", "text",
        k=20, min_len=100, max_df=_ES_MAXDF, granularity="char",
    ).withColumn("mode", F.lit("char"))
    return word.unionByName(char).orderBy("mode", "doc_id", "span_start")


QUERIES["q190_exact_substring_granularity"] = q190_exact_substring_granularity
_Q190_DOCS2 = """docs2 AS (
      SELECT doc_id, text FROM (
        SELECT doc_id,
               array_to_string(
                 list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '')[1:24], ' ') AS text,
               len(list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '')) AS _nw
        FROM documents WHERE doc_id < 20)
      WHERE _nw >= 24 AND len(text) >= 120
      UNION ALL
      SELECT doc_id + 10000, 'X' || text FROM (
        SELECT doc_id,
               array_to_string(
                 list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '')[1:24], ' ') AS text,
               len(list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '')) AS _nw
        FROM documents WHERE doc_id < 20)
      WHERE _nw >= 24 AND len(text) >= 120
    )"""
ORACLE["q190_exact_substring_granularity"] = f"""
    WITH wordspans AS (
      WITH {_Q190_DOCS2},
      {_es_ctes("docs2", min_len=24)}
      SELECT doc_id, span_start, span_end,
             span_end - span_start + 1 AS span_tokens, 'word' AS mode
      FROM merged
    ),
    charspans AS (
      WITH {_Q190_DOCS2},
      {_es_ctes("docs2", k=20, min_len=100, granularity="char")}
      SELECT doc_id, span_start, span_end,
             span_end - span_start + 1 AS span_tokens, 'char' AS mode
      FROM merged
    )
    SELECT * FROM wordspans
    UNION ALL
    SELECT * FROM charspans
    ORDER BY mode, doc_id, span_start
"""


_Q191_REF_BELOW = 250


def q191_streaming_substring_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact-substring contamination (VERDICT r12 #4 — the
    batch→stream handoff for Lee et al. 2022's ExactSubstr, exactly
    as q181/q182 closed the story for first-seen dedup): docs with
    id < 250 are the FIXED reference set, indexed in batch
    (``dedup.reference_postings`` — positional gram postings, caps
    over the reference only); docs ≥ 250 replay as 3 micro-batches
    through ``streaming.stateful.stream_substring_contamination``, a
    stateless stream-static join of each batch's positional grams to
    the exploded postings on the gram hash (a fixed eval set is
    read-only, so no state store is involved). Emitted anchors
    assemble into merged spans through the SAME
    ``dedup.assemble_spans`` as batch, so the drained result is
    byte-equal to the batch pipeline restricted to (reference →
    stream) pairs — which is exactly what the DuckDB twin replays
    (ref-only stop-gram caps + the restricted pair predicate).

    Scale: the reference index (MBs for real eval sets) broadcasts
    under the size gate and shuffles on the gram hash above it; the
    stream side is embarrassingly parallel — no state at all, no
    stream-stream joins."""
    from biodwh2_arcadedb_server_spark.streaming.stateful import (
        run_finite_substring_contamination,
    )

    return run_finite_substring_contamination(
        spark, sf_dir,
        ref_below=_Q191_REF_BELOW, n_chunks=3,
        k=_ES_K, min_len=_ES_MINLEN, max_df=_ES_MAXDF,
        name="q191_contam_out", state_parts=8,
    ).orderBy("doc_id", "span_start")


QUERIES["q191_streaming_substring_contamination"] = (
    q191_streaming_substring_contamination
)
ORACLE["q191_streaming_substring_contamination"] = f"""
    WITH {_es_ctes(
        pair_override=(
            f"a.doc_id < {_Q191_REF_BELOW} AND b.doc_id >= {_Q191_REF_BELOW}"
        ),
        keep_where=f"WHERE doc_id < {_Q191_REF_BELOW}",
    )}
    SELECT doc_id, span_start, span_end,
           span_end - span_start + 1 AS span_tokens
    FROM merged ORDER BY doc_id, span_start
"""


def q201_streaming_contamination_rotation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REFERENCE ROTATION for the streaming contamination check
    (round 14 — the ROADMAP r13 follow-on, built on the trade scoped
    there): handleInitialState only runs at query start, so a new
    eval-set epoch ships THROUGH the stream as control rows. Epoch 0
    (docs < 150) bootstraps the TWS MapState; after the first
    document chunk drains, a control batch re-ships the FULL epoch-1
    index (docs < 250) plus tombstones for grams the wider set pushed
    over the stop-gram caps; the second chunk is then evaluated
    against epoch 1 — all in ONE query, no restart, no state rebuild
    (``_RotatingGramPostingsProcessor``; rotation cost = one state op
    per shipped gram, scaling with the INDEX, not the stream).

    Deterministic by construction (one file per trigger, mtime
    ordered), so the DuckDB twin replays it exactly: spans(epoch0 →
    docs in [250, mid)) ∪ spans(epoch1 → docs ≥ mid) with mid =
    (250 + max_id) // 2, each branch's caps over its own epoch's
    reference only. The probe prefilters grams against the union of
    both epochs' hashes (legitimate in a finite replay; the
    production trade — unfiltered vs rebuild-on-restart — is
    documented on the op)."""
    from biodwh2_arcadedb_server_spark.streaming.stateful import (
        run_finite_substring_contamination_rotating,
    )

    return run_finite_substring_contamination_rotating(
        spark, sf_dir,
        epoch0_below=150, epoch1_below=_Q191_REF_BELOW,
        k=_ES_K, min_len=_ES_MINLEN, max_df=_ES_MAXDF,
        name="q201_contam_rot_out", state_parts=8,
    ).orderBy("doc_id", "span_start")


QUERIES["q201_streaming_contamination_rotation"] = (
    q201_streaming_contamination_rotation
)
ORACLE["q201_streaming_contamination_rotation"] = f"""
    WITH mx AS (
      SELECT ({_Q191_REF_BELOW} + max(doc_id)) // 2 AS mid FROM documents
    ),
    e0 AS (
      WITH {_es_ctes(
          pair_override=(
              f"a.doc_id < 150 AND b.doc_id >= {_Q191_REF_BELOW} "
              "AND b.doc_id < (SELECT mid FROM mx)"
          ),
          keep_where="WHERE doc_id < 150",
      )}
      SELECT doc_id, span_start, span_end FROM merged
    ),
    e1 AS (
      WITH {_es_ctes(
          pair_override=(
              f"a.doc_id < {_Q191_REF_BELOW} "
              "AND b.doc_id >= (SELECT mid FROM mx)"
          ),
          keep_where=f"WHERE doc_id < {_Q191_REF_BELOW}",
      )}
      SELECT doc_id, span_start, span_end FROM merged
    ),
    u AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1)
    SELECT doc_id, span_start, span_end,
           span_end - span_start + 1 AS span_tokens
    FROM u ORDER BY doc_id, span_start
"""


def q196_exact_substring_byte_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-granularity exact-substring spans (round 14, ROADMAP r13:
    cross-tokenizer contamination reports want offsets into the UTF-8
    BYTES, not characters). Corpus derived in-plan where the two
    units provably diverge: docs 0-19 truncated to 150 chars with
    'e'→'é' (multi-byte sprinkled through the text), plus twins
    (id+10000) prefixed with 'Ω' — the twin CONTAINS the base
    verbatim, but every byte offset in it is shifted +2 while char
    offsets shift +1. Both modes' spans return with a ``mode``
    column, so the divergence itself is hash-checked; the DuckDB twin
    replays byte grams as hex-string slices (no BLOB substring in
    1.0) through the same anchor→island→merge CTEs.

    Scale: identical to q183/q190 — the byte index is O(bytes) rows,
    same equi-join/window plan; k/min_len in bytes (20/100)."""
    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 20)
        .select(
            "doc_id",
            F.translate(F.substring("text", 1, 150), "e", "é").alias("text"),
        )
        .where(F.length("text") >= 120)
    )
    derived = base.unionByName(
        base.select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.lit("Ω"), F.col("text")).alias("text"),
        )
    )
    byte_spans = dedup.exact_substring_spans(
        derived, "doc_id", "text",
        k=20, min_len=100, max_df=_ES_MAXDF, granularity="byte",
    ).withColumn("mode", F.lit("byte"))
    char_spans = dedup.exact_substring_spans(
        derived, "doc_id", "text",
        k=20, min_len=100, max_df=_ES_MAXDF, granularity="char",
    ).withColumn("mode", F.lit("char"))
    return byte_spans.unionByName(char_spans).orderBy(
        "mode", "doc_id", "span_start"
    )


QUERIES["q196_exact_substring_byte_offsets"] = q196_exact_substring_byte_offsets
_Q196_DOCS2 = """docs2 AS (
      SELECT doc_id, text FROM (
        SELECT doc_id,
               translate(substr(text, 1, 150), 'e', 'é') AS text
        FROM documents WHERE doc_id < 20)
      WHERE len(text) >= 120
      UNION ALL
      SELECT doc_id + 10000, 'Ω' || text FROM (
        SELECT doc_id,
               translate(substr(text, 1, 150), 'e', 'é') AS text
        FROM documents WHERE doc_id < 20)
      WHERE len(text) >= 120
    )"""
ORACLE["q196_exact_substring_byte_offsets"] = f"""
    WITH bytespans AS (
      WITH {_Q196_DOCS2},
      {_es_ctes("docs2", k=20, min_len=100, granularity="byte")}
      SELECT doc_id, span_start, span_end,
             span_end - span_start + 1 AS span_tokens, 'byte' AS mode
      FROM merged
    ),
    charspans AS (
      WITH {_Q196_DOCS2},
      {_es_ctes("docs2", k=20, min_len=100, granularity="char")}
      SELECT doc_id, span_start, span_end,
             span_end - span_start + 1 AS span_tokens, 'char' AS mode
      FROM merged
    )
    SELECT * FROM bytespans
    UNION ALL
    SELECT * FROM charspans
    ORDER BY mode, doc_id, span_start
"""


def q197_bpe_span_char_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-piece span detection mapped to CHAR offsets and REMOVED
    from the raw text (ROADMAP r14: the bpe granularity was
    detection-only — regex pieces drop inter-piece whitespace, so the
    faithful removal path is piece-span → char-range → exact string
    surgery on the original document). Corpus derived in-plan where
    word granularity provably MISSES what bpe catches: docs 0-19
    truncated to 24 whitespace words, plus twins (id+10000) with
    ``X.`` GLUED to the front and a ``' Y;Z'`` tail — word-aligned the
    twin's first token ``X.<w1>`` differs (23 < 24 shared tokens);
    piece-aligned the twin contains every base piece verbatim
    (``X``/``.`` split off as their own pieces). Detection runs at
    bpe granularity, ``bpe_spans_to_char_ranges`` walks each flagged
    doc once (locate-fold — one O(text) pass), and
    ``remove_char_ranges`` drops the ranges from the RAW string, so
    the surviving ``X.`` prefix / `` Y;Z`` tail keep their original
    spacing and casing byte-for-byte. The DuckDB twin replays the
    piece pipeline (RE2 ``\\w+|[^\\w\\s]+`` ≡ the lookaround split),
    the char walk as a recursive CTE over piece indices, and the
    removal as window-stitched segments — spans, offsets, and the
    cleaned text itself are all hash-checked.

    Scale: spans are cap-bounded upstream; the offset fold touches
    only flagged docs (left-semi prune); removal is one map-only
    corpus pass after a doc-keyed pack join."""
    _toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 20)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(_toks, 1, 24)).alias("base"),
            F.size(_toks).alias("_nw"),
        )
        .where((F.col("_nw") >= 24) & (F.length("base") >= 120))
        .select("doc_id", F.col("base").alias("text"))
    )
    derived = d.unionByName(
        d.select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(
                F.lit("X."), F.col("text"), F.lit(" Y;Z")
            ).alias("text"),
        )
    )
    spans = dedup.exact_substring_spans(
        derived, "doc_id", "text",
        k=_ES_K, min_len=24, max_df=_ES_MAXDF, granularity="bpe",
    )
    ranges = dedup.bpe_spans_to_char_ranges(derived, spans, "doc_id", "text")
    cleaned = dedup.remove_char_ranges(derived, ranges, "doc_id", "text")
    return (
        ranges.join(cleaned, "doc_id")
        .select(
            "doc_id", "span_start", "span_end",
            "char_start", "char_end",
            "n_chars_removed", "cleaned_text",
        )
        .orderBy("doc_id", "span_start")
    )


QUERIES["q197_bpe_span_char_removal"] = q197_bpe_span_char_removal
ORACLE["q197_bpe_span_char_removal"] = f"""
    WITH RECURSIVE {_Q190_DOCS2.replace("'X' || text", "'X.' || text || ' Y;Z'")},
    {_es_ctes("docs2", k=_ES_K, min_len=24, granularity="bpe")},
    flagged AS (SELECT DISTINCT doc_id FROM merged),
    ptoks AS (
      SELECT d.doc_id, d.text,
             regexp_extract_all(d.text, '\\w+|[^\\w\\s]+') AS pc
      FROM docs2 d JOIN flagged USING (doc_id)
    ),
    walk AS (
      SELECT doc_id, text, pc, 1 AS idx,
             position(pc[1] IN text) AS s,
             position(pc[1] IN text) + len(pc[1]) - 1 AS e
      FROM ptoks WHERE len(pc) >= 1
      UNION ALL
      SELECT doc_id, text, pc, idx + 1,
             e + position(pc[idx+1] IN substr(text, e + 1)) AS s,
             e + position(pc[idx+1] IN substr(text, e + 1))
               + len(pc[idx+1]) - 1 AS e
      FROM walk WHERE idx < len(pc)
    ),
    ranges AS (
      SELECT m.doc_id, m.span_start, m.span_end,
             ws.s AS char_start, we.e AS char_end
      FROM merged m
      JOIN walk ws ON ws.doc_id = m.doc_id AND ws.idx = m.span_start
      JOIN walk we ON we.doc_id = m.doc_id AND we.idx = m.span_end
    ),
    segs AS (
      SELECT doc_id,
             coalesce(lag(char_end) OVER (
               PARTITION BY doc_id ORDER BY char_start), 0) + 1 AS seg_s,
             char_start - 1 AS seg_e
      FROM ranges
      UNION ALL
      SELECT r.doc_id, max(r.char_end) + 1 AS seg_s,
             max(len(d.text)) AS seg_e
      FROM ranges r JOIN docs2 d USING (doc_id)
      GROUP BY r.doc_id
    ),
    cleanedt AS (
      SELECT s.doc_id,
             string_agg(
               substr(d.text, seg_s, greatest(seg_e - seg_s + 1, 0)),
               '' ORDER BY seg_s) AS cleaned_text
      FROM segs s JOIN docs2 d USING (doc_id)
      GROUP BY s.doc_id
    ),
    removedn AS (
      SELECT doc_id,
             CAST(sum(char_end - char_start + 1) AS INT)
               AS n_chars_removed
      FROM ranges GROUP BY doc_id
    )
    SELECT r.doc_id, r.span_start, r.span_end,
           CAST(r.char_start AS INT) AS char_start,
           CAST(r.char_end AS INT) AS char_end,
           n.n_chars_removed,
           coalesce(c.cleaned_text, '') AS cleaned_text
    FROM ranges r
    JOIN removedn n USING (doc_id)
    JOIN cleanedt c USING (doc_id)
    ORDER BY r.doc_id, r.span_start
"""
