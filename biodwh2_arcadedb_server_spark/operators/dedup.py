"""Deduplication operators for LLM training-data pipelines (C1, C2).

Four escalating strategies, all shuffle-frugal:

- **Exact** — hash-groupBy on the dedup key. The shuffle carries only
  an 8-byte ``xxhash64`` of the content, never the content itself —
  at 100 TB the dedup shuffle is ~0.01% of the data volume.
- **N-gram Jaccard** — exact set-similarity join via shingle
  inverted index (explode → self-join on shingle → count). Exact but
  quadratic in the worst case; the oracle-checkable reference for the
  approximate methods.
- **MinHash + LSH** — per-doc signature of ``num_hashes`` minima over
  universal hashes of shingles; banding turns near-dup search into an
  equi-join on (band_idx, band_hash). Candidates are verified with
  true Jaccard. This is the scale path: cost is O(docs × bands)
  rows shuffled, not O(docs²).
- **SimHash** — 64-bit weighted-bit fingerprint; near-dups = pairs
  within Hamming distance d, found by joining on rotated prefix
  blocks (here: direct bit_count on the small side).

MinHash universal-hash parameters are fixed constants derived from a
seeded LCG at import time — deterministic across runs and executors.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodwh2_arcadedb_server_spark.functions import (
    bpe_ish_tokens,
    gram_start_indices,
    shingles_from_tokens,
    tokens,
)

# 31-bit Mersenne prime: a,b,h < 2^31 keeps a·h+b < 2^63 (no long
# overflow under ANSI arithmetic) while leaving ample hash space for
# min-wise hashing.
MERSENNE_P = (1 << 31) - 1


def _lcg_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for universal hashing h_i = (a·x+b) mod p."""
    state = seed
    out = []
    for _ in range(num_hashes):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_P - 1)) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        out.append((a, b))
    return out


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, hash_bits: int = 64
) -> DataFrame:
    """(_id, _sh: sorted array, _size) — hashed distinct word
    k-shingles per document, the shared input of every near-dup
    strategy. Three deliberate physical steps:

    1. repartition: a single parquet row group would serialize the
       CPU-heavy shingling into one task;
    2. two-step projection: tokens materialize as a column before the
       gram lambda references them (an inline expression is
       re-evaluated once per gram — measured ~8×);
    3. eager localCheckpoint: the table is consumed by several plan
       branches (index + both join sides); without materialization
       Catalyst recomputes it per branch.

    ``hash_bits=64`` stores grams as bigint (collision-free in
    practice: ~4e9 distinct grams before birthday effects) — the
    exact-reference setting. ``hash_bits=32`` keeps the top 32 bits as
    an int array, HALVING the bytes every downstream shuffle moves
    (inverted index, verification join) at a corpus-wide collision
    rate of ~n²/2³³ gram pairs — at 1e6 distinct grams that is ~100
    collided pairs, perturbing any single doc-pair Jaccard by <1e-5 —
    the right trade for the approximate MinHash path, whose banding
    error is orders of magnitude larger. The shift is arithmetic
    (sign-preserving) so the value range is exactly int: no ANSI cast
    overflow."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toked = df.repartition(par, id_col).select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks")
    )
    if hash_bits == 64:
        gram_hash = lambda g: F.xxhash64(g)  # noqa: E731
    elif hash_bits == 32:
        gram_hash = lambda g: F.shiftright(F.xxhash64(g), 32).cast("int")  # noqa: E731
    else:
        raise ValueError(f"hash_bits must be 32 or 64, got {hash_bits}")
    return (
        toked.select(
            "_id",
            F.sort_array(
                F.transform(shingles_from_tokens(F.col("_toks"), k), gram_hash)
            ).alias("_sh"),
        )
        .withColumn("_size", F.size("_sh"))
        .localCheckpoint(eager=True)
    )


# --- C1: exact dedup ----------------------------------------------------------
def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Row-identity dedup: dropDuplicates (hash-shuffle on the key)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def exact_dedup_by_content(
    df: DataFrame, id_col: str, content_col: str
) -> DataFrame:
    """Content dedup keeping the smallest id per identical content.
    Groups on xxhash64(content) so the shuffle key is 8 bytes; the
    group's representative is min(id). (A 64-bit hash collides at
    ~4e9 distinct docs; for beyond that, group on (hash, length).)"""
    h = F.xxhash64(F.col(content_col))
    return (
        df.select(F.col(id_col), h.alias("_h"), F.length(content_col).alias("_len"))
        .groupBy("_h", "_len")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def narrow_shingles(sh64: DataFrame) -> DataFrame:
    """Derive the ``hash_bits=32`` shingle table from a 64-bit one:
    top 32 bits of each gram hash, re-sorted. Bit-identical to
    ``shingle_table(..., hash_bits=32)`` (same multiset of values ⇒
    same sorted array) but MAP-ONLY over the already-checkpointed
    64-bit table — no second tokenization/shingling pass. Lets a
    contract probe run its exact leg (64-bit) and approximate leg
    (32-bit) off ONE shingle stage (VERDICT r4 #7)."""
    return sh64.select(
        "_id",
        F.sort_array(
            F.transform("_sh", lambda g: F.shiftright(g, 32).cast("int"))
        ).alias("_sh"),
        "_size",
    ).localCheckpoint(eager=False)


# --- C2: exact n-gram Jaccard similarity join -----------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    prefix_order: str = "hash",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with Jaccard(shingles_a, shingles_b) >=
    threshold — exact, via **prefix-filtered** inverted-index join
    (the PPJoin family: Xiao et al., "Efficient Similarity Joins for
    Near Duplicate Detection", WWW 2008).

    Two sets with Jaccard >= t must share an element within the first
    ⌈(1-t)·|A|⌉+1 elements of ANY *global* ordering of grams — the
    ordering affects selectivity, never correctness. Two orderings:

    - ``prefix_order="hash"`` (default): ascending gram-hash order —
      the ``_sh`` array is already hash-sorted, so the prefix is a
      free ``slice``; no extra shuffle at all. Hash order is a random
      permutation of grams, so a prefix gram's expected document
      frequency is the corpus mean — fine while gram df is modest
      (measured sf0.1: max bucket 23, 2× faster end-to-end).
    - ``prefix_order="df"``: ascending document frequency (rarest
      first) — costs a df aggregation plus an index join and regroup,
      but guarantees stopword shingles ("of the and" at web scale,
      df~1e9) never enter any prefix. Switch to this when hash-order
      bucket sizes blow past ~10³ (AQE skew stats will show it).

    Candidates are verified exactly with array_intersect on the full
    (hashed) gram arrays. Keys are 8-byte xxhash64 of grams:
    fixed-width shuffle, no text movement.

    ``shingles``: a precomputed ``shingle_table`` to reuse (contract
    probes share one shingle stage across their exact and approximate
    legs); defaults to computing it here.
    """
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, k)
    # prefix length = size - ceil(t·size) + 1, in integer-scaled
    # arithmetic: floor((1-t)·size)+1 in floating point under-counts
    # when t·size is an exact integer (e.g. t=0.8, size=10), which
    # silently drops true pairs sitting exactly at the threshold.
    t_scaled = int(round(threshold * 1_000_000))
    required_overlap = F.ceil((F.col("_size") * F.lit(t_scaled)) / F.lit(1_000_000))
    prefix_len = (F.col("_size") - required_overlap + 1).cast("int")
    if prefix_order == "hash":
        # posexplode: the within-prefix index IS the gram's global
        # position in the doc's hash-sorted array (the prefix is the
        # array head), which feeds the positional filter below
        inv = sh.select(
            "_id",
            "_size",
            F.posexplode(F.slice("_sh", 1, prefix_len)).alias("_pos", "_g"),
        )
    elif prefix_order == "df":
        ex = sh.select("_id", "_size", F.explode("_sh").alias("_g"))
        dfreq = ex.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
        inv = (
            ex.join(dfreq, "_g")
            .groupBy("_id", "_size")
            .agg(
                F.slice(
                    F.array_sort(F.collect_list(F.struct("_df", "_g"))), F.lit(1), prefix_len
                ).alias("_pref")
            )
            .select("_id", "_size", F.explode("_pref").alias("_p"))
            # df order loses the doc-global position (the prefix is
            # re-sorted by document frequency) — a zero position makes
            # the positional bound degrade to the plain count filter,
            # which is still valid
            .select("_id", "_size", F.lit(0).alias("_pos"), F.col("_p._g").alias("_g"))
        )
    else:
        raise ValueError(f"prefix_order must be 'hash' or 'df', got {prefix_order}")
    # bucket the inverted index per gram and emit pairs bucket-locally
    # (one shuffle; the old self-join shuffled inv twice), applying the
    # PPJoin POSITIONAL filter inside the bucket expansion: Jaccard >=
    # t needs overlap O >= ceil(t/(1+t)·(|A|+|B|)), and at the FIRST
    # shared prefix gram (position i in A, j in B, 0-based) every
    # common gram sits at or after it in the global hash order, so
    # O <= min(|A|-i, |B|-j). A true pair always passes at its first
    # shared gram (other occurrences may fail — the any-occurrence
    # dedupe keeps it), while near-miss candidates are pruned before
    # they ever materialize: measured 8.5M -> ~1M candidates at the
    # sf1 anchor, and this bound strictly dominates the old
    # min >= ceil(t·max) size filter (O <= min always).
    ds = F.col("_ds")
    needed = lambda x, y: F.ceil(  # noqa: E731
        ((x["_size"] + y["_size"]) * F.lit(t_scaled))
        / F.lit(1_000_000 + t_scaled)
    )
    pair_structs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.filter(
                    F.slice(ds, i + 2, F.size(ds)),
                    lambda y: F.least(
                        x["_size"] - x["_pos"], y["_size"] - y["_pos"]
                    )
                    >= needed(x, y),
                ),
                lambda y: F.struct(
                    x["_id"].alias("id_a"), y["_id"].alias("id_b")
                ),
            ),
        )
    )
    cand = (
        inv.groupBy("_g")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_id", "_size", "_pos"))
            ).alias("_ds")
        )
        .where(F.size("_ds") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates()
    )
    fa = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    fb = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


# --- C2: MinHash + LSH ------------------------------------------------------------
def _minhash_signatures_hof(sh: DataFrame, num_hashes: int = 64) -> DataFrame:
    """Pure-JVM-expression twin of ``minhash_signatures_from_shingles``
    (``sig_i = array_min(transform(_sh, g → (a_i·h(g)+b_i) mod p))``).
    Kept as the parity reference: HOF lambdas evaluate interpreted
    per element, which made this the dominant cost of the streaming
    drain (measured ~6.9s of q84's sf0.1 drain) — the Arrow kernel
    below computes bit-identical signatures vectorized."""
    params = _lcg_params(num_hashes)
    # cast to bigint first: a 32-bit shingle_table yields int grams,
    # and int·int universal-hash products overflow under ANSI — the
    # promotion is per-row compute, the narrow array already shuffled
    hashed = sh.where(F.size("_sh") > 0).select(
        "_id",
        F.transform("_sh", lambda g: F.pmod(g.cast("bigint"), F.lit(MERSENNE_P))).alias("_hs"),
    )
    mins = [
        F.array_min(
            F.transform("_hs", lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE_P)))
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return hashed.select("_id", *mins).select(
        "_id", F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_signatures_from_shingles(
    sh: DataFrame, num_hashes: int = 64, drop_empty: bool = True
) -> DataFrame:
    """(_id, sig: array<bigint>) from a ``shingle_table`` — num_hashes
    minima of universal hashes over the hashed shingle set.

    Arrow-vectorized numpy kernel (the PQ-encode pattern): per Arrow
    batch, ``sig_i = min_g ((a_i·(g mod p) + b_i) mod p)`` as one
    (num_hashes × |grams|) int64 matrix op per doc. Bit-identical to
    the JVM-HOF twin ``_minhash_signatures_hof`` — both sides run
    two's-complement 64-bit wrap-around multiply then a non-negative
    mod (Java long overflow ≡ numpy int64 overflow; Spark ``pmod`` ≡
    numpy ``%`` for positive modulus) — pinned by
    tests/test_pipeline.py::test_minhash_kernel_matches_hof. ZERO
    shuffle either way; stateless, so the same code serves batch and
    the streaming drain (where the interpreted HOFs were ~70% of the
    wall time).

    Empty-shingle docs are dropped AFTER the kernel via a null sig —
    a ``where(size(_sh) > 0)`` BEFORE it pushes the predicate into
    the shingle lineage and re-evaluates the whole HOF pipeline per
    row (measured +4s of 5s at sf0.1 batch); filtering on the
    kernel's output is free on batch's checkpointed shingle table.
    ``drop_empty=False`` skips even that: in a STREAMING micro-batch
    plan (no checkpoint possible, different physical planning) ANY
    filter interleaved with this stage re-triggers the pathology
    (measured 1.2s -> 5.8s), and the guard is row-wise a no-op
    anyway — ``shingles_from_tokens`` emits >=1 gram for every doc
    (short docs degrade to one truncated gram), so a null sig cannot
    occur; the kernel's None branch is defense-in-depth for
    pathological inputs, and the streaming caller relies on the same
    invariant."""
    import numpy as np

    params = _lcg_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]

    @F.pandas_udf("array<bigint>")
    def _sig(shingle_col: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for arr in shingle_col:
                h = np.asarray(arr, dtype=np.int64)
                if h.size == 0:
                    out.append(None)
                    continue
                h = h % MERSENNE_P
                v = (A * h[None, :] + B) % MERSENNE_P  # int64 wrap == Java
                out.append(v.min(axis=1))
        return pd.Series(out)

    out = sh.select("_id", _sig("_sh").alias("sig"))
    return out.where(F.col("sig").isNotNull()) if drop_empty else out


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 64,
    hash_bits: int = 64,
) -> DataFrame:
    """(id, sig) straight from a document table; see
    ``minhash_signatures_from_shingles`` for the plan shape."""
    return minhash_signatures_from_shingles(
        shingle_table(df, id_col, text_col, k, hash_bits), num_hashes
    )


def _bucket_pairs(ids_sorted) -> F.Column:
    """All ordered pairs (a < b) from a sorted id array — the
    bucket-local candidate emission shared by LSH banding and the
    prefix-filter join. Quadratic in bucket size by construction, so
    callers must keep buckets selective (rare-gram prefixes, band
    hashes); at scale a hot bucket means the banding/prefix parameters
    are wrong, not that a bigger join is needed."""
    return F.flatten(
        F.transform(
            ids_sorted,
            lambda x, i: F.transform(
                F.slice(ids_sorted, i + 2, F.size(ids_sorted)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def banded_signatures(sigs: DataFrame, bands: int = 16, rows: int = 4) -> DataFrame:
    """(_id, band, bh) — one row per (doc, band) with the band's
    row-slice hashed to a bucket key. Pure per-row expressions
    (stream-safe); shared by the batch LSH join and the streaming
    near-dup operator."""
    return sigs.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.slice("sig", i * rows + 1, rows))).alias("bh"),
                ),
            )
        ).alias("b"),
    ).select("_id", "b.band", "b.bh")


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 16, rows: int = 4) -> DataFrame:
    """Band the signatures and bucket docs on (band_idx, band_hash).
    Two docs collide in a band iff their signature rows there all
    match → P(candidate) ≈ 1-(1-j^rows)^bands. Output (id_a, id_b).

    One shuffle total: explode bands → groupBy bucket → emit pairs
    bucket-locally (``_bucket_pairs``). The old self-join shuffled the
    banded table twice and paid a join; grouping moves the same rows
    once and the pair fan-out happens where the bucket lives."""
    banded = banded_signatures(sigs, bands, rows)
    return (
        banded.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list("_id")).alias("_ids"))
        .where(F.size("_ids") > 1)
        .select(F.explode(_bucket_pairs(F.col("_ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates()
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    threshold: float = 0.5,
    hash_bits: int = 64,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → verify
    with true Jaccard on shingle sets. Only candidate pairs (a tiny
    fraction of all pairs) ever compare their shingle sets. The
    shingle table is computed once and shared by the signature and
    verification stages. ``hash_bits=32`` is the scale setting — it
    halves the verification join's shuffle bytes (the dominant mover:
    full shingle arrays on both sides) for a <1e-5 Jaccard
    perturbation; see ``shingle_table``. ``shingles``: precomputed
    table at the requested ``hash_bits`` to reuse (e.g. via
    ``narrow_shingles`` off a shared 64-bit stage)."""
    sh = (
        shingles
        if shingles is not None
        else shingle_table(df, id_col, text_col, k, hash_bits)
    )
    sigs = minhash_signatures_from_shingles(sh, num_hashes)
    cand = lsh_candidate_pairs(sigs, bands, rows)
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


# --- C2: SimHash --------------------------------------------------------------------
def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens: bit b of the fingerprint
    is 1 iff Σ_tokens (±1 by token-hash bit b) > 0. Computed as 64
    conditional-sum aggregates after one explode — one shuffle, all
    JVM expressions. Output (id, simhash: bigint)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(par, id_col).select(
        F.col(id_col).alias("_id"),
        F.explode(F.filter(F.split(F.lower(text_col), r"\s+"), lambda x: x != "")).alias("_t"),
    ).select("_id", F.xxhash64("_t").alias("_h"))
    # Branch-free aggregates (optimization r14): Σ_tokens ±1 per bit
    # is 2·s_b − n for s_b = Σ bit_b and n = token count, so ">0" is
    # exactly "2·s_b > n" — 64 plain bit sums + ONE count replace 64
    # conditional sums (no per-row branch in the hash aggregate, and
    # a ~40% smaller expression tree for Catalyst to analyze per
    # evaluation; the fingerprint values are bit-identical).
    aggs = [
        F.sum(F.shiftright("_h", b).bitwiseAND(F.lit(1))).alias(f"_b{b}")
        for b in range(64)
    ] + [F.count(F.lit(1)).alias("_n")]
    sums = toks.groupBy("_id").agg(*aggs)
    fingerprint = None
    for b in range(64):
        bit = F.when(
            F.col(f"_b{b}") * 2 > F.col("_n"), F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select("_id", fingerprint.alias("simhash"))


def simhash_near_dups(fps: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs within Hamming distance d of their simhash — exact
    quadratic reference (BroadcastNestedLoopJoin: every pair pays an
    xor+bit_count). Correct at any d, O(n²) compare volume; use
    ``simhash_near_dups_blocked`` as the scale path and keep this as
    the oracle it is tested against."""
    fps = fps.localCheckpoint(eager=True)  # consumed by both sides
    a = fps.select(F.col("_id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = fps.select(F.col("_id").alias("id_b"), F.col("simhash").alias("h_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dups_blocked(fps: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Same output as ``simhash_near_dups`` via the pigeonhole
    block-LSH (Manku et al., "Detecting Near-Duplicates for Web
    Crawling", WWW 2007): split the 64-bit fingerprint into d+1
    contiguous blocks — two hashes within Hamming distance d must
    agree EXACTLY on at least one block. Bucketing on (block_idx,
    block_bits) turns the quadratic cross join into one shuffle of
    (d+1)·n fixed-width rows; pairs are emitted bucket-locally and
    verified with xor+bit_count before leaving the bucket.

    Scale: with random-ish fingerprints and b-bit blocks, expected
    bucket size is n/2^b — at 10^9 docs and d=3 (16-bit blocks) hot
    buckets appear; the standard remedy is more blocks over permuted
    copies (trade shuffle volume for selectivity), which this
    parameterization extends to directly. Recall is exact (pigeonhole
    is a guarantee, not an approximation) — the pytest gate asserts
    set-equality with the quadratic reference."""
    nb = max_hamming + 1
    base = 64 // nb
    widths = [base] * (nb - 1) + [64 - base * (nb - 1)]
    h = F.col("simhash")
    blocks = []
    for i in range(nb):
        bits = F.shiftrightunsigned(h, base * i)
        if widths[i] < 64:
            bits = bits.bitwiseAND(F.lit((1 << widths[i]) - 1))
        blocks.append(F.struct(F.lit(i).alias("blk"), bits.alias("bits")))
    banded = fps.select("_id", "simhash", F.explode(F.array(*blocks)).alias("b")).select(
        "_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.bits").alias("bits")
    )
    ds = F.col("_ds")
    pair_structs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(
                    x["_id"].alias("id_a"),
                    y["_id"].alias("id_b"),
                    F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        banded.groupBy("blk", "bits")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "simhash"))).alias("_ds"))
        .where(F.size("_ds") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .where(F.col("p.hamming") <= max_hamming)  # verify before the pair shuffle
        .select("p.id_a", "p.id_b", "p.hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


# --- C2: end-to-end fuzzy dedup (pairs → clusters → canonical keep) -----------------
def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    pairs: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """The full fuzzy-dedup decision a training pipeline actually
    needs: not the pair list but **which row to keep**. Near-dup
    similarity is not transitive, so pairs are grouped into clusters
    by connected components over the pair graph (the standard
    MinHash-dedup closure step — e.g. SlimPajama/RefinedWeb group LSH
    pairs this way) and one canonical document (min id) survives per
    cluster.

    Returns one row per input document: ``(<id_col>, cluster_id,
    is_canonical)`` — filter ``is_canonical`` to materialize the
    deduplicated corpus; ``cluster_id`` is the min doc id reachable
    through the near-dup relation (singletons are their own cluster).

    ``pairs`` defaults to the exact :func:`ngram_jaccard_pairs` (the
    oracle-able reference); pass the output of
    :func:`minhash_near_dups` / :func:`simhash_near_dups_blocked` to
    run the same closure on an approximate pair set at scale.

    Scale: the pair graph holds only documents that HAVE a near-dup —
    a sliver of the corpus — so the iterative CC runs on a tiny edge
    set regardless of corpus size; the corpus-sized work is one
    left join back to the full id list (hash shuffle on the 8-byte
    id). Cluster diameter is short in practice (near-dup chains),
    so min-propagation converges in a handful of rounds."""
    from biodwh2_arcadedb_server_spark.operators.graph import connected_components

    if pairs is None:
        pairs = ngram_jaccard_pairs(df, id_col, text_col, k, threshold)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components(edges, max_iter=max_iter)
    return (
        df.select(F.col(id_col).alias("node_id"))
        .join(comp, "node_id", "left")
        .select(
            F.col("node_id").alias(id_col),
            F.coalesce("component", "node_id").alias("cluster_id"),
            (F.coalesce("component", "node_id") == F.col("node_id")).alias("is_canonical"),
        )
    )


# --- C2 adjacent: entity resolution — same-length typo pairs ----------------------
def same_length_typo_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_col: str | None = None,
    max_edits: int = 1,
) -> DataFrame:
    """Entity-resolution candidate pairs for SAME-LENGTH strings
    within ``max_edits`` substitutions (typo detection — the
    record-linkage staple for codes/names of fixed format), verified
    with exact ``levenshtein``.

    Scale plan = the Manku pigeonhole applied to strings: partition
    the character POSITIONS into ``max_edits + 1`` round-robin
    classes — ``d`` substitutions touch at most ``d`` positions, so
    by pigeonhole the pair agrees EXACTLY on at least one untouched
    class. The classes interleave (positions ``c+1, c+1+m, …`` for
    class ``c``, ``m = max_edits + 1``), NOT contiguous chunks: real
    identifier distributions share long prefixes ("Customer#00…"),
    which makes a contiguous-chunk key degenerate into one giant
    bucket (measured 6.4s at sf0.1), while interleaving spreads the
    discriminating suffix digits across ALL keys (measured bucket
    sizes drop from ~600 to ~10s). For ``max_edits=1`` this is
    exactly the even/odd-parity split. Bucketing each string ``m``
    times on (block, len, class, key) turns the quadratic compare
    into an equi-join of ``m×n`` fixed-width rows. Recall is a
    guarantee (pigeonhole), not an estimate; candidates are verified
    with ``levenshtein <= max_edits`` before leaving the bucket, so
    precision is exact too. Strings shorter than a class's first
    position get an empty key for that class — they still bucket
    together (empty==empty), so short names keep the recall
    guarantee rather than crashing the sequence bounds.
    Insert/delete variants (length ±1) are out of scope by
    declaration — that shape belongs to the n-gram Jaccard path
    (``ngram_jaccard_pairs``).

    An optional ``block_col`` (e.g. nation key) pre-partitions the
    space — standard blocking, multiplies selectivity.
    """
    if max_edits < 1:
        raise ValueError(f"max_edits must be >= 1, got {max_edits}")
    m = max_edits + 1
    n = F.length(name_col)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_name"),
        (F.col(block_col).cast("string") if block_col else F.lit("")).alias("_blk"),
        n.alias("_len"),
    )

    def _class_key(c: int):
        # chars at 1-based positions c+1, c+1+m, …; empty when the
        # string never reaches the first position (sequence() would
        # throw on descending bounds, and empty keys still bucket).
        key = F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(c + 1), F.col("_len"), F.lit(m)),
                lambda i: F.col("_name").substr(i, F.lit(1)),
            ),
        )
        return F.when(F.col("_len") >= c + 1, key).otherwise(F.lit(""))

    sides = base.select(
        "_id", "_name", "_blk", "_len",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(str(c)).alias("side"), _class_key(c).alias("key")
                    )
                    for c in range(m)
                ]
            )
        ).alias("b"),
    ).select("_id", "_name", "_blk", "_len", "b.side", "b.key")
    a = sides.alias("a")
    b = sides.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._len") == F.col("b._len"))
            & (F.col("a.side") == F.col("b.side"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._name").alias("name_a"),
            F.col("b._name").alias("name_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("edits", F.levenshtein("name_a", "name_b"))
        .where(F.col("edits") <= max_edits)
        .select("id_a", "id_b", "edits")
    )


# --- C2: exact-substring dedup (Lee et al. 2022 shape) ------------------------
def positional_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    granularity: str = "word",
    repartition: bool = True,
) -> DataFrame:
    """(_id, pos, gh) — one row per TOKEN POSITION: the hashed k-gram
    starting at 1-based ``pos``. Unlike ``shingle_table`` (distinct
    set-valued shingles for Jaccard/MinHash), positions are kept:
    this is the inverted index of the exact-substring pass, the Spark
    substitute for Lee et al.'s suffix array — both are O(corpus
    tokens) entries; the equi-join on the gram hash plays the role of
    the suffix-array interval scan. Same two-step projection rule as
    shingle_table (materialize the token array first — an inline
    expression re-evaluates per gram inside the HOF lambda).

    ``granularity`` (VERDICT r12 #3 — Lee et al.'s threshold is 50
    BPE tokens, and cross-tokenizer contamination checks miss
    sub-word-aligned overlaps at word granularity):
    - ``"word"``: lowercased whitespace tokens (the round-12 default).
    - ``"bpe"``: BPE-ish regex pieces (words / numbers / punctuation
      runs split apart, ``functions.bpe_ish_tokens``) — RAW case, the
      pre-tokenizer shape LLM tokenizers share, so ``k``/``min_len``
      land near the paper's token scale.
    - ``"char"``: character positions; the k-gram IS
      ``substr(text, pos, k)`` — no token array at all, each doc's
      gram count is length−k+1 and the hash input is the raw slice.
      On ASCII corpora this is byte granularity exactly; on multi-
      byte text it is the character-aligned analog (Spark strings
      are unicode — true byte offsets would need encode()+binary
      slicing for the same plan shape).

    ``repartition=False`` skips the doc-keyed pre-shuffle — required
    on STREAMING inputs (the contamination stream) and harmless
    there: the downstream shuffle key is the gram hash anyway."""
    def _pre(frame):
        if not repartition:
            return frame
        par = frame.sparkSession.sparkContext.defaultParallelism
        return frame.repartition(par, id_col)

    if granularity in ("char", "byte"):
        # byte (round 14, ROADMAP r13): positions/grams over the
        # UTF-8 ENCODED text — substr on BinaryType slices bytes, so
        # span offsets are byte-exact on multi-byte corpora (what a
        # cross-tokenizer contamination check wants to report); on
        # pure-ASCII text byte ≡ char, gram for gram. Same plan
        # shape: the unit only changes the leaf expression.
        src = (
            F.encode(F.col(text_col), "UTF-8")
            if granularity == "byte"
            else F.col(text_col)
        )
        toked = _pre(df).select(F.col(id_col).alias("_id"), src.alias("_t"))
        n = F.length("_t")  # chars on string, BYTES on binary
        positions = F.when(
            n >= F.lit(k), F.sequence(F.lit(1), n - (k - 1))
        ).otherwise(F.array().cast("array<int>"))
        structs = F.transform(
            positions,
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.xxhash64(F.col("_t").substr(i, F.lit(k))).alias("gh"),
            ),
        )
        return toked.select("_id", F.explode(structs).alias("_g")).select(
            "_id", F.col("_g.pos").alias("pos"), F.col("_g.gh").alias("gh")
        )
    if granularity == "bpe":
        tok_expr = bpe_ish_tokens(F.col(text_col))
    elif granularity == "word":
        tok_expr = tokens(F.col(text_col))
    else:
        raise ValueError(
            f"granularity must be word|bpe|char|byte, got {granularity!r}"
        )
    toked = _pre(df).select(
        F.col(id_col).alias("_id"), tok_expr.alias("_toks")
    )
    structs = F.transform(
        gram_start_indices(F.col("_toks"), k),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.xxhash64(F.concat_ws(" ", F.slice(F.col("_toks"), i, k))).alias(
                "gh"
            ),
        ),
    )
    return toked.select("_id", F.explode(structs).alias("_g")).select(
        "_id", F.col("_g.pos").alias("pos"), F.col("_g.gh").alias("gh")
    )


def exact_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_len: int = 20,
    max_df: int = 16,
    max_postings: int | None = None,
    within_doc: bool = False,
    granularity: str = "word",
) -> DataFrame:
    """Cross-document EXACT-SUBSTRING duplicate spans — the bounded-
    window form of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", ExactSubstr): any token run of
    ≥ ``min_len`` tokens shared verbatim between two documents is a
    removal candidate. Their single-node suffix array is replaced by
    the positional k-gram inverted index above: a shared run of
    length L ≥ min_len ≥ k contains L−k+1 aligned anchor matches, so
    maximal runs are recovered exactly from anchors — no suffix
    structure needed, everything is equi-joins + windows Catalyst
    can shuffle-plan.

    Pipeline (per stage, all JVM-side):
    1. anchors: self-equi-join of the positional index on the gram
       hash (``da < db``) — the ONLY corpus-sized join, and it is an
       equi-join on an 8-byte key. Grams seen in more than ``max_df``
       distinct docs OR at more than ``max_postings`` total positions
       (default 8·max_df) are dropped first: the doc-frequency cap is
       the boilerplate/stop-gram filter, the postings cap closes the
       within-doc hole (round-12 review: a gram repeated 100k times
       inside just TWO spammy docs passes any distinct-doc cap yet
       self-joins to ~10¹⁰ anchor rows — posting-list truncation must
       bound the list itself, the quantity the join actually squares).
    2. runs: anchors at equal alignment ``diag = pa − pb`` with
       near-consecutive ``pa`` are one duplicated run (gaps-and-
       islands with a BOUNDED GAP of k−1 missing anchors, per
       (da, db, diag) window — fine-grained partitions, no skew).
       The gap bridge closes the round-12 review's recall hole: a
       df/postings-capped stop-gram inside a long duplicated run
       drops ONE anchor; strict-consecutive islanding would split
       the run and could silently drop it if the fragments fall
       under ``min_len``. Bridging gaps ≤ k−1 is EXACT, not a
       tradeoff: a genuine token mismatch at any position kills the
       k consecutive grams covering it, so an anchor gap ≤ k−1 can
       only come from capped grams — and the two flanking gram
       windows (pa_next ≤ pa_prev + k) still cover every bridged
       token with a verified match. Only a full window of ≥ k
       consecutive capped grams (a genuinely boilerplate region,
       which the df-cap semantics say to drop) can still split a
       run.
    3. removal spans: the run's token interval IN THE LARGER doc_id
       (canonical-keep mirrors exact_dedup_by_content: the smallest
       doc keeps its copy; with A=B=C the spans land on B and C).
    4. per-doc merge of overlapping/adjacent spans (second
       gaps-and-islands, partitioned by doc).

    Returns (doc_id, span_start, span_end, span_tokens), 1-based
    inclusive token positions. ``within_doc=True`` additionally
    detects SELF-repeats (Lee et al. dedup within documents too):
    same-doc anchors at ``pa < pb`` put the removal span on the
    LATER occurrence — the positional analog of the smaller-id
    canonical keep — and merge with any cross-doc spans in the same
    per-doc interval pass. The 64-bit gram hash stands in for string
    equality (a false anchor needs an xxhash64 collision between two
    corpus grams — ~n²/2⁶⁴).

    100 TB posture: the index is O(tokens) rows of 24 bytes; all
    shuffles hash on gh / (da, db, diag) / doc — no nested loop, no
    window over the corpus (plan-gated in tests/test_plans.py). The
    df-cap agg and the join shuffle on the same key. min_len=20
    mirrors Lee et al.'s 50-BPE-token threshold at this corpus's
    word granularity.

    ``granularity`` selects the position unit (word | bpe | char |
    byte — see ``positional_shingles``; byte = offsets into the UTF-8
    encoding, the cross-tokenizer contamination report unit); ``k``/``min_len``/span positions
    are all in THAT unit (paper-faithful settings: bpe k=10
    min_len=50, char k=20 min_len≈100). Everything downstream of the
    index is granularity-blind — the anchor join, diag islands (the
    k−1 gap-bridge argument holds at any unit: a mismatch at one
    position kills k consecutive grams) and the interval merges run
    on positions only."""
    if max_postings is None:
        max_postings = 8 * max_df
    # localCheckpoint: the positional index is referenced by BOTH the
    # df-cap aggregate and the anchor self-join — without the reuse
    # boundary the interpreted-HOF tokenize/gram pass re-ran once per
    # reference (3x the probe's executor time; r14 profile: q183
    # task_sec 37.7 ≈ 3 × the 13s single pass). O(tokens) rows of
    # 24 bytes, the same footprint Lee et al. materialize as the
    # suffix array.
    sh = positional_shingles(df, id_col, text_col, k, granularity)
    sh = sh.localCheckpoint(eager=False)
    keep = (
        sh.groupBy("gh")
        .agg(
            F.count_distinct("_id").alias("_df"),
            F.count(F.lit(1)).alias("_n"),
        )
        # `2 <= _n`: a gram with a single posting cannot produce an
        # anchor pair (the self-join needs two postings on the same
        # gram), and MOST grams are unique — dropping them here
        # shrinks the capped index from O(tokens) to O(duplicated
        # tokens) before the join. Pure pruning: anchors unchanged.
        .where(
            (F.col("_df") <= max_df)
            & (F.col("_n").between(2, max_postings))
        )
        .select("gh")
    )
    capped = sh.join(keep, "gh")
    a = capped.select(
        "gh", F.col("_id").alias("da"), F.col("pos").alias("pa")
    )
    b = capped.select(
        "gh", F.col("_id").alias("db"), F.col("pos").alias("pb")
    )
    pair_pred = F.col("da") < F.col("db")
    if within_doc:
        pair_pred = pair_pred | (
            (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
        )
    anchors = a.join(b, "gh").where(pair_pred).drop("gh")
    return assemble_spans(anchors, k, min_len)


def reference_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    max_df: int = 16,
    max_postings: int | None = None,
    granularity: str = "word",
) -> DataFrame:
    """Pack a FIXED reference corpus (an eval/benchmark set) into the
    per-gram postings table the STREAMING contamination check joins
    the stream's grams against
    (streaming/stateful.py::stream_substring_contamination): one row
    per surviving gram hash — (gh, refs, poss) parallel
    arrays sorted by (ref, pos). The df/postings caps apply over the
    REFERENCE corpus only (the stream side needs no cap: an arriving
    doc's gram either hits a surviving posting list — bounded by
    construction — or nothing). Reference sets are tiny next to the
    stream (MBs vs TBs), so the packed table broadcasts cheaply."""
    if max_postings is None:
        max_postings = 8 * max_df
    # Same reuse boundary as exact_substring_spans: the index feeds
    # both the cap aggregate and the packing join — checkpoint so the
    # gram pass runs once.
    sh = positional_shingles(df, id_col, text_col, k, granularity)
    sh = sh.localCheckpoint(eager=False)
    return pack_reference_postings(sh, max_df, max_postings)


def pack_reference_postings(
    sh: DataFrame, max_df: int, max_postings: int
) -> DataFrame:
    """The cap+pack half of ``reference_postings``, over an already-
    built positional-shingle frame (_id, pos, gh). Factored out so
    callers that derive SEVERAL reference epochs from one corpus (the
    q201 rotation runner: epoch 1 ⊃ epoch 0) tokenize once and pack
    per epoch — the caps apply over whatever slice of ``sh`` is
    passed, identical to building from the sliced corpus because the
    shingle pass is row-wise per document. NO `_n >= 2` prune here:
    a single-posting reference gram is still a valid contamination
    anchor for a stream doc that hits it."""
    keep = (
        sh.groupBy("gh")
        .agg(
            F.count_distinct("_id").alias("_df"),
            F.count(F.lit(1)).alias("_n"),
        )
        .where((F.col("_df") <= max_df) & (F.col("_n") <= max_postings))
        .select("gh")
    )
    return (
        sh.join(keep, "gh")
        .groupBy("gh")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_id", "pos"))
            ).alias("_ps")
        )
        .select(
            "gh",
            F.transform("_ps", lambda s: s["_id"]).alias("refs"),
            F.transform("_ps", lambda s: s["pos"]).alias("poss"),
        )
    )


def assemble_spans(anchors: DataFrame, k: int, min_len: int) -> DataFrame:
    """Anchor rows (da, db, pa, pb) → merged per-doc removal spans —
    the second half of ``exact_substring_spans``, factored out so the
    STREAMING contamination path (streaming/stateful.py emits the
    same anchor shape from its postings join) assembles spans
    through the identical code: diag islands with the k−1 gap bridge,
    the min_len run filter, and the per-doc interval merge. Every
    window partitions on fine keys ((da, db, diag) then doc) — never
    the corpus."""
    from pyspark.sql import Window

    diag = (F.col("pa") - F.col("pb")).alias("diag")
    w_run = Window.partitionBy("da", "db", "diag").orderBy("pa")
    w_cum = w_run.rowsBetween(Window.unboundedPreceding, 0)
    # bounded-gap islanding: break only when > k-1 anchors are
    # missing (see step-2 docstring — exact under the gram-coverage
    # argument; lag() and sum() share one window spec → a single
    # exchange+sort in the plan)
    runs = (
        anchors.select("da", "db", "pa", "pb", diag)
        .withColumn(
            "_brk",
            F.when(
                F.col("pa") - F.lag("pa").over(w_run) > k, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("_brk").over(w_cum))
    )
    spans = (
        runs.groupBy("da", "db", "diag", "island")
        .agg(
            F.min("pb").alias("span_start"),
            (F.max("pb") + F.lit(k - 1)).alias("span_end"),
            (F.max("pa") - F.min("pa") + F.lit(k)).alias("_run_len"),
        )
        .where(F.col("_run_len") >= min_len)
        .select(F.col("db").alias("doc_id"), "span_start", "span_end")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("span_start", "span_end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = spans.withColumn(
        "brk",
        F.when(
            F.col("span_start")
            > F.coalesce(F.max("span_end").over(w_prev), F.lit(-2)) + 1,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w_run2 = (
        Window.partitionBy("doc_id")
        .orderBy("span_start", "span_end")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = isl.withColumn("gid", F.sum("brk").over(w_run2))
    return (
        grp.groupBy("doc_id", "gid")
        .agg(
            F.min("span_start").alias("span_start"),
            F.max("span_end").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    granularity: str = "word",
) -> DataFrame:
    """APPLY exact-substring removal decisions (the second half of
    Lee et al. 2022's ExactSubstr — detection without application
    never shrinks the corpus): given ``exact_substring_spans``
    output, rebuild each document's text with the flagged token
    ranges dropped. Mechanics: spans pack into ONE array per doc
    (groupBy(doc) of an already-tiny frame), the pack joins the
    corpus on the doc key, and the removal itself is a MAP-ONLY
    positional HOF filter — token i survives iff no span covers i —
    so the corpus is never exploded to token rows and the only
    shuffle is the doc-keyed span join. Docs with no spans keep
    every token (left join + empty-array coalesce).

    The rebuild tokenizes with ``lowercase=False`` — detection hashes
    LOWERCASED grams (case-insensitive matching), but the surviving
    text must keep the document's original casing (round-12 review:
    the lowercase default silently re-cased the whole corpus); span
    positions align because both splits are the same whitespace rule.
    Whitespace IS normalized (tokens re-join with single spaces) —
    inherent to token-level span removal and stated here.

    ``granularity`` must match the detection pass: ``"word"``
    re-joins surviving tokens with single spaces; ``"char"`` drops
    the flagged character ranges and re-joins with NO separator —
    byte-exact surgery, no whitespace normalization at all. ``"bpe"``
    is detection-only (regex pieces drop the inter-piece whitespace,
    so the original text is not reconstructible from them — a
    documented seam, not silent lossy output): map the spans to char
    offsets upstream or re-detect at char granularity to remove.

    Returns (id_col, n_tokens, n_removed, cleaned_text)."""
    if granularity == "bpe":
        raise ValueError(
            "remove_spans(granularity='bpe') cannot reconstruct the "
            "original whitespace from regex pieces; map the spans with "
            "bpe_spans_to_char_ranges() and apply remove_char_ranges() "
            "(exact string surgery), or detect at 'char' granularity "
            "instead to remove sub-word overlaps"
        )
    if granularity == "byte":
        raise ValueError(
            "remove_spans(granularity='byte') could split a multi-byte "
            "character and emit invalid UTF-8; byte spans are for "
            "REPORTING (cross-tokenizer contamination offsets) — detect "
            "at 'char' granularity to remove"
        )
    if granularity not in ("word", "char"):
        raise ValueError(
            f"granularity must be word|char for removal, got {granularity!r}"
        )
    packed = (
        spans.groupBy(F.col("doc_id").alias("_sid"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("_spans")
        )
    )
    tok_expr = (
        # split-every-position leaves one trailing '' — drop it so
        # positions align 1:1 with substr() and n_tokens == length
        F.filter(F.split(F.col(text_col), "(?!^)"), lambda x: x != "")
        if granularity == "char"
        else tokens(F.col(text_col), lowercase=False)
    )
    toked = df.select(F.col(id_col), tok_expr.alias("_toks"))
    joined = toked.join(
        packed, toked[id_col] == packed._sid, "left"
    ).withColumn(
        "_sp",
        F.coalesce(
            "_spans",
            F.array().cast(
                "array<struct<span_start bigint, span_end bigint>>"
            ),
        ),
    )
    kept = F.filter(
        F.col("_toks"),
        lambda x, i: ~F.exists(
            F.col("_sp"),
            lambda s: (i + 1 >= s["span_start"])
            & (i + 1 <= s["span_end"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("_toks").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).alias("n_removed"),
        F.concat_ws(
            " " if granularity == "word" else "", kept
        ).alias("cleaned_text"),
    )


def _bpe_piece_starts(pieces: F.Column, text: F.Column) -> F.Column:
    """1-based CHARACTER start offset of every BPE-ish piece in the
    original text, as an ``array<int>`` aligned with ``pieces``.

    Mechanics: a single left-to-right ``aggregate`` fold — for each
    piece, ``locate(piece, text, cursor)`` where the cursor is the
    character just past the previous piece. Exactness argument: the
    pieces of ``bpe_ish_tokens`` tile the non-whitespace characters of
    the text in order (the split pattern only ever splits at
    word/non-word boundaries or consumes whitespace runs), so between
    the cursor and the true start of the next piece there is ONLY
    whitespace; a piece contains no whitespace, hence cannot match
    inside that gap, and the first occurrence at/after the cursor is
    its true position. One ``locate`` per piece, each scanning only
    the inter-piece gap — O(text) total per document.

    ``pieces`` and ``text`` must be MATERIALIZED column references
    (the two-step projection rule: interpreted HOFs re-evaluate
    expression arguments per element)."""
    return F.aggregate(
        pieces,
        F.array().cast("array<int>"),
        lambda acc, p: F.concat(
            acc,
            F.array(
                F.call_function(
                    "locate",
                    p,
                    text,
                    # cursor: end of previous piece + 1 (prev piece =
                    # pieces[size(acc)], its start = acc[-1])
                    F.when(F.size(acc) == 0, F.lit(1)).otherwise(
                        F.element_at(acc, -1)
                        + F.length(F.element_at(pieces, F.size(acc)))
                    ),
                ).cast("int")
            ),
        ),
    )


def bpe_spans_to_char_ranges(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Map BPE-piece span positions to CHARACTER offsets in the
    original text (ROADMAP r14: ``remove_spans(granularity='bpe')``
    cannot reconstruct inter-piece whitespace from the pieces alone —
    but the original text is right there, so the faithful removal
    path is piece-span → char-range → drop the ranges from the raw
    string, preserving every byte outside them).

    Given ``exact_substring_spans(..., granularity='bpe')`` output
    (``doc_id, span_start, span_end, span_tokens`` in 1-based piece
    positions), returns one row per span with ``char_start`` /
    ``char_end`` (1-based inclusive character offsets): the start of
    the first piece through the end of the last piece, INCLUDING any
    whitespace between pieces inside the span (the region is verbatim
    by construction).

    Scale: spans are tiny (caps bound them upstream); the offset fold
    runs only on documents that HAVE spans (left-semi prune), one
    O(text) pass each; the only shuffle is the doc-keyed join."""
    flagged = df.join(
        spans.select(F.col("doc_id").alias("_sid")).distinct(),
        F.col(id_col) == F.col("_sid"),
        "left_semi",
    )
    toked = flagged.select(
        F.col(id_col).alias("_rid"), F.col(text_col).alias("_t")
    ).withColumn("_pieces", bpe_ish_tokens(F.col("_t")))
    offs = toked.select(
        "_rid",
        "_pieces",
        _bpe_piece_starts(F.col("_pieces"), F.col("_t")).alias("_starts"),
    )
    s_idx = (F.col("span_start") - 1).cast("int")
    e_idx = (F.col("span_end") - 1).cast("int")
    return (
        spans.join(offs, spans["doc_id"] == offs["_rid"])
        .select(
            "doc_id",
            "span_start",
            "span_end",
            F.get("_starts", s_idx).alias("char_start"),
            (
                F.get("_starts", e_idx)
                + F.length(F.get("_pieces", e_idx))
                - 1
            ).alias("char_end"),
        )
    )


def remove_char_ranges(
    df: DataFrame,
    ranges: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """APPLY character-range removal: drop the 1-based inclusive
    ``[char_start, char_end]`` ranges of ``ranges`` (doc_id,
    char_start, char_end — DISJOINT per doc, as produced by merged
    spans through ``bpe_spans_to_char_ranges``) from each document's
    raw text. Unlike token-level ``remove_spans`` this performs exact
    string surgery — all original whitespace and casing outside the
    removed ranges survives byte-for-byte.

    Plan shape: ranges pack into one sorted array per doc (tiny
    groupBy), left-join the corpus on the doc key, then a MAP-ONLY
    fold stitches the kept segments — docs with no ranges pass
    through via the empty-array coalesce. One shuffle (the pack
    join), one corpus pass.

    Returns (id_col, n_chars, n_chars_removed, cleaned_text)."""
    packed = ranges.groupBy(F.col("doc_id").alias("_sid")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("char_start").cast("int").alias("s"),
                    F.col("char_end").cast("int").alias("e"),
                )
            )
        ).alias("_rngs")
    )
    joined = (
        df.select(F.col(id_col), F.col(text_col).alias("_t"))
        .join(packed, F.col(id_col) == F.col("_sid"), "left")
        .withColumn(
            "_rp",
            F.coalesce(
                "_rngs", F.array().cast("array<struct<s int, e int>>")
            ),
        )
    )
    cleaned = F.aggregate(
        F.col("_rp"),
        F.struct(
            F.lit(1).cast("int").alias("cur"), F.lit("").alias("out")
        ),
        lambda acc, r: F.struct(
            (r["e"] + 1).cast("int").alias("cur"),
            F.concat(
                acc["out"],
                F.col("_t").substr(acc["cur"], r["s"] - acc["cur"]),
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"],
            F.col("_t").substr(
                acc["cur"], F.length("_t") - acc["cur"] + 1
            ),
        ),
    )
    n_removed = F.aggregate(
        F.col("_rp"),
        F.lit(0),
        lambda acc, r: acc + (r["e"] - r["s"] + 1),
    )
    return joined.select(
        F.col(id_col),
        F.length("_t").alias("n_chars"),
        n_removed.alias("n_chars_removed"),
        cleaned.alias("cleaned_text"),
    )
