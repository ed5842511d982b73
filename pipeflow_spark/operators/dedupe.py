"""Deduplication family for web-scale corpora.

Four tiers, cheapest first:

1. :func:`exact` — hash-groupBy on a normalized fingerprint (one shuffle,
   map-side partial agg; the 100 TB default).
2. :func:`ngram_jaccard_pairs` — exact n-gram Jaccard via an inverted-index
   self-join (posting-list equi-join, never all-pairs).
3. :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH bucketing, the
   sub-quadratic near-dup path; candidates verified with true Jaccard.
4. :func:`simhash` — 64-bit SimHash sketch (vectorized numpy pandas_udf).

Reference analog: PipeFlow only has whole-row ``Distinct`` and first-wins
``RemoveDuplicates(key)`` (``PipeFlow/Pipeline.cs:80-84``,
``PipeFlow/PipeFlow.cs:218-232``); near-dup detection is part of the
training-data extension surface.

Scale notes: every join here is an equi-join on a hash bucket (shuffle
hash-partitionable, AQE-skew-splittable); signatures are fixed-width arrays so
shuffle width is bounded; nothing collects to the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import fingerprint, normalize_text

# -- 1. exact ---------------------------------------------------------------


def exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedupe: one survivor (min id) per normalized-text fingerprint.

    Returns ``(doc_id, fp, dup_count)``.  Single hash-shuffle on the 128-bit
    fingerprint → uniform key distribution, no skew handling needed.
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .select(id_col, "fp", "dup_count")
    )


# -- shared: word n-gram shingles (pure Column algebra) ----------------------


def word_ngrams(text_col, n: int = 3):
    """Distinct word ``n``-grams of the normalized text as ``array<string>``.
    ``sequence → transform(slice → concat_ws) → array_distinct`` — JVM-side.

    NOTE: prefer :func:`gram_table` when building a grams column over a whole
    DataFrame.  Here the tokenization subtree is inlined into the
    higher-order ``transform`` lambda, and HOF lambdas evaluate interpreted
    per element — so normalize+split re-executes once per gram position
    (measured 2.6× slower than the two-step projection)."""
    toks = F.split(normalize_text(text_col), r"\s+")
    return _grams_of_toks(toks, n)


def _grams_of_toks(toks, n: int):
    k = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(grams)


def gram_table(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """``(id, grams)`` for every row, tokenizing **once** per row: the
    normalize+split lands in its own projection (a real column), so the
    per-element ``transform`` lambda slices an already-materialized array
    instead of re-running the regexp pipeline per gram position."""
    toked = df.select(
        F.col(id_col).alias("id"), F.split(normalize_text(F.col(text_col)), r"\s+").alias("__toks")
    )
    return toked.select("id", _grams_of_toks(F.col("__toks"), n).alias("grams"))


def gram_hash_table(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """``(id, ghs)``: distinct 64-bit ``n``-gram hashes per row, computed
    WITHOUT materializing gram strings — each token is ``xxhash64``-ed once,
    and a gram's key is ``xxhash64`` over its ``n`` token hashes (8 longs in,
    1 long out, all inside codegen).  Measured 5–9× faster than hashing
    ``concat_ws`` gram strings at sf0.1 (the string path allocates ~50 bytes
    per gram position; this path allocates nothing).

    Gram equality becomes token-sequence equality: tokens contain no
    whitespace (split on ``\\s+``), so the string form was bijective with the
    sequence anyway; a false match needs an xxhash64 collision (≈2⁻⁶⁴ per
    cross-side pair).  Short rows (< n tokens) hash their single truncated
    window — Spark's hash functions ignore the NULL ``element_at`` overruns,
    and both sides of any join use this same function, mirroring
    :func:`_grams_of_toks`'s single short gram.  Jaccard over these hash
    sets is value-identical to Jaccard over the string sets up to the same
    2⁻⁶⁴ collision odds — the brute-force string-gram oracles of
    `dedup_minhash_lsh` / `decontaminate_neardup` pin that equality
    empirically, which is why the verify paths consume this table rather
    than :func:`gram_table`'s string form."""
    toked = df.select(
        F.col(id_col).alias("id"), F.split(normalize_text(F.col(text_col)), r"\s+").alias("__toks")
    )
    th = toked.select("id", _token_hashes("__toks").alias("__th"))
    return th.select("id", F.array_distinct(_gram_hashes_of("__th", n)).alias("ghs"))


# The two hash kernels are SQL text, parsed in one call: a Python ``F.transform``
# lambda builds its expression tree through one driver→JVM call per node
# (the 8-gram kernel took 84-158 ms to build that way, 1-2 ms parsed, on a
# 4-vCPU host; the arrays are identical).


def _token_hashes(toks_col: str):
    """``xxhash64`` of every token of an ``array<string>`` column."""
    return F.expr(f"transform({toks_col}, t -> xxhash64(t))")


def _gram_hashes_of(th_col: str, n: int):
    """One ``xxhash64`` per ``n``-token window of a token-hash array.
    ``get`` (not ``element_at``): out-of-bounds reads on short rows must
    yield NULL (ignored by xxhash64), not an ANSI-mode index error."""
    window = ", ".join(f"get({th_col}, i + {j})" for j in range(n))
    return F.expr(
        f"transform(sequence(0, greatest(size({th_col}) - {n}, 0)), i -> xxhash64({window}))"
    )


def gram_hash_posting(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """``(id, gh)`` — :func:`gram_hash_table` pre-exploded, one row per
    distinct gram hash per doc.  NOT sugar: exploding must be fused into the
    same projection as the gram expression.  If callers explode the ``ghs``
    attribute themselves, Catalyst's ``InferFiltersFromGenerate`` (which
    fires only on cheap generator children like attributes) adds a
    ``size(ghs) > 0`` filter that predicate-pushdown then rewrites to the
    FULL gram expression below the upstream exchange — recomputing the whole
    tokenize→hash pipeline a second time, pre-shuffle, at scan parallelism
    (measured 33 s vs 0.8 s at sf0.1).  Explode-over-expression is skipped
    by that rule, keeping the gram build computed exactly once."""
    toked = df.select(
        F.col(id_col).alias("id"), F.split(normalize_text(F.col(text_col)), r"\s+").alias("__toks")
    )
    th = toked.select("id", _token_hashes("__toks").alias("__th"))
    return th.select(
        "id", F.explode(F.array_distinct(_gram_hashes_of("__th", n))).alias("gh")
    )


def dup_span_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Span-level duplication profile: per doc, what fraction of its distinct
    word ``n``-grams also appears in ≥ ``min_docs`` docs (itself included) —
    the cheap proxy for substring-level dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL'22: repeated *spans*
    harm models even when no whole document is a near-dup, so doc-tier
    dedupe alone — :func:`exact` / :func:`minhash_lsh_pairs` — misses them).
    A doc with ``dup_ratio`` near 1 is template boilerplate even if its exact
    fingerprint is unique.

    Output ``(id_col, n_grams, n_dup_grams, dup_ratio)``; ratio rounded to
    6 dp for cross-engine equality.

    Scale shape: grams travel as 8-byte ``xxhash64`` longs, never strings
    (:func:`gram_hash_posting` — membership/frequency is all this needs, and
    the long path measured 5–9× cheaper at sf0.1).  One hash aggregate on the
    gram key for document frequency, one equi-join of the posting list back
    to it (both sides partitioned on the same key, AQE-skew-splittable — hot
    boilerplate grams are exactly the skewed ones), one final aggregate on
    the doc id.  No all-pairs step anywhere: cost is O(total grams), not
    O(docs²), so the profile stays linear at corpus scale.

    Reference analog: none (PipeFlow stops at whole-row ``Distinct``,
    ``PipeFlow/Pipeline.cs:80-84``); training-data extension surface.
    """
    posting = gram_hash_posting(df, text_col, id_col, n)
    gram_df = posting.groupBy("gh").agg(F.count("*").alias("__nd"))
    return (
        posting.join(gram_df, "gh")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("__nd") >= min_docs).cast("long")).alias("n_dup_grams"),
            F.round(
                F.sum((F.col("__nd") >= min_docs).cast("long")) / F.count("*"), 6
            ).alias("dup_ratio"),
        )
        .withColumnRenamed("id", id_col)
    )


# -- shared: exact-Jaccard verification of candidate pairs --------------------


def _verify_jaccard(
    candidates: DataFrame,
    grams: DataFrame,
    threshold: float,
    grams_b: DataFrame | None = None,
    a_col: str = "id_a",
    b_col: str = "id_b",
    broadcast_b: bool = False,
) -> DataFrame:
    """Join candidate ``(a_col, b_col)`` pairs back to their full gram sets
    and keep pairs whose *exact* Jaccard ≥ threshold.  Output has no false
    positives regardless of how candidates were generated.  ``grams_b``
    supplies the b-side's own ``(id, grams)`` table for cross-corpus use
    (e.g. train-vs-eval decontamination; ``broadcast_b`` hints it when that
    side is benchmark-tiny); default is the self-join form."""
    gb_src = grams_b if grams_b is not None else grams
    ga = grams.select(F.col("id").alias(a_col), F.col("grams").alias("grams_a"))
    gb = gb_src.select(F.col("id").alias(b_col), F.col("grams").alias("grams_b"))
    if broadcast_b:
        gb = F.broadcast(gb)
    return (
        candidates.join(ga, a_col)
        .join(gb, b_col)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("grams_a", "grams_b"))
            / F.size(F.array_union("grams_a", "grams_b")),
        )
        # threshold on the raw ratio (as the oracles do); round only the output
        .filter(F.col("jaccard") >= threshold)
        .select(a_col, b_col, F.round("jaccard", 6).alias("jaccard"))
    )


# -- 2. exact n-gram Jaccard via prefix-filtered inverted index ----------------


def prefix_posting(grams: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filtered posting list ``(id, gram)`` from a
    ``(id, grams, n_grams)`` table.

    Global token order = (document frequency asc, gram) — rarest first.  Each
    doc indexes only its first ``n_grams − ceil(t·n_grams) + 1`` grams in that
    order; by the prefix-filtering principle (α = ⌈t·max(|A|,|B|)⌉ ≤ |A∩B|
    for any pair with Jaccard ≥ t) every qualifying pair still shares an
    indexed gram, while a ubiquitous gram sorts last everywhere and never
    enters a prefix — removing the quadratic posting group a naive inverted
    index builds for it.
    """
    from pyspark.sql import Window

    posting = grams.select("id", "n_grams", F.explode("grams").alias("gram"))
    df_counts = posting.groupBy("gram").agg(F.count("*").alias("gram_df"))
    w = Window.partitionBy("id").orderBy("gram_df", "gram")
    prefix_len = F.col("n_grams") - F.ceil(F.lit(threshold) * F.col("n_grams")) + 1
    return (
        posting.join(df_counts, "gram")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= prefix_len)
        .select("id", "gram")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All pairs with n-gram Jaccard ≥ threshold — posting-list self-join with
    **prefix filtering** (SSJoin/All-Pairs style), then exact verification.

    The scale-killer in a naive posting-list join is a ubiquitous gram (every
    doc contains "the …"): its posting group is quadratic.  Prefix filtering
    removes it *provably without false negatives*: order each doc's grams by a
    global total order (document frequency ascending, gram as tiebreak — the
    rarest-first order that minimizes candidates) and index only the first
    ``n_grams - ceil(t * n_grams) + 1`` grams.  Any pair with Jaccard ≥ t must
    share a gram inside both prefixes (pigeonhole on the global order), so the
    candidate set is a superset of the answer; a high-DF gram sits at the end
    of every doc's order and never enters a prefix at t = 0.8 (prefix ≈ 20% of
    grams).  Candidates are then verified with exact set Jaccard.

    Plan: one agg for DF, one shuffle join posting⋈DF, one per-doc window to
    rank, prefix self-equi-join on gram, exact verify.  Never |docs|².
    The gram and prefix tables stay persisted: the returned plan reads them.
    """
    return _ngram_jaccard_pairs(df, text_col, id_col, n, threshold)[0]


def _ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """:func:`ngram_jaccard_pairs` plus the tables it persisted, for callers
    that can release them once the pairs are consumed."""
    from pyspark import StorageLevel

    from ..session import spread

    # persist: grams feeds the posting list, both self-join sides, and the
    # verify join — see the note in minhash_lsh_pairs.  Gram sets are 64-bit
    # hashes (gram_hash_table), not strings: set equality/intersection over
    # longs is what every downstream step needs (posting equi-join, exact
    # Jaccard verify), the persist footprint shrinks ~6×, and prefix
    # filtering is order-agnostic (ANY global total order is recall-exact,
    # hashed or lexicographic).
    grams = (
        gram_hash_table(spread(df), text_col, id_col, n)
        .select("id", F.col("ghs").alias("grams"))
        .withColumn("n_grams", F.size("grams"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prefix = prefix_posting(grams, threshold).persist(StorageLevel.MEMORY_AND_DISK)
    a, b = prefix.alias("a"), prefix.alias("b")
    candidates = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(candidates, grams, threshold), (grams, prefix)


# -- 3. MinHash + banded LSH ---------------------------------------------------

_MINHASH_P = 2_147_483_647  # Mersenne prime 2^31 − 1


def _minhash_params(num_hashes: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic Carter–Wegman permutation params a·h + b mod p, a ∈ [1,p)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MINHASH_P, size=num_hashes, dtype=np.uint64)
    b = rng.integers(0, _MINHASH_P, size=num_hashes, dtype=np.uint64)
    return a, b


def minhash_band_keys_udf(num_hashes: int = 64, bands: int = 16, seed: int = 42):
    """Vectorized signature+banding kernel: ``array<bigint>`` gram hashes →
    ``array<bigint>`` of ``bands`` LSH band keys.

    The grams are hashed **once** JVM-side (``transform(grams, xxhash64)``,
    a single codegen pass over the array); the ``num_hashes`` Carter–Wegman
    permutations and the per-band fold are pure numpy integer math inside one
    Arrow batch: ``sig[s] = min((a_s · h + b_s) mod p)``, then each band of
    ``r = num_hashes/bands`` signature values folds FNV-style into one 64-bit
    key (salted with the band index so identical value-tuples in different
    bands never collide).  This replaces the round-1 shape (64 separate
    ``array_min(transform(...))`` columns = 64 codegen traversals of every
    gram array, re-inlined again per band by projection collapse) with one
    traversal + one Python eval node + a plain ``posexplode``.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    a, b = _minhash_params(num_hashes, seed)
    fnv = np.uint64(1099511628211)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _keys(gram_hashes: pd.Series) -> pd.Series:
        out = []
        for hs in gram_hashes:
            if hs is None or len(hs) == 0:
                sig = np.zeros(num_hashes, dtype=np.uint64)
            else:
                h = np.asarray(hs, dtype=np.int64).view(np.uint64) % np.uint64(_MINHASH_P)
                # a[:,None]*h + b fits uint64: factors < 2^31 → product < 2^62
                sig = (a[:, None] * h[None, :] + b[:, None]) % np.uint64(_MINHASH_P)
                sig = sig.min(axis=1)
            bandvals = sig.reshape(bands, r)
            keys = np.arange(bands, dtype=np.uint64)  # salt = band index
            for j in range(r):
                keys = (keys * fnv) ^ bandvals[:, j]
            out.append(keys.view(np.int64))
        return pd.Series(out)

    return _keys


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, verified with true
    Jaccard.

    rows = bands × r; a pair collides if any band signature matches —
    P(candidate) = 1 − (1 − j^r)^bands.  With 64/16 (r=4) the S-curve centers
    near j ≈ 0.5.  Candidates are then *verified* against the exact n-gram
    Jaccard, so output has no false positives.

    Scale: signature is 64×8 bytes/doc; band keys hash-shuffle uniformly; the
    bucket self-join only pairs docs sharing a band signature.
    The gram table stays persisted: the returned plan reads it.
    """
    return _minhash_lsh_pairs(df, text_col, id_col, n, num_hashes, bands, verify_threshold)[0]


def _minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: float = 0.5,
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """:func:`minhash_lsh_pairs` plus the table it persisted, for callers
    that can release it once the pairs are consumed."""
    from pyspark import StorageLevel

    from ..session import ensure_shipped, spread

    ensure_shipped(df.sparkSession)  # the signature pandas_udf runs on workers
    # Persist the gram sets: the banded self-join and the verify join each
    # reference them on both sides, and Spark has no common-subplan reuse
    # across independent join branches — without the persist, word_ngrams
    # recomputes ~5× per query.  MEMORY_AND_DISK: spills, never OOMs, and at
    # corpus scale this is exactly the "write grams to a temp table" pattern.
    # gram sets as 64-bit hashes: the signature kernel consumes hashes
    # anyway (it used to re-hash string grams JVM-side first), and the
    # verify join's exact Jaccard over long arrays is value-identical.
    # The band keys are a column of the persisted table, so the Python
    # kernel runs once per doc, not once per self-join side.
    keys_udf = minhash_band_keys_udf(num_hashes, bands)
    grams = (
        gram_hash_table(spread(df), text_col, id_col, n)
        .select("id", F.col("ghs").alias("grams"))
        .withColumn("bkeys", keys_udf(F.col("grams")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    banded = grams.select("id", F.posexplode("bkeys")).toDF("id", "band", "bkey")
    x, y = banded.alias("x"), banded.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(candidates, grams, verify_threshold), (grams,)


# -- 4. SimHash ----------------------------------------------------------------

_SIMHASH_SCHEMA = T.LongType()


@F.pandas_udf(_SIMHASH_SCHEMA)
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens — vectorized numpy inside an
    Arrow batch (the designated slow-path mechanism; no per-row Python at the
    Spark layer).  Token hash: first 8 bytes of md5 (stable across platforms,
    unlike Python's builtin ``hash``, and reproducible in the DuckDB oracle —
    which is why this stays md5 rather than a faster hash).  The md5 calls
    dominate the kernel, so unique-token hashes are memoized per Arrow batch:
    natural-language batches repeat most tokens thousands of times, making
    the cache hit rate ≈ the corpus' type/token ratio."""
    import hashlib

    cache: dict[str, int] = {}

    def tok_hash(tok: str) -> int:
        v = cache.get(tok)
        if v is None:
            v = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            cache[tok] = v
        return v

    out = np.zeros(len(texts), dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for i, t in enumerate(texts):
        toks = ("" if t is None else str(t)).lower().split()
        if not toks:
            continue
        hs = np.fromiter((tok_hash(tok) for tok in set(toks)), dtype=np.uint64)
        bits = ((hs[:, None] >> shifts) & 1).astype(np.int32)
        acc = (2 * bits - 1).sum(axis=0)
        out[i] = np.int64(((acc > 0).astype(np.uint64) << shifts).sum().astype(np.uint64).view(np.int64))
    return pd.Series(out)


def simhash_blocks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    blocks: int = 4,
) -> DataFrame:
    """Per-doc SimHash sketch exploded into pigeonhole blocks:
    ``(id, sk, blk, bval)`` — ``blocks`` rows per doc, ``bval`` the 64/blocks-
    bit slice at block index ``blk``.  The candidate-retrieval table both
    :func:`simhash_pairs` (batch self-join) and the streaming near-dup guard
    (batch-vs-store join, ``streaming/neardup.py``) equi-join on
    ``(blk, bval)``; any pair within Hamming ``< blocks`` must agree on at
    least one block."""
    from ..session import ensure_shipped, spread

    ensure_shipped(df.sparkSession)  # pandas_udf below needs the package on workers
    width = 64 // blocks
    sk = spread(df).select(F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sk"))
    mask = (1 << width) - 1
    return sk.select(
        "id",
        "sk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("blk"),
                        F.shiftrightunsigned("sk", bi * width).bitwiseAND(F.lit(mask)).alias("bval"),
                    )
                    for bi in range(blocks)
                ]
            )
        ).alias("b"),
    ).select("id", "sk", "b.blk", "b.bval")


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: split the 64-bit sketch into ``blocks`` 16-bit blocks;
    any pair within distance ``max_hamming < blocks`` agrees on ≥1 block →
    equi-join on (block_idx, block_value), then verify the true Hamming
    distance with ``bit_count(xor)`` JVM-side.
    """
    blocked = simhash_blocks(df, text_col, id_col, blocks)
    x, y = blocked.alias("x"), blocked.alias("y")
    return (
        x.join(
            y,
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(F.col("x.sk").bitwiseXOR(F.col("y.sk"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# -- 5. pairs → clusters → keep-list -----------------------------------------


def _ckpt(df: DataFrame, reliable: bool) -> DataFrame:
    """Per-round lineage truncation for iterative algorithms.

    ``reliable=False`` → ``localCheckpoint`` (executor-local blocks — fine on
    local mode / short loops, but an executor loss mid-loop kills the job
    because the recompute path is gone).  ``reliable=True`` →
    ``checkpoint()`` to the configured checkpoint dir (HDFS/S3 on a real
    cluster): each round's state survives executor loss, the right setting
    for long loops on a 1000-executor cluster."""
    if not reliable:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        raise ValueError(
            "reliable=True needs a checkpoint dir: call "
            "spark.sparkContext.setCheckpointDir('<hdfs/s3 path>') first "
            "(or pass checkpoint_dir= to connected_components)"
        )
    return df.checkpoint(eager=True)


def _two_rows(df: DataFrame, first, second, names=("s", "d")) -> DataFrame:
    """Each row of ``df`` as two rows with columns ``names``: the ``first``
    and the ``second`` tuple of Columns, from ONE read of ``df``.  The
    ``a.union(b)`` form over the same lazy ``df`` plans ``df`` twice (Spark
    has no common-subplan reuse across union branches), so a pair list built
    by joins and UDFs would run end to end once per branch."""
    rows = [F.struct(*[c.alias(n) for c, n in zip(cols, names)]) for cols in (first, second)]
    return df.select(F.explode(F.array(*rows)).alias("__r")).select(
        *[F.col(f"__r.{n}").alias(n) for n in names]
    )


def _alternating_star(edges: DataFrame, reliable: bool, max_rounds: int = 50) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): converges in O(log² n)
    rounds regardless of component diameter — the scale path for
    social-graph-shaped pair lists where min-label propagation's
    rounds-=-diameter bound blows up.

    Per round: two neighborhood-min aggregations + one set-equality check,
    all hash-partitioned on node id (no broadcast, no driver state beyond
    one boolean per round).

    * large-star: every node ``u`` links its *larger* neighbors to
      ``m = min(Γ(u) ∪ {u})`` — grows stars downward without breaking
      connectivity;
    * small-star: every node ``u`` links its *smaller-or-equal* neighbors
      (and itself) to ``m = min(Γ⁻(u) ∪ {u})`` — flattens chains.

    At the fixed point the edge set is exactly ``{(v, c(v))}`` with ``c(v)``
    the component minimum."""
    all_nodes = edges.select(F.col("s").alias("node")).distinct()
    E = (
        edges.filter(F.col("s") != F.col("d"))
        .select(F.least("s", "d").alias("u"), F.greatest("s", "d").alias("v"))
        .distinct()
    )
    E = _ckpt(E, reliable)
    for _ in range(max_rounds):
        # large-star over the symmetric neighborhood
        sym = _two_rows(E, (F.col("u"), F.col("v")), (F.col("v"), F.col("u")), ("u", "v"))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient max→min, relink small neighbors and self to min
        o = large.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mn = o.groupBy("u").agg(F.min("v").alias("m"))
        joined = o.join(mn, "u")
        small = (
            _two_rows(joined, (F.col("v"), F.col("m")), (F.col("u"), F.col("m")), ("a", "b"))
            .filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
        )
        new_E = _ckpt(small, reliable)
        if new_E.exceptAll(E).unionAll(E.exceptAll(new_E)).limit(1).count() == 0:
            E = new_E
            break
        E = new_E
    labels = E.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = all_nodes.join(labels, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return labels.union(roots)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    reliable: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster near-dup pairs: ``(node, component)`` for every node in the
    edge list, where ``component`` is the smallest node id reachable from it.

    The missing last step of every dedupe tier above — pair lists don't dedupe
    a corpus; the keep/drop decision needs the transitive closure (A~B, B~C ⇒
    one cluster {A,B,C}, keep min).

    Iterative min-label propagation, all DataFrame ops:

    * the symmetric edge list (every pair in both directions, distinct) is
      built from ONE read of ``pairs`` and checkpointed, so the pair plan
      runs exactly once and callers need not persist it;
    * labels start one hop in, as ``node → min(node, min neighbor id)``:
      one aggregate over the edge list, checkpointed (the "hook" step of
      MapReduce connected-components algorithms — Rastogi et al., ICDE'13
      — and exactly what a first round from ``node → node`` would compute);
    * each round every node takes ``min(own label, min over neighbors'
      labels)`` via one equi-join of edges to labels + one hash aggregate,
      left-joined back onto the labels and checkpointed;
    * stop when a round changes nothing (driver-side count per round — a
      scalar, not a collect of data).

    Rounds to converge = hops from a cluster's min id to its farthest
    member (at most the diameter): all but the last change a label, the
    last confirms.  Pairs and stars around their min id — the common
    near-dup shapes — converge in the one confirming round; template
    families stay shallow (diameter ≲ 5), so the loop is a handful of
    bounded shuffles.  If propagation has NOT converged after ``max_iter``
    rounds (deep chains / social-graph-shaped inputs), it falls back to
    alternating large-star/small-star (:func:`_alternating_star`), which
    converges in O(log² n) rounds regardless of diameter — so the result is
    always the true transitive closure, never a truncated one.

    Durability: ``reliable=False`` truncates lineage with ``localCheckpoint``
    (right for local mode); on a real cluster pass ``reliable=True`` (+
    ``checkpoint_dir`` if not already configured) so per-round state uses
    reliable ``checkpoint()`` storage and survives executor loss.
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    edges = _ckpt(
        _two_rows(pairs, (F.col(src), F.col(dst)), (F.col(dst), F.col(src))).distinct(),
        reliable,
    )
    labels = _ckpt(
        edges.groupBy("s").agg(F.least(F.col("s"), F.min("d")).alias("comp"))
        .withColumnRenamed("s", "node"),
        reliable,
    )

    converged = False
    for _ in range(max_iter):
        # min label among each node's neighbors (one shuffle join + one agg)
        neighbor_min = (
            edges.join(labels, edges.d == labels.node)
            .groupBy("s")
            .agg(F.min("comp").alias("ncomp"))
        )
        new_labels = _ckpt(
            labels.join(neighbor_min, labels.node == neighbor_min.s, "left")
            .select(
                "node",
                F.least("comp", F.coalesce("ncomp", F.col("comp"))).alias("comp"),
                (F.col("ncomp").isNotNull() & (F.col("ncomp") < F.col("comp"))).alias("_chg"),
            ),
            reliable,
        )
        changed = new_labels.filter("_chg").count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            converged = True
            break

    if not converged:
        return _alternating_star(edges, reliable)
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def keep_list(components: DataFrame) -> DataFrame:
    """Canonical keep/drop decision per clustered doc: keep the smallest id of
    each component, drop the rest.  ``(node, component, keep)``."""
    return components.select(
        "node", "component", (F.col("node") == F.col("component")).alias("keep")
    )


def keep_best(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "q",
) -> DataFrame:
    """Quality-aware keep/drop: instead of :func:`keep_list`'s min-id
    convention, keep each cluster's HIGHEST-``score_col`` member (ties →
    smallest id, so the decision stays deterministic).  This is what a
    curation pipeline actually wants — near-dup clusters usually contain one
    clean original and N mangled copies, and min-id keeps whichever was
    crawled first, not whichever is cleanest.

    ``scores``: ``(id_col, score_col)`` one row per doc.  Nodes MISSING from
    ``scores`` still get a decision (LEFT join, NULL scores rank last): an
    inner join would silently erase them from the output, and the caller's
    keep==False anti-join would then retain every unscored duplicate.  A
    fully unscored cluster keeps exactly its smallest id.  Cost: one hash
    join on the node id plus one window over ``component`` — both shuffles
    are cluster-membership-sized (nodes that appear in ≥1 near-dup pair),
    not corpus-sized.  Output ``(node, component, score, keep)``.
    """
    from pyspark.sql import Window

    joined = components.join(
        scores.select(F.col(id_col).alias("node"), F.col(score_col).alias("__score")),
        "node",
        "left",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__score").desc_nulls_last(), F.col("node")
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .select(
            "node",
            "component",
            F.col("__score").alias(score_col),
            (F.col("__rn") == 1).alias("keep"),
        )
    )


# -- ExactSubstr-style span dedup: find + remove duplicated substrings -------


def gram_hash_positions(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """``(id, pos, gh)`` — one row per gram POSITION (no ``array_distinct``):
    the positional twin of :func:`gram_hash_posting`, for operators that need
    to know *where* in the document a gram occurs, not just that it does.
    Rows shorter than ``n`` tokens are dropped (they have no full window; the
    truncated-window convention of :func:`gram_hash_table` would fabricate an
    ``n``-token span where fewer tokens exist).  Same fusion rule as
    :func:`gram_hash_posting`: the generator runs over the gram EXPRESSION so
    ``InferFiltersFromGenerate`` cannot clone the tokenize→hash pipeline
    below the upstream exchange."""
    toked = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(F.col(text_col)), r"\s+").alias("__toks"),
    ).filter(F.size("__toks") >= n)
    th = toked.select("id", _token_hashes("__toks").alias("__th"))
    return th.select("id", F.posexplode(_gram_hashes_of("__th", n)).alias("pos", "gh"))


def exact_substr_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 12,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated substrings, ExactSubstr-style (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL'22 §3.1):
    every token span of ``min_len`` words that occurs ≥ ``min_count`` times
    in the WHOLE corpus (same-document repeats count — boilerplate repeats
    within one page are exactly the target) is a duplicated seed; seeds
    whose windows overlap or touch (``pos - prev_pos <= min_len``) merge
    into one maximal span.  Unlike :func:`dup_span_profile` (a per-doc
    ratio), this returns the actual spans, positioned, so callers can cut
    them out of the text (:func:`remove_dup_spans`).

    Output ``(id_col, span_start, span_end, span_len, n_dup_grams)`` — token
    positions, 0-based inclusive, ordered within doc.

    Scale shape: the suffix-array machinery of the paper is replaced by the
    gram-frequency equivalent for fixed ``min_len`` — positional gram hashes
    (8-byte longs, :func:`gram_hash_positions`), one corpus-wide hash
    aggregate on the gram key for occurrence counts, one equi-join of the
    posting back to the hot grams (both sides hash-partitioned on ``gh``;
    hot boilerplate grams are the skewed ones and AQE splits them), then one
    window per doc to merge islands.  Everything is O(total tokens), no
    all-pairs, no global sort — the plan a 100 TB corpus needs.  The posting
    subtree feeds both aggregate and join sides; at cluster scale persist it
    (``df.persist()``) before calling if the double gram build dominates.

    Reference analog: none (PipeFlow stops at whole-row ``Distinct``,
    ``PipeFlow/Pipeline.cs:80-84``); training-data extension surface.
    """
    posting = gram_hash_positions(df, text_col, id_col, min_len)
    hot = (
        posting.groupBy("gh")
        .agg(F.count("*").alias("__occ"))
        .filter(F.col("__occ") >= min_count)
        .select("gh")
    )
    dup = posting.join(hot, "gh").select("id", "pos")
    return spans_from_dup_positions(dup, min_len, id_col)


def spans_from_dup_positions(
    dup: DataFrame, min_len: int, id_col: str = "doc_id"
) -> DataFrame:
    """Island-merge duplicated gram seed positions ``(id, pos)`` into maximal
    spans (overlap-or-touch: ``pos - prev <= min_len``).  Shared by the batch
    :func:`exact_substr_spans` and the streaming span guard — one window per
    doc, no other shuffle."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    isl = (
        dup.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__new",
            (F.col("__prev").isNull() | (F.col("pos") - F.col("__prev") > min_len))
            .cast("long"),
        )
        .withColumn("__island", F.sum("__new").over(w))
    )
    return (
        isl.groupBy("id", "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + min_len - 1).cast("int").alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("span_start").cast("int").alias("span_start"),
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).cast("int").alias("span_len"),
            "n_dup_grams",
        )
    )


def remove_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 12,
    min_count: int = 2,
) -> DataFrame:
    """Cut every :func:`exact_substr_spans` span out of the text — the
    second half of ExactSubstr dedup (the paper deletes the duplicated
    bytes, keeping the unique remainder, rather than dropping whole docs).

    Output ``(id_col, n_tokens, n_removed, clean_text)`` for every non-empty
    doc; ``clean_text`` is the normalized token stream minus all covered
    positions (empty string when the whole doc was duplicated).  Docs with
    no spans pass through with ``n_removed = 0``.

    Scale shape: spans collapse to one ``array<struct>`` row per affected
    doc (bounded: spans per doc ≤ tokens/min_len), LEFT-joined back on the
    id — a doc-keyed hash join, corpus-sized but 1:≤1.  The cut itself is a
    nested higher-order filter (position ∉ any span) entirely inside
    codegen; no Python, no explode of the token stream.
    """
    spans = exact_substr_spans(df, text_col, id_col, min_len, min_count)
    return cut_spans(df, spans, text_col, id_col)


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every ``spans`` interval from each doc's token stream (the
    codegen-only higher-order cut described in :func:`remove_dup_spans`;
    shared with the streaming span guard).  Output
    ``(id_col, n_tokens, n_removed, clean_text)`` for every non-empty doc."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toked = df.select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), r"\s+").alias("__toks"),
    ).filter(F.length(F.trim(text_col)) > 0)
    joined = toked.join(per_doc, id_col, "left")
    kept = F.when(
        F.col("__spans").isNull(), F.col("__toks")
    ).otherwise(
        F.filter(
            "__toks",
            lambda t, i: ~F.exists(
                "__spans",
                lambda sp: (i >= sp["span_start"]) & (i <= sp["span_end"]),
            ),
        )
    )
    return joined.select(
        F.col(id_col),
        F.size("__toks").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("int").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )
