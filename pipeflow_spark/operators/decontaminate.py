"""Benchmark decontamination: flag training documents that share word
n-grams with a (much smaller) evaluation/benchmark corpus.

The standard LLM-training hygiene step (GPT-3 appendix-C style n-gram
overlap): any training doc containing an 8-gram that also appears in an eval
document is contaminated and must be dropped or audited before training.

Scale shape — this is the part that matters at 100 TB:

* the eval side is tiny (benchmarks are MBs, the corpus is TBs), so its
  distinct-gram set is **broadcast**; the corpus side is a map-only
  explode → broadcast-hash semi-join — the 100 TB scan never shuffles;
* gram posting lists stay ``(id, gram)`` pairs only as long as the join
  needs them; the output is one row per contaminated doc;
* counts are per-doc ``count(*)`` over the broadcast join output — a single
  hash aggregation keyed on doc id (uniform, no skew handling needed).

Reference analog: PipeFlow has no decontamination surface; nearest is the
``Filter``/``RemoveDuplicates`` composition (``PipeFlow/Pipeline.cs:60-84``).
This is part of the training-data extension surface mandated by the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedupe import gram_hash_posting


def eval_gram_hashes(
    eval_df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """Distinct 64-bit ``n``-gram hashes of the eval corpus as ``(gh)`` —
    the broadcast side.  Built via :func:`..operators.dedupe.gram_hash_posting`
    (token-hash combine, no gram-string materialization — 5–9× faster than
    hashing string grams, explode fused against the InferFiltersFromGenerate
    double-compute trap)."""
    from ..session import spread

    return gram_hash_posting(spread(eval_df), text_col, id_col, n=n).select("gh").distinct()


def contaminated_docs(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """``(doc_id, shared_grams)`` for every training doc sharing ≥1 distinct
    word ``n``-gram with any eval doc.  ``shared_grams`` counts *distinct*
    overlapping grams (gram_table already dedupes per doc).

    Both sides join on 64-bit gram hashes instead of the ~n·6-byte gram
    string: the broadcast table and the corpus-side probe keys are 8 bytes
    each, string equality becomes long equality in codegen, and the hash is
    computed token-wise (:func:`..operators.dedupe.gram_hash_table`) so no
    gram string is ever materialized.  A collision would need two distinct
    grams at the same 64-bit hash *with one on each side* —
    ≈ |eval|·|corpus| / 2⁶⁴, vanishing at any real eval-set size."""
    from ..session import spread

    evset = eval_gram_hashes(eval_df, text_col, id_col, n=n)
    posting = gram_hash_posting(spread(train_df), text_col, id_col, n=n).select(
        F.col("id").alias(id_col), "gh"
    )
    return (
        posting.join(F.broadcast(evset), "gh")
        .groupBy(id_col)
        .agg(F.count("*").alias("shared_grams"))
    )


def contamination_report(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    n: int = 8,
) -> DataFrame:
    """Provenance form: ``(doc_id, eval_id, shared_grams)`` — WHICH eval
    document each contaminated training doc overlaps, and by how many
    distinct ``n``-grams.  ``contaminated_docs`` answers *drop or keep*;
    this answers the audit question that follows every hit ("is this a
    benchmark leak or a quoted passage, and from which benchmark?").

    Scale shape is unchanged from :func:`contaminated_docs`: the broadcast
    side grows from the distinct eval gram set to distinct ``(eval_id,
    gram)`` pairs — still eval-corpus-sized, i.e. MBs against a TB corpus —
    and the corpus side stays a map-only explode + broadcast join.  The
    only new shuffle is the final hash agg keyed on ``(doc_id, eval_id)``,
    whose input is the (tiny) match set, not the corpus."""
    from ..session import spread

    ev_pairs = (
        gram_hash_posting(spread(eval_df), text_col, id_col, n=n)
        .select(F.col("id").alias(eval_id_col), "gh")
        .distinct()
    )
    posting = gram_hash_posting(spread(train_df), text_col, id_col, n=n).select(
        F.col("id").alias(id_col), "gh"
    )
    return (
        posting.join(F.broadcast(ev_pairs), "gh")
        .groupBy(id_col, eval_id_col)
        .agg(F.count("*").alias("shared_grams"))
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """The filtering form: training docs with ZERO eval overlap (left-anti
    join on the contaminated id set).

    Unlike the eval-gram set — tiny by construction — the contaminated-id
    set scales with how dirty the corpus is (millions of ids are possible at
    100 TB), so it is NOT force-broadcast: AQE sizes the anti join at
    runtime and broadcasts only when the set actually fits the threshold,
    falling back to a shuffled anti join keyed on ``id_col`` otherwise."""
    bad = contaminated_docs(train_df, eval_df, text_col, id_col, n=n).select(id_col)
    return train_df.join(bad, id_col, "left_anti")


def neardup_contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Fuzzy decontamination: training documents NEAR-DUPLICATE to an eval
    document (exact n-gram Jaccard ≥ ``threshold``), found via banded
    MinHash against the eval side — catches paraphrased / lightly-edited
    benchmark leakage that exact 8-gram overlap (:func:`contaminated_docs`)
    misses, the fuzzy tier of the GPT-3-style decontamination ladder.

    Scale shape: the eval side is tiny, so its gram sets AND its band table
    are **broadcast** — the corpus side is one map-only signature pass
    (Arrow kernel, 64×8 B per doc) joined against the broadcast band table;
    only colliding (train, eval) candidates proceed to the exact-Jaccard
    verify, which re-reads just the candidates' gram sets.  The 100 TB scan
    never shuffles on its own key.  Banding r=2 (64 hashes / 32 bands)
    centers the S-curve low: candidate recall at j = 0.5 is
    1 − (1 − 0.5²)³² ≈ 1 − 6·10⁻⁷, and the verify step makes false
    positives impossible — the approximation is recall-only, like every
    member of the dedupe family.

    Output: ``(id_col, eval_id_col, jaccard)`` — one row per contaminated
    (train, eval) pair with the exact rounded Jaccard.
    """
    from pyspark import StorageLevel

    from ..session import ensure_shipped, spread
    from .dedupe import _ckpt, _verify_jaccard, gram_hash_table, minhash_band_keys_udf

    ensure_shipped(train_df.sparkSession)
    keys_udf = minhash_band_keys_udf(num_hashes, bands)
    ev = gram_hash_table(spread(eval_df), text_col, id_col, n).select(
        "id", F.col("ghs").alias("grams")
    )
    ev_banded = ev.select(
        F.col("id").alias(eval_id_col), F.posexplode(keys_udf(F.col("grams")))
    ).toDF(eval_id_col, "band", "bkey")
    # the train gram table feeds both the band pass and the verify join —
    # persisted for the same reason as minhash_lsh_pairs: Spark has no
    # common-subplan reuse across join branches, and at corpus scale this
    # is the "write grams to a temp table" pattern (MEMORY_AND_DISK spills
    # rather than OOMs).  It is released before returning, once the
    # verified pairs are checkpointed.
    tr = (
        gram_hash_table(spread(train_df), text_col, id_col, n)
        .select("id", F.col("ghs").alias("grams"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tr_banded = tr.select(
        F.col("id").alias(id_col), F.posexplode(keys_udf(F.col("grams")))
    ).toDF(id_col, "band", "bkey")
    cand = (
        tr_banded.join(F.broadcast(ev_banded), ["band", "bkey"])
        .select(id_col, eval_id_col)
        .distinct()
    )
    # shared exact-verify (dedupe._verify_jaccard): zero false positives by
    # construction; eval side broadcast (benchmark-tiny).  The verified pairs
    # are contaminated-doc-sized, so checkpointing them is cheap.
    pairs = _ckpt(
        _verify_jaccard(
            cand, tr, threshold,
            grams_b=ev, a_col=id_col, b_col=eval_id_col, broadcast_b=True,
        ),
        reliable=False,
    )
    tr.unpersist()
    return pairs
