"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are native Column algebra (JVM, whole-stage codegen):
regexp counting, split, md5 — no Python per row.  Each operator has an exact
ANSI-SQL twin used as the DuckDB oracle (see ``__spark_entry__.oracle_sql``),
so semantics are pinned down to the expression level.

Reference analog: PipeFlow's per-row ``Map``/``AddColumn`` lambdas
(``PipeFlow/PipeFlow.cs:252-268``) — here re-expressed as vectorized columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Stopword regexes per language (tiny deterministic n-gram-ish heuristic;
# word-boundary counts).  Same regex strings are used verbatim in the DuckDB
# oracle so both engines count identically.
LANG_PATTERNS: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is|you|that|it|for)\b",
    "es": r"\b(el|la|de|que|y|en|un|una|los|por)\b",
    "fr": r"\b(le|la|les|de|et|un|une|que|pour|dans)\b",
    "de": r"\b(der|die|das|und|ist|von|mit|den|nicht|ein)\b",
}

WHITESPACE = r"\s+"


def token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, WHITESPACE)))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-flavored token estimate: word-piece regex (letters runs, digit runs,
    single punctuation) — the classic pre-tokenizer split, countable JVM-side."""
    return F.regexp_count(col, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"))


def lang_hits(col: Column, lang: str) -> Column:
    return F.regexp_count(F.lower(col), F.lit(LANG_PATTERNS[lang]))


def lang_id(col: Column) -> Column:
    """Argmax of per-language stopword hits; ties break in the fixed order
    en > es > fr > de; no hits at all → 'und' (undetermined)."""
    en, es, fr, de = (lang_hits(col, l) for l in ("en", "es", "fr", "de"))
    best = F.greatest(en, es, fr, de)
    return (
        F.when(best == 0, F.lit("und"))
        .when(en == best, F.lit("en"))
        .when(es == best, F.lit("es"))
        .when(fr == best, F.lit("fr"))
        .otherwise(F.lit("de"))
    )


def quality_score(col: Column) -> Column:
    """Deterministic document-quality heuristic in [0, 1]:
    0.4·alpha_ratio + 0.3·stopword_presence + 0.2·length_norm + 0.1·(1 − punct_ratio).

    All terms are character/regexp counts — identical SQL exists for the oracle.
    """
    n_chars = F.length(col)
    safe = F.greatest(n_chars, F.lit(1))
    alpha_ratio = F.regexp_count(col, F.lit(r"[A-Za-z]")) / safe
    punct_ratio = F.regexp_count(col, F.lit(r"[^\sA-Za-z0-9]")) / safe
    toks = F.greatest(token_count(col), F.lit(1))
    stop_ratio = F.least(lang_hits(col, "en") / toks, F.lit(1.0))
    length_norm = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    return F.round(
        0.4 * alpha_ratio + 0.3 * stop_ratio + 0.2 * length_norm + 0.1 * (1 - punct_ratio), 6
    )


# DuckDB twin of :func:`quality_score`, unrounded: oracles that compare the
# score write ``round(…, 6)`` around it, as the Column form does.
QUALITY_SQL = """
      0.4 * (length(regexp_extract_all(text, '[A-Za-z]')) * 1.0 / greatest(length(text), 1))
    + 0.3 * least(length(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|you|that|it|for)\\b')) * 1.0
                  / greatest(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END, 1), 1.0)
    + 0.2 * least(length(text) / 500.0, 1.0)
    + 0.1 * (1 - length(regexp_extract_all(text, '[^\\sA-Za-z0-9]')) * 1.0 / greatest(length(text), 1))
"""


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting/dedupe: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), WHITESPACE, " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint = md5 of the normalized text (md5 is identical in
    Spark and DuckDB, so the oracle matches bit-for-bit)."""
    return F.md5(normalize_text(col))


def rolling_fingerprint(col: Column, window: int = 8) -> Column:
    """Winnowing-style rolling fingerprint: min over md5 hashes of
    character ``window``-grams of the normalized text.  Pure Column algebra
    (sequence → transform → array_min).

    NOTE: ``col`` should already be normalized (a materialized column, e.g.
    via :func:`add_rolling_fingerprint`) — higher-order ``transform`` lambdas
    evaluate interpreted per element, so an expensive subtree passed here
    would re-execute once per character position."""
    n = F.greatest(F.length(col) - window + 1, F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), n), lambda i: F.md5(col.substr(i, F.lit(window))))
    return F.array_min(grams)


def add_rolling_fingerprint(
    df: DataFrame, text_col: str = "text", out: str = "rolling_fp", window: int = 8
) -> DataFrame:
    """Two-step rolling fingerprint: normalize once into a real column, then
    roll over it (same per-row-tokenize-once pattern as
    :func:`..operators.dedupe.gram_table`)."""
    return (
        df.withColumn("__norm", normalize_text(F.col(text_col)))
        .withColumn(out, rolling_fingerprint(F.col("__norm"), window))
        .drop("__norm")
    )


# -- PII redaction -----------------------------------------------------------
#
# Ordered (pattern, token) rules; order matters (SSN before generic phone so
# ddd-dd-dddd is not half-eaten by a later rule).  Patterns are deliberately
# RE2-safe (no backreferences/lookaround) so the DuckDB oracle can run the
# exact same strings with the 'g' flag; Spark's regexp_replace is
# replace-all by default.
PII_RULES: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(col: Column) -> Column:
    """Chained regexp_replace over :data:`PII_RULES` — pure JVM Column
    algebra, one projection, no Python per row.  At 100 TB this is a
    map-only stage: no shuffle, pipelined into whatever scan feeds it."""
    out = col
    for pattern, token in PII_RULES:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(col: Column) -> list[Column]:
    """Per-rule match counts (pre-redaction), aliased ``n_email/n_ssn/
    n_phone/n_ip`` — the audit columns a redaction pipeline reports."""
    names = ("n_email", "n_ssn", "n_phone", "n_ip")
    return [
        F.regexp_count(col, F.lit(p)).alias(a) for (p, _), a in zip(PII_RULES, names, strict=True)
    ]


# -- intra-document repetition ----------------------------------------------


def repetition_score(toks: Column, n: int = 3) -> Column:
    """Fraction of repeated word ``n``-grams in a doc: ``1 − |distinct
    grams| / |grams|`` — the classic boilerplate/spam signal (high for
    "foo bar foo bar …" churn).  ``toks`` must be a materialized token-array
    column (tokenize once per row; HOF lambdas evaluate interpreted per
    element, see :func:`..operators.dedupe.gram_table`)."""
    k = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), k), lambda i: F.concat_ws(" ", F.slice(toks, i, n))
    )
    return F.round(1.0 - F.size(F.array_distinct(grams)) / F.size(grams), 6)


def add_repetition_score(
    df: DataFrame, text_col: str = "text", out: str = "rep_score", n: int = 3
) -> DataFrame:
    """Two-step projection: normalize+split into a real column, then score."""
    return (
        df.withColumn("__toks", F.split(normalize_text(F.col(text_col)), WHITESPACE))
        .withColumn(out, repetition_score(F.col("__toks"), n))
        .drop("__toks")
    )


def profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text profile: token counts, language, quality, fingerprint."""
    c = F.col(text_col)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        lang_id(c).alias("lang_pred"),
        quality_score(c).alias("quality"),
        fingerprint(c).alias("fp"),
    )


def tokens(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus token table: one row per (id, token), lower-cased whitespace
    tokenization (``split(trim(lower(text)), '\\s+')``) — the deterministic
    rule shared with the SQL oracles.  Map-only fan-out, no shuffle."""
    from ..session import spread

    df = spread(df)  # a small file scans as ONE partition; no-op at scale
    return df.select(
        id_col,
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), WHITESPACE)).alias("token"),
        # split(trim(''), '\s+') yields [''] — an empty/whitespace-only doc
        # must contribute ZERO tokens, not one phantom '' token polluting
        # vocab / IDF / logprob stats (same invariant word_count enforces)
    ).filter(F.col("token") != "")


def vocab_topk(
    df: DataFrame, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent tokens with counts —
    vocabulary building / tokenizer-training input.

    One hash shuffle (token groupBy with map-side partial aggregation over the
    exploded stream — partial counts shrink each task's output to its distinct
    tokens before the exchange) and a ``TakeOrderedAndProject`` top-k (no
    global sort materialization).  Ties pin on the token string so the result
    is a total order at any cluster size.
    """
    return (
        tokens(df, text_col, id_col)
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(k)
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", ndigits: int = 5
) -> DataFrame:
    """Per-document mean unigram log-probability under a unigram LM trained
    on the corpus itself — the classic cheap quality-filter proxy (docs of
    rare/garbled tokens score low, fluent boilerplate scores high); threshold
    or bucket downstream.

    Shape: ``avg(ln(cnt(token)/N)) = avg(ln cnt) - ln N``, so the per-token
    count comes from a ``count(*) OVER (PARTITION BY token)`` window — ONE
    shuffle on token, ONE scan — instead of a self-join against a separate
    unigram aggregate (which would scan twice and shuffle three times).  The
    corpus-total ``N`` is a 1-row aggregate cross-joined back (broadcast).
    The vocabulary is never collected or broadcast — it scales with the
    corpus, unlike an eval-set gram table (see ``decontaminate``).
    """
    from pyspark import StorageLevel

    # two aggregations reference the token stream (the window branch and the
    # corpus total) — persist it or the tokenize+explode scan runs twice
    # (same rationale as the dedupe gram tables; freed by clearCache)
    tok = tokens(df, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    w = Window.partitionBy("token")
    scored = tok.withColumn("cnt", F.count("*").over(w).cast("double"))
    total = tok.agg(F.count("*").cast("double").alias("_n"))
    return (
        scored.groupBy(id_col)
        .agg(
            F.avg(F.log("cnt")).alias("_avg_ln_cnt"),
            F.count("*").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.round(F.col("_avg_ln_cnt") - F.log("_n"), ndigits).alias("logprob"),
            "n_tokens",
        )
    )


def tfidf_topk_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 6,
) -> DataFrame:
    """Per-document top-``k`` terms by smoothed TF-IDF — keyword extraction /
    cheap topic signature for corpus triage and retrieval indexing.

    ``score = tf × (ln((N+1)/(df+1)) + 1)`` (sklearn-style smooth IDF; never
    negative, so single-doc corpora still rank).  Shape: token explode → ONE
    hash shuffle computing tf (groupBy doc,term) → term-partitioned window
    for df (second shuffle, on the already-aggregated (doc,term) table — far
    smaller than the token stream) → per-doc row_number top-k.  The doc
    count ``N`` is a 1-row broadcast.  No vocabulary ever reaches the driver.

    Ranking is on ``round(score, ndigits)`` with a term tie-break: rounding
    kills cross-engine last-ulp ``ln`` drift so the selection (and the SQL
    oracle twin) is a total order on any cluster size.
    """
    tf = (
        tokens(df, text_col, id_col)
        .groupBy(id_col, "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    n_docs = df.agg(F.countDistinct(id_col).cast("double").alias("_n_docs"))
    dfreq = F.count("*").over(Window.partitionBy("token")).cast("double")
    scored = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * (F.log((F.col("_n_docs") + 1) / (F.col("df") + 1)) + 1),
                ndigits,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(id_col, "token", F.col("_rn").alias("rank"), "score")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 6,
) -> DataFrame:
    """Okapi BM25 top-``k`` document retrieval for a bag-of-terms query —
    the lexical-search primitive next to the embedding ANN family
    (``similarity.py``): RAG retrieval, dedup candidate lookup, corpus triage.

    ``score(D,Q) = Σ_q idf(q) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))``
    with Lucene's non-negative idf ``ln(1 + (N−df+0.5)/(df+0.5))``.

    Scale shape (the query side never grows with the corpus):
    token explode → ONE hash shuffle to (doc,term) tf; doc length via a
    doc-partitioned window over that already-aggregated table (second
    shuffle, |tf| ≪ token stream); THEN the tiny literal ``IN`` query-term
    filter collapses it to O(docs containing a query term) — df window,
    scoring, and the final per-doc sum all run on that sliver.  Corpus stats
    (N, avgdl) are a 1-row broadcast.  Top-k plans as TakeOrderedAndProject
    (per-partition heads, no global sort).  No vocabulary, posting list, or
    doc-length table ever reaches the driver.

    Scores are ``round(·, ndigits)`` with a doc-id tie-break before the
    top-k cut, so the selection is a cross-engine total order (same trick as
    :func:`tfidf_topk_terms`).  Returns ``(id_col, matched, score)`` —
    ``matched`` = how many distinct query terms the doc contains.
    """
    from pyspark import StorageLevel

    terms = sorted(set(query_terms))
    # the (doc, term) tf table feeds BOTH the corpus stats aggregate and the
    # scoring chain — persist it so the full tokenize → explode → groupBy
    # corpus pass runs once, not twice (freed by clearCache)
    tf = (
        tokens(df, text_col, id_col)
        .groupBy(id_col, "token")
        .agg(F.count("*").cast("double").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dl = tf.withColumn("dl", F.sum("tf").over(Window.partitionBy(id_col)))
    stats = tf.agg(
        F.countDistinct(id_col).cast("double").alias("_n_docs"),
        (F.sum("tf") / F.countDistinct(id_col)).alias("_avgdl"),
    )
    hits = dl.filter(F.col("token").isin(terms))
    dfreq = F.count("*").over(Window.partitionBy("token")).cast("double")
    per_term = (
        hits.withColumn("df", dfreq)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_s",
            F.log(1 + (F.col("_n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * F.col("tf")
            * (k1 + 1)
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl"))),
        )
    )
    return (
        per_term.groupBy(id_col)
        .agg(
            F.count("*").alias("matched"),
            F.round(F.sum("_s"), ndigits).alias("score"),
        )
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def source_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 5,
) -> DataFrame:
    """Per-slice unigram KL divergence vs the whole corpus — the
    data-mixture drift monitor a pretraining pipeline alarms on (a source
    whose token distribution departs from the blend shifts the effective
    mixture even when its document share is constant).

    ``KL(P_s ‖ P) = Σ_t p_s(t) · ln(p_s(t) / p(t))`` computed exactly: every
    token of slice *s* appears in the corpus, so ``support(P_s) ⊆
    support(P)`` and no smoothing is needed.  Returns
    ``(group_col, n_tokens, kl)`` ordered by slice.

    Scale: one tokenize pass → ONE hash shuffle to (slice, token) counts —
    everything after runs on that vocabulary-sized table (token-partition
    window for corpus counts, slice groupBy for the sum); nothing
    corpus-sized re-shuffles and nothing reaches the driver.
    """
    from ..session import spread

    tok = (
        spread(df)
        .select(
            group_col,
            F.explode(F.split(F.trim(F.lower(F.col(text_col))), WHITESPACE)).alias(
                "token"
            ),
        )
        .filter(F.col("token") != "")
    )
    cst = tok.groupBy(group_col, "token").agg(
        F.count("*").cast("double").alias("cst")
    )
    # per-slice and corpus totals as broadcast aggregates, NOT global
    # windows: Window.partitionBy() would drag the whole vocabulary-sized
    # count table through one partition (the same trap bm25_topk's 1-row
    # stats broadcast avoids); the token-partitioned window is fine — it
    # keys on the shuffle already paid for
    w_tok = Window.partitionBy("token")
    per_slice = cst.groupBy(group_col).agg(F.sum("cst").alias("ns"))
    total = cst.agg(F.sum("cst").alias("n"))
    terms = (
        cst.withColumn("ct", F.sum("cst").over(w_tok))
        .join(F.broadcast(per_slice), group_col)
        .crossJoin(F.broadcast(total))
        .select(
            group_col,
            "cst",
            (
                (F.col("cst") / F.col("ns"))
                * F.log((F.col("cst") / F.col("ns")) / (F.col("ct") / F.col("n")))
            ).alias("term"),
        )
    )
    return (
        terms.groupBy(group_col)
        .agg(
            F.sum("cst").cast("bigint").alias("n_tokens"),
            F.round(F.sum("term"), ndigits).alias("kl"),
        )
        .orderBy(group_col)
    )
