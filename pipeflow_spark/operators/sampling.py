"""Deterministic sampling, split, mixture, and sequence-packing operators for
training-data pipelines.

Everything here is **hash-deterministic**: the same row always lands in the
same split/bucket regardless of cluster size, partitioning, or run count —
the property a reproducible 100 TB data pipeline needs (Spark's
``sample``/``sampleBy`` are seed-deterministic only under a fixed partition
layout, which a growing corpus never keeps).  The bucket function is
``md5`` (bit-identical in DuckDB), so every operator has an exact SQL twin.

Scale notes:

* split/mixture are map-only filters — no shuffle, pipelined into the scan;
* :func:`pack_sequences` is the GPT-style concatenate-and-chunk packing:
  a *global* running sum would serialize on one sort, so packing runs per
  deterministic shard (``id % shards``) — each shard's window sort is
  independent and parallel, sequence ids are unique per (shard, seq).

Reference analog: PipeFlow has no sampling surface; nearest is ``Filter``
(``PipeFlow/Pipeline.cs:60-64``).  Training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 100


def hash_bucket(col: Column, buckets: int = BUCKETS) -> Column:
    """Deterministic bucket in ``[0, buckets)``: first 8 hex chars of
    ``md5(string(col))`` mod buckets.  Pure Column algebra; identical to
    DuckDB's ``('0x' || substr(md5(col::VARCHAR), 1, 8))::BIGINT % buckets``."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")
    return h % buckets


def hash_bucket_sql(expr: str, buckets: int = BUCKETS) -> str:
    """The DuckDB twin of :func:`hash_bucket`, as a SQL fragment."""
    return f"(('0x' || substr(md5(({expr})::VARCHAR), 1, 8))::BIGINT % {buckets})"


def add_split(
    df: DataFrame, id_col: str = "doc_id", val_pct: int = 10, test_pct: int = 0
) -> DataFrame:
    """Reproducible train/val(/test) split by id hash: bucket < val_pct →
    ``val``, next ``test_pct`` buckets → ``test``, rest → ``train``."""
    b = hash_bucket(F.col(id_col))
    split = (
        F.when(b < val_pct, F.lit("val"))
        .when(b < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def mixture_filter(
    df: DataFrame, source_col: str, rates: dict[str, float], id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic source-mixture downsampling: keep a row iff
    ``hash_bucket(id) < rate[source] * 100``.  Unlisted sources are dropped
    (rate 0).  Map-only; the mixture is stable under reruns and re-partitioning
    so downstream epochs see the same corpus."""
    b = hash_bucket(F.col(id_col))
    rate = F.lit(0.0)
    for src, r in rates.items():
        rate = F.when(F.col(source_col) == src, F.lit(float(r))).otherwise(rate)
    return df.filter(b < rate * BUCKETS)


def pack_sequences(
    df: DataFrame,
    token_col: str,
    id_col: str = "doc_id",
    budget: int = 2048,
    shards: int = 32,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: documents are laid out in a
    deterministic order (shard = ``id % shards``, then id), and each doc is
    assigned the training sequence (``seq_id``) and intra-sequence
    ``offset`` where its first token lands, for a fixed ``budget`` tokens
    per packed sequence.  Docs straddling a boundary continue into the next
    sequence — exactly GPT-style packing where documents are split across
    training windows.

    Two-level parallelism: the window sort runs per shard (no global sort);
    ``seq_id`` is globally unique via ``shard * ceil(shard_tokens/budget)``
    name-spacing — here simply ``(shard, seq_in_shard)`` kept as columns.

    Sharding is type-aware: numeric ids take ``pmod(id, shards)`` (cheap,
    oracle-friendly); string ids take ``pmod(xxhash64(id), shards)`` — a
    plain ``%`` on a string casts to NULL row-by-row, silently collapsing
    the whole corpus into one NULL shard (a serialized sort AND wrong
    layout).  Any other id type raises at build time.
    """
    id_type = dict(df.dtypes).get(id_col)
    if id_type in ("string",):
        shard = F.pmod(F.xxhash64(id_col), F.lit(shards)).cast("int")
    elif id_type in ("tinyint", "smallint", "int", "bigint"):
        shard = F.pmod(F.col(id_col), F.lit(shards)).cast("int")
    else:
        raise TypeError(
            f"pack_sequences id column {id_col!r} has type {id_type!r}; "
            "need an integer or string id to shard deterministically"
        )
    w = Window.partitionBy("shard").orderBy(id_col)
    cum_excl = F.sum(token_col).over(w) - F.col(token_col)
    return (
        df.withColumn("shard", shard)
        .withColumn("start_tok", cum_excl.cast("bigint"))
        .withColumn("seq_in_shard", (F.col("start_tok") / budget).cast("bigint"))
        .withColumn("offset", (F.col("start_tok") % budget).cast("bigint"))
    )


def hash_uniform(col: Column) -> Column:
    """Deterministic uniform in ``(0, 1]`` from ``md5(string(col))``: first 8
    hex chars → 32-bit int → ``(h + 1) / 2^32``.  Pure Column algebra with an
    exact DuckDB twin (same digits, same arithmetic)."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("double")
    return (h + F.lit(1.0)) / F.lit(4294967296.0)


def stratified_sample_topk(
    df: DataFrame, strata_cols: list[str], k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Exactly ``k`` rows per stratum, hash-deterministic: rank rows inside
    each stratum by ``md5(id)`` (a fixed pseudo-random order independent of
    partitioning/cluster size) and keep ``row_number <= k``.

    Scale: ONE shuffle on the strata columns; per-stratum sort is local to
    its hash partition.  Hot strata are bounded by ``k`` on output, and the
    rank is a streaming window (no buffering beyond the sort).  This is the
    per-group twin of ``uniform_sample_topk`` — use it to cap any one
    source/language/domain's contribution to a corpus."""
    order = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(*strata_cols).orderBy(order, id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def weighted_sample_topk(
    df: DataFrame, weight_col: str | Column, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Weighted sampling without replacement, deterministic (Efraimidis &
    Spirakis 2006): each row draws ``u = hash_uniform(id)`` and gets key
    ``-ln(u) / w``; the ``k`` smallest keys are exactly a weight-proportional
    sample without replacement.  Because ``u`` is hash-derived, the sample
    is reproducible across runs, partitionings, and cluster sizes — and has
    an exact SQL twin (same formula on the same md5 digits).

    Scale: map-side key computation + ``TakeOrderedAndProject`` top-k — no
    global sort, no shuffle beyond the k-row reduction.  Use it to sample a
    corpus proportional to a quality score without materializing epochs.

    Rows with weight <= 0 are dropped (zero mass), mirroring the math."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    key = -F.log(hash_uniform(F.col(id_col))) / w
    return (
        df.filter(w > 0)
        .withColumn("_es_key", key)
        .orderBy(F.col("_es_key").asc(), F.col(id_col).asc())
        .limit(k)
        .drop("_es_key")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    standard pretraining prep for documents longer than the model context.

    Chunk ``i`` covers whitespace tokens ``[i*step, i*step + max_tokens)``
    with ``step = max_tokens - overlap``; the number of chunks is
    ``1 if n <= max_tokens else 1 + ceil((n - max_tokens) / step)`` so the
    final (possibly shorter) chunk always reaches the end of the document.
    Tokenization is ``split(trim(text), '\\s+')`` — the same deterministic
    rule as :mod:`..operators.text`, bit-identical in the SQL oracle.

    Scale: map-only modulo the row fan-out — tokenize → ``explode(sequence)``
    → ``slice`` are all JVM Column algebra pipelined into the scan; no
    shuffle, no Python, output partitioning inherits the scan (a 100 TB
    corpus chunks embarrassingly parallel).  The token array is materialized
    ONCE per row before the explode (higher-order re-evaluation trap — see
    ``dedupe.gram_table``).

    Output: one row per chunk with ``(id_col, chunk_idx, chunk_text,
    n_tokens)``.

    Reference analog: PipeFlow's ``SelectMany`` row fan-out
    (``PipeFlow/PipeFlow.cs:283-300``), specialized to token windows.
    """
    from ..session import spread

    if not 0 <= overlap < max_tokens:
        raise ValueError(f"need 0 <= overlap < max_tokens, got {overlap=} {max_tokens=}")
    df = spread(df)  # a small file scans as ONE partition; no-op at scale
    step = max_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(F.col("_toks"))
    n_chunks = F.when(n <= max_tokens, F.lit(1)).otherwise(
        (F.lit(1) + F.ceil((n - F.lit(max_tokens)).cast("double") / F.lit(step))).cast("int")
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_idx") * step + 1, max_tokens)
    return (
        df.withColumn("_toks", toks)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
            "_toks",
        )
        .withColumn("_chunk", chunk)
        .select(
            id_col,
            "chunk_idx",
            F.array_join(F.col("_chunk"), " ").alias("chunk_text"),
            F.size(F.col("_chunk")).alias("n_tokens"),
        )
    )


def assign_range_shards(
    df: DataFrame,
    key_cols: str | list[str],
    boundaries: list,
) -> DataFrame:
    """Add a 1-based ``shard`` column from EXPLICIT range boundaries over the
    first key column: ``shard = 1 + #{b in boundaries : key > b}`` (keys
    equal to a boundary stay in the lower shard).  ``len(boundaries) + 1``
    shards.  Deterministic by construction — unlike ``repartitionByRange``,
    whose sampled split points vary with partition layout — so shard
    membership is stable across cluster sizes and reruns, and has an exact
    SQL twin (a CASE/sum over the same literals).

    Boundaries come from the caller: profile once (``approx_percentile`` at
    corpus scale, exact percentiles at test scale), pin the literals, reuse
    them for every incremental write — the Iceberg-style "sort order lives
    in table metadata" discipline.  Map-only projection, no shuffle.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    k = F.col(keys[0])
    shard = F.lit(1)
    for b in boundaries:
        shard = shard + (k > F.lit(b)).cast("int")
    return df.withColumn("shard", shard)


def write_sorted_shards(
    df: DataFrame,
    path: str,
    key_cols: str | list[str],
    num_shards: int | None = None,
    boundaries: list | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a GLOBALLY range-sorted corpus as ``shard=N`` directories: rows
    are range-partitioned on ``key_cols`` and sorted within each shard, so
    ``shard=1..K`` read in order is a total sort — the training-shard layout
    (curriculum order, length-grouped batching) without any single-node
    sort.

    Two boundary modes: ``boundaries=[...]`` uses
    :func:`assign_range_shards` (deterministic, reproducible shard
    membership; one hash-shuffle on ``shard``); ``num_shards=K`` uses
    ``repartitionByRange`` (Spark samples split points — the zero-ceremony
    scale path; membership may vary run to run, global order still holds).

    Scale shape: one range/hash shuffle + per-partition sort, both
    cluster-parallel; never a global single-partition sort.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if (boundaries is None) == (num_shards is None):
        raise ValueError("pass exactly one of num_shards / boundaries")
    if boundaries is not None:
        sharded = assign_range_shards(df, keys, boundaries).repartition("shard")
    else:
        sharded = (
            df.repartitionByRange(num_shards, *[F.col(c) for c in keys])
            .withColumn("shard", F.spark_partition_id() + 1)
        )
    # 'shard' leads the sort: FileFormatWriter requires each task's rows
    # ordered by the partition columns and inserts its own NON-STABLE sort
    # by ['shard'] alone when they aren't — which would scramble the key
    # order just established.  With the shard prefix the required ordering
    # is already satisfied and the writer adds no sort.
    (
        sharded.sortWithinPartitions("shard", *keys)
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def temperature_weights(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.3,
    count_col: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Temperature-scaled mixture sampling weights — the standard
    multilingual/multi-source rebalancing rule (exponentiate each slice's
    natural share and renormalize): ``w_g ∝ p_g^α`` with ``p_g`` the
    slice's share of rows (or of ``count_col``, e.g. token counts).
    ``α = 1`` keeps the natural mixture, ``α → 0`` approaches uniform;
    pretraining blends typically use α ≈ 0.2–0.7 to up-weight small
    slices without letting them dominate.

    Returns ``(group_col, n, p, weight)`` ordered by slice — feed the
    weights straight into :func:`mixture_filter` rates or a weighted
    sampler.  One groupBy on the slice key; the result is
    |slices|-sized.
    """
    size = F.count("*") if count_col is None else F.sum(count_col)
    g = df.groupBy(group_col).agg(size.cast("double").alias("n"))
    # both normalizers in ONE 1-row broadcast aggregate over g, rather than
    # an unpartitioned window — g is only |slices| rows, but the broadcast
    # form keeps the plan single-partition-free on principle (and readable
    # in the audit).  p^α / Σ p^α = n^α / Σ n^α, so the weights need only
    # these two sums and the input is read once per side of the join.
    pw = F.pow(F.col("n"), F.lit(float(alpha)))
    norm = g.agg(F.sum("n").alias("_tot"), F.sum(pw).alias("_z"))
    return g.crossJoin(F.broadcast(norm)).select(
        group_col,
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.col("_tot"), ndigits).alias("p"),
        F.round(pw / F.col("_z"), ndigits).alias("weight"),
    ).orderBy(group_col)
