"""StreamingPipeline — the fluent PipeFlow vocabulary over Structured
Streaming micro-batches.

Reference analog: the reference's "streaming" is an ``IAsyncEnumerable`` CSV
read (``PipeFlow/CsvReaderAsync.cs:71-124``) with no state, no watermark, no
windows; this module supplies the real thing (SURVEY.md §2.6): event-time
tumbling/sliding/session windows, watermark late-drop, stateful dedupe,
stream-stream joins, arbitrary stateful per-key CEP, and the exactly-once
sink.  Same immutable-chain style as the batch ``Pipeline``.

Scale posture: state lives in RocksDB (session conf), keys are
``(conv_id, …)`` hash-partitioned across ``spark.sql.shuffle.partitions``
state-store partitions; every operator here keeps state bounded by a
watermark.  At 10^12 turns the knobs that matter — shuffle partitions, state
TTL via watermark delay, maxFilesPerTrigger/maxBytesPerTrigger admission —
are all surfaced as parameters.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import Pipeline
from .exactly_once import ExactlyOnceSink

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


class StreamingPipeline:
    """Immutable fluent chain over a streaming DataFrame."""

    def __init__(self, df: DataFrame):
        if not df.isStreaming:
            raise ValueError("StreamingPipeline needs a streaming DataFrame")
        self._df = df
        # per-micro-batch transforms applied inside foreachBatch (see
        # refreshing_join) — NOT part of the streaming plan
        self._batch_ops: list = []

    # -- sources ---------------------------------------------------------------
    @classmethod
    def read_transcripts(
        cls,
        spark: SparkSession,
        path: str,
        max_files_per_trigger: int = 1,
        schema: T.StructType = TRANSCRIPT_SCHEMA,
    ) -> "StreamingPipeline":
        """File-source stream over transcript parquet (arrival order = file
        order).  In production the same chain reads Kafka/Iceberg incremental
        scans; the file source keeps tests hermetic and replayable."""
        df = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path)
        )
        return cls(df)

    @classmethod
    def read_csv_stream(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType | str,
        max_files_per_trigger: int = 1,
        delimiter: str = ",",
        header: bool = True,
        **options,
    ) -> "StreamingPipeline":
        """Streaming CSV file source — the real counterpart of the reference's
        ``IAsyncEnumerable`` CSV reader (``PipeFlow/CsvReaderAsync.cs:71-124``),
        with the same dialect defaults as the batch reader (RFC-4180 quoting,
        ``""`` escapes).  Streaming sources require an explicit schema — no
        inference pass is possible on an unbounded input."""
        df = (
            spark.readStream.schema(schema)
            .options(
                header=header,
                sep=delimiter,
                quote='"',
                escape='"',
                maxFilesPerTrigger=max_files_per_trigger,
                **options,
            )
            .csv(path)
        )
        return cls(df)

    @property
    def df(self) -> DataFrame:
        return self._df

    def _wrap(self, df: DataFrame) -> "StreamingPipeline":
        if self._batch_ops:
            raise ValueError(
                "per-batch ops (per_batch / windowed_topk / refreshing_join) "
                "are terminal-stage: a later streaming stage would run BEFORE "
                "them (they happen inside foreachBatch, after the streaming "
                "plan) — chain them last, just before start_*"
            )
        return StreamingPipeline(df)

    def _batch_sink(self, sink):
        """Compose pending per-batch ops (refreshing_join) in front of a
        foreachBatch sink.  Ops run on the materialized micro-batch, so the
        streaming plan stays unchanged.  Replay safety: ledgered sinks skip
        COMMITTED batch ids before any write, and for the replay of an
        UNCOMMITTED batch the ops must be deterministic — an op that reads
        mutable external state (refreshing_join without ``snapshot_dir``)
        can produce different rows on the replay attempt; see
        :meth:`refreshing_join` for the pinning remedy.  Ops that accept
        ``(df, batch_id)`` get the batch id so they can key replay-stable
        snapshots on it."""
        ops = list(self._batch_ops)
        if not ops:
            return sink

        import inspect

        def _takes_batch_id(op) -> bool:
            try:
                params = inspect.signature(op).parameters.values()
            except (TypeError, ValueError):  # C callables without signatures
                return False
            required = [
                p
                for p in params
                if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
                and p.default is p.empty
            ]
            return len(required) >= 2

        takes_id = [_takes_batch_id(op) for op in ops]

        def _fn(batch_df: DataFrame, batch_id: int) -> None:
            for op, with_id in zip(ops, takes_id):
                batch_df = op(batch_df, batch_id) if with_id else op(batch_df)
            sink(batch_df, batch_id)

        return _fn

    # -- stateless stages (vectorized, the batch Pipeline's own bodies) ---------
    filter = Pipeline.filter
    add_column = Pipeline.add_column
    transform_pandas = Pipeline.transform_pandas

    def select(self, *cols) -> "StreamingPipeline":
        return self._wrap(self._df.select(*cols))

    # -- event time ---------------------------------------------------------------
    def with_watermark(self, ts_col: str, delay: str) -> "StreamingPipeline":
        """Late-data horizon: rows older than max(event_time) − delay are
        dropped by downstream stateful ops, and state older than the horizon
        is evicted — THE state-size bound at 10^12-turn scale."""
        return self._wrap(self._df.withWatermark(ts_col, delay))

    # -- windows --------------------------------------------------------------------
    def tumbling_agg(
        self, ts_col: str, size: str, keys: Sequence[str], *aggs: Column
    ) -> "StreamingPipeline":
        g = self._df.groupBy(F.window(ts_col, size).alias("w"), *keys)
        return self._wrap(g.agg(*aggs))

    def salted_tumbling_counts(
        self,
        ts_col: str,
        size: str,
        keys: Sequence[str],
        salt_col: str,
        n_salt: int = 8,
        count_alias: str = "n",
        sum_cols: dict[str, str] | None = None,
    ) -> "StreamingPipeline":
        """Skew-salted tumbling count — the north rule's "skew salting on hot
        conv_ids" applied *inside* the stateful pipeline, not just in batch
        (:mod:`..operators.skew`).

        A hot key (one conversation with millions of turns per window) makes a
        plain ``groupBy(window, conv_id)`` put that window-key's whole state
        update on one task.  Two chained stateful aggregations split it:

        1. partial count per ``(window, keys, salt)`` where salt =
           ``pmod(xxhash64(salt_col), n_salt)`` — a *deterministic* salt from
           a high-cardinality column (turn_idx), so replayed micro-batches
           land updates on the same state rows (exactly-once safe, unlike
           ``rand()``);
        2. re-aggregate per ``(window, keys)`` over ``window_time(w)`` —
           Spark's chained-windowed-aggregation form (supported for multiple
           stateful operators since 3.4; the second agg's event time is the
           first window's end).

        Only algebraic aggregates decompose this way; counts and sums
        (``sum_cols = {source_col: alias}``) cover the CEP rollups the north
        star names — avg is ``sum/count`` downstream.  Output schema: ``w``
        struct + keys + ``count_alias`` + sum aliases.
        """
        sums = sum_cols or {}
        salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salt)).alias("__salt")
        partial = self._df.groupBy(F.window(ts_col, size).alias("w"), *keys, salt).agg(
            F.count("*").alias("__partial_n"),
            *[F.sum(c).alias(f"__partial_{a}") for c, a in sums.items()],
        )
        final = partial.groupBy(F.window(F.window_time("w"), size).alias("w"), *keys).agg(
            F.sum("__partial_n").alias(count_alias),
            *[F.sum(f"__partial_{a}").alias(a) for a in sums.values()],
        )
        return self._wrap(final)

    def tumbling_distinct_count(
        self,
        ts_col: str,
        size: str,
        keys: Sequence[str],
        distinct_col: str,
        alias: str = "n_distinct",
        count_alias: str = "n_events",
    ) -> "StreamingPipeline":
        """EXACT windowed COUNT DISTINCT on a stream — Spark rejects
        ``countDistinct`` on streaming DataFrames outright, and
        ``approx_count_distinct`` trades accuracy; the scalable exact form is
        two CHAINED stateful aggregations (supported since 3.4):

        1. ``groupBy(window, keys, distinct_col).count()`` — state is one row
           per distinct value per open window (the information-theoretic
           minimum for an exact answer), evicted at watermark close like any
           windowed agg;
        2. re-aggregate per ``(window, keys)`` over ``window_time(w)``:
           ``count(*)`` = distinct cardinality, ``sum`` of the partial counts
           = total events — both exact, both emitted once when the watermark
           passes the window.

        Phase 1 is also the skew story: the shuffle key includes the
        distinct value, so one hot (window, key) fans out across partitions
        instead of serializing — the same effect ``salted_tumbling_counts``
        buys with an artificial salt, here for free.  If per-window distinct
        cardinality itself is unbounded, switch to
        ``approx_count_distinct`` (one stateful pass, fixed-size HLL state)
        or the Misra–Gries sketch (:mod:`..operators.heavy`) and carry the
        error bound instead."""
        partial = self._df.groupBy(
            F.window(ts_col, size).alias("w"), *keys, F.col(distinct_col)
        ).agg(F.count("*").alias("__n"))
        # COUNT(DISTINCT x) semantics: count(col) skips the NULL group that
        # groupBy keeps (count("*") would count NULL as a distinct value);
        # sum(__n) still totals ALL events including NULL-valued ones
        final = partial.groupBy(
            F.window(F.window_time("w"), size).alias("w"), *keys
        ).agg(
            F.count(F.col(distinct_col)).alias(alias),
            F.sum("__n").alias(count_alias),
        )
        return self._wrap(final)

    def sliding_agg(
        self, ts_col: str, size: str, slide: str, keys: Sequence[str], *aggs: Column
    ) -> "StreamingPipeline":
        g = self._df.groupBy(F.window(ts_col, size, slide).alias("w"), *keys)
        return self._wrap(g.agg(*aggs))

    def session_agg(
        self, ts_col: str, gap: str | Column, keys: Sequence[str], *aggs: Column
    ) -> "StreamingPipeline":
        """Gap-based session windows (``session_window``) — sessions close when
        the watermark passes last_event + gap.

        ``gap`` may be a Column for DYNAMIC per-event gaps (e.g. a longer
        idle allowance after a tool call than after a user turn): each event
        claims ``[ts, ts + gap)`` and overlapping intervals merge, so state
        stays bounded by the watermark exactly as with a fixed gap.  The
        batch twin is :func:`..operators.sessionize.sessionize_dynamic`."""
        g = self._df.groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        return self._wrap(g.agg(*aggs))

    # -- stateful dedupe ----------------------------------------------------------------
    def dedupe_within_watermark(self, keys: Sequence[str]) -> "StreamingPipeline":
        """Streaming first-wins dedupe with watermark-bounded state — the
        reference's RemoveDuplicates HashSet (PipeFlow.cs:226-231) without the
        unbounded-state bug: keys older than the watermark are evicted."""
        return self._wrap(self._df.dropDuplicatesWithinWatermark(list(keys)))

    # -- stream-stream join -----------------------------------------------------------------
    def join_replies(
        self,
        other: "StreamingPipeline",
        max_reply_delay: str = "10 minutes",
        left_prefix: str = "u",
        right_prefix: str = "a",
        how: str = "inner",
    ) -> "StreamingPipeline":
        """Stateful stream-stream join: each left turn (user) matched to
        the right turn (assistant/tool) with ``turn_idx = left.turn_idx + 1``
        in the same conversation, arriving within ``max_reply_delay``.

        Both sides MUST carry watermarks; the time-range predicate bounds join
        state (without it state grows forever — SURVEY.md §7.3.4).  Keyed on
        conv_id → hash-partitioned; salting must NOT be applied to join keys.

        ``how='left_outer'`` is the unanswered-turn detector: a left turn
        with no reply emits once — with NULL right columns — when the
        watermark passes its join window and its state is evicted (Spark's
        no-data batches drive that final flush, so a bounded replay still
        emits every unmatched row).  Inner rows emit on match immediately;
        only the NULL rows wait for the watermark, exactly the semantics a
        batch LEFT JOIN reproduces once the stream is drained.

        ``how='full_outer'`` completes the matrix (orphan detection on BOTH
        sides — replies whose user turn was watermark-dropped emit with NULL
        left columns): each side's unmatched rows emit once at its own
        state eviction, so the drained output ≡ the batch FULL JOIN.

        Watermark-heartbeat caveat for BOTH outer modes: eviction runs off
        the global (min-policy) watermark, and Catalyst pushes non-event-time
        predicates below the ``EventTimeWatermark`` node — so a heartbeat /
        punctuation row must SURVIVE each side's pre-join filter or that
        side's watermark node never sees it and every orphan younger than
        (last real event − delay) stays in state forever.  Role-partitioned
        transcript sides therefore need one sentinel per role (see
        ``write_sentinel_file(role=...)``).
        """
        if how not in ("inner", "left_outer", "full_outer"):
            raise ValueError(
                f"join_replies supports inner/left_outer/full_outer, got {how!r}"
            )
        if other._batch_ops:
            raise ValueError(
                "join_replies: the right-hand pipeline has pending per-batch "
                "ops, which run inside foreachBatch AFTER the streaming plan "
                "— they cannot execute before a stream-stream join.  Apply "
                "them to the JOINED pipeline instead"
            )
        l = self._df.select([F.col(c).alias(f"{left_prefix}_{c}") for c in self._df.columns])
        r = other._df.select([F.col(c).alias(f"{right_prefix}_{c}") for c in other._df.columns])
        lc, rc = f"{left_prefix}_", f"{right_prefix}_"
        cond = (
            (F.col(f"{lc}conv_id") == F.col(f"{rc}conv_id"))
            & (F.col(f"{rc}turn_idx") == F.col(f"{lc}turn_idx") + 1)
            & (F.col(f"{rc}ts") >= F.col(f"{lc}ts"))
            & (F.col(f"{rc}ts") <= F.col(f"{lc}ts") + F.expr(f"INTERVAL {max_reply_delay}"))
        )
        return self._wrap(l.join(r, cond, how))

    def asof_enrich(
        self,
        key: str,
        ts_col: str,
        is_left: Column,
        id_col: str,
        val_col: str,
        key_type: str = "long",
    ) -> "StreamingPipeline":
        """Streaming backward as-of join — each *left* row matched to the
        latest *right* row at-or-before it per ``key`` (the batch
        :func:`pipeflow_spark.operators.asof.asof_join` semantics on an
        unbounded stream).  Spark's native stream-stream joins can't express
        "latest one only", so this is a watermark-buffered
        ``applyInPandasWithState`` machine: a left row emits exactly once,
        when the watermark passes its event time; per-key state stays
        bounded by the watermark horizon (rights at-or-below it collapse to
        one row).  Requires ``with_watermark`` upstream.

        Output: ``(k, id, ts, matched_ts, matched_val)`` — left identity
        plus its match (NULLs when no earlier right exists).
        """
        from ..operators.asof import ASOF_STATE_SCHEMA, asof_output_schema, asof_stream_fn

        proj = self._df.select(
            F.col(key).alias("k"),
            F.col(ts_col).alias("ts"),  # keep the watermark column itself
            F.unix_micros(F.col(ts_col)).alias("ts_us"),
            is_left.alias("is_left"),
            F.col(id_col).cast("long").alias("id"),
            F.col(val_col).cast("double").alias("val"),
        )
        out = proj.groupBy("k").applyInPandasWithState(
            asof_stream_fn(),
            asof_output_schema(key_type),
            ASOF_STATE_SCHEMA,
            "append",
            "EventTimeTimeout",
        )
        return self._wrap(
            out.select(
                "k",
                "id",
                F.timestamp_micros("ts_us").alias("ts"),
                F.timestamp_micros("matched_ts_us").alias("matched_ts"),
                "matched_val",
            )
        )

    def tumbling_spikes(
        self,
        ts_col: str,
        size_us: int,
        key_col: str,
        key_type: str = "long",
        min_prev: int = 3,
        factor: int = 2,
    ) -> "StreamingPipeline":
        """Per-key turn-rate spike detection: count events per (key, tumbling
        window) and flag windows whose count clears an integer criterion over
        the key's OWN closed-window history (see
        :mod:`..operators.anomaly` — all-integer so the batch twin and the
        streaming machine agree bit-for-bit).  State per key: three longs +
        open buckets within the watermark horizon.  Requires
        ``with_watermark`` upstream.

        Output: ``(k, ws, n, n_prev, sum_prev, max_prev, spike)``.
        """
        from ..operators.anomaly import (
            SPIKE_STATE_SCHEMA,
            spike_output_schema,
            spike_stream_fn,
        )

        proj = self._df.select(
            F.col(key_col).alias("k"),
            F.col(ts_col).alias("ts"),  # keep the watermark column itself
            F.unix_micros(F.col(ts_col)).alias("ts_us"),
        )
        out = proj.groupBy("k").applyInPandasWithState(
            spike_stream_fn(size_us, min_prev=min_prev, factor=factor),
            spike_output_schema(key_type),
            SPIKE_STATE_SCHEMA,
            "append",
            "EventTimeTimeout",
        )
        return self._wrap(
            out.select(
                "k",
                F.timestamp_micros(F.col("ws_us")).alias("ws"),
                "n",
                "n_prev",
                "sum_prev",
                "max_prev",
                "spike",
            )
        )

    def budget_cap(
        self,
        ts_col: str,
        key_col: str,
        id_col: str,
        weight_col: str,
        quota: int,
        key_type: str = "string",
    ) -> "StreamingPipeline":
        """Per-key prefix budget truncation on a stream (see
        :mod:`..operators.quota`): rows buffer until the watermark passes
        their event time, then flush in (event-time, id) order against a
        one-long running total — ``kept = cum <= quota``, bit-identical to
        the batch window-frame twin.  Requires ``with_watermark`` upstream.

        Output: ``(k, id, w, cum, kept)``.
        """
        from ..operators.quota import (
            QUOTA_STATE_SCHEMA,
            quota_output_schema,
            quota_stream_fn,
        )

        proj = self._df.select(
            F.col(key_col).alias("k"),
            F.col(ts_col).alias("ts"),  # keep the watermark column itself
            F.unix_micros(F.col(ts_col)).alias("ts_us"),
            F.col(id_col).cast("long").alias("id"),
            F.col(weight_col).cast("long").alias("w"),
        )
        out = proj.groupBy("k").applyInPandasWithState(
            quota_stream_fn(quota),
            quota_output_schema(key_type),
            QUOTA_STATE_SCHEMA,
            "append",
            "EventTimeTimeout",
        )
        return self._wrap(out)

    # -- stream-static enrichment -------------------------------------------------------------
    def enrich_static(
        self,
        dim: DataFrame,
        on,
        how: str = "inner",
        broadcast: bool = True,
    ) -> "StreamingPipeline":
        """Enrich the stream with a static dimension table (the streaming twin
        of the reference's lookup-style Transform, PipeFlow.cs:196-216).

        Spark re-plans the static side into every micro-batch;
        ``broadcast=True`` pins the dim to the build side so each batch is a
        map-only broadcast hash join — no stream-side shuffle and, unlike a
        stream-stream join, NO state store: nothing is buffered, so the cost
        is flat in stream history.  This is the only join shape whose
        per-batch cost doesn't grow at 10^12-turn scale, which is why dim
        lookups should come here rather than through :meth:`join_replies`.
        A dim read from slow storage should be ``.cache()``-ed by the caller
        (it is re-scanned per batch otherwise); dims too big to broadcast
        should pass ``broadcast=False`` and accept the per-batch shuffle.

        CAVEAT — the static side is re-PLANNED per batch but its file
        listing is NOT re-resolved: Spark pins the ``InMemoryFileIndex``
        when the DataFrame is created, so files appended to a file-backed
        dim mid-stream stay invisible (pinned by
        ``test_enrich_static_file_index_pinned``).  A dim that must
        pick up updates without a restart (dynamic blocklist, rotating
        config) belongs in ``foreachBatch`` where it is re-READ per batch —
        use :meth:`refreshing_join`.
        """
        if dim.isStreaming:
            raise ValueError("enrich_static: dimension side must be a batch DataFrame")
        right = F.broadcast(dim) if broadcast else dim
        return self._wrap(self._df.join(right, on, how))

    def per_batch(self, op) -> "StreamingPipeline":
        """Attach a batch-DataFrame transform that runs INSIDE ``foreachBatch``
        on each materialized micro-batch, after the streaming plan —
        unlocking batch-only operators (window functions / rank, fresh
        re-reads, arbitrary joins) that Structured Streaming rejects in the
        plan itself.  Terminal-stage: any later *streaming* stage raises
        (it would silently reorder in front of this), as does the
        foreachBatch-less memory sink.  Exactly-once is preserved — ledgered
        sinks skip committed batch ids before the op runs.

        The load-bearing use: anything keyed on CLOSED windows.  An
        append-mode windowed aggregate emits ALL of a window's rows in the
        single micro-batch where the watermark passes the window end, so a
        per-batch rank/top-k partitioned by window sees each window complete
        exactly once (see ``windowed_topk``).

        ``op`` is ``DataFrame -> DataFrame``, or ``(DataFrame, batch_id) ->
        DataFrame`` when it needs the batch id (e.g. to key replay-stable
        snapshots of external state — see :meth:`refreshing_join`).  Ops
        must be deterministic per batch id for the replay of an uncommitted
        batch to reproduce the crashed attempt's rows."""
        if not callable(op):
            raise TypeError("per_batch: op must be a callable DataFrame -> DataFrame")
        p = StreamingPipeline(self._df)  # not _wrap: chaining per-batch ops is legal
        p._batch_ops = self._batch_ops + [op]
        return p

    def windowed_topk(
        self, partition_cols: Sequence[str], order_by: Sequence[Column], k: int
    ) -> "StreamingPipeline":
        """Exact top-k per closed window on a stream: chain after a windowed
        aggregate; ranks each micro-batch's rows per ``partition_cols`` (the
        window start) and keeps the top ``k``.  Correct because append-mode
        emission is all-at-once per window (see :meth:`per_batch`) — a
        window is ranked exactly once, over its complete row set.  Ties must
        be broken deterministically by ``order_by`` for replay stability."""
        from pyspark.sql import Window as W

        def _op(batch_df: DataFrame) -> DataFrame:
            w = W.partitionBy(*partition_cols).orderBy(*order_by)
            return (
                batch_df.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= k)
                .drop("rk")
            )

        return self.per_batch(_op)

    def refreshing_join(
        self,
        load_dim,
        on,
        how: str = "inner",
        broadcast: bool = True,
        snapshot_dir: str | None = None,
    ) -> "StreamingPipeline":
        """Join against a dimension that CHANGES mid-stream (dynamic
        blocklist, rotating config) — the remedy for :meth:`enrich_static`'s
        pinned-file-index caveat.

        ``load_dim`` is a zero-arg callable returning a FRESH batch
        DataFrame (e.g. ``lambda: spark.read.schema(s).parquet(path)``);
        it is invoked once per micro-batch inside ``foreachBatch``, so rows
        appended to the dim are visible from the NEXT batch with no query
        restart.  The join runs on the materialized micro-batch rather than
        in the streaming plan — one extra batch-side job per trigger is the
        price of freshness; still no state store, and ``broadcast=True``
        keeps it a map-only hash join.  Exactly-once: ledgered sinks skip
        COMMITTED batch ids before the op runs, so a committed batch never
        re-joins.  The replay of an UNCOMMITTED batch (crash between the
        data write and the ledger commit) is the subtle case — load_dim()
        would run again and may return a NEWER dim, so the replayed rows can
        differ from the crashed attempt's.  For the ledgered sinks that is
        self-healing (the attempt never committed; the replay's rows are the
        ones that commit), but for :meth:`start_upsert` — exactly-once *via
        idempotence*, no ledger — identical replay rows ARE the correctness
        argument.  Pass ``snapshot_dir`` to pin the dim per batch id: the
        first attempt persists the loaded dim under
        ``snapshot_dir/batch_id=N`` and every replay of batch N re-reads
        that snapshot, making the op deterministic across attempts (the
        stream-side input is already deterministic via the checkpointed
        source offsets).  Terminal-stage only — later *streaming* stages
        cannot see foreachBatch output, so chain this last before
        ``start_*`` (enforced: ANY further streaming stage raises, as does
        the memory sink, which has no foreachBatch).
        """
        if not callable(load_dim):
            raise TypeError(
                "refreshing_join: load_dim must be a zero-arg callable "
                "returning a batch DataFrame (a plain DataFrame would be "
                "plan-pinned — that is enrich_static)"
            )

        def _op(batch_df: DataFrame, batch_id: int) -> DataFrame:
            if snapshot_dir is None:
                dim = load_dim()
            else:
                snap = os.path.join(snapshot_dir, f"batch_id={batch_id}")
                if not os.path.exists(os.path.join(snap, "_SUCCESS")):
                    load_dim().write.mode("overwrite").parquet(snap)
                dim = batch_df.sparkSession.read.parquet(snap)
            right = F.broadcast(dim) if broadcast else dim
            return batch_df.join(right, on, how)

        return self.per_batch(_op)

    def decontaminate(
        self,
        eval_df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        ts_col: str = "ts",
        window: str = "1 hour",
        n: int = 8,
    ) -> "StreamingPipeline":
        """Streaming benchmark-decontamination guard: flag documents on the
        stream that share any word ``n``-gram with a static eval corpus —
        the ingest-time twin of ``operators.decontaminate.contaminated_docs``
        (same gram normalization, same xxhash64 keys, same counts).

        Shape at 10^12-turn scale: gram explode is a stateless JVM
        projection; the membership test is a **stream-static broadcast
        join** (eval grams are MBs against a TB stream — re-planned into
        every micro-batch, NO state store, per-batch cost flat in stream
        history); the only stateful op is the per-doc count keyed on
        ``(window(ts), id_col)``, whose input is the match set — documents
        with zero overlap never reach state.  Caller must have set a
        watermark on ``ts_col`` (or call :meth:`with_watermark` first) for
        append-mode emission.  Output: ``(w, id_col, shared_grams)``.
        """
        if eval_df.isStreaming:
            raise ValueError("decontaminate: eval side must be a batch DataFrame")
        from ..operators.decontaminate import eval_gram_hashes
        from ..operators.dedupe import _gram_hashes_of, _token_hashes, normalize_text

        evset = eval_gram_hashes(eval_df, text_col, id_col, n=n)
        # token-hash-combine gram keys, explode fused into the projection
        # (see dedupe.gram_hash_posting: exploding the array attribute
        # instead triggers InferFiltersFromGenerate's double-compute);
        # inlined rather than called so ts_col rides along
        toked = self._df.select(
            id_col, ts_col, F.split(normalize_text(F.col(text_col)), r"\s+").alias("__toks")
        )
        th = toked.select(id_col, ts_col, _token_hashes("__toks").alias("__th"))
        posting = th.select(
            id_col, ts_col, F.explode(F.array_distinct(_gram_hashes_of("__th", n))).alias("gh")
        )
        hits = posting.join(F.broadcast(evset), "gh")
        out = (
            hits.groupBy(F.window(ts_col, window).alias("w"), id_col)
            .agg(F.count("*").alias("shared_grams"))
        )
        return self._wrap(out)

    def perplexity_gate(
        self,
        train: DataFrame,
        add_k: float = 0.5,
        max_xent: float | None = None,
        ts_col: str = "ts",
        window: str = "1 hour",
        text_col: str = "text",
        id_col: str = "doc_id",
        ndigits: int = 5,
        broadcast_model: bool = True,
    ) -> "StreamingPipeline":
        """Streaming CCNet-style perplexity quality gate: score each
        arriving document's cross-entropy under a bigram LM trained on the
        static ``train`` slice, and (optionally) pass only documents with
        ``xent ≤ max_xent`` — the ingest-time twin of
        :func:`..operators.lm.lm_cross_entropy` (same model, same rounding).

        Shape at 10^12-turn scale: bigram fan-out is a stateless MAP-ONLY
        projection (each row zips its own token array — the reason the
        batch operator avoids a positional window, which a stream could not
        run); the model lookup is a **stream-static join** against the
        vocabulary-sized count tables (no state store); the only stateful
        op is the per-doc mean keyed on ``(window(ts), id_col)``.  Caller
        must have set a watermark on ``ts_col`` for append-mode emission.
        Output: ``(id_col, n_bigrams, xent)``.

        ``broadcast_model=True`` (default) hints broadcast on the bigram /
        context tables — right whenever the reference slice's bigram-type
        count fits executor memory (typical curation models).  A
        Wikipedia-plus-scale slice (1e8+ bigram types) would OOM a forced
        broadcast and AQE is unavailable in stateful streaming to catch it,
        so pass ``False`` there: the model then shuffle-joins per
        micro-batch (code-review r5; the batch twin never needs the flag —
        AQE picks the strategy from real sizes).
        """
        if train.isStreaming:
            raise ValueError("perplexity_gate: train side must be a batch DataFrame")
        from ..operators.lm import bigram_pairs_col, train_bigram_lm

        bi, uni, vocab = train_bigram_lm(train, text_col, id_col)
        if broadcast_model:
            bi, uni = F.broadcast(bi), F.broadcast(uni)
        pairs = (
            self._df.select(
                id_col, ts_col, F.explode(bigram_pairs_col(text_col)).alias("p")
            )
            .select(id_col, ts_col, F.col("p.w").alias("w"), F.col("p.v").alias("v"))
            .filter((F.col("w") != "") & (F.col("v") != ""))
        )
        scored = (
            pairs.join(bi, ["w", "v"], "left")
            .join(uni, ["w"], "left")
            .crossJoin(F.broadcast(vocab))
            .select(
                id_col,
                ts_col,
                (
                    F.log(
                        F.coalesce(F.col("cw"), F.lit(0.0)) + add_k * F.col("lm_v")
                    )
                    - F.log(F.coalesce(F.col("cwv"), F.lit(0.0)) + F.lit(add_k))
                ).alias("nll"),
            )
        )
        out = (
            scored.groupBy(F.window(ts_col, window).alias("w"), id_col)
            .agg(
                F.count("*").alias("n_bigrams"),
                F.round(F.avg("nll"), ndigits).alias("xent"),
            )
            .select(id_col, "n_bigrams", "xent")
        )
        if max_xent is not None:
            out = out.filter(F.col("xent") <= max_xent)
        return self._wrap(out)

    def assign_ivf(self, centroids, vec_col: str = "embedding") -> "StreamingPipeline":
        """Streaming IVF index ingest: assign each arriving embedding to its
        max-cosine inverted list (``operators.similarity.ivf_assign``) — the
        write path that keeps the ANN index fresh as vectors stream in.
        The Arrow assignment kernel carries the centroid matrix in its
        closure, so this is a stateless narrow map with ZERO state at any
        throughput; pair it with a ``list_id``-partitioned sink so batch-side
        ``ivf_topk`` probes prune partitions."""
        from ..operators.similarity import ivf_assign

        return self._wrap(ivf_assign(self._df, centroids, vec_col=vec_col))

    # -- arbitrary stateful CEP ---------------------------------------------------------------
    def stateful_per_key(
        self,
        keys: Sequence[str],
        fn: Callable,
        output_schema: str,
        state_schema: str,
        output_mode: str = "append",
        timeout: str = "NoTimeout",
    ) -> "StreamingPipeline":
        """``applyInPandasWithState`` — per-key custom state machine (the CEP
        escape hatch for semantics windows can't express)."""
        g = self._df.groupBy(*[F.col(k) for k in keys])
        out = g.applyInPandasWithState(fn, output_schema, state_schema, output_mode, timeout)
        return self._wrap(out)

    def transform_with_state(
        self,
        keys: Sequence[str],
        processor,
        output_schema: str,
        output_mode: str = "append",
        time_mode: str = "None",
    ) -> "StreamingPipeline":
        """``transformWithStateInPandas`` — the arbitrary-state v2 API (typed
        named state slots + timers over RocksDB); see
        :mod:`pipeflow_spark.streaming.cep` for processors.  Needs the
        protobuf package at runtime (state-server protocol); gated here so the
        failure is a clear error instead of a crashed query."""
        from .cep import has_transform_with_state_runtime

        if not has_transform_with_state_runtime():
            raise RuntimeError(
                "transformWithStateInPandas needs the 'protobuf' package, which "
                "this environment lacks; use stateful_per_key (applyInPandasWithState) "
                "— pipeflow_spark.streaming.cep wraps each processor for both APIs"
            )
        g = self._df.groupBy(*[F.col(k) for k in keys])
        out = g.transformWithStateInPandas(
            statefulProcessor=processor,
            outputStructType=output_schema,
            outputMode=output_mode,
            timeMode=time_mode,
        )
        return self._wrap(out)

    # -- sinks -----------------------------------------------------------------------------------
    def start_exactly_once(
        self,
        sink: ExactlyOnceSink,
        checkpoint_dir: str,
        output_mode: str = "append",
        available_now: bool = True,
        query_name: str = "pipeflow_stream",
    ) -> StreamingQuery:
        """foreachBatch into the idempotent sink, checkpointed — kill/resume
        replays are no-ops (see ExactlyOnceSink)."""
        writer = (
            self._df.writeStream.outputMode(output_mode)
            .foreachBatch(self._batch_sink(sink))
            .option("checkpointLocation", checkpoint_dir)
            .queryName(query_name)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def start_validated(
        self,
        main: ExactlyOnceSink,
        dlq: ExactlyOnceSink,
        validator,
        checkpoint_dir: str,
        output_mode: str = "append",
        available_now: bool = True,
        query_name: str = "pipeflow_stream_validated",
    ) -> StreamingQuery:
        """The reference's ``Validate`` stage on a stream, production form:
        one query, one upstream plan, and a per-batch split into the main
        exactly-once sink (valid rows) and a dead-letter quarantine sink
        (failed rows + their failed-rule messages) under the same batch id —
        see :class:`..streaming.exactly_once.QuarantiningSink`."""
        from .exactly_once import QuarantiningSink

        sink = QuarantiningSink(main, dlq, validator)
        writer = (
            self._df.writeStream.outputMode(output_mode)
            .foreachBatch(self._batch_sink(sink))
            .option("checkpointLocation", checkpoint_dir)
            .queryName(query_name)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def start_upsert(
        self,
        table_path: str,
        keys: Sequence[str],
        checkpoint_dir: str,
        order_by: Sequence[str] | None = None,
        keep_snapshots: int = 2,
        output_mode: str = "update",
        available_now: bool = True,
        query_name: str = "pipeflow_stream_upsert",
    ) -> StreamingQuery:
        """CDC-style streaming MERGE: every micro-batch upserts into a
        snapshot-pointer parquet table (``sinks.upsert_parquet`` — the
        Iceberg ``MERGE INTO`` stand-in) keyed on ``keys``.

        Exactly-once via idempotence rather than a ledger: re-merging a
        replayed batch is a no-op — the same keys overwrite with the same
        values (pass ``order_by`` so within-batch last-wins is deterministic,
        e.g. the event-time column).  That argument requires the replayed
        batch to carry the SAME rows as the crashed attempt — source offsets
        are checkpointed so the stream side always does, but any chained
        per-batch op must be deterministic too: use
        ``refreshing_join(..., snapshot_dir=...)`` (never the unpinned form)
        in front of an upsert.  Each batch commit is one atomic pointer
        flip, so readers always see a complete pre- or post-batch snapshot;
        ``keep_snapshots`` deepens VERSION-AS-OF history.
        """
        from ..sinks import upsert_parquet

        keys = list(keys)

        def _merge(batch_df, _batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            upsert_parquet(
                batch_df.sparkSession,
                batch_df,
                table_path,
                keys,
                do_update=True,
                order_by=order_by,
                keep_snapshots=keep_snapshots,
            )

        writer = (
            self._df.writeStream.outputMode(output_mode)
            .foreachBatch(self._batch_sink(_merge))
            .option("checkpointLocation", checkpoint_dir)
            .queryName(query_name)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def start_scd2(
        self,
        table_path: str,
        keys: Sequence[str],
        ts_col: str,
        attr_cols: Sequence[str],
        checkpoint_dir: str,
        order_cols: Sequence[str] = (),
        keep_snapshots: int = 2,
        available_now: bool = True,
        query_name: str = "pipeflow_stream_scd2",
    ) -> StreamingQuery:
        """Maintain an SCD2 version table from a CDC change stream: every
        micro-batch rebuilds the AFFECTED keys' version intervals and
        commits them as one keyed DELETE+INSERT group MERGE
        (:func:`~pipeflow_spark.operators.scd.scd2_apply_batch`) under a
        single atomic snapshot-pointer flip.

        Exactly-once via idempotence: a replayed batch's changes distinct-
        collapse against the version rows they already created, so re-
        applying commits a bit-identical snapshot.  No watermark — late
        changes are never dropped, they re-cut that key's intervals (the
        table stores uncollapsed versions precisely so this stays exact;
        see scd2_apply_batch).  Read the dimension back with
        ``sinks.read_upsert_table`` and enrich facts with
        ``operators.scd.scd2_enrich``.
        """
        from ..operators.scd import scd2_apply_batch

        def _apply(batch_df, _batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            scd2_apply_batch(
                batch_df,
                table_path,
                list(keys),
                ts_col,
                list(attr_cols),
                order_cols=list(order_cols),
                keep_snapshots=keep_snapshots,
            )

        writer = (
            self._df.writeStream.outputMode("append")
            .foreachBatch(self._batch_sink(_apply))
            .option("checkpointLocation", checkpoint_dir)
            .queryName(query_name)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def start_memory(self, name: str, output_mode: str = "append") -> StreamingQuery:
        """Memory sink for tests."""
        if self._batch_ops:
            raise ValueError(
                "per-batch ops (per_batch / windowed_topk / refreshing_join) "
                "require a foreachBatch sink (start_exactly_once / "
                "start_validated / start_upsert) — the memory sink cannot "
                "apply per-batch ops"
            )
        return (
            self._df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )


def await_drained(
    query: StreamingQuery,
    expected_input_rows: int | None = None,
    timeout_sec: float = 120.0,
    poll_sec: float = 0.5,
) -> None:
    """Block until the query has truly quiesced.

    Two races hide behind ``processAllAvailable``: (a) the file source's
    listing may not have picked up the newest file yet, so "all available" is
    less than what's on disk; (b) an advanced watermark schedules one more
    **no-data micro-batch** to flush newly-closed windows/sessions after the
    last data batch.  Deterministic drain: if the caller knows the total input
    rows, wait until the query has consumed them all; then wait until a
    no-data flush batch has run and the batch id stops moving.

    ``expected_input_rows`` counts the rows the source scans actually read:
    a filter pushed into a parquet scan can skip whole files.  Raises
    ``TimeoutError`` if the query has not drained by ``timeout_sec``.
    """
    import time

    deadline = time.monotonic() + timeout_sec

    def consumed() -> int:
        return sum(p["numInputRows"] for p in query.recentProgress)

    query.processAllAvailable()
    if expected_input_rows is not None:
        while consumed() < expected_input_rows:
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"await_drained: consumed {consumed()} of {expected_input_rows} "
                    f"expected input rows within {timeout_sec}s"
                )
            time.sleep(poll_sec)
            query.processAllAvailable()

    stable, last, seen_flush = 0, -2, False
    while True:
        if time.monotonic() >= deadline:
            raise TimeoutError(
                f"await_drained: batch id still moving or no flush batch after {timeout_sec}s"
            )
        p = query.lastProgress
        cur = p["batchId"] if p else -1
        if p and p["numInputRows"] == 0:
            seen_flush = True
        if cur == last:
            stable += 1
        else:
            stable, last = 0, cur
        if seen_flush and stable >= 3:
            return
        if stable >= 20:  # stateless query: no flush batch will ever come
            return
        time.sleep(poll_sec)
        query.processAllAvailable()


def state_metrics(query: StreamingQuery) -> list[dict]:
    """Per-batch state-store metrics from the query's progress history — the
    operator-side complement of the ExactlyOnceSink per-partition lineage
    ledger: one dict per (batch, stateful operator) with rows-in-state,
    update/eviction counts, state memory, and commit wall time.  This is
    what a 10^12-turn deployment alarms on (state growth ⇒ a missing
    watermark bound; rising commit time ⇒ snapshot cadence or memtable
    sizing — see BENCH.md §1 RocksDB findings)."""
    out = []
    for p in query.recentProgress:
        for op in p.get("stateOperators") or []:
            out.append(
                {
                    "batch_id": p.get("batchId"),
                    "operator": op.get("operatorName"),
                    "rows_total": op.get("numRowsTotal"),
                    "rows_updated": op.get("numRowsUpdated"),
                    "rows_removed": op.get("numRowsRemoved"),
                    # late-data observability: turns discarded because they
                    # arrived behind the watermark — the "late-turn drop"
                    # counter a production stream alerts on
                    "rows_dropped_late": op.get("numRowsDroppedByWatermark"),
                    "watermark": (p.get("eventTime") or {}).get("watermark"),
                    "state_memory_bytes": op.get("memoryUsedBytes"),
                    "commit_ms": op.get("commitTimeMs"),
                }
            )
    return out


def progress_metrics(query: StreamingQuery) -> list[dict]:
    """Per-batch throughput/latency metrics from the progress history — the
    pipeline-side complement of :func:`state_metrics`: one dict per
    micro-batch with input/processing rates, trigger wall time, and the
    per-phase breakdown (`addBatch` = plan execution, `commitOffsets` =
    checkpoint commit).  ``offsets_behind`` surfaces source backlog as
    `latestOffset − endOffset` in the source's NATIVE offset units — rows
    for Kafka-style per-partition message offsets, *seconds* for the rate
    source; None where the source publishes no comparable latest offset
    (the file source stringifies ``latestOffset`` as ``'None'``).  This is
    the consumer-lag dashboard a 10^12-turn deployment watches: a durably
    positive backlog (or processing rate below input rate) ⇒ the stream is
    falling behind its arrival rate and needs more executors or a wider
    `maxFilesPerTrigger`."""
    out = []
    for p in query.recentProgress:
        dur = p.get("durationMs") or {}
        srcs = p.get("sources") or []
        out.append(
            {
                "batch_id": p.get("batchId"),
                "input_rows": p.get("numInputRows"),
                "input_rows_per_sec": p.get("inputRowsPerSecond"),
                "processed_rows_per_sec": p.get("processedRowsPerSecond"),
                "trigger_ms": dur.get("triggerExecution"),
                "add_batch_ms": dur.get("addBatch"),
                "commit_offsets_ms": dur.get("commitOffsets"),
                "get_batch_ms": dur.get("getBatch"),
                "watermark": (p.get("eventTime") or {}).get("watermark"),
                "n_sources": len(srcs),
                "offsets_behind": _offsets_behind(srcs),
            }
        )
    return out


def _offset_scalar(raw):
    """Extract a comparable integer from a source offset description.  Rate
    and Kafka-style sources report plain ints (or per-partition int maps —
    summed); the file source reports ``{"logOffset": N}``.  Returns None for
    anything non-numeric (opaque JSON offsets can't be subtracted)."""
    if isinstance(raw, bool):
        return None
    if isinstance(raw, int):
        return raw
    if isinstance(raw, str):
        # pyspark stringifies offsets ("12", "None", "{'logOffset': 0}" —
        # note the Python-repr single quotes, not JSON); Kafka emits real
        # JSON ('{"topic":{"0":10}}').  Try both decoders.
        import ast
        import json

        for decode in (json.loads, ast.literal_eval):
            try:
                parsed = decode(raw)
            except (ValueError, TypeError, SyntaxError):
                continue
            if isinstance(parsed, str):  # '"opaque"' — not numeric
                return None
            return _offset_scalar(parsed)
        return None
    if isinstance(raw, dict):
        if isinstance(raw.get("logOffset"), int):
            return raw["logOffset"]
        vals = [s for v in raw.values() if (s := _offset_scalar(v)) is not None]
        return sum(vals) if vals else None
    return None


def _offsets_behind(srcs) -> int | None:
    """Backlog = sum over sources of ``latestOffset − endOffset`` where both
    parse to integers — in each source's native offset units (messages for
    Kafka, seconds for rate).  Offsets from DIFFERENT source kinds are
    incommensurable (seconds + messages is not a lag), so the sum is taken
    only when every offset-bearing source shares a kind (description
    prefix); None when none expose offsets or the kinds are mixed."""
    lags, kinds = [], set()
    for s in srcs:
        latest = _offset_scalar(s.get("latestOffset"))
        end = _offset_scalar(s.get("endOffset"))
        if latest is not None and end is not None:
            lags.append(max(0, latest - end))
            kinds.add(str(s.get("description") or "").split("[", 1)[0])
    if not lags or len(kinds) > 1:
        return None
    return sum(lags)
