"""Fluent ``Pipeline`` facade — PipeFlow's operator vocabulary over DataFrames.

Re-expresses the reference's ``IPipeline<T>`` chain (reference:
``PipeFlow/Pipeline.cs:8-183`` and ``PipeFlow/PipeFlow.cs:196-574``) as a thin,
immutable wrapper around a lazy :class:`pyspark.sql.DataFrame`.  Every stage
returns a *new* ``Pipeline`` holding a new logical plan; nothing executes until
a terminal action — exactly the reference's deferred-closure model, except the
"closure chain" here is a Catalyst plan that gets analyzed/optimized/codegen'd.

Design rules (the north rule's "no per-row Python"):

* stages compile to native ``Column`` expressions whenever the semantics allow
  (filter/select/withColumn/drop/rename/coalesce/distinct/sort/limit/offset);
* arbitrary-Python stages (``transform_pandas``, ``flat_map_pandas``,
  ``group_apply``) take *vectorized* pandas callables and run through Arrow
  (``mapInPandas`` / ``applyInPandas``), never ``F.udf`` row-at-a-time;
* first-wins dedupe is order-*defined* (``row_number`` over an explicit
  ordering), not ``dropDuplicates``-arbitrary, because the reference keeps the
  first occurrence in encounter order (``PipeFlow/PipeFlow.cs:218-232``) and
  bit-for-bit parity at 100 TB requires a total order, not task luck.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Iterator, Sequence
from dataclasses import dataclass, field
from typing import Any, Self

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .validation import ValidationError, ValidationStrategy, Validator

# Marker embedded in the THROW strategy's in-pass raise_error message so
# Pipeline terminals can translate the JVM task failure back into
# ValidationError for callers.
_THROW_MARKER = "PIPEFLOW_VALIDATION_FAILED"

ColumnOrName = Column | str


def _to_col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


@dataclass
class PipelineResult:
    """Terminal-execution metrics, mirroring the reference's
    ``PipelineResult<T>`` (``PipeFlow/Builder/IPipelineBuilder.cs:55-83``)."""

    success: bool
    data: list[Any] | None
    processed_count: int
    execution_time_sec: float
    error: str | None = None
    metrics: dict[str, Any] = field(default_factory=dict)


class Pipeline:
    """Immutable fluent pipeline over a DataFrame.

    Mirrors the reference surface: ``filter / map(select) / flat_map / take /
    skip / distinct / order_by / add_column / remove_column / rename_column /
    fill_missing / remove_duplicates / group_agg / batch / validate / union /
    join / window`` — reference operator inventory in SURVEY.md §2.
    """

    def __init__(self, df: DataFrame):
        self._df = df
        # THROW-validation bookkeeping (reference parity: PipeFlow.cs:522-539
        # validates EVERY row eagerly at Validate() time).  The in-pass
        # raise_error guard covers any terminal that evaluates all validated
        # rows in its single scan; these record the (source df, valid expr)
        # pairs so prefix terminals (first) and limit-truncated plans — where
        # the scan never reaches some rows — can still check them all.
        self._throw_checks: list = []
        self._plan_truncated = False

    # -- plan access -------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        return self._df

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)

    def _wrap(self, df: DataFrame) -> "Pipeline":
        p = Pipeline(df)
        p._throw_checks = list(self._throw_checks)
        p._plan_truncated = self._plan_truncated
        return p

    # -- core relational stages (reference: Pipeline.cs:25-102) -------------
    def filter(self, cond: ColumnOrName) -> Self:
        """``Filter(predicate)`` — Pipeline.cs:25-37. Native Column predicate
        so Catalyst pushes it into the scan."""
        cond = F.expr(cond) if isinstance(cond, str) else cond
        return self._wrap(self._df.filter(cond))

    where = filter

    def map(self, *cols: ColumnOrName) -> "Pipeline":
        """``Map/Select`` projection — Pipeline.cs:39-51. Columns may be
        computed expressions; alias them."""
        return self._wrap(self._df.select(*[_to_col(c) if isinstance(c, Column) else c for c in cols]))

    select = map

    def flat_map(self, column: ColumnOrName, alias: str, keep: Sequence[str] = ()) -> "Pipeline":
        """``SelectMany`` (1→N rows) — Pipeline.cs:53-60 — as ``explode``."""
        return self._wrap(self._df.select(*keep, F.explode(_to_col(column)).alias(alias)))

    def take(self, n: int) -> "Pipeline":
        """``Take(n)`` — Pipeline.cs:62-69."""
        p = self._wrap(self._df.limit(n))
        # a limit stops the scan early: rows past it never hit the in-pass
        # THROW guard, so terminals must run the recorded full check
        p._plan_truncated = True
        return p

    def skip(self, n: int) -> "Pipeline":
        """``Skip(n)`` — Pipeline.cs:71-78 (Spark ≥3.4 offset)."""
        return self._wrap(self._df.offset(n))

    def distinct(self, *cols: str) -> "Pipeline":
        """``Distinct()`` — Pipeline.cs:80-84. Whole-row or keyed."""
        df = self._df.select(*cols).distinct() if cols else self._df.distinct()
        return self._wrap(df)

    def order_by(self, *cols: ColumnOrName, ascending: bool | Sequence[bool] = True) -> "Pipeline":
        """``OrderBy`` / ``OrderByDescending`` — Pipeline.cs:86-102.
        Range-partitioned distributed sort; callers add tiebreaker columns for
        the reference's stable-sort parity."""
        return self._wrap(self._df.orderBy(*cols, ascending=ascending))

    def order_by_descending(self, *cols: ColumnOrName) -> "Pipeline":
        return self._wrap(self._df.orderBy(*[_to_col(c).desc() for c in cols]))

    # -- DataRow transforms (reference: PipeFlow.cs:196-313) ----------------
    def add_column(self, name: str, expr: ColumnOrName) -> Self:
        """``AddColumn`` — PipeFlow.cs:252-268."""
        expr = F.expr(expr) if isinstance(expr, str) else expr
        return self._wrap(self._df.withColumn(name, expr))

    def remove_column(self, *names: str) -> "Pipeline":
        """``RemoveColumn`` — PipeFlow.cs:270-290."""
        return self._wrap(self._df.drop(*names))

    def rename_column(self, old: str, new: str) -> "Pipeline":
        """``RenameColumn`` — PipeFlow.cs:292-313."""
        return self._wrap(self._df.withColumnRenamed(old, new))

    def select_path(self, name: str, json_col: str, path: str, cast: str | None = None) -> "Pipeline":
        """JSONPath projection — ``SelectPath`` (JsonReader.cs:38-42,73-115)
        as a JVM-side ``get_json_object`` column."""
        from .operators.jsonpath import select_path

        return self._wrap(self._df.withColumn(name, select_path(json_col, path, cast)))

    def fill_missing(self, column: str, default: Any) -> "Pipeline":
        """``FillMissing`` — PipeFlow.cs:234-250 (null → default; column
        absence is impossible under a fixed schema)."""
        return self._wrap(self._df.withColumn(column, F.coalesce(F.col(column), F.lit(default))))

    def remove_duplicates(self, key_cols: str | Sequence[str], order_cols: Sequence[ColumnOrName] | None = None) -> "Pipeline":
        """First-wins keyed dedupe — PipeFlow.cs:218-232.

        The reference keeps the *first* occurrence in encounter order via a
        closure HashSet.  Distributed parity: ``row_number() == 1`` over an
        explicit ``order_cols`` ordering (required — shuffle order is not a
        total order).  Single shuffle on the key; at 100 TB this is a plain
        hash-partitioned window, skew on hot keys handled upstream by
        :mod:`pipeflow_spark.operators.skew`.
        """
        keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        if order_cols is None:
            raise ValueError(
                "remove_duplicates needs explicit order_cols: 'first occurrence' "
                "is undefined without a total order on a distributed table"
            )
        w = Window.partitionBy(*keys).orderBy(*[_to_col(c) for c in order_cols])
        out = (
            self._df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        return self._wrap(out)

    def drop_duplicates_any(self, key_cols: Sequence[str]) -> "Pipeline":
        """Arbitrary-winner keyed dedupe (``dropDuplicates``) for when
        first-wins parity is not needed — cheaper: partial-aggregates
        map-side, no window sort."""
        return self._wrap(self._df.dropDuplicates(list(key_cols)))

    # -- grouping / aggregation (reference: PipeFlow.cs:466-507) ------------
    def group_agg(self, keys: str | Sequence[str], *aggs: Column) -> "Pipeline":
        """``GroupBy(key, aggregations…)`` — PipeFlow.cs:480-507.

        Native hash aggregate: partial map-side combine + final merge, one
        shuffle on the keys. Every agg must carry ``.alias(...)``.
        """
        keys = [keys] if isinstance(keys, str) else list(keys)
        return self._wrap(self._df.groupBy(*keys).agg(*aggs))

    def grouping_sets(self, sets: Sequence[Sequence[str]], cols: Sequence[str], *aggs: Column) -> "Pipeline":
        """``GROUP BY GROUPING SETS`` — the general form of rollup/cube
        (reference gap, SURVEY.md §2.6).  ``sets`` are the grouping-column
        subsets; ``cols`` the union of grouping columns in output order."""
        return self._wrap(self._df.groupingSets([list(s) for s in sets], *cols).agg(*aggs))

    def unpivot(
        self,
        ids: Sequence[str],
        values: Sequence[str],
        var_name: str = "variable",
        value_name: str = "value",
    ) -> "Pipeline":
        """Wide → long (melt): one output row per (id row × value column).
        Inverse of pivot; narrow op (Expand node, no shuffle) — each input row
        expands locally to ``len(values)`` rows."""
        return self._wrap(self._df.unpivot(list(ids), list(values), var_name, value_name))

    def group_apply(self, keys: str | Sequence[str], fn: Callable[[pd.DataFrame], pd.DataFrame], schema: str) -> "Pipeline":
        """Arbitrary per-group aggregator (the reference's lambda aggregators,
        PipeFlow.cs:483) — ``applyInPandas`` Arrow-vectorized grouped map."""
        keys = [keys] if isinstance(keys, str) else list(keys)
        return self._wrap(self._df.groupBy(*keys).applyInPandas(fn, schema=schema))

    # -- vectorized arbitrary transforms (north rule: Arrow, no per-row) ----
    def transform_pandas(self, fn: Callable[[pd.DataFrame], pd.DataFrame], schema: str) -> Self:
        """Arbitrary vectorized row-wise transform (``Map`` with a lambda the
        Column algebra can't express) — ``mapInPandas`` batch iterator."""

        def _op(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                yield fn(pdf)

        return self._wrap(self._df.mapInPandas(_op, schema=schema))

    def flat_map_pandas(self, fn: Callable[[pd.DataFrame], Iterable[pd.DataFrame]], schema: str) -> "Pipeline":
        """Vectorized 1→N flat-map (``SelectMany`` with arbitrary logic)."""

        def _op(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                yield from fn(pdf)

        return self._wrap(self._df.mapInPandas(_op, schema=schema))

    def transform_arrow(self, fn, schema: str) -> "Pipeline":
        """Arbitrary transform on raw ``pyarrow.RecordBatch`` iterators
        (``mapInArrow``) — skips the Arrow→pandas conversion entirely, the
        cheapest Python hop for transforms that operate on Arrow buffers
        (tokenizer kernels, binary payloads).  ``fn(batch) -> RecordBatch``."""

        def _op(it):
            for batch in it:
                yield fn(batch)

        return self._wrap(self._df.mapInArrow(_op, schema=schema))

    # -- batching / parallelism (reference: PipeFlow.cs:198-216) ------------
    def batch(self, _batch_size: int) -> "Pipeline":
        """``Batch(n)`` — PipeFlow.cs:206-216 chunks then flattens: a
        semantic no-op that exists to bound the reference's memory.  Spark's
        unit of batching is the partition / micro-batch, so this is identity;
        kept for API parity."""
        return self

    def parallel(self, n: int, *cols: str) -> "Pipeline":
        """``Parallel(maxDegree)`` — PipeFlow.cs:198-204. Maps to explicit
        repartitioning (hash on ``cols`` when given, else round-robin)."""
        df = self._df.repartition(n, *cols) if cols else self._df.repartition(n)
        return self._wrap(df)

    def coalesce_partitions(self, n: int) -> "Pipeline":
        return self._wrap(self._df.coalesce(n))

    # -- set ops -------------------------------------------------------------
    def union(self, other: "Pipeline | DataFrame") -> "Pipeline":
        o = other.df if isinstance(other, Pipeline) else other
        return self._wrap(self._df.unionByName(o))

    def intersect(self, other: "Pipeline | DataFrame") -> "Pipeline":
        o = other.df if isinstance(other, Pipeline) else other
        return self._wrap(self._df.intersect(o))

    def except_all(self, other: "Pipeline | DataFrame") -> "Pipeline":
        o = other.df if isinstance(other, Pipeline) else other
        return self._wrap(self._df.exceptAll(o))

    # -- joins (reference gap — SURVEY.md §2.6) ------------------------------
    def join(self, other: "Pipeline | DataFrame", on: Any, how: str = "inner", broadcast_other: bool = False) -> "Pipeline":
        o = other.df if isinstance(other, Pipeline) else other
        if broadcast_other:
            o = F.broadcast(o)
        return self._wrap(self._df.join(o, on, how))

    # -- curation bridges (fluent access to the training-data operators) ------
    def redact_pii(self, column: str, out: str | None = None, audit: bool = False) -> "Pipeline":
        """Fluent PII scrub: chained JVM ``regexp_replace`` over
        ``operators.text.PII_RULES``; ``audit=True`` adds the per-rule match
        counts (``n_email/n_ssn/n_phone/n_ip``).  Map-only — pipelines into
        the scan at any scale."""
        from .operators import text as _text

        c = F.col(column)
        df = self._df
        if audit:  # count matches BEFORE the rewrite replaces the column
            df = df.select("*", *_text.pii_counts(c))
        return self._wrap(df.withColumn(out or column, _text.redact_pii(c)))

    def quality_filter(self, column: str, min_score: float, out: str | None = None) -> "Pipeline":
        """Fluent quality gate: keep rows whose
        ``operators.text.quality_score`` ≥ ``min_score``; ``out`` keeps the
        score as a column.  Pure Column algebra, map-only."""
        from .operators import text as _text

        q = _text.quality_score(F.col(column))
        df = self._df.withColumn(out, q) if out else self._df
        return self._wrap(df.filter((q if not out else F.col(out)) >= min_score))

    def perplexity_filter(
        self,
        train: "Pipeline | DataFrame",
        max_xent: float,
        add_k: float = 0.5,
        text_col: str = "text",
        id_col: str = "doc_id",
        out: str | None = None,
    ) -> "Pipeline":
        """Fluent CCNet-style quality gate: keep rows whose bigram-LM
        cross-entropy under a model trained on ``train`` is ≤ ``max_xent``
        (reference-like text passes; boilerplate/noise scores high and
        drops).  ``out`` keeps the score as a column.  The per-doc scores
        semi-join back on ``id_col``, so all original columns survive; rows
        with < 2 tokens have no score and are dropped (no evidence of
        fluency).  See :func:`operators.lm.lm_cross_entropy` for the model
        and the 100 TB plan shape."""
        from .operators import lm as _lm

        if out in self._df.columns:
            raise ValueError(f"perplexity_filter: out={out!r} is already a column")
        tdf = train.df if isinstance(train, Pipeline) else train
        scores = _lm.lm_cross_entropy(
            self._df, tdf, add_k=add_k, text_col=text_col, id_col=id_col
        ).filter(F.col("xent") <= max_xent)
        if out:
            keep = scores.select(id_col, F.col("xent").alias(out))
            return self._wrap(self._df.join(keep, id_col))
        return self._wrap(self._df.join(scores.select(id_col), id_col, "semi"))

    def decontaminate(
        self, eval_df: "Pipeline | DataFrame", text_col: str = "text",
        id_col: str = "doc_id", n: int = 8,
    ) -> "Pipeline":
        """Fluent benchmark decontamination: drop every row sharing a word
        ``n``-gram with the (small) eval corpus —
        ``operators.decontaminate.decontaminate`` (broadcast eval gram
        hashes, map-only corpus side, anti-join on the contaminated ids)."""
        from .operators import decontaminate as _dec

        ev = eval_df.df if isinstance(eval_df, Pipeline) else eval_df
        return self._wrap(_dec.decontaminate(self._df, ev, text_col, id_col, n=n))

    def dedupe_exact_text(self, text_col: str = "text", id_col: str = "doc_id") -> "Pipeline":
        """Fluent exact content dedupe: keep the lowest-``id_col`` row per
        normalized-text fingerprint (one uniform hash shuffle on the md5
        fingerprint — never pairwise)."""
        from .operators import text as _text

        fp = _text.fingerprint(F.col(text_col))
        w = Window.partitionBy(fp).orderBy(F.col(id_col))
        return self._wrap(
            self._df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def remove_dup_spans(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        min_len: int = 12,
        min_count: int = 2,
    ) -> "Pipeline":
        """Fluent ExactSubstr span removal: cut every ≥``min_len``-token span
        occurring ≥``min_count`` times corpus-wide out of the text, keeping
        the unique remainder (``operators.dedupe.remove_dup_spans`` — gram-
        frequency formulation, O(total tokens), never all-pairs).  Output
        rows become ``(id_col, n_tokens, n_removed, clean_text)``."""
        from .operators import dedupe as _dd

        return self._wrap(
            _dd.remove_dup_spans(self._df, text_col, id_col, min_len, min_count)
        )

    def scd2_enrich(
        self,
        dim: "Pipeline | DataFrame",
        key_cols,
        fact_ts: str,
        how: str = "left",
    ) -> "Pipeline":
        """Fluent point-in-time enrichment against an SCD2 version table
        (``operators.scd.scd2_enrich`` — equi-join on the key, interval
        residual filters, never a nested loop)."""
        from .operators import scd as _scd

        d = dim.df if isinstance(dim, Pipeline) else dim
        return self._wrap(_scd.scd2_enrich(self._df, d, key_cols, fact_ts, how=how))

    def range_shards(self, key_cols, boundaries: list) -> "Pipeline":
        """Fluent deterministic range sharding: add a 1-based ``shard`` column
        from pinned boundary literals (``operators.sampling.
        assign_range_shards`` — map-only, stable across cluster sizes)."""
        from .operators import sampling as _s

        return self._wrap(_s.assign_range_shards(self._df, key_cols, boundaries))

    def dedupe_near(
        self,
        threshold: float = 0.8,
        text_col: str = "text",
        id_col: str = "doc_id",
        method: str = "jaccard",
        scores: "DataFrame | None" = None,
    ) -> "Pipeline":
        """Fluent near-dup dedupe: candidate pairs (``jaccard`` =
        prefix-filtered inverted index; ``minhash`` = banded LSH, both
        exact-verified) → connected components → keep one representative per
        cluster (min id, or the highest-``scores`` member when a
        ``(id_col, q)`` frame is given) → anti-join the drop-list.  Every
        stage is bucketed/blocked — no all-pairs comparison at any scale.

        The input is checkpointed once and both the pair search and the
        final anti-join read that checkpoint, so the upstream plan runs
        once, not again in whatever action consumes the result.  The
        tables the pair search persists are released once the clusters
        are checkpointed; nothing reads them after that."""
        from .operators import dedupe as _dd

        if method not in ("jaccard", "minhash"):
            raise ValueError(f"unknown dedupe method: {method!r}")
        df = _dd._ckpt(self._df, reliable=False)
        if method == "jaccard":
            pairs, held = _dd._ngram_jaccard_pairs(df, text_col, id_col, threshold=threshold)
        else:
            pairs, held = _dd._minhash_lsh_pairs(df, text_col, id_col, verify_threshold=threshold)
        comps = _dd.connected_components(pairs)
        for t in held:
            t.unpersist()
        keep = (
            _dd.keep_best(comps, scores, id_col=id_col) if scores is not None
            else _dd.keep_list(comps)
        )
        drops = keep.filter(~F.col("keep")).select(F.col("node").alias(id_col))
        return self._wrap(df.join(drops, id_col, "left_anti"))

    def budget_cap(
        self, key_col: str, order_col: str, weight_col: str, quota: int,
        kept_only: bool = True,
    ) -> "Pipeline":
        """Fluent per-key prefix budget truncation
        (:func:`..operators.quota.budget_cap`): keep each key's rows, in
        ``order_col`` order, while the inclusive running ``weight_col`` total
        fits ``quota``.  ``kept_only=True`` (default) keeps every ORIGINAL
        column — the running sum is computed over the full frame, not the
        operator's audit projection; ``kept_only=False`` returns the audit
        projection (``key, order, weight, cum, kept``) instead."""
        from pyspark.sql import Window

        from .operators.quota import budget_cap as _cap

        if not kept_only:
            return self._wrap(_cap(self._df, key_col, order_col, weight_col, quota))
        w = Window.partitionBy(key_col).orderBy(order_col)
        return self._wrap(
            self._df.withColumn("__cum", F.sum(weight_col).over(w))
            .filter(F.col("__cum") <= quota)
            .drop("__cum")
        )

    def turn_rate_spikes(
        self, ts_col: str, key_col: str, window: str = "1 hour",
        min_prev: int = 3, factor: int = 2,
    ) -> "Pipeline":
        """Fluent per-key rate-spike detection
        (:func:`..operators.anomaly.turn_rate_spikes`): tumbling counts
        judged against the key's own history with the all-integer
        ``spike_rule`` — the same criterion the streaming machine applies
        online."""
        from .operators.anomaly import turn_rate_spikes as _spikes

        return self._wrap(_spikes(self._df, ts_col, key_col, window, min_prev, factor))

    # -- validation (reference: PipeFlow.cs:509-574) --------------------------
    def validate(self, validator: Validator, strategy: ValidationStrategy = ValidationStrategy.SKIP) -> "Pipeline":
        """``Validate(rules, strategy)`` — PipeFlow.cs:509-557.

        Streaming-safe re-expression: validity is a vectorized boolean column,
        never a driver-side materialization.  ``SKIP`` filters, ``FIX`` keeps
        all rows (reference parity: Fix keeps as-is), ``THROW`` raises on the
        first invalid row (counted distributedly), ``LOG`` keeps all rows and
        attaches ``observe()`` metrics — the distributed analog of the
        reference's print-and-keep (``PipeFlow.cs:536-552``): per-row driver
        printing doesn't exist on a cluster, so the side output is a metric
        (``invalid_rows`` / ``total_rows``) readable after any action via
        ``pipeline.validation_observation.get`` (and surfaced per micro-batch
        by StreamingQueryListener in streaming).
        """
        valid = validator.valid_expr()
        if strategy is ValidationStrategy.SKIP:
            return self._wrap(self._df.filter(valid))
        if strategy is ValidationStrategy.FIX:
            return self._wrap(self._df)
        if strategy is ValidationStrategy.LOG:
            from pyspark.sql import Observation

            obs = Observation()
            out = self._wrap(
                self._df.observe(
                    obs,
                    F.sum((~valid).cast("long")).alias("invalid_rows"),
                    F.count(F.lit(1)).alias("total_rows"),
                )
            )
            out.validation_observation = obs
            return out
        if strategy is ValidationStrategy.THROW:
            # Fail-fast INSIDE the single pass: a JVM-side raise_error guard
            # evaluated per row during the one real scan, instead of an eager
            # extra `filter(~valid).limit(1).count()` job that doubled the
            # 100 TB read before the action even started.  The first invalid
            # row fails its task; Pipeline terminals translate the marker
            # back into ValidationError (so the error surfaces at the
            # terminal action — the single-pass semantics).
            guard = (
                F.when(
                    ~valid,
                    F.raise_error(
                        F.lit(f"{_THROW_MARKER}: validation failed: at least one invalid row")
                    ),
                )
                .otherwise(F.lit(True))
                .cast("boolean")
            )
            out = self._wrap(self._df.filter(guard))
            # reference parity (PipeFlow.cs:522-539 validates eagerly over
            # ALL rows): record the check so prefix terminals / truncated
            # plans — whose scan skips rows — still validate everything
            out._throw_checks = self._throw_checks + [(self._df, valid)]
            return out
        raise ValueError(f"unknown strategy {strategy!r}")

    def validate_with_results(self, validator: Validator) -> "Pipeline":
        """``ValidateWithResults`` — PipeFlow.cs:559-574: every row +
        ``errors: array<string>`` column (empty array = valid)."""
        return self._wrap(self._df.withColumn("errors", validator.errors_expr()))

    # -- terminals (reference: Pipeline.cs:104-183) ---------------------------
    def _run(self, action, prefix_terminal: bool = False):
        """Run a terminal action, translating an in-pass THROW-guard failure
        (the JVM raise_error marker) back into :class:`ValidationError`.

        The in-pass guard only sees rows the action's scan evaluates; when
        the scan is partial — a prefix terminal like ``first`` (take(1)
        stops after one row) or a plan truncated by :meth:`take` — the
        recorded full checks run first, matching the reference's eager
        validate-all (PipeFlow.cs:522-539) without taxing the full-scan
        terminals with a second pass."""
        if self._throw_checks and (prefix_terminal or self._plan_truncated):
            for src, valid in self._throw_checks:
                if src.filter(~valid).limit(1).count():
                    raise ValidationError(
                        "validation failed: at least one invalid row"
                    )
        try:
            return action()
        except ValidationError:
            raise
        except Exception as e:  # noqa: BLE001 — marker check, then re-raise
            if _THROW_MARKER in str(e):
                raise ValidationError(
                    "validation failed: at least one invalid row"
                ) from None
            raise

    def count(self) -> int:
        return self._run(self._df.count)

    def first(self):
        rows = self._run(lambda: self._df.take(1), prefix_terminal=True)
        if not rows:
            raise ValueError("empty pipeline")
        return rows[0]

    def first_or_default(self):
        rows = self._run(lambda: self._df.take(1), prefix_terminal=True)
        return rows[0] if rows else None

    def to_list(self) -> list:
        return self._run(self._df.collect)

    def to_datarows(self) -> list:
        """Collect as reference-compatible ``DataRow`` views (case-insensitive
        name access, positional access, ``get_value`` coercion —
        ``PipeFlow/DataRow.cs``).  Driver-side only; the plan itself is
        unchanged."""
        from .datarow import to_datarows

        return to_datarows(self._run(self._df.collect))

    def to_pandas(self) -> pd.DataFrame:
        return self._run(self._df.toPandas)

    def for_each_partition(self, fn) -> None:
        self._run(lambda: self._df.foreachPartition(fn))

    def execute(self) -> PipelineResult:
        """Materialize with metrics — the reference's
        ``ExecutablePipeline.Execute`` (``PipelineBuilder.cs:163-197``)."""
        t0 = time.monotonic()
        try:
            data = self._run(self._df.collect)
            return PipelineResult(True, data, len(data), time.monotonic() - t0)
        except Exception as e:  # noqa: BLE001 — reference wraps all failures
            return PipelineResult(False, None, 0, time.monotonic() - t0, error=str(e))
