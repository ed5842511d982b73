"""Exactly-once idempotent sink for ``foreachBatch``.

``foreachBatch`` is at-least-once: after a crash between sink write and
checkpoint commit, Spark replays the same ``batch_id``.  This sink makes the
replay a no-op (SURVEY.md §4.2.2, reference analog: PipeFlow's
transaction+upsert batches, ``Builder/PipelineDestinationExtensions.cs:291-304``
and PG ``ON CONFLICT`` upsert, ``PostgreSQL/PostgreSqlWriter.cs:220-247``):

* output is partitioned **by batch id** (``batch_id=N/`` dirs) — a replayed
  batch deterministically overwrites its own partition and nobody else's;
* a **committed-batch ledger** (one marker file per batch, atomic rename)
  records completion; replay of a committed batch is skipped entirely;
* **lineage columns** (``_batch_id``) and a per-batch **metrics ledger**
  (rows, watermark at commit) ride along for observability.

On a real deployment the same protocol maps 1:1 onto Iceberg: partition
overwrite → ``overwritePartitions()`` snapshot commit, ledger → snapshot
summary props; the interface is kept storage-agnostic so that swap is a
config flip (SURVEY.md §7.0 — no Iceberg jar in this sandbox).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class BatchLedger:
    """Commit-marker ledger shared by the exactly-once sinks: one marker
    file per committed batch (write-temp + atomic rename) plus a
    contiguous-prefix high-water fold so a forever-running stream never
    degrades ``is_committed`` into a listdir over millions of entries.
    Extracted so :class:`ExactlyOnceSink` and :class:`FanoutSink` share ONE
    commit protocol (a group ledger is the same object, pointed at the
    fanout root)."""

    _HIGH_WATER = "_committed_through"

    def __init__(self, ledger_dir: str):
        self.ledger_dir = ledger_dir
        os.makedirs(ledger_dir, exist_ok=True)

    def high_water(self) -> int:
        p = os.path.join(self.ledger_dir, self._HIGH_WATER)
        if os.path.exists(p):
            with open(p) as f:
                return int(f.read().strip())
        return -1

    def is_committed(self, batch_id: int) -> bool:
        return batch_id <= self.high_water() or os.path.exists(
            os.path.join(self.ledger_dir, str(batch_id))
        )

    def marker_ids(self) -> list[int]:
        """Sorted batch ids with an individual marker file — O(#markers),
        which compaction keeps bounded (vs O(high-water), which grows
        forever).  Hot paths iterate this plus ``high_water()``."""
        return sorted(
            int(f) for f in os.listdir(self.ledger_dir) if not f.startswith((".", "_"))
        )

    def contiguous_committed_through(self) -> int:
        """Highest N with batches 0..N all committed (folding past a gap
        would falsely mark the gap batch done)."""
        through = self.high_water()
        marks = set(self.marker_ids())
        while through + 1 in marks:
            through += 1
        return through

    def committed_batches(self) -> list[int]:
        """Full committed id list — test/tool convenience, O(high-water)
        after compaction folds markers into the high-water file; production
        paths use ``high_water()`` + ``marker_ids()`` instead."""
        hw = self.high_water()
        return list(range(hw + 1)) + [m for m in self.marker_ids() if m > hw]

    def commit(self, batch_id: int) -> None:
        """Atomic commit marker: write-temp + rename."""
        tmp = os.path.join(self.ledger_dir, f".{batch_id}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write("committed")
        os.rename(tmp, os.path.join(self.ledger_dir, str(batch_id)))

    def compact(self, keep_last: int = 100) -> int:
        """Fold the contiguous committed prefix into ONE high-water marker
        and delete the per-batch files it covers (except the newest
        ``keep_last``).

        At 10^12-turn scale the ledger is written once per micro-batch
        forever; without compaction ``is_committed`` degrades to a listdir
        over millions of entries and small-file pressure grows unboundedly.
        The fold is only taken over a *contiguous* prefix (a gap means an
        uncommitted batch — folding past it would falsely mark it done), and
        the high-water file is published before the covered markers are
        removed, so a crash mid-compaction can only leave redundant markers,
        never lose a commit.  Returns the new high-water mark (-1 if none).
        """
        marks = self.marker_ids()
        new_hw = self.contiguous_committed_through() - keep_last
        if new_hw <= self.high_water():
            return self.high_water()
        tmp = os.path.join(self.ledger_dir, f".{self._HIGH_WATER}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(new_hw))
        os.rename(tmp, os.path.join(self.ledger_dir, self._HIGH_WATER))  # atomic publish
        # remove only the marker FILES that exist (O(#markers), not a
        # re-probe of every id since batch 0)
        for b in marks:
            if b <= new_hw:
                try:
                    os.remove(os.path.join(self.ledger_dir, str(b)))
                except FileNotFoundError:
                    pass  # concurrent compact of a shared ledger — already gone
        return new_hw


def _batch_dir_ids(data_dir: str) -> list[int]:
    """Sorted batch ids with a ``batch_id=N`` dir under ``data_dir`` —
    O(#dirs), which data compaction keeps bounded; the read paths iterate
    this instead of every id from 0 to the high-water mark."""
    if not os.path.isdir(data_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(data_dir) if d.startswith("batch_id=")
    )


def _committed_metrics(metrics_dir: str, ledger: BatchLedger) -> list[dict]:
    """The ``N.json`` per-batch metrics of ``ledger``-committed batches,
    ascending by batch id — iterates the metric FILES on disk (O(#files)),
    not every id up to the high-water mark."""
    if not os.path.isdir(metrics_dir):
        return []
    ids = sorted(
        int(f[:-5]) for f in os.listdir(metrics_dir) if f.endswith(".json") and f[:-5].isdigit()
    )
    out = []
    for b in ids:
        if ledger.is_committed(b):
            with open(os.path.join(metrics_dir, f"{b}.json")) as f:
                out.append(json.load(f))
    return out


class ExactlyOnceSink:
    """Idempotent per-batch parquet committer.

    Layout::

        root/
          data/batch_id=N/*.parquet    (committed output partitions)
          _ledger/N                    (commit markers, atomic rename)
          _metrics/N.json              (per-batch metrics)
    """

    def __init__(self, root: str, fail_after_write_batch_id: int | None = None):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self._ledger = BatchLedger(os.path.join(root, "_ledger"))
        self.ledger_dir = self._ledger.ledger_dir
        self.metrics_dir = os.path.join(root, "_metrics")
        for d in (self.data_dir, self.metrics_dir):
            os.makedirs(d, exist_ok=True)
        # fault injection for tests: crash between data write and ledger commit
        self.fail_after_write_batch_id = fail_after_write_batch_id

    # -- commit protocol (delegated to the shared BatchLedger) ---------------
    def is_committed(self, batch_id: int) -> bool:
        return self._ledger.is_committed(batch_id)

    def committed_batches(self) -> list[int]:
        return self._ledger.committed_batches()

    def compact_ledger(self, keep_last: int = 100) -> int:
        """See :meth:`BatchLedger.compact`."""
        return self._ledger.compact(keep_last)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """The ``foreachBatch`` hook."""
        if self.is_committed(batch_id):
            return  # replay of a committed batch → exactly-once no-op

        part_dir = os.path.join(self.data_dir, f"batch_id={batch_id}")
        if os.path.exists(part_dir):
            shutil.rmtree(part_dir)  # partial write from a crashed attempt

        out = batch_df.withColumn("_batch_id", F.lit(batch_id))
        out.write.mode("overwrite").parquet(part_dir)
        # lineage + row counts come from the written files' parquet footers —
        # driver-side pyarrow metadata read, no extra Spark job; counting
        # batch_df BEFORE the write would recompute the whole upstream plan
        # twice per batch.  Per-file entries are the per-partition lineage:
        # every committed output partition file is traced to its batch with
        # its own row count (the Iceberg analog is the manifest entry).
        files = self._footer_counts(part_dir)
        n = sum(f["rows"] for f in files)

        if self.fail_after_write_batch_id == batch_id:
            self.fail_after_write_batch_id = None
            raise RuntimeError(f"injected failure after write of batch {batch_id}")

        with open(os.path.join(self.metrics_dir, f"{batch_id}.json"), "w") as f:
            json.dump({"batch_id": batch_id, "rows": n, "partitions": files}, f)

        self._ledger.commit(batch_id)

    @staticmethod
    def _footer_counts(part_dir: str) -> list[dict]:
        """``[{file, rows}]`` for every output partition file, from parquet
        footer metadata only."""
        import pyarrow.parquet as pq

        return [
            {"file": f, "rows": pq.ParquetFile(os.path.join(part_dir, f)).metadata.num_rows}
            for f in sorted(os.listdir(part_dir))
            if f.endswith(".parquet")
        ]

    # -- data compaction ------------------------------------------------------
    _COMPACT_THROUGH = "_compacted_through"

    @property
    def compact_dir(self) -> str:
        return os.path.join(self.root, "compact")

    def _compacted_through(self) -> int:
        p = os.path.join(self.compact_dir, self._COMPACT_THROUGH)
        if os.path.exists(p):
            with open(p) as f:
                return int(f.read().strip())
        return -1

    def compact_data(self, spark, keep_last: int = 10) -> int:
        """Fold the committed per-batch partition dirs (minus the newest
        ``keep_last``) into ONE compacted segment — the data-side twin of
        :meth:`compact_ledger`.  A micro-batch sink writes a directory per
        trigger forever; at 10^12-turn scale that is millions of small
        files, and small-file pressure (not row volume) becomes the read
        bottleneck.  Lineage survives: ``_batch_id`` is a real column in
        every row, so per-batch provenance is a filter, not a directory.

        Crash-safe commit protocol (same shape as the snapshot tables):
        write ``segment-<T>`` fully → atomically publish the
        ``_compacted_through = T`` pointer → delete covered batch dirs.  A
        crash before the publish leaves an orphan segment that is never
        read; a crash after it leaves redundant batch dirs that
        :meth:`read_committed` skips (it reads only batches > T) and the
        next compaction removes.  Replay stays exactly-once: the LEDGER is
        untouched, so a replayed compacted batch is still a committed no-op.
        Only the contiguous committed prefix folds (a gap = an uncommitted
        batch; folding past it would serve rows for a batch the ledger
        disowns).  Returns the new compacted-through id (-1 if nothing to
        do)."""
        target = self._ledger.contiguous_committed_through() - keep_last
        prev = self._compacted_through()
        if target <= prev:
            return prev
        os.makedirs(self.compact_dir, exist_ok=True)
        sources = []
        old_seg = os.path.join(self.compact_dir, f"segment-{prev}")
        if prev >= 0 and os.path.isdir(old_seg):
            sources.append(old_seg)
        # enumerate the dirs that actually exist (O(#dirs), bounded by prior
        # compactions) rather than probing every id in (prev, target]
        covered = [
            os.path.join(self.data_dir, f"batch_id={b}")
            for b in _batch_dir_ids(self.data_dir)
            if prev < b <= target
        ]
        sources += covered
        seg_tmp = os.path.join(self.compact_dir, f".segment-{target}.{uuid.uuid4().hex}.tmp")
        if sources:
            spark.read.parquet(*sources).write.mode("overwrite").parquet(seg_tmp)
        else:  # nothing but empty batches in range: an empty committed segment
            os.makedirs(seg_tmp)
            open(os.path.join(seg_tmp, "_SUCCESS"), "w").close()
        new_seg = os.path.join(self.compact_dir, f"segment-{target}")
        if os.path.isdir(new_seg):
            # orphan from a crash AFTER this rename but BEFORE the pointer
            # publish below: rename onto a non-empty dir raises ENOTEMPTY
            # forever, wedging every retry — clear it first (never read:
            # the pointer still names the previous segment)
            shutil.rmtree(new_seg)
        os.rename(seg_tmp, new_seg)
        tmp = os.path.join(self.compact_dir, f".{self._COMPACT_THROUGH}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(target))
        os.rename(tmp, os.path.join(self.compact_dir, self._COMPACT_THROUGH))  # publish
        for d in covered:
            shutil.rmtree(d, ignore_errors=True)
        if prev >= 0 and os.path.isdir(old_seg):
            shutil.rmtree(old_seg, ignore_errors=True)
        return target

    # -- read side ------------------------------------------------------------
    def read_committed(self, spark) -> DataFrame:
        """Snapshot view over committed batches only (uncommitted partitions
        are invisible — the Iceberg-snapshot semantics on plain parquet).
        Served from the compacted segment (batches ≤ compacted-through) plus
        the live per-batch dirs above it."""
        through = self._compacted_through()
        dirs = []
        seg = os.path.join(self.compact_dir, f"segment-{through}")
        if through >= 0 and os.path.isdir(seg):
            dirs.append(seg)
        dirs += [
            os.path.join(self.data_dir, f"batch_id={b}")
            for b in _batch_dir_ids(self.data_dir)
            if b > through and self.is_committed(b)
        ]
        if not dirs:
            raise ValueError("no committed batches")
        return spark.read.parquet(*dirs)

    def metrics(self) -> list[dict]:
        """Per-batch metrics for committed batches, ascending by batch id."""
        return _committed_metrics(self.metrics_dir, self._ledger)

    def lineage(self, spark) -> DataFrame:
        """The per-partition lineage ledger as a queryable DataFrame — one
        row per committed output FILE: ``(batch_id, file, rows)``.  This is
        the audit surface for "which batch wrote which partition, and how
        many rows" (the Iceberg-manifest-entry analog), joinable against
        ``read_committed()`` output on ``_batch_id``."""
        rows = [
            (m["batch_id"], p["file"], p["rows"])
            for m in self.metrics()
            for p in m["partitions"]
        ]
        return spark.createDataFrame(rows, "batch_id bigint, file string, rows bigint")


class FanoutSink:
    """``foreachBatch`` hook fanning one micro-batch into N derived tables
    under a SINGLE atomic commit — the multi-table-transaction analog
    (Iceberg's single-commit WAP across tables; reference analog: the
    transaction wrapping PipeFlow's upsert batches,
    ``PostgreSQL/PostgreSqlWriter.cs:183-216``, generalized to many tables).

    The real-world shape: a curated-corpus table plus its search index plus a
    metrics rollup must move in lockstep — an index row pointing at a corpus
    row that isn't visible (or vice versa) is corruption, and the
    per-side-ledger :class:`QuarantiningSink` protocol explicitly allows that
    window during replay.  Here there is ONE ledger for the whole group::

        root/
          <table>/data/batch_id=N/*.parquet   (per-table output partitions)
          <table>/_metrics/N.json
          _ledger/N                           (ONE marker for ALL tables)

    Commit order: write every table's partition → write every table's
    metrics → one atomic marker rename.  A crash anywhere before the marker
    leaves batch N invisible in EVERY table (readers consult the shared
    ledger); the replay deterministically rewrites all tables' ``batch_id=N``
    partitions and commits once.  Visibility is therefore all-or-nothing per
    batch, across tables.

    ``outputs`` maps table name → pure transform (``DataFrame → DataFrame``)
    applied to the micro-batch; the batch is persisted so the upstream plan
    executes once, with each transform a plan over the cached batch.
    """

    def __init__(
        self,
        root: str,
        outputs: dict[str, "object"],
        fail_after_table: str | None = None,
        fail_at_batch: int = 1,
    ):
        if not outputs:
            raise ValueError("FanoutSink needs at least one output table")
        self.root = root
        self.outputs = dict(outputs)
        self._ledger = BatchLedger(os.path.join(root, "_ledger"))
        self.ledger_dir = self._ledger.ledger_dir
        for name in self.outputs:
            os.makedirs(os.path.join(root, name, "data"), exist_ok=True)
            os.makedirs(os.path.join(root, name, "_metrics"), exist_ok=True)
        # fault injection: crash after this table's data write for batch
        # ``fail_at_batch``, before the group commit
        self.fail_after_table = fail_after_table
        self.fail_at_batch = fail_at_batch

    def is_committed(self, batch_id: int) -> bool:
        return self._ledger.is_committed(batch_id)

    def committed_batches(self) -> list[int]:
        return self._ledger.committed_batches()

    def compact_ledger(self, keep_last: int = 100) -> int:
        """Fold the group ledger's contiguous prefix — one call compacts the
        commit history for ALL fanout tables (see :meth:`BatchLedger.compact`)."""
        return self._ledger.compact(keep_last)

    def _part_dir(self, name: str, batch_id: int) -> str:
        return os.path.join(self.root, name, "data", f"batch_id={batch_id}")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return  # replay of a committed batch → exactly-once no-op
        batch_df.persist()
        try:
            per_table: dict[str, list[dict]] = {}
            for name, fn in self.outputs.items():
                part_dir = self._part_dir(name, batch_id)
                if os.path.exists(part_dir):
                    shutil.rmtree(part_dir)  # partial write from a crashed attempt
                out = fn(batch_df).withColumn("_batch_id", F.lit(batch_id))
                out.write.mode("overwrite").parquet(part_dir)
                per_table[name] = ExactlyOnceSink._footer_counts(part_dir)
                if self.fail_after_table == name and batch_id >= self.fail_at_batch:
                    self.fail_after_table = None
                    raise RuntimeError(
                        f"injected failure after table {name!r} of batch {batch_id}"
                    )
            for name, files in per_table.items():
                with open(
                    os.path.join(self.root, name, "_metrics", f"{batch_id}.json"), "w"
                ) as f:
                    json.dump(
                        {
                            "batch_id": batch_id,
                            "table": name,
                            "rows": sum(p["rows"] for p in files),
                            "partitions": files,
                        },
                        f,
                    )
            # the ONE atomic commit for the whole table group
            self._ledger.commit(batch_id)
        finally:
            batch_df.unpersist()

    def read_committed(self, spark, name: str) -> DataFrame:
        """Snapshot view of one table over group-committed batches only."""
        if name not in self.outputs:
            raise KeyError(f"unknown fanout table {name!r}")
        ids = _batch_dir_ids(os.path.join(self.root, name, "data"))
        dirs = [self._part_dir(name, b) for b in ids if self._ledger.is_committed(b)]
        if not dirs:
            raise ValueError(f"no committed batches for table {name!r}")
        return spark.read.parquet(*dirs)

    def metrics(self, name: str) -> list[dict]:
        if name not in self.outputs:  # fail fast, same contract as read_committed
            raise KeyError(f"unknown fanout table {name!r}")
        return _committed_metrics(os.path.join(self.root, name, "_metrics"), self._ledger)


class QuarantiningSink:
    """``foreachBatch`` hook splitting every micro-batch on a
    :class:`..validation.Validator`: valid rows → the main
    :class:`ExactlyOnceSink`, invalid rows (plus an ``_errors``
    failed-rule-message array) → a quarantine sink — the dead-letter-queue
    form of the reference's ``Validate`` SKIP/LOG strategies
    (``DataValidator.cs:48-120``): nothing is silently dropped, nothing
    poisons the main output, and every quarantined row carries WHY.

    Exactly-once holds for each side independently (each sink keeps its own
    ledger under the SAME batch_id): a crash between the two commits replays
    the batch — the committed side no-ops, the other completes.  The batch is
    persisted so the upstream micro-batch plan runs once, not once per side;
    the validity predicate is a pure Column expression, so both filters are
    JVM map stages over the cached batch."""

    def __init__(self, main: "ExactlyOnceSink", dlq: "ExactlyOnceSink", validator):
        self.main, self.dlq, self.validator = main, dlq, validator

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        v = F.coalesce(self.validator.valid_expr(), F.lit(False))
        batch_df.persist()
        try:
            self.main(batch_df.filter(v), batch_id)
            self.dlq(
                batch_df.filter(~v).withColumn("_errors", self.validator.errors_expr()),
                batch_id,
            )
        finally:
            batch_df.unpersist()
