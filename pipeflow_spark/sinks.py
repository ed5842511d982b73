"""Sink surface — PipeFlow's writer vocabulary, distributed.

Reference analogs (all single-process, first-row-schema writers):

* ``ToCsv`` — ``PipeFlow/CsvWriter.cs:56-147``: canonical formats
  ``DateTime -> "yyyy-MM-dd HH:mm:ss"``, ``bool -> lowercase``; append mode.
* ``ToJson`` — ``PipeFlow/Json/JsonWriter.cs:47-75``: whole-array document
  (we write distributed JSONL; the array-document shape is a driver-side
  convenience for small results only).
* ``ToSql/ToPostgreSql`` batched INSERT / ``ON CONFLICT`` upsert —
  ``PipeFlow/Sql/SqlWriter.cs:160-194``, ``PostgreSQL/PostgreSqlWriter.cs:220-247``:
  re-expressed as :func:`upsert_parquet` — a keyed MERGE into a parquet-backed
  table with an atomic snapshot swap.  On a real deployment this is Iceberg
  ``MERGE INTO`` and the swap is a snapshot commit; the interface is identical
  (SURVEY.md §7.0 — no Iceberg jar in this sandbox).

Scale notes: every writer here is a distributed ``df.write`` (per-partition
parallel files, no driver materialization).  ``upsert_parquet`` reads the
current table once, anti-joins on the keys (broadcast when the incoming side
is small) and rewrites — O(table) per merge like any copy-on-write format;
at 100 TB you partition the table and merge only touched partitions
(``partition_by`` + dynamic partition overwrite does exactly that).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CANON_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def canonicalize(df: DataFrame) -> DataFrame:
    """Apply the reference's canonical CSV cell formats (CsvWriter.cs:135-147):
    timestamps as ``yyyy-MM-dd HH:mm:ss``, booleans lowercase."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.TimestampType):
            cols.append(F.date_format(c, CANON_TS_FMT).alias(f.name))
        elif isinstance(f.dataType, T.BooleanType):
            cols.append(F.lower(c.cast("string")).alias(f.name))
        else:
            cols.append(c)
    return df.select(*cols)


class write:  # noqa: N801 — fluent exit, mirrors reference `.ToCsv/.ToJson/...`
    @staticmethod
    def csv(df: DataFrame, path: str, mode: str = "overwrite", delimiter: str = ",", header: bool = True) -> None:
        """``ToCsv`` (PipeFlow.cs:315-332) with canonical formats; ``mode=
        "append"`` is the reference's append flag (CsvWriter.cs:50-54)."""
        (
            canonicalize(df)
            .write.mode(mode)
            .options(header=header, sep=delimiter, quote='"', escape='"')
            .csv(path)
        )

    @staticmethod
    def json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
        """``ToJson`` (PipeFlow.cs:334-351) as distributed JSONL."""
        df.write.mode(mode).json(path)

    @staticmethod
    def mongodb(
        df: DataFrame,
        uri: str,
        database: str,
        collection: str,
        mode: str = "append",
        ordered: bool = False,
        **options,
    ) -> None:
        """``ToMongoDB`` (MongoWriter.cs:68-154) via the spark-mongodb
        connector: executors bulk-insert partitions (``ordered=False`` =
        the reference's unordered InsertMany, MongoWriter.cs:36-37); keyed
        upsert maps to the connector's ``operationType=update`` +
        ``idFieldList`` options passed through ``**options``.  Requires the
        connector jar (absent in this sandbox — ``save()`` raises)."""
        from . import mongo_options  # package attr; no circular import at call time

        opts = mongo_options(uri, database, collection, ordered=str(ordered).lower(), **options)
        df.write.format("mongodb").options(**opts).mode(mode).save()

    @staticmethod
    def excel(df: DataFrame, path: str, sheet: str = "Sheet1", headers: bool = True, append: bool = False) -> None:
        """``ToExcel`` (ExcelWriter.cs:58-125) — driver-side single-file
        xlsx for small result sets; see :mod:`pipeflow_spark.excel`."""
        from .excel import write_excel

        write_excel(df, path, sheet=sheet, headers=headers, append=append)

    @staticmethod
    def api(df: DataFrame, url: str, **options) -> None:
        """``ToApi`` (ApiWriter.cs:62-142) — batched JSON requests issued
        from ``foreachPartition`` (distributed, driver never collects)."""
        from .rest import write_api

        write_api(df, url, **options)

    @staticmethod
    def parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    @staticmethod
    def orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.orc(path)

    @staticmethod
    def text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
        """Single string column → one line per row."""
        df.write.mode(mode).text(path)

    @staticmethod
    def bucketed(
        df: DataFrame,
        table: str,
        bucket_cols: Sequence[str],
        num_buckets: int = 32,
        sort_cols: Sequence[str] | None = None,
        path: str | None = None,
        mode: str = "overwrite",
    ) -> None:
        """Bucketed (hash-clustered) parquet table — THE co-located-join
        layout at 100 TB: two tables bucketed on the same keys with the same
        bucket count join with **zero shuffle exchanges** (and zero sorts
        when ``sort_cols`` matches), because the on-disk layout already
        satisfies the join's required distribution.  Write once, join many.

        ``path`` makes it an external table (data at ``path``, only metadata
        in the session catalog); bucket counts should be sized once for the
        largest planned cluster — they are fixed at write time.
        """
        w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
        if sort_cols:
            w = w.sortBy(*sort_cols)
        if path:
            w = w.option("path", path)
        w.saveAsTable(table)

    @staticmethod
    def avro(df: DataFrame, path: str, mode: str = "overwrite", codec: str = "deflate") -> None:
        """Prefers JVM ``spark-avro`` when its jar is present; otherwise the
        stdlib OCF writer (:func:`pipeflow_spark.avro_py.write_avro` — one
        executor-encoded part file per partition)."""
        from . import avro_py

        try:
            df.write.mode(mode).format("avro").save(path)
        except Exception as ex:
            # fall back ONLY when the jar is absent — a real write failure
            # (type mapping, permissions, bad path) must not be masked by a
            # silent stdlib rewrite
            if not avro_py.jar_missing(ex):
                raise
            avro_py.write_avro(df, path, codec=codec, mode=mode)


_CURRENT = "_CURRENT"
_CHANGES = "_changes"


def _read_commit_log(table_path: str) -> list[str]:
    """The ``_CURRENT`` pointer file as a commit LOG: one committed snapshot
    name per line in commit order, last = current (the Iceberg metadata-log
    analog).  A ``_SUCCESS`` marker alone does NOT mean committed — a write
    that crashed between its snapshot write and the pointer flip leaves a
    fully-_SUCCESS dir that was never published; only log membership is
    commit.  Legacy single-line pointers read as a one-entry log."""
    ptr = os.path.join(table_path, _CURRENT)
    if not os.path.exists(ptr):
        return []
    with open(ptr) as f:
        return [ln.strip() for ln in f if ln.strip()]


def _publish_commit(table_path: str, new_name: str) -> None:
    """Append ``new_name`` to the commit log and publish with ONE atomic
    rename — the rename is the commit point, exactly as before; the file
    simply carries the history instead of only the head."""
    log = _read_commit_log(table_path) + [new_name]
    tmp = os.path.join(table_path, f".{_CURRENT}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(log) + "\n")
    os.rename(tmp, os.path.join(table_path, _CURRENT))


def _current_snapshot(table_path: str) -> str | None:
    """Resolve the committed snapshot dir of a pointer-file table, or None.

    Legacy compatibility: a directory holding parquet files directly (no
    pointer) is treated as its own single snapshot.
    """
    log = _read_commit_log(table_path)
    if log:
        snap = os.path.join(table_path, log[-1])
        return snap if os.path.isdir(snap) else None
    if os.path.isdir(table_path) and any(
        f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(table_path)
    ):
        return table_path
    return None


def _snapshot_seqs(names) -> list[int]:
    """Numeric version ids among snapshot dir names (ignores the unversioned
    ``snapshot-<uuid>`` names the catalog's overwrite path writes)."""
    out = []
    for d in names:
        parts = d.split("-")
        if len(parts) >= 2 and parts[1].isdigit():
            out.append(int(parts[1]))
    return out


def _expire_snapshots(
    table_path: str, new_snap: str, keep_snapshots: int, prev_snap: str | None = None
) -> None:
    """Snapshot expiry for a pointer table, ranked by COMMIT-LOG order.

    The retention window is the newest ``keep_snapshots`` entries of the
    commit log (:func:`_read_commit_log`) — a snapshot dir that is not in
    the log was never published (a crash between the snapshot write and the
    pointer flip), no matter how complete its ``_SUCCESS`` looks, and it
    must neither occupy a keep slot nor survive as a phantom time-travel
    target.  A rolled-back-to snapshot ranks at its LATEST log occurrence
    (rollback re-appends it), so it is the newest entry, as it should be.
    The new snapshot and the pre-flip current one are retained
    unconditionally for in-flight readers.  Orphan dirs, expired dirs, and
    stray ``.tmp`` pointer files are removed; the log is then trimmed to
    the entries whose dirs survive (atomic rewrite — readers see the same
    head either way).
    """
    log = _read_commit_log(table_path)
    # rank by latest occurrence (rollback re-appends an older name)
    latest = {name: i for i, name in enumerate(log)}
    ranked = sorted(latest, key=latest.get)
    keep = set(ranked[-max(keep_snapshots, 1):])
    keep.add(new_snap)
    if prev_snap:
        keep.add(os.path.basename(prev_snap))
    for d in os.listdir(table_path):
        full = os.path.join(table_path, d)
        if d.startswith("snapshot-") and d not in keep and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        elif d.endswith(".tmp") and os.path.isfile(full):
            os.remove(full)
    trimmed = [
        n for n in log if n in keep and os.path.isdir(os.path.join(table_path, n))
    ]
    if trimmed and trimmed != log:
        tmp = os.path.join(table_path, f".{_CURRENT}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(trimmed) + "\n")
        os.rename(tmp, os.path.join(table_path, _CURRENT))


def snapshots(table_path: str) -> list[dict]:
    """Committed-snapshot inventory of a pointer-file table, ascending by
    version — the Iceberg ``table.snapshots()`` analog.  Committed = present
    in the COMMIT LOG (the pointer-flip history); a dir with ``_SUCCESS``
    but no log entry is a crashed write that never published and is never
    surfaced.  Only snapshots still retained (``keep_snapshots``) are
    listed; each entry carries ``version`` (the monotonic sequence number),
    ``dir``, and ``is_current``."""
    out = []
    if not os.path.isdir(table_path):
        return out
    log = _read_commit_log(table_path)
    current = log[-1] if log else None
    for d in sorted(set(log)):
        full = os.path.join(table_path, d)
        # expired dirs drop out of the listing; unversioned snapshot-<uuid>
        # names (catalog overwrite path) have no travel id
        if not os.path.isdir(full) or not os.path.exists(os.path.join(full, "_SUCCESS")):
            continue
        seqs = _snapshot_seqs([d])
        if not seqs:
            continue
        out.append({"version": seqs[0], "dir": full, "is_current": d == current})
    out.sort(key=lambda s: s["version"])
    return out


def read_upsert_table(spark: SparkSession, table_path: str, version: int | None = None) -> DataFrame:
    """Read a committed snapshot of an :func:`upsert_parquet` table.

    ``version=None`` → the current pointer (default).  ``version=n`` → time
    travel to snapshot ``n`` (Iceberg ``VERSION AS OF n``), readable as long
    as it is still retained — raise ``keep_snapshots`` on the writer to keep
    a deeper history."""
    if version is not None:
        for s in snapshots(table_path):
            if s["version"] == version:
                return spark.read.parquet(s["dir"])
        raise FileNotFoundError(
            f"snapshot version {version} not retained at {table_path} "
            f"(have {[s['version'] for s in snapshots(table_path)]}); "
            "increase keep_snapshots on the writer for deeper time travel"
        )
    snap = _current_snapshot(table_path)
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot at {table_path}")
    return spark.read.parquet(snap)


def _recover_change_feed(table_path: str) -> None:
    """Single-writer crash recovery for the change feed (see
    :func:`upsert_parquet` ``change_feed``).  A ``.staging-<ver>-<uuid>`` dir
    under ``_changes/`` means the previous writer died between its two
    commit steps.  If the snapshot for ``ver`` committed (the pointer flip
    happened), finish the interrupted publish rename so the feed has no gap;
    otherwise the snapshot never committed and the staged changes are an
    orphan — remove them so the feed never shows a phantom version."""
    cdir = os.path.join(table_path, _CHANGES)
    if not os.path.isdir(cdir):
        return
    committed = {s["version"] for s in snapshots(table_path)}
    for d in os.listdir(cdir):
        full = os.path.join(cdir, d)
        if not d.startswith(".staging-") or not os.path.isdir(full):
            continue
        parts = d.split("-")
        ver = int(parts[1]) if len(parts) >= 2 and parts[1].isdigit() else -1
        final = os.path.join(cdir, f"_commit_version={ver}")
        if ver in committed and not os.path.exists(final):
            os.rename(full, final)
        else:
            shutil.rmtree(full, ignore_errors=True)


def _classify_changes(
    incoming: DataFrame, current: DataFrame | None, keys: list[str], do_update: bool
) -> DataFrame:
    """The CDC rows a keyed MERGE commit produces: every applied incoming row
    tagged ``_change_type`` = ``insert`` (key absent from the pre-merge
    table) or ``update_postimage`` (key present and ``do_update``).  With
    ``do_update=False`` matched rows are *not applied*, so they emit no
    change.  Cost shape at scale: one extra keys-only scan + join of the
    (small) incoming batch against the table keys — the merge itself already
    scans the table, so the feed adds < 1 table scan per commit."""
    if current is None:
        return incoming.withColumn("_change_type", F.lit("insert"))
    existing = current.select(*keys).distinct().withColumn("_pf_matched", F.lit(True))
    if not do_update:
        return incoming.join(existing, keys, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
    return (
        incoming.join(existing, keys, "left")
        .withColumn(
            "_change_type",
            F.when(F.col("_pf_matched").isNotNull(), F.lit("update_postimage")).otherwise(
                F.lit("insert")
            ),
        )
        .drop("_pf_matched")
    )


def read_change_feed(
    spark: SparkSession,
    table_path: str,
    starting_version: int | None = None,
    ending_version: int | None = None,
) -> DataFrame:
    """Batch-read the change feed of an :func:`upsert_parquet` table written
    with ``change_feed=True`` — the Delta ``table_changes`` / Iceberg
    ``create_changelog_view`` analog.  Rows carry the table columns plus
    ``_change_type`` and the ``_commit_version`` partition column; version
    range filters are partition-pruned directory skips, so reading "changes
    since version N" never touches older commits' files."""
    cdir = os.path.join(table_path, _CHANGES)
    has_parts = os.path.isdir(cdir) and any(
        d.startswith("_commit_version=") for d in os.listdir(cdir)
    )
    if not has_parts:
        raise FileNotFoundError(
            f"no change feed at {table_path}; write with "
            "upsert_parquet(..., change_feed=True) to record one"
        )
    # mergeSchema: commits before/after a merge_schema upsert carry
    # different column sets; the feed exposes their union (NULL-padded)
    df = spark.read.option("mergeSchema", "true").parquet(cdir)
    if starting_version is not None:
        df = df.filter(F.col("_commit_version") >= starting_version)
    if ending_version is not None:
        df = df.filter(F.col("_commit_version") <= ending_version)
    return df


def stream_change_feed(spark: SparkSession, table_path: str, **options) -> DataFrame:
    """Tail the change feed as a Structured Streaming source.  Each commit
    publishes a new ``_commit_version=N`` partition directory by atomic
    rename, so the file source discovers exactly the committed change files;
    with a checkpoint the stream resumes from the last processed commit —
    incremental, exactly-once CDC consumption of the table (the
    ``readStream.option("readChangeFeed", ...)`` Delta analog).  ``options``
    pass through to the reader (e.g. ``maxFilesPerTrigger`` for batch
    sizing)."""
    schema = read_change_feed(spark, table_path).schema
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(os.path.join(table_path, _CHANGES))


def expire_change_feed(table_path: str, keep_versions: int) -> list[int]:
    """Retention for the change feed: drop all but the newest
    ``keep_versions`` commit partitions (Iceberg expires changelog data with
    snapshots; here feed and snapshot retention are decoupled so a CDC
    consumer can lag further than time travel).  Returns expired versions."""
    cdir = os.path.join(table_path, _CHANGES)
    if not os.path.isdir(cdir):
        return []
    vers = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(cdir)
        if d.startswith("_commit_version=") and d.split("=", 1)[1].isdigit()
    )
    expired = vers[: -max(keep_versions, 1)] if len(vers) > keep_versions else []
    for v in expired:
        shutil.rmtree(os.path.join(cdir, f"_commit_version={v}"), ignore_errors=True)
    return expired


def _dedupe_incoming(incoming: DataFrame, keys: list[str], order_by: Sequence[str] | None) -> DataFrame:
    """One row per key from the incoming side — MERGE/ON CONFLICT forbids a
    source that affects the same target row twice (PG raises 21000).  With
    ``order_by``, last-wins under that explicit ordering; without, an
    arbitrary winner (``dropDuplicates``), documented and deterministic only
    per task layout."""
    if order_by:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
        return (
            incoming.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return incoming.dropDuplicates(keys)


def upsert_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    table_path: str,
    keys: Sequence[str],
    do_update: bool = True,
    order_by: Sequence[str] | None = None,
    keep_snapshots: int = 2,
    change_feed: bool = False,
    merge_schema: bool = False,
    group_replace: bool = False,
) -> None:
    """Keyed MERGE into a parquet table with an atomic snapshot-pointer commit.

    ``do_update=True`` = ``ON CONFLICT DO UPDATE`` (incoming wins —
    PostgreSqlWriter.cs:228-244); ``False`` = ``ON CONFLICT DO NOTHING``
    (existing wins — PostgreSqlWriter.cs:222-226).  Equivalent to Iceberg
    ``MERGE INTO t USING s ON keys WHEN MATCHED THEN UPDATE WHEN NOT MATCHED
    THEN INSERT``.  Incoming rows are first reduced to one per key
    (:func:`_dedupe_incoming` — pass ``order_by`` for defined last-wins), so
    the table never holds duplicate keys.

    Commit protocol (the parquet stand-in for an Iceberg snapshot commit):
    the merged table is written to a fresh ``snapshot-<n>-<uuid>`` dir, then a
    single atomic rename updates the ``_CURRENT`` pointer file.  Readers
    resolve the pointer (:func:`read_upsert_table`) and always see exactly one
    complete snapshot — there is no window where the table is absent, and a
    crash before the pointer flip leaves the old snapshot intact.  The
    previous ``keep_snapshots - 1`` snapshots are retained for in-flight
    readers; older ones (and orphaned dirs from crashed writes) are expired on
    the next call, like Iceberg snapshot expiry.

    ``change_feed=True`` additionally records the commit's applied rows
    (tagged ``insert`` / ``update_postimage``) under
    ``<table>/_changes/_commit_version=<n>/`` — the Delta Change Data Feed
    analog.  The change partition is staged during the write and published by
    atomic directory rename immediately after the pointer flip; a crash
    between the two steps is repaired (or the orphan dropped) by the next
    writer (:func:`_recover_change_feed`), so the feed shows exactly the
    committed versions.  Read with :func:`read_change_feed` (batch,
    partition-pruned version ranges) or :func:`stream_change_feed`
    (checkpointed incremental tail).

    ``merge_schema=True`` is schema evolution on write (the Delta
    ``mergeSchema`` / Iceberg union-by-name write option analog): incoming
    may ADD columns (retained rows get NULL) or OMIT existing ones (incoming
    rows get NULL); the committed snapshot carries the union of both
    schemas.  Type changes for a same-named column are NOT coerced — the
    union raises, which is the safe default (silent widening corrupts
    readers pinned to the old type).  Off by default so a typo'd column
    name fails loudly instead of forking the schema.
    """
    keys = list(keys)
    if group_replace and not do_update:
        raise ValueError("group_replace requires do_update=True (it is a keyed DELETE+INSERT)")
    if group_replace and change_feed:
        raise ValueError(
            "group_replace + change_feed unsupported: the change classifier "
            "assumes one row per key; group commits would need per-group "
            "delete markers"
        )
    os.makedirs(table_path, exist_ok=True)
    if change_feed:
        _recover_change_feed(table_path)
    snap = _current_snapshot(table_path)
    # group_replace: keyed DELETE+INSERT of whole key GROUPS — the MERGE
    # shape for one-to-many materializations (e.g. SCD2 version tables,
    # per-key top-k lists) where one logical key legitimately owns several
    # physical rows.  Incoming must carry the group's complete new row set;
    # fully-duplicated rows are collapsed so an idempotent replay (existing
    # rows re-presented alongside themselves) cannot double them.
    if group_replace:
        incoming = incoming.distinct()
    else:
        incoming = _dedupe_incoming(incoming, keys, order_by)
    current = None
    if snap is not None:
        current = spark.read.parquet(snap)
        if not merge_schema and set(current.columns) != set(incoming.columns):
            raise ValueError(
                "incoming schema differs from table schema "
                f"(table-only: {sorted(set(current.columns) - set(incoming.columns))}, "
                f"incoming-only: {sorted(set(incoming.columns) - set(current.columns))}); "
                "pass merge_schema=True to evolve the table schema"
            )
        if do_update:
            keep = current.join(incoming.select(*keys).distinct(), keys, "left_anti")
            merged = keep.unionByName(incoming, allowMissingColumns=merge_schema)
        else:
            add = incoming.join(current.select(*keys).distinct(), keys, "left_anti")
            merged = current.unionByName(add, allowMissingColumns=merge_schema)
    else:
        merged = incoming

    existing = sorted(d for d in os.listdir(table_path) if d.startswith("snapshot-"))
    # next version = max existing + 1, NOT count + 1: after expiry the count
    # is smaller than the highest retained version, and count-based numbering
    # would mint a duplicate (or out-of-order) version id.  Unversioned
    # snapshot names (catalog overwrite-writes use snapshot-<uuid>) count
    # toward the sequence so versions stay unique past them; log entries are
    # unioned in case a committed dir was removed out-of-band.
    seq = (
        max(
            _snapshot_seqs(set(existing) | set(_read_commit_log(table_path))),
            default=len(existing),
        )
        + 1
    )
    new_snap = f"snapshot-{seq:06d}-{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(os.path.join(table_path, new_snap))
    staging = None
    if change_feed:
        staging = os.path.join(table_path, _CHANGES, f".staging-{seq}-{uuid.uuid4().hex[:8]}")
        _classify_changes(incoming, current, keys, do_update).write.mode("overwrite").parquet(
            staging
        )
    _publish_commit(table_path, new_snap)  # the atomic commit
    if staging is not None:
        os.rename(staging, os.path.join(table_path, _CHANGES, f"_commit_version={seq}"))
    # snapshot expiry: retain the newest ``keep_snapshots`` committed
    # snapshots (the new one plus history for in-flight readers and
    # VERSION-AS-OF time travel); everything older — and orphans from
    # crashed writes — expires.
    _expire_snapshots(table_path, new_snap, keep_snapshots, prev_snap=snap)


def compact_snapshot(
    spark: SparkSession,
    table_path: str,
    target_files: int = 8,
    sort_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
    keep_snapshots: int = 2,
) -> int:
    """Small-file compaction for a pointer table (the Iceberg
    ``rewrite_data_files`` analog): read the current snapshot, rewrite it as
    ``target_files`` files (optionally sorted by ``sort_by`` for
    single-column clustering, or Morton-clustered by ``zorder_by`` — the
    ``rewrite_data_files(strategy=>'sort', sort_order=>'zorder(...)')`` /
    Delta ``OPTIMIZE ZORDER BY`` analog — for multi-column min-max pruning),
    and commit via the same atomic pointer flip.  Data is bit-identical;
    only the layout changes.

    Streaming upserts commit one snapshot per micro-batch, each a full
    rewrite here at sandbox scale but an incremental commit on Iceberg — at
    either scale periodic compaction bounds file counts so reader listing
    and task planning stay O(target_files).  Returns the new file count.
    """
    import uuid as _uuid

    if sort_by and zorder_by:
        raise ValueError("pass sort_by or zorder_by, not both")
    snap = _current_snapshot(table_path)
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot at {table_path}")
    df = spark.read.parquet(snap)
    if zorder_by:
        from .operators.zorder import zorder_key

        clustered, key = zorder_key(df, list(zorder_by))
        df = (
            clustered.withColumn("_zkey", key)
            .repartitionByRange(target_files, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
    elif sort_by:
        df = df.repartitionByRange(target_files, *[F.col(c) for c in sort_by]).sortWithinPartitions(
            *sort_by
        )
    else:
        df = df.coalesce(target_files)

    committed_before = sorted(
        d for d in os.listdir(table_path)
        if d.startswith("snapshot-") and os.path.isdir(os.path.join(table_path, d))
    )
    seq = max(_snapshot_seqs(committed_before), default=len(committed_before)) + 1
    new_snap = f"snapshot-{seq:06d}-{_uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(os.path.join(table_path, new_snap))
    _publish_commit(table_path, new_snap)
    _expire_snapshots(table_path, new_snap, keep_snapshots, prev_snap=snap)
    return sum(1 for f in os.listdir(os.path.join(table_path, new_snap)) if f.endswith(".parquet"))


def rollback_snapshot(table_path: str, version: int) -> str:
    """Roll the table back to a retained snapshot (the Iceberg
    ``rollback_to_snapshot`` analog): atomically re-point ``_CURRENT`` at the
    older snapshot's directory.  No data moves and no new version is minted —
    exactly Iceberg's ref-move semantics — so the rollback is O(1), readers
    flip at the rename, and a later upsert MERGEs against the rolled-back
    state and commits the next monotonic version (history never rewinds).

    Only snapshots still inside the ``keep_snapshots`` retention window can
    be rollback targets; expired versions raise with the retained list.
    """
    import uuid as _uuid

    by_version = {s["version"]: s["dir"] for s in snapshots(table_path)}
    if version not in by_version:
        raise ValueError(
            f"version {version} is not retained at {table_path}; "
            f"retained versions: {sorted(by_version)}"
        )
    target = os.path.basename(by_version[version])
    # re-APPEND the target to the commit log (the atomic ref move): history
    # is preserved and the rolled-back-to snapshot ranks newest for expiry
    _publish_commit(table_path, target)
    return target


# -- JDBC sinks (ToSql / ToSqlBulk / ToPostgreSql) ----------------------------


def upsert_statement(
    table: str,
    staging: str,
    columns: Sequence[str],
    keys: Sequence[str],
    dialect: str = "postgresql",
    do_update: bool = True,
) -> str:
    """The keyed-upsert SQL the reference writers issue, generated per dialect.

    * ``postgresql`` → ``INSERT … SELECT … ON CONFLICT (keys) DO UPDATE SET
      col = EXCLUDED.col`` / ``DO NOTHING`` (PostgreSqlWriter.cs:220-247).
    * ``sqlserver`` → ``MERGE INTO … USING staging … WHEN MATCHED THEN UPDATE
      WHEN NOT MATCHED THEN INSERT`` (the set-based twin of SqlWriter.cs's
      batched INSERT, which has no upsert mode — MERGE is the T-SQL idiom).

    Non-key columns drive the UPDATE SET list; a key-only table degrades to
    DO NOTHING (nothing to update).
    """
    cols = list(columns)
    keys = list(keys)
    non_keys = [c for c in cols if c not in keys]
    col_list = ", ".join(cols)
    if dialect == "postgresql":
        head = f"INSERT INTO {table} ({col_list}) SELECT {col_list} FROM {staging}"
        if do_update and non_keys:
            sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in non_keys)
            return f"{head} ON CONFLICT ({', '.join(keys)}) DO UPDATE SET {sets}"
        return f"{head} ON CONFLICT ({', '.join(keys)}) DO NOTHING"
    if dialect == "sqlserver":
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        insert = f"INSERT ({col_list}) VALUES ({', '.join('s.' + c for c in cols)})"
        merge = f"MERGE INTO {table} AS t USING {staging} AS s ON {on}"
        if do_update and non_keys:
            sets = ", ".join(f"t.{c} = s.{c}" for c in non_keys)
            return f"{merge} WHEN MATCHED THEN UPDATE SET {sets} WHEN NOT MATCHED THEN {insert};"
        return f"{merge} WHEN NOT MATCHED THEN {insert};"
    raise ValueError(f"unknown dialect {dialect!r}")


class jdbc:  # noqa: N801 — fluent exit, mirrors reference `.ToSql/.ToPostgreSql`
    """JDBC write surface — ``ToSql`` / ``ToSqlBulk`` / ``ToPostgreSql``
    (``PipeFlow/Sql/SqlWriter.cs:57-194``,
    ``PipeFlow/PostgreSQL/PostgreSqlWriter.cs:123-247``).

    Spark's JDBC writer already does what the reference hand-rolls: executors
    write partitions in parallel with batched prepared statements
    (``batchsize``), inside per-partition transactions, and ``truncate=true``
    reuses the table like the reference's truncate-first mode.  ``ToSqlBulk``
    maps to a large ``batchsize`` + ``rewriteBatchedStatements``-style driver
    options passed through ``**options``.
    """

    @staticmethod
    def write(
        df: DataFrame,
        url: str,
        table: str,
        mode: str = "append",
        batch_size: int = 1000,
        truncate: bool = False,
        num_partitions: int | None = None,
        **options,
    ) -> None:
        """``ToSql`` — batched multi-row INSERT in transactions
        (SqlWriter.cs:160-194); ``mode='overwrite', truncate=True`` =
        truncate-first (SqlWriter.cs:151-158)."""
        w = df.write.format("jdbc").options(
            url=url, dbtable=table, batchsize=str(batch_size), truncate=str(truncate).lower(), **options
        )
        if num_partitions:
            w = w.option("numPartitions", str(num_partitions))
        w.mode(mode).save()

    @staticmethod
    def upsert(
        df: DataFrame,
        url: str,
        table: str,
        keys: Sequence[str],
        run_sql,
        dialect: str = "postgresql",
        do_update: bool = True,
        staging_table: str | None = None,
        order_by: Sequence[str] | None = None,
        **options,
    ) -> str:
        """``ToPostgreSql`` upsert via the staging-table + set-based-merge
        protocol: write to a staging table (distributed, batched), then one
        ``ON CONFLICT``/``MERGE`` statement moves it into the target
        atomically.  ``run_sql(sql)`` executes the merge on the database —
        injected because JDBC DDL runs outside Spark (on a deployment it's a
        psycopg/pyodbc call from the driver); returns the statement for
        observability.  Incoming duplicates are reduced to one row per key
        first (MERGE source must not hit a target row twice)."""
        staging = staging_table or f"{table}__staging"
        deduped = _dedupe_incoming(df, list(keys), order_by)
        jdbc.write(deduped, url, staging, mode="overwrite", **options)
        stmt = upsert_statement(table, staging, deduped.columns, keys, dialect, do_update)
        run_sql(stmt)
        run_sql(f"DROP TABLE {staging}")
        return stmt


def collect_json_document(
    df: DataFrame, path: str, order_by: Sequence[str | Column] = (), append: bool = False
) -> None:
    """The reference's whole-array JSON *document* shape (JsonWriter.cs:47-75)
    — driver-side, for small results only (it materializes).

    ``append=True`` is the reference's read-merge-rewrite append
    (JsonWriter.cs:62-71): the existing array document is parsed, the new
    rows are appended, and the whole document is atomically rewritten —
    array documents have no valid tail-append."""
    import json as _json

    if order_by:
        df = df.orderBy(*order_by)
    rows = [r.asDict(recursive=True) for r in df.collect()]
    if append and os.path.exists(path):
        with open(path) as f:
            existing = _json.load(f)
        if not isinstance(existing, list):
            raise ValueError(f"{path} is not a JSON array document; cannot append")
        rows = existing + rows
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        _json.dump(rows, f, indent=2, default=str)
    os.rename(tmp, path)


__all__ = [
    "CANON_TS_FMT",
    "canonicalize",
    "collect_json_document",
    "jdbc",
    "read_upsert_table",
    "upsert_parquet",
    "upsert_statement",
    "write",
]
