"""SparkSession factory with scale-aware defaults.

The engine targets a multi-executor cluster reading ~100 TB; in this sandbox it
runs ``local[N]`` (single JVM).  All confs below are safe on both: shuffle
partitioning scales with parallelism, AQE re-plans at runtime (coalesce /
skew-join), Arrow is on for every pandas-UDF stage, and the session timezone is
pinned to UTC so results compare bit-for-bit against the DuckDB oracle.  One
conf is local-only: ``spark.sql.streaming.checkpointFileManagerClass`` is set to
the FileSystem-based manager when the master is ``local…`` (see ``get_spark``);
a cluster master keeps Spark's FileContext default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Python workers are separate processes: any pandas_udf / applyInPandas closure
# defined in this package pickles a *reference* to its module, so executors
# must be able to import ``pipeflow_spark``.  On a real cluster that's
# ``spark-submit --py-files pipeflow_spark.zip``; here we make the library
# self-shipping by exporting the repo root on PYTHONPATH before the JVM (and
# its python worker daemons) start.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


def get_spark(
    app_name: str = "pipeflow_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the core count: on ``local[N]`` more
    than N partitions only adds task-scheduling overhead, while on a real
    cluster the caller passes ``executors * cores`` (AQE coalesces down when
    partitions come out small, so erring high is safe there).
    """
    n = cpus or DEFAULT_CPUS
    master = master or f"local[{n}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        # Generated code must survive across passes.  Spark's class cache
        # holds 100 entries; a batch-curation pass needs ~120-150 distinct
        # classes, the 156-query registry sweep ~2,230 (sf0.001, one JVM)
        # and a whole tier-1 run 3,847.  With 100, every warm curation pass
        # recompiled 90-110 classes in Janino (~13 ms each) and the C2 JIT
        # compiled their hot loops again.
        # Measured cost of a cached class after a full GC: ~36 KB of heap
        # (source key plus Janino's bytecode map) and ~7 KB of metaspace,
        # so a full cache is ~180 MB; a curation pass fills ~6 MB of it.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # AQE numbers whole-stage-codegen stages in the order it creates
        # them, which follows which sibling stage finishes first; with the
        # number in the class name, the same pipeline compiles again under
        # a new name on most passes.  Plan strings keep the *(n) numbers.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # RocksDB-backed streaming state: bounded executor memory at
        # 10^12-turn state sizes instead of the default on-heap HDFS store.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # changelog checkpointing: per-batch checkpoint cost ∝ changed keys,
        # not total state size — essential once state reaches 10^9+ keys
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        # With changelog checkpointing carrying recovery, full RocksDB
        # snapshots are only a restore-time accelerator — produce them rarely
        # (default 10 deltas caused a snapshot upload every ~10 batches, the
        # dominant per-batch cost: 45k → 113k turns/s on the bench chain when
        # combined with the buffer sizing below).  100 deltas bounds restore
        # replay to ~100 changelogs, a deliberate recovery/throughput trade.
        .config("spark.sql.streaming.stateStore.minDeltasForSnapshot", "100")
        # 64 MB memtables / block cache: micro-batch state updates stay
        # in-memory between commits instead of flushing per batch.  Worst-case
        # off-heap footprint = stores-per-executor × writeBufferSizeMB ×
        # maxWriteBufferNumber — with default 200 shuffle partitions per
        # executor-slice this stays far under executor overhead memory.
        .config("spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB", "64")
        .config("spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB", "64")
        # NOT set here: rocksdb.trackTotalNumberOfRows=false removes the
        # read-before-write that maintains numRowsTotal — measured −31 % on
        # the dedupe store's update time and −20 % full-chain wall at
        # local[4] (BENCH.md §1-quater, tools/stream_phase_audit.py) — but
        # blinds rows-in-state observability.  Default stays true; flip it
        # per-session for throughput-critical dedupe-heavy chains.
    )
    if master.startswith("local"):
        # Checkpoint renames (offset and commit logs on the driver, RocksDB
        # changelogs on the executors) go through FileSystem.rename, which on
        # the local filesystem is File.renameTo.  Spark's FileContext default
        # checks link status before each rename, and without libhadoop every
        # check forks `readlink`: 160 processes per micro-batch of the bench
        # chain (BENCH.md §7).  No atomicity is lost on local disk, where
        # FileContext's rename is check-then-rename too (hadoop-client-api
        # 3.4.2, javap):
        #   AbstractFileSystem.renameInternal(src, dst, overwrite)
        #     getFileLinkStatus(src), getFileLinkStatus(dst): throw if dst exists
        #     DelegateToFileSystem.renameInternal -> FileSystem.rename(src, dst, opts)
        #       -> RawLocalFileSystem.rename -> java.io.File.renameTo
        # and the FileSystem manager's renameTempFile is
        #   if (!overwrite && fs.exists(dst)) throw; fs.rename(src, dst)
        # A cluster master keeps the FileContext manager: HDFS renames
        # atomically without overwrite there.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    # Iceberg config flip (SURVEY §7.0 / catalog.py): one command online —
    #   PIPEFLOW_ICEBERG_WAREHOUSE=/path/to/wh python <job>.py
    # resolves the Iceberg Spark runtime via spark.jars.packages (needs
    # network on first run; override the artifact with
    # PIPEFLOW_ICEBERG_PACKAGE) and registers the catalog configs, after
    # which TableCatalog auto-detects the jar and every table commit becomes
    # an Iceberg snapshot commit.  Offline (this sandbox) the flag stays
    # unset and nothing changes.
    iceberg_wh = os.environ.get("PIPEFLOW_ICEBERG_WAREHOUSE")
    if iceberg_wh:
        from .catalog import iceberg_session_conf

        builder = builder.config(
            "spark.jars.packages",
            os.environ.get(
                "PIPEFLOW_ICEBERG_PACKAGE",
                "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0",
            ),
        )
        for k, v in iceberg_session_conf(iceberg_wh).items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if iceberg_wh:
        # getOrCreate returns any pre-existing session and silently ignores
        # builder configs (and spark.jars.packages only takes effect at JVM
        # launch) — verify the catalog actually registered so the flip can't
        # silently fall back to parquet (code-review r4)
        from .catalog import DEFAULT_CATALOG

        registered = spark.conf.get(f"spark.sql.catalog.{DEFAULT_CATALOG}", None)
        if not registered:
            import warnings

            warnings.warn(
                "PIPEFLOW_ICEBERG_WAREHOUSE is set but a SparkSession already "
                "existed in this process, so the Iceberg runtime/catalog "
                "configs were NOT applied — TableCatalog will fall back to "
                "the parquet backend.  Set the env var before the first "
                "get_spark() call (fresh process).",
                stacklevel=2,
            )
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-provided parquet table (TESTDATA.md layout)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _byte_string_as_bytes(s: str) -> int:
    """Spark byteStringAsBytes semantics: optional k/m/g/t(b) suffix —
    a digits-only strip would read '128m' as 128 BYTES and silently
    disable spread()'s repartition."""
    s = s.strip().lower()
    mult = 1
    for suffix, m in (("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
                      ("kb", 1 << 10), ("t", 1 << 40), ("g", 1 << 30),
                      ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    try:
        return int(s.strip()) * mult
    except ValueError:
        return 134217728  # Spark's default 128m


def _coalesced_width(spark: SparkSession, n: int, size: int) -> int:
    """Partitions AQE leaves of an ``n``-way shuffle of ~``size`` bytes.

    Mirrors ``CoalesceShufflePartitions``: target partition size =
    ``size / minNumPartitions`` clamped to [minPartitionSize, advisory size]
    (``minNumPartitions`` = default parallelism when parallelismFirst, else
    1).  A 400 KB shuffle into 4 partitions therefore runs as one task."""
    conf = spark.conf
    if (conf.get("spark.sql.adaptive.enabled", "true") != "true"
            or conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true") != "true"):
        return n
    min_size = _byte_string_as_bytes(
        conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m"))
    advisory = _byte_string_as_bytes(
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
    min_num = 1
    if conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true") == "true":
        min_num = int(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionNum", None)
                      or spark.sparkContext.defaultParallelism)
    target = max(min_size, min(advisory, -(-size // min_num)))
    return max(1, min(n, -(-size // target)))


def _planned_width(df) -> int:
    """Partition count of ``df``, estimated from its physical plan alone.

    Each operator reports a width and the bytes of the scans beneath it.  A
    file scan reports its file index's file count and total bytes (split by
    ``maxPartitionBytes``; a remote store costs no extra call), a cached
    table its partitions and in-memory size, an RDD scan its RDD's
    partitions and local rows one slice per row up to the default
    parallelism.  RDD and local scans have no byte count (their own
    estimates can be far off: the checkpointed output of the iterative
    connected-components loop claims ~10^40 bytes), so they only flag that
    the Catalyst estimate of the whole plan stands in for them; a shuffle
    above flagged scans adds that estimate once, however many there are.
    A shuffle reports what AQE will coalesce its scans' bytes to; the whole
    plan's estimate alone would not do there, because the optimizer can
    expect a join or aggregate to grow the data several times over.  A
    broadcast build side adds no partitions; a union sums its children's
    widths and every other operator keeps its widest child's."""
    spark = df.sparkSession
    qe = df._jdf.queryExecution()
    whole = int(qe.optimizedPlan().stats().sizeInBytes())

    def walk(plan) -> tuple[int, int, bool]:
        """(width, bytes of sized scans beneath, any unsized scan beneath)"""
        name = plan.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(plan.initialPlan())
        kids = [walk(plan.children().apply(i)) for i in range(plan.children().size())]
        size = sum(k[1] for k in kids)
        unsized = any(k[2] for k in kids)
        if name == "BroadcastExchangeExec":
            return 0, size, unsized
        if name == "ShuffleExchangeExec":
            n = plan.outputPartitioning().numPartitions()
            if plan.shuffleOrigin().toString() == "REPARTITION_BY_NUM":
                return n, size, unsized  # an explicit repartition(n): AQE leaves it at n
            return _coalesced_width(spark, n, size + whole * unsized), size, unsized
        if kids:
            widths = [k[0] for k in kids]
            return (sum(widths) if name == "UnionExec" else max(widths)), size, unsized
        n = plan.outputPartitioning().numPartitions()
        if name == "FileSourceScanExec":
            loc = plan.relation().location()
            size = int(loc.sizeInBytes())
            mpb = _byte_string_as_bytes(
                str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")))
            return n or max(len(loc.inputFiles()), -(-size // mpb), 1), size, False
        if name == "InMemoryTableScanExec":
            return n or 1, int(plan.relation().computeStats().sizeInBytes()), False
        if name == "RDDScanExec":
            return plan.rdd().getNumPartitions(), 0, True
        if name == "LocalTableScanExec":  # Spark's numParallelism rule
            return min(max(plan.rows().size(), 1), spark.sparkContext.defaultParallelism), 0, True
        return n or 1, 0, True

    return walk(qe.executedPlan())[0]


def spread(df):
    """Round-robin repartition a DataFrame to the cluster's parallelism
    **only if** its plan runs narrower than that.

    A small parquet file (one row group) scans as a single partition, which
    serializes every expression-heavy stage built on it (n-gram explode,
    signature UDFs).  At real scale the plan is already wider and this is a
    no-op: the guard keeps it from *shrinking* a wide plan, so it is safe to
    apply unconditionally in operators that fan out work per row.

    The width is :func:`_planned_width`'s estimate from the physical plan.
    Nothing here runs a Spark job: under AQE ``df.rdd`` would execute the
    plan's shuffle and broadcast stages while the chain is still being
    built, and the real action would run them again.
    """
    want = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(want) if _planned_width(df) < want else df


_SHIPPED: set[int] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers of an *already-running*
    session via ``addPyFile`` (idempotent per context).

    Needed when the session wasn't built by :func:`get_spark` (e.g. an
    external driver created it before importing us) — the PYTHONPATH export
    above only helps if it happens before the JVM starts.  Cluster deploys
    get the same effect from ``spark-submit --py-files pipeflow_spark.zip``.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.join(_REPO_ROOT, "pipeflow_spark")
    zip_path = os.path.join(tempfile.gettempdir(), "pipeflow_spark_pyfiles.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, _REPO_ROOT))
    sc.addPyFile(zip_path)
    _SHIPPED.add(key)
