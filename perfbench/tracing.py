"""Tracing for the traced run: spans and counts kept in memory, written out
once at the end.  Everything here wraps the program from outside: a
``StreamingQueryListener`` for micro-batch progress, a timing wrapper around
the sink callable, and a Spark ``QueryExecutionListener`` (over py4j) that
sums the SQL metrics of every executed plan by layer."""

from __future__ import annotations

import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

STATE_OPS = {"dedupeWithinWatermark": "dedupe", "stateStoreSave": "window"}
STATE_FIELDS = {
    "update_ms": "allUpdatesTimeMs",
    "removal_ms": "allRemovalsTimeMs",
    "commit_ms": "commitTimeMs",
    "rows_updated": "numRowsUpdated",
    "rows_total": "numRowsTotal",
    "late_dropped": "numRowsDroppedByWatermark",
    "mem_bytes": "memoryUsedBytes",
}


class Recorder:
    """In-memory spans ``(name, start, end, parent)`` and progress events."""

    def __init__(self):
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.sql: list[dict] = []
        self._lock = threading.Lock()

    def span(self, name: str, start: float, end: float, parent: str | None = None, **counts) -> None:
        self._add(self.spans, {"name": name, "start": start, "end": end, "parent": parent, **counts})

    def _add(self, items: list, item: dict) -> None:
        # listener callbacks arrive on the py4j callback thread
        with self._lock:
            items.append(item)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "progress": self.progress, "sql": self.sql}, f)


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress (durations and state operators)."""

    def __init__(self, rec: Recorder):
        self.rec = rec

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = {}
        for op in p.stateOperators:
            m = dict(op.customMetrics)
            m.update(
                numRowsUpdated=op.numRowsUpdated,
                numRowsTotal=op.numRowsTotal,
                numRowsDroppedByWatermark=op.numRowsDroppedByWatermark,
                memoryUsedBytes=op.memoryUsedBytes,
                commitTimeMs=op.commitTimeMs,
                allUpdatesTimeMs=op.allUpdatesTimeMs,
                allRemovalsTimeMs=op.allRemovalsTimeMs,
            )
            ops[STATE_OPS.get(op.operatorName, op.operatorName)] = m
        self.rec._add(
            self.rec.progress,
            {
                "run": str(p.runId),
                "batch": p.batchId,
                "timestamp": p.timestamp,
                "rows": p.numInputRows,
                "duration": dict(p.durationMs),
                "state": ops,
            },
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class TimedSink:
    """Times each call of a ``foreachBatch`` sink.  The call includes the
    lazily executed micro-batch plan, so this is plan plus write time."""

    def __init__(self, sink, rec: Recorder):
        self.sink, self.rec = sink, rec

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        self.sink(df, batch_id)
        self.rec.span("sink.call", t0, time.time(), batch=batch_id)


SQL_LAYERS = (
    "python.udf_ms",
    "python.init_ms",
    "python.bytes_sent",
    "shuffle.write_bytes",
    "shuffle.write_ms",
    "broadcast.collect_ms",
    "broadcast.bytes",
    "spill.bytes",
)


def _walk_metrics(plan, seen_caches: set, identity) -> dict[str, float]:
    """Sum the SQL metrics of one executed plan by layer, through AQE
    stages, subqueries and (once each) the plans that built cached tables.
    Timings come out in ms."""
    sums = dict.fromkeys(SQL_LAYERS, 0.0)
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "CommandResultExec":  # an eagerly run command, e.g. a write
            stack.append(node.commandPhysicalPlan())
            continue
        if cls == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            if identity(cached) not in seen_caches:
                seen_caches.add(identity(cached))
                stack.append(cached)
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            name, m = kv._1(), kv._2()
            v = m.value() / (1e6 if m.metricType() == "nsTiming" else 1.0)
            if name == "pythonTotalTime":
                sums["python.udf_ms"] += v
            elif name in ("pythonInitTime", "pythonBootTime"):
                sums["python.init_ms"] += v
            elif name == "pythonDataSent":
                sums["python.bytes_sent"] += v
            elif name == "spillSize":
                sums["spill.bytes"] += v
            elif cls == "ShuffleExchangeExec" and name == "shuffleBytesWritten":
                sums["shuffle.write_bytes"] += v
            elif cls == "ShuffleExchangeExec" and name == "shuffleWriteTime":
                sums["shuffle.write_ms"] += v
            elif cls == "BroadcastExchangeExec" and name == "collectTime":
                sums["broadcast.collect_ms"] += v
            elif cls == "BroadcastExchangeExec" and name == "dataSize":
                sums["broadcast.bytes"] += v
        for seq in (node.children(), node.subqueries()):
            ch = seq.iterator()
            while ch.hasNext():
                stack.append(ch.next())
    return sums


class PlanMetricsListener:
    """py4j implementation of ``QueryExecutionListener``: on every finished
    SQL execution, sums its plan's SQL metrics into the recorder."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, rec: Recorder, jvm):
        self.rec = rec
        self.errors = 0
        self.seen_caches: set[int] = set()
        self.identity = jvm.java.lang.System.identityHashCode

    def onSuccess(self, func_name, qe, duration_ns):
        try:
            sums = _walk_metrics(qe.executedPlan(), self.seen_caches, self.identity)
        except Exception:  # noqa: BLE001 — a listener must not break the query
            self.errors += 1
            return
        self.rec._add(self.rec.sql, {"func": func_name, "ms": duration_ns / 1e6, **sums})

    def onFailure(self, func_name, qe, exception):
        self.errors += 1


class Tracing:
    """Installs and removes the listeners around a traced phase."""

    def __init__(self, spark, rec: Recorder):
        self.spark, self.rec = spark, rec
        self.progress = ProgressListener(rec)
        self.plans = PlanMetricsListener(rec, spark.sparkContext._jvm)

    def __enter__(self):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self.spark.streams.addListener(self.progress)
        self.spark._jsparkSession.listenerManager().register(self.plans)
        return self

    def __exit__(self, *exc):
        # listener callbacks are asynchronous: drain the bus before removing
        self.spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()
        self.spark._jsparkSession.listenerManager().unregister(self.plans)
        self.spark.streams.removeListener(self.progress)
        return False


def read_cpu_times() -> list[int]:
    """Aggregate jiffies of the ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # guest times are already counted in user/nice
    return d[7] / total if total > 0 and len(d) > 7 else 0.0
