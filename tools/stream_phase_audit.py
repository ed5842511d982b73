"""Streaming hot-path first-bottleneck audit (VERDICT r4 #2).

The question: at sf-bench scale the file-source stream sustains ~126k
turns/s locally while the no-disk generator source reaches ~434k, and in the
1-core scaling run the `addBatch` phase was 227 of 227.5 s — but addBatch is
the whole micro-batch plan execution.  WHICH term inside it dominates:
dedupe-state RocksDB get/put, the windowed aggregation state, or the
exactly-once sink's parquet write + ledger commit?

Method — two independent probes that must agree:

1. **Phase metrics** on the full bench chain: per-batch `durationMs`
   breakdown (addBatch / getBatch / walCommit / commitOffsets / planning)
   plus per-stateful-operator `allUpdatesTimeMs` / `allRemovalsTimeMs` /
   `commitTimeMs` from the progress history (the same fields
   `engine.state_metrics` exposes for dashboards).
2. **Ablation ladder**: identical input replayed through (a) the full chain,
   (b) chain minus dedupe, (c) chain minus the window agg, (d) stateless
   pass-through, (e) the full chain into a no-op-format sink (forces full
   plan execution, skips the parquet write + ledger).  Pairwise wall-time
   deltas attribute cost to each stage without trusting any single
   instrumentation source.

Writes ``bench_artifacts/BENCH_stream_phase_audit_r05.json`` and prints the
summary table that BENCH.md §1-quater quotes.  Host-noise guard: the same
``tools/cpu_gauge.py`` double-probe used by bench.py brackets the run.

Usage:  python tools/stream_phase_audit.py [n_convs] [cpus]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import chain  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PHASES = (
    "addBatch",
    "getBatch",
    "latestOffset",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "triggerExecution",
)


def run_variant(spark, name: str, src: str, work: str, sink_mode: str, stages: dict):
    """One replay of the arrival files through a chain variant; returns wall
    time + summed phase/state metrics from the progress history."""
    from pyspark.sql import functions as F

    from pipeflow_spark.streaming import ExactlyOnceSink, StreamingPipeline

    sp = StreamingPipeline.read_transcripts(spark, src, max_files_per_trigger=2)
    sp = sp.with_watermark("ts", "10 minutes").select("conv_id", "turn_idx", "ts")
    if stages.get("dedupe"):
        sp = sp.dedupe_within_watermark(["conv_id", "turn_idx"])
    if stages.get("agg"):
        sp = sp.tumbling_agg(
            "ts", "5 minutes", ["conv_id"],
            F.count("*").alias("n"), F.max("turn_idx").alias("max_turn"),
        ).select(F.col("w.start").alias("ws"), "conv_id", "n", "max_turn")

    ckpt = os.path.join(work, f"ckpt_{name}")
    t0 = time.monotonic()
    if sink_mode == "exactly_once":
        sink = ExactlyOnceSink(os.path.join(work, f"sink_{name}"))
        q = sp.start_exactly_once(sink, ckpt, output_mode="append")
    else:  # noop: execute the full plan, skip parquet write + ledger commit
        q = (
            sp.df.writeStream.outputMode("append")
            .foreachBatch(lambda b, i: b.write.format("noop").mode("overwrite").save())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"audit_{name}")
            .start()
        )
    q.awaitTermination()
    wall = time.monotonic() - t0

    phase_totals = {k: 0 for k in PHASES}
    state_totals: dict[str, dict[str, int]] = {}
    n_batches = 0
    for p in q.recentProgress:
        n_batches += 1
        for k in PHASES:
            phase_totals[k] += (p.get("durationMs") or {}).get(k, 0)
        for op in p.get("stateOperators") or []:
            s = state_totals.setdefault(
                op.get("operatorName"),
                {"updates_ms": 0, "removals_ms": 0, "commit_ms": 0, "rows_updated": 0},
            )
            s["updates_ms"] += op.get("allUpdatesTimeMs", 0)
            s["removals_ms"] += op.get("allRemovalsTimeMs", 0)
            s["commit_ms"] += op.get("commitTimeMs", 0)
            s["rows_updated"] += op.get("numRowsUpdated", 0)
    return {
        "wall_sec": round(wall, 3),
        "batches": n_batches,
        "phase_ms": phase_totals,
        "state_ms": state_totals,
    }


def main() -> dict:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 30000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from cpu_gauge import gauge

    from pipeflow_spark.session import get_spark

    g_before = gauge()
    state_parts = int(os.environ.get("SPARK_GRAFT_AUDIT_STATE_PARTITIONS", "16"))
    spark = get_spark("stream_phase_audit", cpus=cpus, shuffle_partitions=state_parts)
    spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
    # conf experiments (e.g. rocksdb.trackTotalNumberOfRows=false): applied
    # to the session so every variant in the run measures the same knobs
    extra = os.environ.get("SPARK_GRAFT_AUDIT_EXTRA_CONF", "")
    extra_conf = {}
    for kv in filter(None, extra.split(",")):
        k, _, v = kv.partition("=")
        spark.conf.set(k.strip(), v.strip())
        extra_conf[k.strip()] = v.strip()

    work = tempfile.mkdtemp(prefix="pipeflow_phase_audit_")
    try:
        src = os.path.join(work, "src")
        pdf = chain.synthesize(42, n_convs=n_convs, n_files=8)
        chain.write_files(pdf, src)
        n_turns = len(pdf)

        variants = [
            # (name, sink, stages)
            ("full", "exactly_once", {"dedupe": True, "agg": True}),
            ("no_dedupe", "exactly_once", {"agg": True}),
            ("dedupe_only", "exactly_once", {"dedupe": True}),
            ("stateless", "exactly_once", {}),
            ("full_noop_sink", "noop", {"dedupe": True, "agg": True}),
        ]
        # discarded warm-up of the full chain: the first streaming query in a JVM
        # pays codegen compilation + RocksDB provider init (~5-8 s measured),
        # which would otherwise be billed to whichever variant runs first
        run_variant(spark, "warmup", src, work, "exactly_once", {"dedupe": True, "agg": True})

        trials = int(os.environ.get("SPARK_GRAFT_AUDIT_TRIALS", "2"))
        results = {}
        for name, sink_mode, stages in variants:
            best = None
            for t in range(trials):
                r = run_variant(spark, f"{name}_t{t}", src, work, sink_mode, stages)
                if best is None or r["wall_sec"] < best["wall_sec"]:
                    best = r
            results[name] = r = best
            print(
                f"{name:16s} wall={r['wall_sec']:7.2f}s "
                f"({n_turns / r['wall_sec'] / 1000:6.1f}k turns/s)  "
                f"addBatch={r['phase_ms']['addBatch'] / 1000:6.1f}s  "
                f"state={ {k: round((v['updates_ms'] + v['removals_ms'] + v['commit_ms']) / 1000, 1) for k, v in r['state_ms'].items()} }"
            )
        g_after = gauge()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    full, noop = results["full"], results["full_noop_sink"]
    deltas = {
        "sink_write_ledger_sec": round(full["wall_sec"] - noop["wall_sec"], 2),
        "dedupe_stage_sec": round(full["wall_sec"] - results["no_dedupe"]["wall_sec"], 2),
        "agg_stage_sec": round(full["wall_sec"] - results["dedupe_only"]["wall_sec"], 2),
        "source_plus_overhead_sec": round(results["stateless"]["wall_sec"], 2),
    }
    out = {
        "n_turns": n_turns,
        "cpus": cpus,
        "host_gauge": {"before": g_before, "after": g_after},
        "extra_conf": extra_conf,
        "variants": results,
        "ablation_deltas": deltas,
    }
    suffix = os.environ.get("SPARK_GRAFT_AUDIT_SUFFIX", "")
    path = os.path.join(
        REPO, "bench_artifacts", f"BENCH_stream_phase_audit_r05{suffix}.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print("\nablation deltas:", json.dumps(deltas))
    print("wrote", path)
    spark.stop()
    return out


if __name__ == "__main__":
    main()
