"""Benchmark harness (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "stream": {...}}

Also measures the authoritative north-rule metric on the transcripts stream:
sustained turns/sec through the full micro-batch pipeline (watermark →
tumbling window agg → exactly-once sink) plus a window-close latency proxy
(median micro-batch wall time).  Scaling-efficiency evidence (local[8] vs
local[32]) lives in tools/bench_scaling.py → BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_local_supplier_volume",
    "broadcast_join_brand_revenue",
    "group_agg_events",
    "window_topn_per_group",
    "transform_dedupe_first",
    "time_window_counts",
    "sessionize_events",
    "salted_agg_events",
    "asof_join_prev_event",
    "text_profile",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dup_span_profile",
    "dedup_exact_substr",
    "domain_pagerank",
    "bpe_merge_rules",
    "hist_quantiles_events",
    "json_path_props",
    "embed_cosine_topk",
    "embed_ivf_topk",
    "embed_quantized_topk",
    "embed_pq_topk",
    "embed_ivfpq_topk",
    "decontaminate_ngram",
    "pack_sequences",
    "session_transcripts",
    "chunk_documents",
    "unigram_quality",
    "pretraining_batches",
    "pattern_funnel_events",
    "turn_rate_spikes",
    "budget_cap",
    "event_transition_matrix",
    "scd2_tier_enrich",
]


def bench_batch(spark, trials: int = 2) -> dict[str, float]:
    """Best-of-``trials`` per query, trials INTERLEAVED as full suite passes
    (pass 1 over every query, then pass 2, ...): this sandbox is a shared
    host with multi-minute CPU-steal windows (identical code measured 5.5 s
    and 41.7 s an hour apart).  min-of-2 survives one steal window only if
    the two trials don't sit inside the same window — back-to-back trials
    did exactly that once (`json_path_props` recorded 12.4 s while an
    immediate controlled re-run read 0.99 s / 0.84 s), so a query's trials
    are now spaced a whole suite pass apart.  ``clearCache`` between runs
    drops the persisted intermediates some operators create (dedupe gram
    tables), so no trial rides a previous trial's cache."""
    from pipeflow_spark.queries import QUERIES

    timings: dict[str, float] = {}
    for _pass in range(trials):
        for name in HEADLINE:
            fn, _ = QUERIES[name]
            spark.catalog.clearCache()
            df = fn(spark, SF_DIR)
            t0 = time.monotonic()
            n = df.count() if name not in ("q3_top_orders", "embed_cosine_topk") else len(df.collect())
            elapsed = time.monotonic() - t0
            _ = n
            prev = timings.get(name, float("inf"))
            timings[name] = round(min(prev, elapsed), 3)
    spark.catalog.clearCache()
    return timings


def bench_stream(spark, trials: int | None = None) -> dict[str, float]:
    """North-rule metric: turns/sec through watermark → tumbling agg →
    exactly-once sink, from file-source arrival replay.

    Best-of-``trials`` (default 2, env ``SPARK_GRAFT_STREAM_TRIALS``) for the
    same reason as :func:`bench_batch`: the stream is the longest single
    measurement in the suite (~30-40 s), so it is the likeliest to straddle
    one of the host's multi-minute steal windows.  The arrival files are
    synthesized once; each trial replays them through a FRESH checkpoint and
    sink, so no trial rides another's state."""
    from perfbench import chain
    from pipeflow_spark.streaming import ExactlyOnceSink

    trials = trials or int(os.environ.get("SPARK_GRAFT_STREAM_TRIALS", "2"))
    # stateful-op state partitions are sized independently of core count
    # (checkpoint-fixed in production); 16 keeps per-batch state-store
    # overhead low while still saturating the cores in waves
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    best: dict[str, float] | None = None
    work = tempfile.mkdtemp(prefix="pipeflow_bench_")
    try:
        src = os.path.join(work, "src")
        pdf = chain.synthesize(42, n_convs=30000, n_files=8)
        chain.write_files(pdf, src)
        n_turns = len(pdf)
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        for trial in range(trials):
            root = os.path.join(work, f"sink{trial}")
            ckpt = os.path.join(work, f"ckpt{trial}")
            sp = chain.north_star(spark, src, max_files_per_trigger=2)
            sink = ExactlyOnceSink(root)
            t0 = time.monotonic()
            q = sp.start_exactly_once(sink, ckpt, output_mode="append")
            q.awaitTermination()
            wall = time.monotonic() - t0
            durations = sorted(
                p["durationMs"]["triggerExecution"] / 1000.0 for p in q.recentProgress
            )
            median_batch = durations[len(durations) // 2] if durations else float("nan")
            result = {
                "turns": n_turns,
                "wall_sec": round(wall, 3),
                "turns_per_sec": round(n_turns / wall, 1),
                "batches": len(durations),
                "window_close_latency_sec_p50": round(median_batch, 3),
            }
            if best is None or result["wall_sec"] < best["wall_sec"]:
                best = result
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)
    return best


def main() -> None:
    from pipeflow_spark.session import get_spark

    # host-contention gauge before/after (tools/cpu_gauge.py): ~1.0 = quiet,
    # ≤0.9 = a hypervisor steal window was open and every number understates
    # the engine (identical runs have measured 4–10× apart on this host).
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    from cpu_gauge import gauge, wait_for_quiet

    # A capture under a 0.58 gauge (≈25 % CPU steal) once made two apparent
    # regressions unusable as evidence.  If no quiet window opens within the
    # budget the bench runs anyway: the embedded before/after gauges then
    # flag the numbers as captured under steal.
    _, wait_probes = wait_for_quiet()
    gauge_before = gauge()
    spark = get_spark("pipeflow_bench", cpus=CPUS, shuffle_partitions=CPUS)
    # warm the JVM/codegen path so timings measure the engine, not startup
    spark.range(1000).selectExpr("sum(id)").collect()

    queries = bench_batch(spark)
    stream = bench_stream(spark)
    # settle before the after-probe: probing immediately after a full-CPU
    # Spark run reads the bench's own burst-credit exhaust (measured 0.94
    # before → 0.78 after on an otherwise-quiet host), not hypervisor steal
    time.sleep(int(os.environ.get("SPARK_GRAFT_SETTLE", "60")))
    gauge_after = gauge()
    # suite value = sum of per-query bests + stream wall, so the headline is
    # the same statistic as its parts (a raw wall-clock total would double
    # count the best-of-2 re-runs)
    total = round(sum(queries.values()) + stream["wall_sec"], 3)

    print(
        json.dumps(
            {
                "metric": "headline_suite_sec",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": SF_DIR,
                "cpus": CPUS,
                "stream": stream,
                "host_gauge": {
                    "before": gauge_before,
                    "after": gauge_after,
                    "wait_probes": wait_probes,
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
