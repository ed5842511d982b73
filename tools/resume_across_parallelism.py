"""Prove cross-cluster-size checkpoint resume for the stateful exactly-once
stream (the operational face of the north rule's N -> 4N criterion).

Scenario: the windowed per-conv_id aggregation runs under ``local[8]`` with 8
shuffle partitions and an injected crash between a batch's sink write and its
ledger commit.  The SAME checkpoint is then resumed under ``local[32]`` — a
4x larger "cluster".  The resumed job must:

* keep the checkpoint-pinned state partitioning (Spark freezes
  ``spark.sql.shuffle.partitions`` for stateful operators at first run — the
  resumed 32-core job schedules 4x the tasks per scan but the state store
  layout on disk is untouched; we assert the ``state/0/<partition>`` dir
  count is identical before and after),
* replay the crashed batch idempotently (ExactlyOnceSink ledger), and
* finish with committed output exactly equal to the one-shot batch
  computation of the same input — no dupes, no holes, byte-equal values.

This is how a real deployment rides a cluster resize: stop, restart the same
checkpoint on the bigger cluster, keep exactly-once.  Run:

    python tools/resume_across_parallelism.py

Prints one JSON line; exit 0 iff every assertion held.  Child mode (internal):
``--child`` with RAP_* env vars, one JSON line on the last stdout line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SENTINEL_TS = "2026-01-01T00:00:00"


def _child() -> None:
    from pyspark.sql import functions as F

    from pipeflow_spark.session import get_spark
    from pipeflow_spark.streaming.engine import StreamingPipeline
    from pipeflow_spark.streaming.exactly_once import ExactlyOnceSink
    from pipeflow_spark.streaming.transcripts import SENTINEL_CONV

    data, root, ckpt = os.environ["RAP_DATA"], os.environ["RAP_ROOT"], os.environ["RAP_CKPT"]
    cpus = int(os.environ["RAP_CPUS"])
    shuffle = int(os.environ.get("RAP_SHUFFLE", cpus))
    fail_after = os.environ.get("RAP_FAIL_AFTER")

    spark = get_spark("resume_across_parallelism", cpus=cpus, shuffle_partitions=shuffle)
    sink = ExactlyOnceSink(root, fail_after_write_batch_id=int(fail_after) if fail_after else None)
    sp = (
        StreamingPipeline.read_transcripts(spark, data, max_files_per_trigger=1)
        .with_watermark("ts", "0 seconds")
        .tumbling_agg(
            "ts", "5 minutes", ["conv_id"],
            F.count("*").alias("n"), F.max("turn_idx").alias("max_turn"),
        )
        .select(F.col("w.start").alias("ws"), "conv_id", "n", "max_turn")
    )
    q = sp.start_exactly_once(sink, ckpt, output_mode="append")
    crashed = False
    try:
        q.awaitTermination()
    except Exception as exc:  # the injected crash is the expected path
        crashed = True
        if "injected failure" not in str(exc):
            raise

    out: dict = {
        "crashed": crashed,
        "committed": sink.committed_batches(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    if not crashed:
        # final phase: diff committed rows against the one-shot batch oracle
        got = {
            (str(r.ws), r.conv_id): (r.n, r.max_turn)
            for r in sink.read_committed(spark).collect()
        }
        batch = (
            spark.read.parquet(data)
            .filter(F.col("conv_id") != SENTINEL_CONV)
            .groupBy(F.window("ts", "5 minutes").alias("w"), "conv_id")
            .agg(F.count("*").alias("n"), F.max("turn_idx").alias("max_turn"))
            .select(F.col("w.start").alias("ws"), "conv_id", "n", "max_turn")
        )
        want = {(str(r.ws), r.conv_id): (r.n, r.max_turn) for r in batch.collect()}
        out["rows"] = len(got)
        out["equal_to_batch"] = got == want
    spark.stop()
    print(json.dumps(out))


def _run_child(env_extra: dict[str, str]) -> dict:
    env = {**os.environ, **env_extra}
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child"],
        env=env, capture_output=True, text=True, timeout=480,
    )
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"child failed rc={proc.returncode}\n{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}")
    return json.loads(lines[-1])


def _state_partitions(ckpt: str) -> int:
    d = os.path.join(ckpt, "state", "0")
    return len([p for p in os.listdir(d) if p.isdigit()]) if os.path.isdir(d) else 0


def main() -> int:
    import pandas as pd

    from pipeflow_spark.streaming.transcripts import (
        synthesize_transcripts,
        write_arrival_files,
        write_sentinel_file,
    )

    work = tempfile.mkdtemp(prefix="rap_")
    try:
        data, root, ckpt = (os.path.join(work, d) for d in ("data", "sink", "ckpt"))
        pdf = synthesize_transcripts(n_convs=60, n_files=6, seed=42, late_frac=0.0)
        write_arrival_files(pdf, data)
        write_sentinel_file(data, pd.Timestamp(SENTINEL_TS).to_pydatetime())

        base = {"RAP_DATA": data, "RAP_ROOT": root, "RAP_CKPT": ckpt}
        p1 = _run_child({**base, "RAP_CPUS": "8", "RAP_SHUFFLE": "8", "RAP_FAIL_AFTER": "2"})
        state_after_crash = _state_partitions(ckpt)
        p2 = _run_child({**base, "RAP_CPUS": "32"})
        state_after_resume = _state_partitions(ckpt)

        checks = {
            "phase1_crashed_mid_stream": p1["crashed"] and 2 not in p1["committed"],
            "phase2_ran_to_completion": not p2["crashed"],
            "crashed_batch_replayed": 2 in p2["committed"],
            "no_holes": p2["committed"] == sorted(p2["committed"])
            and p2["committed"] == list(range(len(p2["committed"]))),
            "parallelism_actually_scaled_4x": p1["default_parallelism"] == 8
            and p2["default_parallelism"] == 32,
            "state_partitioning_pinned_by_checkpoint": state_after_crash == 8
            and state_after_resume == 8,
            "output_equals_batch_oracle": p2.get("equal_to_batch", False),
        }
        summary = {
            "ok": all(checks.values()),
            "checks": checks,
            "phase1": p1,
            "phase2": p2,
            "state_partitions": {"after_crash": state_after_crash, "after_resume": state_after_resume},
        }
        print(json.dumps(summary))
        return 0 if summary["ok"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if "--child" in sys.argv:
        _child()
    else:
        sys.exit(main())
