"""Prove state REPARTITIONING via bounded-replay changeover.

``tools/resume_across_parallelism.py`` proves the happy path of a cluster
resize: task parallelism scales while the checkpoint pins state partitioning.
This tool proves the remedy for the unhappy path — the state partition count
itself was undersized (Spark freezes ``spark.sql.shuffle.partitions`` for
stateful operators at first run; no restart can change it).  The production
recipe is a CHANGEOVER, not a migration: no state files are rewritten —

1. run 1 (8 state partitions) processes the head of the corpus and is
   stopped; its sink holds every window the watermark closed;
2. the safe replay horizon is computed from run 1's FINAL WATERMARK: every
   window still open must start ≥ ``window_start(wm) − slack``, so only
   source files containing events at or after that horizon need replay
   (Kafka analog: seek to the retention offset covering the watermark
   horizon — bounded by the window size, NOT the corpus size);
3. run 2 starts a FRESH checkpoint at 32 state partitions over just those
   tail files and runs to completion;
4. the stitched output — run 1's closed windows plus run 2's windows for
   every (window, conv) pair run 1 did not close — must equal the one-shot
   batch computation of the FULL corpus, and the overlap pairs recomputed by
   run 2 must agree with run 1's values exactly (recompute consistency).

Also asserted: the two checkpoints really carry 8 vs 32 ``state/0``
partition stores, and the replay was bounded (strictly fewer files than the
corpus).  Run:

    python tools/repartition_state_changeover.py

Prints one JSON line; exit 0 iff every check held.
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
WINDOW_SEC = 300


def _child() -> None:
    from pyspark.sql import functions as F

    from pipeflow_spark.session import get_spark
    from pipeflow_spark.streaming.engine import StreamingPipeline
    from pipeflow_spark.streaming.exactly_once import ExactlyOnceSink
    from pipeflow_spark.streaming.transcripts import SENTINEL_CONV

    data = os.environ["RSC_DATA"]
    root, ckpt = os.environ["RSC_ROOT"], os.environ["RSC_CKPT"]
    cpus = int(os.environ["RSC_CPUS"])

    spark = get_spark("repartition_changeover", cpus=cpus, shuffle_partitions=cpus)
    sink = ExactlyOnceSink(root)
    sp = (
        StreamingPipeline.read_transcripts(spark, data, max_files_per_trigger=1)
        .with_watermark("ts", "0 seconds")
        .tumbling_agg(
            "ts", f"{WINDOW_SEC} seconds", ["conv_id"],
            F.count("*").alias("n"), F.max("turn_idx").alias("max_turn"),
        )
        .select(F.col("w.start").alias("ws"), "conv_id", "n", "max_turn")
    )
    q = sp.start_exactly_once(sink, ckpt, output_mode="append")
    q.awaitTermination()
    wm = (q.lastProgress.get("eventTime") or {}).get("watermark")

    out: dict = {"watermark": wm, "default_parallelism": spark.sparkContext.defaultParallelism}

    full_data = os.environ.get("RSC_FULL_DATA")
    if full_data:  # phase 2: stitch and verify against the full-corpus oracle
        prev = ExactlyOnceSink(os.environ["RSC_PREV_SINK"]).read_committed(spark)
        cur = sink.read_committed(spark)

        def pairs(df):
            return {
                (str(r.ws), r.conv_id): (r.n, r.max_turn)
                for r in df.select("ws", "conv_id", "n", "max_turn").collect()
                if r.conv_id != SENTINEL_CONV
            }

        p1, p2 = pairs(prev), pairs(cur)
        # production upsert filter: only windows fully covered by the replay
        # may be merged.  Windows with ws ≥ horizon are provably complete
        # (any of their events has ts ≥ ws ≥ horizon, so its file's max-ts ≥
        # horizon ⟹ the file was replayed); windows with ws < horizon are
        # partial recomputes off the first replay file's head and MUST NOT
        # overwrite run 1's closed values — and need not: any window run 1
        # left open has end > wm ⟹ ws > wm − window ≥ horizon.
        horizon = os.environ["RSC_HORIZON"]
        p2 = {k: v for k, v in p2.items() if k[0] >= horizon}
        batch = (
            spark.read.parquet(full_data)
            .filter(F.col("conv_id") != SENTINEL_CONV)
            .groupBy(F.window("ts", f"{WINDOW_SEC} seconds").alias("w"), "conv_id")
            .agg(F.count("*").alias("n"), F.max("turn_idx").alias("max_turn"))
            .select(F.col("w.start").alias("ws"), "conv_id", "n", "max_turn")
        )
        want = pairs(batch)
        overlap = set(p1) & set(p2)
        stitched = {**p2, **p1}  # run 1 wins on overlap (values must agree anyway)
        out.update(
            {
                "run1_pairs": len(p1),
                "run2_pairs": len(p2),
                "overlap_pairs": len(overlap),
                "recompute_consistent": all(p1[k] == p2[k] for k in overlap),
                "stitched_equals_oracle": stitched == want,
                "run1_subset_of_oracle": not (set(p1) - set(want)),
            }
        )
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
    import pyarrow.parquet as pq

    from pipeflow_spark.streaming.transcripts import (
        synthesize_transcripts,
        write_arrival_files,
        write_sentinel_file,
    )

    work = tempfile.mkdtemp(prefix="rsc_")
    try:
        full = os.path.join(work, "full")
        pdf = synthesize_transcripts(n_convs=60, n_files=6, seed=42, late_frac=0.0)
        files = write_arrival_files(pdf, full)

        # run 1 sees only the head of the corpus (an in-flight stream stopped
        # mid-ingest); NO sentinel — the open tail windows are the point
        head, tail_candidates = files[:3], files
        stage1 = os.path.join(work, "stage1")
        os.makedirs(stage1)
        for f in head:
            os.symlink(f, os.path.join(stage1, os.path.basename(f)))
        r1 = _run_child(
            {
                "RSC_DATA": stage1,
                "RSC_ROOT": os.path.join(work, "sink1"),
                "RSC_CKPT": os.path.join(work, "ckpt1"),
                "RSC_CPUS": "8",
            }
        )
        state1 = _state_partitions(os.path.join(work, "ckpt1"))

        # safe replay horizon from run 1's final watermark: open windows start at
        # window_start(wm); one extra window of slack absorbs the close-boundary
        # (< vs <=) semantics, which the recompute-consistency check then pins
        wm = pd.Timestamp(r1["watermark"])
        if wm.tzinfo is not None:  # progress reports ...Z; file ts are naive UTC
            wm = wm.tz_convert("UTC").tz_localize(None)
        horizon = wm.floor(f"{WINDOW_SEC}s") - pd.Timedelta(seconds=WINDOW_SEC)

        def _max_ts(f):  # arrival files are time-sorted chunks → max ts = last row
            t = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
            return pd.Timestamp(t[-1]) if t else pd.Timestamp.min

        replay = [f for f in tail_candidates if _max_ts(f) >= horizon]
        stage2 = os.path.join(work, "stage2")
        os.makedirs(stage2)
        for f in replay:
            os.symlink(f, os.path.join(stage2, os.path.basename(f)))
        write_sentinel_file(stage2, pd.Timestamp(SENTINEL_TS).to_pydatetime())

        r2 = _run_child(
            {
                "RSC_DATA": stage2,
                "RSC_ROOT": os.path.join(work, "sink2"),
                "RSC_CKPT": os.path.join(work, "ckpt2"),
                "RSC_CPUS": "32",
                "RSC_FULL_DATA": full,
                "RSC_PREV_SINK": os.path.join(work, "sink1"),
                # same "YYYY-MM-DD HH:MM:SS" shape as str(datetime) in the child,
                # so the lexicographic >= is chronological
                "RSC_HORIZON": str(horizon),
            }
        )
        state2 = _state_partitions(os.path.join(work, "ckpt2"))

        checks = {
            "run1_closed_some_windows": r2["run1_pairs"] > 0,
            "run1_left_windows_open": r2["run2_pairs"] > r2["overlap_pairs"],
            "replay_bounded": len(replay) < len(files),
            "recompute_consistent_on_overlap": r2["recompute_consistent"],
            "stitched_equals_full_batch_oracle": r2["stitched_equals_oracle"],
            "state_partitions_8_then_32": state1 == 8 and state2 == 32,
            "run1_no_spurious_windows": r2["run1_subset_of_oracle"],
        }
        summary = {
            "ok": all(bool(v) for v in checks.values()),
            "checks": checks,
            "replay_files": len(replay),
            "total_files": len(files),
            "run1": r1,
            "run2": r2,
            "state_partitions": {"run1": state1, "run2": state2},
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
