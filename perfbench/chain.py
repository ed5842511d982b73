"""The north-star stream chain, defined once for every stream workload, plus
the stream inputs and the checks of its committed output.

Chain: ``read_transcripts`` → ``with_watermark`` → ``dedupe_within_watermark``
→ ``tumbling_agg`` → ``ExactlyOnceSink``.  Output rows are
``(ws, conv_id, n, max_turn, _batch_id)``: one per closed 5-minute window
and conversation.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

WATERMARK_DELAY = pd.Timedelta(minutes=10)
WINDOW = pd.Timedelta(minutes=5)
SENTINEL_TS = dt.datetime(2026, 1, 1)
LATE_FRAC = 0.02


def north_star(spark, src: str, max_files_per_trigger: int):
    """The benchmark's one definition of the chain (a StreamingPipeline)."""
    from pyspark.sql import functions as F

    from pipeflow_spark.streaming import StreamingPipeline

    return (
        StreamingPipeline.read_transcripts(spark, src, max_files_per_trigger=max_files_per_trigger)
        .with_watermark("ts", "10 minutes")
        .select("conv_id", "turn_idx", "ts")
        .dedupe_within_watermark(["conv_id", "turn_idx"])
        .tumbling_agg(
            "ts", "5 minutes", ["conv_id"], F.count("*").alias("n"), F.max("turn_idx").alias("max_turn")
        )
        .select(F.col("w.start").alias("ws"), "conv_id", "n", "max_turn")
    )


def synthesize(seed: int, n_convs: int, n_files: int) -> pd.DataFrame:
    """Zipf-skewed transcripts with 2% late arrivals (library generator)."""
    from pipeflow_spark.streaming.transcripts import synthesize_transcripts

    return synthesize_transcripts(n_convs=n_convs, n_files=n_files, seed=seed, late_frac=LATE_FRAC)


def write_files(pdf: pd.DataFrame, out_dir: str) -> list[str]:
    """One parquet file per arrival slot, then the sentinel whose far-future
    event time closes every real window; returns the paths in order."""
    from pipeflow_spark.streaming.transcripts import write_arrival_files, write_sentinel_file

    paths = write_arrival_files(pdf, out_dir)
    return paths + [write_sentinel_file(out_dir, SENTINEL_TS)]


class WindowTruth:
    """Per ``(ws, conv_id)`` truth from the generated input.

    ``n_all``/``max_all`` count every row; ``n_ontime``/``max_ontime`` only
    rows that did not arrive late.  A window with no late rows must match
    exactly; one with late rows may lose some of them to the watermark."""

    def __init__(self, pdf: pd.DataFrame, file_order: list[int]):
        ws = pdf["ts"].dt.floor("5min")
        df = pd.DataFrame(
            {"ws": ws, "conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"], "late": pdf["is_late_arrival"]}
        )
        g = df.groupby(["ws", "conv_id"])
        truth = pd.DataFrame({"n_all": g.size(), "max_all": g["turn_idx"].max(), "n_late": g["late"].sum()})
        ontime = df[~df["late"]].groupby(["ws", "conv_id"])["turn_idx"].agg(["size", "max"])
        truth["n_ontime"] = ontime["size"].reindex(truth.index).fillna(0).astype(int)
        truth["max_ontime"] = ontime["max"].reindex(truth.index).fillna(-1).astype(int)
        self.table = truth
        self.n_turns = len(pdf)
        # watermark after file k (in release order) = max event time so far − delay
        file_max = pdf.groupby("arrival_file")["ts"].max()
        marks = [file_max.get(f, pd.NaT) for f in file_order] + [pd.Timestamp(SENTINEL_TS)]
        self.watermark_after = (pd.Series(marks).cummax() - WATERMARK_DELAY).to_numpy()

    def closing_file(self, window_end: np.ndarray) -> np.ndarray:
        """Index (in release order) of the first file after which the
        watermark has passed each window end."""
        return np.searchsorted(self.watermark_after, window_end, side="left")


def check_windows(out: pd.DataFrame, truth: WindowTruth) -> tuple[int, int, list[str]]:
    """Compare committed windows with the truth → ``(ops, failed, notes)``.

    An op is one window that is expected (it has an on-time row, so the
    final watermark closes it) or emitted.  It fails if it is missing,
    emitted twice, unexpected, or outside its bounds."""
    out = out[out["conv_id"] != "__sentinel__"]
    key = pd.MultiIndex.from_arrays([pd.to_datetime(out["ws"]), out["conv_id"]])
    counts = pd.Series(1, index=key).groupby(level=[0, 1]).size()
    dup = int((counts > 1).sum())
    t = truth.table
    expected = t.index[t["n_ontime"] > 0]
    missing = len(expected.difference(counts.index))
    unexpected = len(counts.index.difference(t.index))
    got = out.set_index(key)[["n", "max_turn"]]
    got = got[~got.index.duplicated()].join(t, how="inner")
    exact = got["n_late"] == 0
    wrong_exact = exact & ((got["n"] != got["n_all"]) | (got["max_turn"] != got["max_all"]))
    wrong_late = ~exact & (
        (got["n"] < got["n_ontime"])
        | (got["n"] > got["n_all"])
        | (got["max_turn"] < got["max_ontime"])
        | (got["max_turn"] > got["max_all"])
    )
    wrong = int(wrong_exact.sum() + wrong_late.sum())
    ops = len(expected.union(counts.index))
    notes = [
        f"{name}={v}"
        for name, v in (("missing", missing), ("duplicated", dup), ("unexpected", unexpected), ("wrong", wrong))
        if v
    ]
    return ops, missing + dup + unexpected + wrong, notes


def ledger_commit_times(sink) -> dict[int, float]:
    """Commit wall time of each committed batch: its ledger marker's mtime."""
    return {
        int(f): os.stat(os.path.join(sink.ledger_dir, f)).st_mtime
        for f in os.listdir(sink.ledger_dir)
        if f.isdigit()
    }


def close_latencies(out: pd.DataFrame, truth: WindowTruth, sink, release_times: list[float]) -> np.ndarray:
    """Per emitted window: commit time of the batch that emitted it minus the
    release time of the first file whose event times moved the watermark
    past the window end."""
    out = out[out["conv_id"] != "__sentinel__"]
    commits = ledger_commit_times(sink)
    end = (pd.to_datetime(out["ws"]) + WINDOW).to_numpy()
    closing = truth.closing_file(end)
    released = np.asarray(release_times)[np.minimum(closing, len(release_times) - 1)]
    committed = out["_batch_id"].map(commits).to_numpy(dtype=float)
    return committed - released
