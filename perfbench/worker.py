"""One benchmark run inside a fresh process (started by ``run.py``).

Each workload makes its inputs from the seed, runs two untimed warm-up
passes, then its timed phase, then checks the output of every timed pass.
With ``--trace 1`` the timed phase runs twice: untraced, then traced; the
per-layer metrics come from the traced phase and the overhead is the traced
throughput against the untraced one.  The result is written as JSON to
``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import chain
import corpus
import tracing

WARMUP_PASSES = 2

# catch-up phase: closed-loop drains of a pre-written backlog
REPLAY_CONVS = 3000  # ~100k turns
REPLAY_FILES = 6
REPLAY_FILES_PER_TRIGGER = 3

# paced phase: open loop, files released on a fixed schedule for --seconds
PACED_FILES_PER_S = 8
PACED_CONVS_PER_S = 500  # ~17k turns offered per second
PACED_NO_CAP = 1_000_000  # maxFilesPerTrigger large enough to never bind
PACED_DRAIN_TIMEOUT_S = 60

# batch_curate: fluent curation chain over a planted corpus
CURATE_DOCS = 2000

STAGES = ("quality_filter", "redact_pii", "dedupe_exact_text", "dedupe_near", "decontaminate", "perplexity_filter")


def _median(xs) -> float:
    return float(statistics.median(xs)) if len(xs) else 0.0


class Run:
    """State of one run: arguments, work dir, recorder and counters."""

    def __init__(self, args):
        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.work = args.work
        self.t_process = args.t0
        self.rec = tracing.Recorder()
        self.layer: dict[str, float] = {}
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        t0 = time.time()
        from pipeflow_spark import get_spark

        self.spark = get_spark("perfbench")
        self.spark.range(1).count()
        self.layer["session.start_s"] = time.time() - t0
        return self.spark

    def timed(self, one_pass) -> list[dict]:
        """Timed passes until ``seconds`` have elapsed, and at least two, so
        that the median is never a single pass."""
        results, t0 = [], time.time()
        while len(results) < 2 or time.time() - t0 < self.seconds:
            results.append(one_pass(len(results)))
        return results

    def measure(self, warm_pass, phase) -> tuple[list[dict], list[dict]]:
        """Warm-ups, the end of set-up, the timed phase ``phase(False)``,
        then (traced runs only) ``phase(True)`` with tracing on.  Returns
        the (untraced, traced) pass results."""
        for i in range(WARMUP_PASSES):
            warm_pass(i)
        self.layer["setup_s"] = time.time() - self.t_process
        cpu0 = tracing.read_cpu_times()
        untraced = phase(False)
        self.layer["host.steal_share"] = tracing.steal_share(cpu0, tracing.read_cpu_times())
        traced = []
        if self.traced:
            with tracing.Tracing(self.spark, self.rec):
                traced = phase(True)
        return untraced, traced


# -- stream workloads ----------------------------------------------------------


def _stream_inputs(run: Run, n_convs: int, n_files: int, out_dir: str):
    t0 = time.time()
    pdf = chain.synthesize(run.seed, n_convs, n_files)
    t1 = time.time()
    paths = chain.write_files(pdf, out_dir)
    run.layer["transcripts.synth_s"] = run.layer.get("transcripts.synth_s", 0.0) + t1 - t0
    run.layer["transcripts.write_s"] = run.layer.get("transcripts.write_s", 0.0) + time.time() - t1
    order = sorted(pdf["arrival_file"].unique())
    return pdf, paths, chain.WindowTruth(pdf, order)


def _stream_pass(run: Run, name: str, src: str, max_files: int, available_now: bool, traced: bool):
    """Start the chain into a fresh sink and checkpoint; returns (query,
    sink).  A traced pass hands the chain the sink in a timing wrapper."""
    from pipeflow_spark.streaming import ExactlyOnceSink

    sink = ExactlyOnceSink(run.path(name, "sink"))
    target = tracing.TimedSink(sink, run.rec) if traced else sink
    q = chain.north_star(run.spark, src, max_files).start_exactly_once(
        target, run.path(name, "ckpt"), output_mode="append", available_now=available_now
    )
    return q, sink


def _check_stream(run: Run, results: list[dict]) -> dict:
    ops = failed = 0
    notes: list[str] = []
    for r in results:
        sink, truth = r["sink"], r["truth"]
        committed = sink.read_committed(run.spark)
        out = committed.toPandas()
        out["ws"] = out["ws"].astype("datetime64[ns]")
        o, f, n = chain.check_windows(out, truth)
        rows_ledger = sum(m["rows"] for m in sink.metrics())
        if rows_ledger != len(out):
            f += 1
            n.append(f"metrics_rows={rows_ledger}!=read_committed={len(out)}")
        ops, failed, notes = ops + o, failed + f, notes + n
        lat = chain.close_latencies(out, truth, sink, r["release"])
        r["latency"] = lat
        r["emitting_batches"] = int(out.loc[out["conv_id"] != "__sentinel__", "_batch_id"].nunique())
        r["last_commit"] = max(chain.ledger_commit_times(sink).values())
    return {"ops": ops, "failed": failed, "notes": notes}


def _stream_layers(run: Run, traced: list[dict]) -> None:
    """Per-layer metrics from the traced passes' progress events: per-pass
    sums averaged over passes; times of single batches as medians."""
    progress = run.rec.progress
    n = max(len(traced), 1)
    dur = [p["duration"] for p in progress]
    run.layer["engine.batches"] = len(progress) / n
    run.layer["engine.trigger_ms_p50"] = _median([d.get("triggerExecution", 0) for d in dur])
    run.layer["engine.plan_ms"] = sum(d.get("queryPlanning", 0) for d in dur) / n
    run.layer["engine.offsets_ms"] = sum(d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur) / n
    run.layer["engine.wal_ms"] = sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / n
    for op in ("dedupe", "window"):
        states = [p["state"].get(op, {}) for p in progress]
        for field, key in tracing.STATE_FIELDS.items():
            vals = [s.get(key, 0) or 0 for s in states]
            agg = max(vals, default=0) if field in ("rows_total", "mem_bytes") else sum(vals) / n
            run.layer[f"state.{op}.{field}"] = float(agg)
    calls = [s for s in run.rec.spans if s["name"] == "sink.call"]
    run.layer["sink.call_ms"] = sum((s["end"] - s["start"]) * 1000 for s in calls) / n
    run.layer["sink.rows"] = sum(sum(m["rows"] for m in r["sink"].metrics()) for r in traced) / n
    run.layer["sink.files"] = sum(
        sum(len(m["partitions"]) for m in r["sink"].metrics()) for r in traced
    ) / n
    # backlog: files released before a trigger started minus files consumed
    backlog = 0
    for r in (r for r in traced if r["kind"] == "paced"):
        runs = [p for p in progress if p["run"] == r["run_id"]]
        sizes = np.cumsum(r["file_rows"])
        consumed = 0
        for p in sorted(runs, key=lambda p: p["batch"]):
            t = _iso_to_epoch(p["timestamp"])
            released = sum(1 for x in r["release"] if x <= t)
            done = int(np.searchsorted(sizes, consumed, side="right"))
            backlog = max(backlog, released - done)
            consumed += p["rows"]
    run.layer["source.backlog_files_max"] = float(backlog)


def _iso_to_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def _file_rows(pdf, paths) -> list[int]:
    counts = pdf.groupby("arrival_file").size().sort_index().tolist()
    return counts + [1] * (len(paths) - len(counts))  # the sentinel row


def stream_replay_paced(run: Run) -> dict:
    """Catch-up drains of a backlog (closed loop) give ``throughput_per_s``;
    then one open-loop pass, files released on a fixed schedule, gives
    ``latency_p50_s``.  Both run the same chain in the same session."""
    run.start_session()
    backlog = run.path("backlog")
    pdf_r, paths_r, truth_r = _stream_inputs(run, REPLAY_CONVS, REPLAY_FILES, backlog)
    staged = run.path("staged")
    pdf_p, paths_p, truth_p = _stream_inputs(
        run, PACED_CONVS_PER_S * run.seconds, PACED_FILES_PER_S * run.seconds, staged
    )
    rows_r, rows_p = _file_rows(pdf_r, paths_r), _file_rows(pdf_p, paths_p)
    late_max = [0.0]

    def drain(name: str, traced: bool = False) -> dict:
        t0 = time.time()
        q, sink = _stream_pass(run, name, backlog, REPLAY_FILES_PER_TRIGGER, True, traced)
        q.awaitTermination()
        wall = time.time() - t0
        if q.exception():
            raise RuntimeError(str(q.exception()))
        return {
            "kind": "drain",
            "truth": truth_r,
            "wall": wall,
            "sink": sink,
            "run_id": str(q.runId),
            "release": [t0] * len(paths_r),  # a backlog is all there at the start
            "file_rows": rows_r,
        }

    def release_all(watch: str, first_due: float, release: list[float]) -> None:
        """The load generator: renames each staged file into the watched
        directory at its due time, never waiting for the engine."""
        for k, p in enumerate(paths_p):
            due = first_due + k / PACED_FILES_PER_S
            time.sleep(max(0.0, due - time.time()))
            dst = os.path.join(watch, os.path.basename(p))
            os.rename(p, dst)
            now = time.time()
            os.utime(dst, (now, now))
            release[k] = now
            late_max[0] = max(late_max[0], now - due)

    def paced(name: str, traced: bool = False) -> dict:
        watch = run.path(name, "watch")
        os.makedirs(watch)
        q, sink = _stream_pass(run, name, watch, PACED_NO_CAP, False, traced)
        release = [0.0] * len(paths_p)
        with ThreadPoolExecutor(1) as gen:
            gen.submit(release_all, watch, time.time() + 0.5, release).result()
        final_mark = np.datetime64(truth_p.watermark_after[-1], "ms")
        deadline = time.time() + PACED_DRAIN_TIMEOUT_S
        try:
            # the pass ends when the batch run under the final watermark,
            # which emits the last windows, has reported its progress
            while True:
                if q.exception():
                    raise RuntimeError(str(q.exception()))
                mark = ((q.lastProgress or {}).get("eventTime") or {}).get("watermark")
                if mark and np.datetime64(mark.rstrip("Z"), "ms") >= final_mark:
                    break
                if time.time() > deadline:
                    raise TimeoutError("paced stream did not drain")
                time.sleep(0.05)
        finally:
            q.stop()
            for p in paths_p:  # staged again for the next pass
                os.rename(os.path.join(watch, os.path.basename(p)), p)
        return {
            "kind": "paced",
            "truth": truth_p,
            "sink": sink,
            "run_id": str(q.runId),
            "release": release,
            "file_rows": rows_p,
        }

    def phase(traced: bool) -> list[dict]:
        tag = "traced" if traced else "pass"
        return run.timed(lambda i: drain(f"{tag}{i}", traced)) + [paced(f"{tag}_paced", traced)]

    untraced, traced = run.measure(lambda i: drain(f"warm{i}"), phase)
    check = _check_stream(run, untraced + traced)

    def catchup(results):
        return _median([truth_r.n_turns / r["wall"] for r in results if r["kind"] == "drain"])

    (p,) = [r for r in untraced if r["kind"] == "paced"]
    e2e = {"throughput_per_s": catchup(untraced), "latency_p50_s": float(np.median(p["latency"]))}
    info = {
        "turns_per_s": e2e["throughput_per_s"],
        "catchup_turns": truth_r.n_turns,
        "catchup_passes": len(untraced) - 1,
        "close_latency_p50_s": e2e["latency_p50_s"],
        "latency_samples": len(p["latency"]),
        "emitting_batches": p["emitting_batches"],
        "paced_turns": truth_p.n_turns,
        "paced_turns_per_s": truth_p.n_turns / (p["last_commit"] - p["release"][0]),
        "offered_files_per_s": PACED_FILES_PER_S,
        "generator_late_max_s": late_max[0],
    }
    if p["emitting_batches"] >= 100:
        info["close_latency_p90_s"] = float(np.percentile(p["latency"], 90))
    run.layer["generator.late_max_s"] = late_max[0]
    if run.traced:
        _stream_layers(run, traced)
        run.layer["trace.overhead_share"] = 1 - catchup(traced) / e2e["throughput_per_s"]
    return {"e2e": e2e, "info": info, **check}


# -- batch curation ------------------------------------------------------------


def _curate_steps(train, evals):
    return {
        "quality_filter": lambda p: p.quality_filter("text", corpus.QUALITY_MIN),
        "redact_pii": lambda p: p.redact_pii("text"),
        "dedupe_exact_text": lambda p: p.dedupe_exact_text(),
        "dedupe_near": lambda p: p.dedupe_near(threshold=corpus.NEAR_THRESHOLD, method="minhash"),
        "decontaminate": lambda p: p.decontaminate(evals),
        "perplexity_filter": lambda p: p.perplexity_filter(train, max_xent=corpus.MAX_XENT),
    }


def batch_curate(run: Run) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pipeflow_spark import Pipeline, read
    from pipeflow_spark.sinks import write

    spark = run.start_session()
    c = corpus.make_corpus(run.seed, CURATE_DOCS)
    inputs = {}
    for name, rows in (("docs", c.docs), ("train", c.train), ("eval", c.evals)):
        inputs[name] = run.path("input", f"{name}.parquet")
        os.makedirs(os.path.dirname(inputs[name]), exist_ok=True)
        table = pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]})
        pq.write_table(table, inputs[name])
    train, evals = spark.read.parquet(inputs["train"]), spark.read.parquet(inputs["eval"])
    steps = _curate_steps(train, evals)

    def one(name: str) -> dict:
        out = run.path(name)
        t0 = time.time()
        p = read.parquet(spark, inputs["docs"])
        for stage in STAGES:
            p = steps[stage](p)
        write.parquet(p.df, out)
        wall = time.time() - t0
        spark.catalog.clearCache()  # operators persist intermediates
        return {"wall": wall, "out": out}

    def traced_one(name: str) -> dict:
        """Each stage timed on its materialised input."""
        out = run.path(name)
        t_all = time.time()
        df = read.parquet(spark, inputs["docs"]).df.persist()
        df.count()
        for stage in STAGES:
            t0 = time.time()
            nxt = steps[stage](Pipeline(df)).df.persist()
            rows = nxt.count()
            run.rec.span(f"curate.{stage}", t0, time.time(), parent=name, rows_out=rows)
            df.unpersist()
            df = nxt
        t0 = time.time()
        write.parquet(df, out)
        run.rec.span("curate.write", t0, time.time(), parent=name, rows_out=pq.read_table(out).num_rows)
        wall = time.time() - t_all
        spark.catalog.clearCache()
        return {"wall": wall, "out": out}

    def phase(traced: bool) -> list[dict]:
        return run.timed(lambda i: traced_one(f"traced{i}") if traced else one(f"pass{i}"))

    untraced, traced = run.measure(lambda i: one(f"warm{i}"), phase)
    expected, disagree = expected_docs(c)
    ops = failed = 0
    notes = [f"planted_vs_oracle={disagree}"] if disagree else []
    for r in untraced + traced:
        got = pq.read_table(r["out"], columns=["doc_id", "text"]).to_pydict()
        kept = dict(zip(got["doc_id"], got["text"]))
        dup = len(got["doc_id"]) - len(kept)
        bad = sum(1 for d, _ in c.docs if kept.get(d) != expected.get(d))
        extra = len(kept.keys() - c.kind.keys())
        ops, failed = ops + len(c.docs), failed + bad + dup + extra
        if bad or dup or extra:
            notes.append(f"{os.path.basename(r['out'])}: wrong={bad} duplicated={dup} unexpected={extra}")
    wall = _median([r["wall"] for r in untraced])
    e2e = {"throughput_per_s": len(c.docs) / wall, "latency_p50_s": wall}
    info = {"docs_per_s": e2e["throughput_per_s"], "docs": len(c.docs), "passes": len(untraced), "pass_wall_p50_s": wall}
    if run.traced:
        n = len(traced)
        for stage in STAGES + ("write",):
            spans = [s for s in run.rec.spans if s["name"] == f"curate.{stage}"]
            run.layer[f"curate.{stage}_s"] = sum(s["end"] - s["start"] for s in spans) / n
            run.layer[f"curate.{stage}_rows_out"] = sum(s["rows_out"] for s in spans) / n
        for key in tracing.SQL_LAYERS:
            run.layer[key] = sum(q[key] for q in run.rec.sql) / n
        run.layer["trace.overhead_share"] = 1 - wall / _median([r["wall"] for r in traced])
    return {"e2e": e2e, "info": info, "ops": ops, "failed": failed, "notes": notes}


def expected_docs(c: corpus.Corpus) -> tuple[dict[int, str], int]:
    """Expected output ``doc_id → text``.  Stages up to decontamination
    follow the planted kinds; the perplexity stage follows the registry's
    DuckDB oracle (``lm_perplexity_score``) over the docs that reach it,
    redacted with the registry's PII rules.  Also returns how many docs the
    oracle decides differently from the planted kind."""
    import duckdb
    import pandas as pd

    from pipeflow_spark.operators.text import PII_RULES
    from pipeflow_spark.queries import QUERIES

    reach = [(d, t) for d, t in c.docs if c.kind[d] in ("base", "pii", "gibberish")]
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("reach", pd.DataFrame(reach, columns=["doc_id", "raw"]))
        con.register("train", pd.DataFrame(c.train, columns=["doc_id", "text"]))
        redacted = "raw"
        for pattern, token in PII_RULES:
            redacted = f"regexp_replace({redacted}, '{pattern}', '{token}', 'g')"
        con.execute(
            f"""CREATE VIEW documents AS
                SELECT doc_id, 'cand' AS lang, {redacted} AS text FROM reach
                UNION ALL SELECT doc_id, 'en' AS lang, text FROM train"""
        )
        texts = dict(con.execute("SELECT doc_id, text FROM documents WHERE lang = 'cand'").fetchall())
        scores = dict(
            con.execute(f"SELECT doc_id, xent FROM ({QUERIES['lm_perplexity_score'][1]})").fetchall()
        )
    finally:
        con.close()
    keep = {d: texts[d] for d in texts if scores.get(d) is not None and scores[d] <= corpus.MAX_XENT}
    disagree = sum(1 for d in texts if (d in keep) != (c.kind[d] != "gibberish"))
    return keep, disagree


WORKLOADS = {"stream_replay_paced": stream_replay_paced, "batch_curate": batch_curate}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = Run(args)
    try:
        res = WORKLOADS[args.workload](run)
    finally:
        if run.spark is not None:
            run.spark.stop()
    if args.trace:
        run.rec.dump(os.path.join(args.work, "trace.json"))
    res["layer"] = run.layer
    with open(args.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
