"""Streaming-core correctness: windows vs batch oracle, watermark late-drop,
session windows, stateful dedupe, stream-stream join, custom stateful op, and
exactly-once kill/resume with output equality (SURVEY.md §7.1 M3/M4).

Event-time mechanics under test: append-mode windows emit only when the
watermark passes them, so every finite stream here ends with a far-future
sentinel row (see ``write_sentinel_file``) that closes all real windows; the
sentinel's own window stays open and its reserved conv_id is excluded from
comparisons.
"""

import datetime as dt
import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pipeflow_spark.streaming import (
    ExactlyOnceSink,
    StreamingPipeline,
    synthesize_transcripts,
    write_arrival_files,
)
from pipeflow_spark.streaming.transcripts import SENTINEL_CONV, write_sentinel_file, write_transcript_parquet

SENTINEL_TS = dt.datetime(2026, 1, 1)


@pytest.fixture(scope="module")
def clean_dir(tmp_path_factory):
    """No late arrivals → exact batch parity under watermark 0s + sentinel."""
    pdf = synthesize_transcripts(n_convs=60, n_files=6, seed=42, late_frac=0.0)
    d = tmp_path_factory.mktemp("transcripts_clean")
    write_arrival_files(pdf, str(d))
    write_sentinel_file(str(d), SENTINEL_TS)
    return str(d), pdf


@pytest.fixture(scope="module")
def outer_dir(tmp_path_factory):
    """Two sentinels (user + assistant) for outer stream-stream joins:
    Catalyst pushes the role filters below each side's EventTimeWatermark
    node, so each side needs a heartbeat that survives ITS filter — with a
    single user-role sentinel the replies-side watermark node never advances
    past the last real event and younger orphans stay in state forever
    (verified: watermark stalls at max(ts) − delay, numRowsRemoved = 0)."""
    pdf = synthesize_transcripts(n_convs=60, n_files=6, seed=42, late_frac=0.0)
    d = tmp_path_factory.mktemp("transcripts_outer")
    write_arrival_files(pdf, str(d))
    write_sentinel_file(str(d), SENTINEL_TS, file_idx=99998, role="user")
    write_sentinel_file(str(d), SENTINEL_TS, file_idx=99999, role="assistant")
    return str(d), pdf


@pytest.fixture(scope="module")
def late_dir(tmp_path_factory):
    """30% of rows arrive 3 files late → visible watermark drops."""
    pdf = synthesize_transcripts(n_convs=60, n_files=6, seed=42, late_frac=0.3)
    d = tmp_path_factory.mktemp("transcripts_late")
    write_arrival_files(pdf, str(d))
    write_sentinel_file(str(d), SENTINEL_TS)
    return str(d), pdf


def _run_to_memory(sp, name, mode="append", expected_input_rows=None):
    from pipeflow_spark.streaming.engine import await_drained

    q = sp.start_memory(name, output_mode=mode)
    await_drained(q, expected_input_rows=expected_input_rows)
    q.stop()


def _to_spark(spark, pdf):
    return spark.createDataFrame(pdf.drop(columns=["arrival_file", "is_late_arrival"]))


def test_generator_determinism():
    a = synthesize_transcripts(n_convs=30, n_files=4)
    b = synthesize_transcripts(n_convs=30, n_files=4)
    pd.testing.assert_frame_equal(a, b)
    # zipf skew: hottest conv ≥ 5× median size
    sizes = a.groupby("conv_id").size()
    assert sizes.max() >= 5 * sizes.median()
    assert a.is_late_arrival.mean() > 0.01


def test_tumbling_window_matches_batch(spark, clean_dir):
    d, pdf = clean_dir
    sp = (
        StreamingPipeline.read_transcripts(spark, d, max_files_per_trigger=2)
        .with_watermark("ts", "0 seconds")
        .tumbling_agg("ts", "5 minutes", ["role"], F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "role", "n")
    )
    _run_to_memory(sp, "tumbling", expected_input_rows=len(pdf) + 1)
    got = {(r.ws, r.role): r.n for r in spark.sql("SELECT * FROM tumbling").collect()}
    expect = {
        (r.ws, r.role): r.n
        for r in _to_spark(spark, pdf)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "role")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "role", "n")
        .collect()
    }
    assert got == expect


def test_enrich_static_matches_batch_join(spark, clean_dir):
    """Stream-static broadcast enrichment: committed output must equal the
    batch join+agg, the dim side must be batch (streaming dim raises), and
    no join state store is created (the join is stateless per micro-batch)."""
    d, pdf = clean_dir
    dim = spark.createDataFrame(
        [("user", 1.0), ("assistant", 2.5), ("tool", 4.0)], "role string, weight double"
    )
    sp = (
        StreamingPipeline.read_transcripts(spark, d, max_files_per_trigger=2)
        .with_watermark("ts", "0 seconds")
        .enrich_static(dim, on="role")
        .tumbling_agg(
            "ts", "5 minutes", ["role"], F.round(F.sum("weight"), 4).alias("w_total")
        )
        .select(F.col("w.start").alias("ws"), "role", "w_total")
    )
    _run_to_memory(sp, "enriched", expected_input_rows=len(pdf) + 1)
    got = {(r.ws, r.role): r.w_total for r in spark.sql("SELECT * FROM enriched").collect()}
    expect = {
        (r.ws, r.role): r.w_total
        for r in _to_spark(spark, pdf)
        .join(dim, "role")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "role")
        .agg(F.round(F.sum("weight"), 4).alias("w_total"))
        .select(F.col("w.start").alias("ws"), "role", "w_total")
        .collect()
    }
    assert got == expect

    stream_dim = StreamingPipeline.read_transcripts(spark, d).df
    with pytest.raises(ValueError, match="must be a batch DataFrame"):
        StreamingPipeline.read_transcripts(spark, d).enrich_static(stream_dim, on="role")


def test_enrich_static_file_index_pinned(spark, clean_dir, tmp_path):
    """The dynamic-blocklist ops pattern, both halves pinned side by side.

    Spark re-PLANS the static side of a stream-static join per micro-batch
    but the file listing is resolved once (``InMemoryFileIndex`` at
    DataFrame creation), so a file-backed blocklist updated mid-stream is
    INVISIBLE to ``enrich_static`` — and picked up from the next batch by
    ``refreshing_join``, which re-reads the dim inside foreachBatch.  Both
    proven on the SAME staged source via each sink's ``_batch_id`` lineage:
    a conv blocked from t0 never appears in either; a conv blocked between
    batches keeps flowing through the pinned join but disappears from the
    refreshing one."""
    import shutil as _sh

    from pipeflow_spark.streaming.exactly_once import ExactlyOnceSink

    d, pdf = clean_dir
    src_files = sorted(f for f in os.listdir(d) if f.startswith("part-") and "99999" not in f)
    # conv_b must appear in BOTH halves of the arrival sequence (the
    # Zipf-hot conversation spans the file-3 boundary); conv_a (blocked
    # from the start) just needs first-half rows
    half = set(pdf[pdf.arrival_file < 3].conv_id.unique())
    later = set(pdf[pdf.arrival_file >= 3].conv_id.unique())
    conv_b = sorted(half & later)[0]
    conv_a = sorted(half - {conv_b})[0]

    stage = tmp_path / "stage"
    stage.mkdir()
    for f in src_files[:3]:
        _sh.copy(os.path.join(d, f), stage / f)
    bl = tmp_path / "blocklist"
    bl.mkdir()
    spark.createDataFrame([(conv_a,)], "conv_id string").write.mode("append").parquet(str(bl))

    pinned_dim = spark.read.schema("conv_id string").parquet(str(bl))
    pinned_sink = ExactlyOnceSink(str(tmp_path / "sink_pinned"))
    fresh_sink = ExactlyOnceSink(str(tmp_path / "sink_fresh"))
    q_pin = (
        StreamingPipeline.read_transcripts(spark, str(stage), max_files_per_trigger=1)
        .enrich_static(pinned_dim, on="conv_id", how="left_anti")
        .start_exactly_once(
            pinned_sink, str(tmp_path / "ckpt_pinned"), available_now=False, query_name="bl_pinned"
        )
    )
    q_fresh = (
        StreamingPipeline.read_transcripts(spark, str(stage), max_files_per_trigger=1)
        .refreshing_join(
            lambda: spark.read.schema("conv_id string").parquet(str(bl)),
            on="conv_id",
            how="left_anti",
        )
        .start_exactly_once(
            fresh_sink, str(tmp_path / "ckpt_fresh"), available_now=False, query_name="bl_fresh"
        )
    )
    try:
        q_pin.processAllAvailable()
        q_fresh.processAllAvailable()
        cut_pin = max(pinned_sink.committed_batches())
        cut_fresh = max(fresh_sink.committed_batches())
        # mid-stream ops change: block conv_b, then feed the second half
        spark.createDataFrame([(conv_b,)], "conv_id string").write.mode("append").parquet(str(bl))
        for f in src_files[3:]:
            _sh.copy(os.path.join(d, f), stage / f)
        q_pin.processAllAvailable()
        q_fresh.processAllAvailable()
    finally:
        q_pin.stop()
        q_fresh.stop()

    expect_early = {(c, t) for c, t in zip(pdf[pdf.arrival_file < 3].conv_id, pdf[pdf.arrival_file < 3].turn_idx) if c != conv_a}
    expect_late_all = {(c, t) for c, t in zip(pdf[pdf.arrival_file >= 3].conv_id, pdf[pdf.arrival_file >= 3].turn_idx) if c != conv_a}
    expect_late_refreshed = {(c, t) for (c, t) in expect_late_all if c != conv_b}

    # pinned join: conv_b keeps flowing after the blocklist update
    out = pinned_sink.read_committed(spark)
    assert out.filter(F.col("conv_id") == conv_a).count() == 0  # blocked from t0
    late = out.filter(F.col("_batch_id") > cut_pin)
    assert late.filter(F.col("conv_id") == conv_b).count() > 0  # update invisible
    kept = {(r.conv_id, r.turn_idx) for r in out.select("conv_id", "turn_idx").collect()}
    assert kept == expect_early | expect_late_all

    # refreshing join: conv_b gone from the batch after the update
    out = fresh_sink.read_committed(spark)
    assert out.filter(F.col("conv_id") == conv_a).count() == 0  # blocked from t0
    early = out.filter(F.col("_batch_id") <= cut_fresh)
    late = out.filter(F.col("_batch_id") > cut_fresh)
    assert early.filter(F.col("conv_id") == conv_b).count() > 0  # visible before
    assert late.filter(F.col("conv_id") == conv_b).count() == 0  # gone after
    assert late.count() > 0  # the second half actually flowed
    # and nothing else was lost: every kept row matches the batch anti-join
    kept = {(r.conv_id, r.turn_idx) for r in out.select("conv_id", "turn_idx").collect()}
    assert kept == expect_early | expect_late_refreshed


def test_refreshing_join_is_terminal_stage(spark, clean_dir):
    """refreshing_join runs inside foreachBatch, AFTER the streaming plan —
    a later streaming stage would silently reorder in front of it, so any
    further stage raises, as does the foreachBatch-less memory sink."""
    d, _ = clean_dir
    sp = StreamingPipeline.read_transcripts(spark, d).refreshing_join(
        lambda: None, on="conv_id", how="left_anti"
    )
    with pytest.raises(ValueError, match="terminal-stage"):
        sp.filter(F.col("role") == "user")
    with pytest.raises(ValueError, match="terminal-stage"):
        sp.tumbling_agg("ts", "5 minutes", ["role"], F.count("*").alias("n"))
    with pytest.raises(ValueError, match="foreachBatch sink"):
        sp.start_memory("never")
    with pytest.raises(TypeError, match="zero-arg callable"):
        StreamingPipeline.read_transcripts(spark, d).refreshing_join(
            spark.range(1), on="conv_id"
        )


def test_tumbling_spikes_history_survives_idle(spark, tmp_path):
    """The spike machine's history must persist across batches where the key
    is ABSENT (timeout-driven flush) — an idle-TTL state drop would reset the
    warm-up and diverge from the batch twin's full-history frame.

    Arrival: file0 = conv A in hours 0,1,2 (2 rows each); file1 = conv B far
    ahead (advances the watermark while A is idle → A's h2 closes via
    EventTimeTimeout); file2 = A again with 9 rows in hour 12; sentinel.
    Hand math for A@h12: n_prev=3, sum_prev=6, max_prev=2 → 9·3 > 2·6 and
    9 > 2 after a full warm-up: spike."""
    import datetime as dt

    import pandas as pd

    from pipeflow_spark.streaming.transcripts import (
        write_sentinel_file,
        write_transcript_parquet,
    )

    d = tmp_path / "src"
    d.mkdir()
    h = lambda hh, mm=0: dt.datetime(2025, 1, 1, hh, mm)  # noqa: E731
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def rows(conv, stamps, base_turn=0):
        return pd.DataFrame(
            [(conv, base_turn + i, "user", "x", None, t) for i, t in enumerate(stamps)],
            columns=cols,
        )

    a_early = [h(0), h(0, 30), h(1), h(1, 30), h(2), h(2, 30)]
    write_transcript_parquet(rows("A", a_early), str(d / "part-00000.parquet"))
    write_transcript_parquet(rows("B", [h(9)]), str(d / "part-00001.parquet"))
    a_late = [h(12, i) for i in range(9)]
    write_transcript_parquet(rows("A", a_late, 100), str(d / "part-00002.parquet"))
    write_sentinel_file(str(d), dt.datetime(2026, 1, 1))

    q = (
        StreamingPipeline.read_transcripts(spark, str(d), max_files_per_trigger=1)
        .with_watermark("ts", "1 minute")
        .tumbling_spikes("ts", 3_600_000_000, "conv_id", key_type="string")
        .start_memory("spikes_idle")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.k, r.ws.hour): (r.n, r.n_prev, r.sum_prev, r.max_prev, r.spike)
        for r in spark.sql("select * from spikes_idle").collect()
        if r.k == "A"
    }
    assert got[("A", 0)] == (2, 0, 0, 0, False)
    assert got[("A", 1)] == (2, 1, 2, 2, False)  # 2·1 > 2·2 fails
    assert got[("A", 2)] == (2, 2, 4, 2, False)  # warm-up < 3
    assert got[("A", 12)] == (9, 3, 6, 2, True)  # history survived the idle gap
    assert len(got) == 4


def _neardup_docs_src(spark, tmp_path):
    """Three arrival files of documents-shaped rows: novel docs, an exact dup
    across batches, and an intra-batch dup pair."""
    schema = "doc_id long, text string, lang string, source string, n_tokens int"
    uniq = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
        "red orange yellow green blue indigo violet pink brown black",
        "north south east west up down left right front back",
    ]
    files = [
        # batch 0: two novel docs
        [(0, uniq[0]), (1, uniq[1])],
        # batch 1: cross-batch dup of doc 0, one novel
        [(10, uniq[0]), (11, uniq[2])],
        # batch 2: intra-batch dup pair (21 drops), one novel
        [(20, uniq[3]), (21, uniq[3]), (22, "solo unique words nothing shared here with others at all")],
    ]
    src = tmp_path / "nd_src"
    src.mkdir()
    for i, rows in enumerate(files):
        spark.createDataFrame(
            [(d, t, "en", "s", len(t.split())) for d, t in rows], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"nd_stage{i}"))
        part = next(
            f for f in os.listdir(tmp_path / f"nd_stage{i}") if f.endswith(".parquet")
        )
        import shutil as _sh

        _sh.copy(str(tmp_path / f"nd_stage{i}" / part), str(src / f"part-{i:05d}.parquet"))
    return str(src), schema


def test_neardup_guard_drops_and_resumes(spark, tmp_path):
    """The streaming near-dup guard: cross-batch dup and intra-batch dup drop,
    novel docs keep — and a crash between the store append and the kept
    ledger commit replays to the identical kept set (the store's own
    batch_id dir is excluded from candidate retrieval, so a replayed batch
    never self-matches)."""
    from pipeflow_spark.streaming.neardup import NearDupGuardSink

    src, schema = _neardup_docs_src(spark, tmp_path)
    expected = {0, 1, 11, 20, 22}  # 10 = cross-batch dup, 21 = intra-batch dup

    def run(root, ckpt, fail_batch=None):
        guard = NearDupGuardSink(str(tmp_path / root))
        if fail_batch is not None:
            guard.kept.fail_after_write_batch_id = fail_batch
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = StreamingPipeline(stream).start_exactly_once(
            guard, str(tmp_path / ckpt), query_name=f"nd_{root}"
        )
        try:
            q.awaitTermination()
        except Exception:
            pass  # injected crash surfaces through awaitTermination
        finally:
            q.stop()
        return guard

    g1 = run("g1", "ck1")
    assert {r.doc_id for r in g1.read_kept(spark).collect()} == expected

    g2 = run("g2", "ck2", fail_batch=1)  # crash after batch 1's kept write
    assert 1 not in g2.kept.committed_batches()
    g2b = run("g2", "ck2")  # resume from checkpoint, same root
    kept = {r.doc_id for r in g2b.read_kept(spark).collect()}
    assert kept == expected
    # exactly-once: no doc appears twice even though batch 1 was written twice
    all_rows = g2b.read_kept(spark).groupBy("doc_id").count()
    assert all_rows.filter(F.col("count") > 1).count() == 0


def test_neardup_guard_store_compaction(spark, tmp_path):
    """compact_store folds the committed per-batch signature dirs into one
    negative-id segment without changing ANY future decision: run the guard,
    compact, then replay the same source into a fresh checkpoint against the
    compacted store root — decisions must be unchanged (here: re-ingesting
    the same docs drops everything, since every doc now matches history)."""
    import os as _os

    from pipeflow_spark.streaming.neardup import NearDupGuardSink

    src, schema = _neardup_docs_src(spark, tmp_path)
    guard = NearDupGuardSink(str(tmp_path / "gc"))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = StreamingPipeline(stream).start_exactly_once(
        guard, str(tmp_path / "gc_ck"), query_name="nd_gc"
    )
    q.awaitTermination()
    kept_before = {r.doc_id for r in guard.read_kept(spark).collect()}

    folded = guard.compact_store(spark)
    assert folded == 3  # one store dir per micro-batch
    assert sorted(_os.listdir(guard.ns_dir)) == ["batch_id=-1"]
    assert guard.compact_store(spark) == 0  # idempotent: single segment left
    assert kept_before == {0, 1, 11, 20, 22}

    # the compacted store must drive identical decisions: re-ingest the same
    # docs through a SECOND query sharing the store (own root + namespace) —
    # every doc now matches history, so NOTHING survives the novelty gate
    guard2 = NearDupGuardSink(
        str(tmp_path / "gc2"), store_dir=guard.store_dir, namespace="q2"
    )
    stream2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", 3).parquet(src)
    q = StreamingPipeline(stream2).start_exactly_once(
        guard2, str(tmp_path / "gc_ck2"), query_name="nd_gc2"
    )
    q.awaitTermination()
    assert guard2.read_kept(spark).count() == 0
    # and the first query's kept output is untouched
    assert {r.doc_id for r in guard.read_kept(spark).collect()} == kept_before


def test_budget_cap_judges_in_event_time_order(spark, tmp_path):
    """The budget machine must judge rows in EVENT-TIME order, not arrival
    order: a big row arriving late (but within the watermark delay) spends
    the budget at its event-time position, cutting a smaller row that
    ARRIVED earlier but happened later.  Arrival: file0 = A@10:00 (w=5),
    A@10:30 (w=5); file1 = A@10:10 (w=4000, out of order) + a watermark
    mover; quota 4005 → kept = {10:00, 10:10}, cut = {10:30}.  Arrival-order
    processing would keep 10:30 and cut 10:10 instead."""
    import datetime as dt

    import pandas as pd

    from pipeflow_spark.streaming.transcripts import (
        write_sentinel_file,
        write_transcript_parquet,
    )

    d = tmp_path / "src"
    d.mkdir()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    t = lambda mm: dt.datetime(2025, 1, 1, 10, mm)  # noqa: E731
    f0 = pd.DataFrame(
        [("A", 0, "user", "x" * 5, None, t(0)), ("A", 2, "user", "y" * 5, None, t(30))],
        columns=cols,
    )
    f1 = pd.DataFrame(
        [
            ("A", 1, "user", "z" * 4000, None, t(10)),
            ("B", 0, "user", "w", None, dt.datetime(2025, 1, 1, 11, 30)),
        ],
        columns=cols,
    )
    write_transcript_parquet(f0, str(d / "part-00000.parquet"))
    write_transcript_parquet(f1, str(d / "part-00001.parquet"))
    write_sentinel_file(str(d), dt.datetime(2026, 1, 1))

    q = (
        StreamingPipeline.read_transcripts(spark, str(d), max_files_per_trigger=1)
        .with_watermark("ts", "1 hour")
        .add_column("w8", F.length("text"))
        .budget_cap("ts", "conv_id", "turn_idx", "w8", 4005)
        .start_memory("budget_evt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.id: (r.w, r.cum, r.kept)
        for r in spark.sql("select * from budget_evt where k = 'A'").collect()
    }
    assert got == {
        0: (5, 5, True),
        1: (4000, 4005, True),  # event-time position 2, despite arriving last
        2: (5, 4010, False),  # cut: the late-arriving big row spent the budget
    }


def test_salted_tumbling_counts_match_plain(spark, clean_dir):
    """Skew-salted two-phase windowed count (chained stateful aggs) must be
    value-identical to the single-phase groupBy(window, conv_id) — salting
    changes the partitioning of state updates, never the result.  The salt is
    deterministic (xxhash64 of turn_idx), so micro-batch replays hit the same
    state rows (exactly-once safe)."""
    d, pdf = clean_dir
    sp = (
        StreamingPipeline.read_transcripts(spark, d, max_files_per_trigger=2)
        .with_watermark("ts", "0 seconds")
        .salted_tumbling_counts(
            "ts", "5 minutes", ["conv_id"], salt_col="turn_idx", n_salt=8,
            sum_cols={"turn_idx": "turn_sum"},
        )
        .select(F.col("w.start").alias("ws"), "conv_id", "n", "turn_sum")
    )
    _run_to_memory(sp, "salted_tumbling", expected_input_rows=len(pdf) + 1)
    got = {(r.ws, r.conv_id): (r.n, r.turn_sum)
           for r in spark.sql("SELECT * FROM salted_tumbling").collect()}
    expect = {
        (r.ws, r.conv_id): (r.n, r.turn_sum)
        for r in _to_spark(spark, pdf)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "conv_id")
        .agg(F.count("*").alias("n"), F.sum("turn_idx").alias("turn_sum"))
        .select(F.col("w.start").alias("ws"), "conv_id", "n", "turn_sum")
        .collect()
    }
    assert got == expect


def test_sliding_window_matches_batch(spark, clean_dir):
    d, pdf = clean_dir
    sp = (
        StreamingPipeline.read_transcripts(spark, d, max_files_per_trigger=3)
        .with_watermark("ts", "0 seconds")
        .sliding_agg("ts", "10 minutes", "5 minutes", [], F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    _run_to_memory(sp, "sliding", expected_input_rows=len(pdf) + 1)
    got = {(r.ws): r.n for r in spark.sql("SELECT * FROM sliding").collect()}
    expect = {
        r.ws: r.n
        for r in _to_spark(spark, pdf)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
        .collect()
    }
    assert got == expect


def test_watermark_drops_late_turns(spark, late_dir, clean_dir):
    d, pdf = late_dir
    sp = (
        StreamingPipeline.read_transcripts(spark, d, max_files_per_trigger=1)
        .with_watermark("ts", "1 minute")  # tight horizon → late arrivals dropped
        .tumbling_agg("ts", "5 minutes", ["role"], F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "role", "n")
    )
    _run_to_memory(sp, "late_drop", expected_input_rows=len(pdf) + 1)
    got_total = spark.sql(
        f"SELECT sum(n) AS s FROM late_drop WHERE ws < timestamp'{SENTINEL_TS}'"
    ).first().s
    full_total = len(pdf)
    n_late = int(pdf.is_late_arrival.sum())
    assert n_late > 0
    # late arrivals (and only plausibly those) are missing
    assert got_total < full_total
    assert got_total >= full_total - n_late


def test_session_window_stream(spark, tmp_path):
    # hand-crafted: one conv with a 40-min silence gap → 2 sessions
    t0 = dt.datetime(2025, 1, 1)
    rows = [("c1", i, "user", f"t{i}", None, t0 + dt.timedelta(minutes=m))
            for i, m in enumerate([0, 5, 10, 50, 55])]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    src = tmp_path / "sess"
    src.mkdir()
    write_transcript_parquet(pdf, str(src / "part-00000.parquet"))
    write_sentinel_file(str(src), SENTINEL_TS)
    sp = (
        StreamingPipeline.read_transcripts(spark, str(src))
        .with_watermark("ts", "0 seconds")
        .session_agg("ts", "30 minutes", ["conv_id"], F.count("*").alias("n_turns"))
        .select("conv_id", F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n_turns")
    )
    # NB: do NOT filter conv_id != SENTINEL in-plan — Catalyst pushes the
    # predicate below the watermark into the scan, the sentinel row never
    # advances event time, and the final session never closes.  The
    # sentinel's own session can't close (it is the max event), so it never
    # appears in the output anyway.
    _run_to_memory(sp, "sessions", expected_input_rows=6)
    got = sorted((r.ws, r.we, r.n_turns) for r in spark.sql("SELECT * FROM sessions").collect())
    assert [(n) for _, _, n in got] == [3, 2]
    assert got[0][0] == t0
    # session window extends gap past the last event
    assert got[0][1] == t0 + dt.timedelta(minutes=10 + 30)


def test_dedupe_within_watermark(spark, tmp_path):
    # duplicate (conv_id, turn_idx) in consecutive files → one survivor
    t0 = dt.datetime(2025, 1, 1)
    src = tmp_path / "dup"
    src.mkdir()
    a = pd.DataFrame(
        [("c1", 0, "user", "first", None, t0), ("c1", 1, "assistant", "x", None, t0 + dt.timedelta(seconds=20))],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    b = pd.DataFrame(
        [("c1", 0, "user", "dup-arrives-again", None, t0 + dt.timedelta(seconds=1))],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    write_transcript_parquet(a, str(src / "part-00000.parquet"))
    write_transcript_parquet(b, str(src / "part-00001.parquet"))
    sp = (
        StreamingPipeline.read_transcripts(spark, str(src))
        .with_watermark("ts", "10 minutes")
        .dedupe_within_watermark(["conv_id", "turn_idx"])
    )
    _run_to_memory(sp, "dedup", expected_input_rows=3)
    got = spark.sql("SELECT text FROM dedup WHERE turn_idx = 0").collect()
    assert len(got) == 1 and got[0].text == "first"  # first arrival wins


def test_stream_stream_join_replies(spark, clean_dir):
    d, pdf = clean_dir
    users = StreamingPipeline.read_transcripts(spark, d, 3).with_watermark("ts", "1 hour").filter(
        "role = 'user'"  # sentinel is role=user but has no reply -> joins nothing
    )
    replies = StreamingPipeline.read_transcripts(spark, d, 3).with_watermark("ts", "1 hour").filter(
        "role IN ('assistant','tool')"
    )
    joined = users.join_replies(replies, max_reply_delay="10 minutes").select(
        "u_conv_id", "u_turn_idx", "a_turn_idx", "u_text", "a_text"
    )
    # no row count: the replies side's role filter prunes the user-role
    # sentinel file from its scan, and every file exists before the start
    _run_to_memory(joined, "replies")
    got = spark.sql("SELECT * FROM replies").collect()
    assert len(got) > 0
    assert all(r.a_turn_idx == r.u_turn_idx + 1 for r in got)
    # batch oracle: pandas self-join of the static table
    base = pdf.drop(columns=["arrival_file", "is_late_arrival"])
    u = base[base.role == "user"]
    a = base[base.role != "user"]
    m = u.merge(a, on="conv_id", suffixes=("_u", "_a"))
    m = m[
        (m.turn_idx_a == m.turn_idx_u + 1)
        & (m.ts_a >= m.ts_u)
        & (m.ts_a <= m.ts_u + pd.Timedelta(minutes=10))
    ]
    assert len(got) == len(m)


def test_stream_stream_left_outer_join_unanswered(spark, outer_dir):
    """Left-outer stream-stream join: user turns with no reply inside the
    delay window must emit exactly once with NULL right columns after the
    watermark passes (no-data batches flush the eviction) — the committed
    set must equal the batch LEFT JOIN."""
    d, pdf = outer_dir
    users = StreamingPipeline.read_transcripts(spark, d, 3).with_watermark("ts", "1 hour").filter(
        "role = 'user'"
    )
    replies = StreamingPipeline.read_transcripts(spark, d, 3).with_watermark("ts", "1 hour").filter(
        "role IN ('assistant','tool')"
    )
    joined = users.join_replies(
        replies, max_reply_delay="10 minutes", how="left_outer"
    ).select("u_conv_id", "u_turn_idx", "a_turn_idx")
    # no row count: each side's role filter prunes the other sentinel file
    _run_to_memory(joined, "unanswered")
    got = [
        r
        for r in spark.sql("SELECT * FROM unanswered").collect()
        if r.u_conv_id != SENTINEL_CONV  # the heartbeat row has no reply by design
    ]
    # batch oracle: pandas left merge with the same interval predicate
    base = pdf.drop(columns=["arrival_file", "is_late_arrival"])
    u = base[base.role == "user"]
    a = base[base.role != "user"]
    m = u.merge(a, on="conv_id", suffixes=("_u", "_a"), how="left")
    hit = (
        (m.turn_idx_a == m.turn_idx_u + 1)
        & (m.ts_a >= m.ts_u)
        & (m.ts_a <= m.ts_u + pd.Timedelta(minutes=10))
    )
    matched = m[hit]
    all_u = u[["conv_id", "turn_idx"]].itertuples(index=False)
    matched_u = {(r.conv_id, r.turn_idx_u) for r in matched.itertuples(index=False)}
    expect_null = {(c, t) for c, t in all_u if (c, t) not in matched_u}
    got_null = {(r.u_conv_id, r.u_turn_idx) for r in got if r.a_turn_idx is None}
    got_hit = [(r.u_conv_id, r.u_turn_idx) for r in got if r.a_turn_idx is not None]
    assert got_null == expect_null and expect_null  # NULLs present and exact
    assert len(got_hit) == len(matched)
    with pytest.raises(ValueError, match="inner/left_outer/full_outer"):
        users.join_replies(replies, how="cross")


def test_stream_stream_full_outer_join(spark, outer_dir):
    """Full-outer stream-stream join: BOTH sides' orphans emit exactly once
    with the other side NULL at their own watermark eviction — unanswered
    user turns AND replies whose preceding user turn doesn't match (e.g.
    tool→assistant chains).  The drained committed set must equal the batch
    FULL JOIN."""
    d, pdf = outer_dir
    users = StreamingPipeline.read_transcripts(spark, d, 3).with_watermark("ts", "1 hour").filter(
        "role = 'user'"
    )
    replies = StreamingPipeline.read_transcripts(spark, d, 3).with_watermark("ts", "1 hour").filter(
        "role IN ('assistant','tool')"
    )
    joined = users.join_replies(
        replies, max_reply_delay="10 minutes", how="full_outer"
    ).select("u_conv_id", "u_turn_idx", "a_conv_id", "a_turn_idx")
    _run_to_memory(joined, "full_matrix")  # no row count, as above
    got = [
        r
        for r in spark.sql("SELECT * FROM full_matrix").collect()
        if SENTINEL_CONV not in (r.u_conv_id, r.a_conv_id)
    ]
    base = pdf.drop(columns=["arrival_file", "is_late_arrival"])
    u = base[base.role == "user"]
    a = base[base.role != "user"]
    m = u.merge(a, on="conv_id", suffixes=("_u", "_a"), how="inner")
    hit = (
        (m.turn_idx_a == m.turn_idx_u + 1)
        & (m.ts_a >= m.ts_u)
        & (m.ts_a <= m.ts_u + pd.Timedelta(minutes=10))
    )
    matched = m[hit]
    matched_u = {(r.conv_id, r.turn_idx_u) for r in matched.itertuples(index=False)}
    matched_a = {(r.conv_id, r.turn_idx_a) for r in matched.itertuples(index=False)}
    expect_null_right = {
        (c, t) for c, t in u[["conv_id", "turn_idx"]].itertuples(index=False)
        if (c, t) not in matched_u
    }
    expect_null_left = {
        (c, t) for c, t in a[["conv_id", "turn_idx"]].itertuples(index=False)
        if (c, t) not in matched_a
    }
    got_null_right = {(r.u_conv_id, r.u_turn_idx) for r in got if r.a_turn_idx is None}
    got_null_left = {(r.a_conv_id, r.a_turn_idx) for r in got if r.u_turn_idx is None}
    got_matched = [r for r in got if r.u_turn_idx is not None and r.a_turn_idx is not None]
    assert got_null_right == expect_null_right and expect_null_right
    assert got_null_left == expect_null_left and expect_null_left
    assert len(got_matched) == len(matched)


def test_live_aggregate_table_versions(spark, clean_dir, tmp_path):
    """Update-mode windowed agg → streaming MERGE = a LIVE aggregate table:
    every micro-batch is one atomic snapshot commit, so (a) the version
    history is readable while the stream runs (one version per non-empty
    batch), (b) each earlier version is a consistent partial whose counts
    are pointwise ≤ the final, and (c) the final table equals the batch
    aggregate exactly."""
    from pipeflow_spark.sinks import read_upsert_table, snapshots
    from pipeflow_spark.streaming import StreamingPipeline

    d, pdf = clean_dir
    table = str(tmp_path / "live")
    sp = (
        StreamingPipeline.read_transcripts(spark, d, max_files_per_trigger=2)
        .with_watermark("ts", "0 seconds")
        .tumbling_agg("ts", "10 minutes", ["role"], F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "role", "n")
    )
    q = sp.start_upsert(
        table, keys=["ws", "role"], checkpoint_dir=str(tmp_path / "ck"), keep_snapshots=50
    )
    q.awaitTermination()
    vers = [s["version"] for s in snapshots(table)]
    assert len(vers) >= 3  # 7 files / 2 per trigger → ≥3 non-empty commits
    final = {
        (r.ws, r.role): r.n
        for r in read_upsert_table(spark, table).collect()
    }
    mid = {
        (r.ws, r.role): r.n
        for r in read_upsert_table(spark, table, version=vers[-2]).collect()
    }
    assert mid and all(final[k] >= v for k, v in mid.items())  # consistent partials
    expect = {
        (r.ws, r.role): r.n
        for r in _to_spark(spark, pdf)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "role")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "role", "n")
        .collect()
    }
    got = {k: v for k, v in final.items() if k[0] != SENTINEL_TS}
    assert got == expect


def test_heavy_hitters_mg_bound_and_recall(spark, clean_dir):
    """Streaming Misra-Gries heavy hitters with a TINY capacity (3 per
    shard) so decrements actually fire: every emitted count must satisfy
    cnt <= true <= cnt + err, the summed error must respect the MG bound
    N_window/(capacity+1), and every key whose true count exceeds the
    window's total error must survive the sketch (the heavy-hitter recall
    guarantee).  Exactness mode (big capacity) is driver-certified by
    `stream_heavy_hitters_oracle`."""
    from pipeflow_spark.operators import heavy

    d, pdf = clean_dir
    capacity, shards = 3, 4
    prepped = (
        StreamingPipeline.read_transcripts(spark, d, 3)
        .with_watermark("ts", "10 minutes")
        .df.withColumn("wstart", F.date_trunc("hour", F.col("ts")))
        .withColumn(
            "wend_ms", ((F.col("wstart").cast("double") + 3600.0) * 1000.0).cast("long")
        )
        .withColumn("shard", F.pmod(F.xxhash64("conv_id"), F.lit(shards)).cast("int"))
        .withColumn("key", F.col("conv_id"))
    )
    sp = StreamingPipeline(prepped).stateful_per_key(
        ["wstart", "shard"],
        heavy.heavy_hitters_apply_fn(capacity=capacity),
        heavy.HEAVY_OUTPUT_SCHEMA,
        heavy.HEAVY_STATE_SCHEMA,
        output_mode="append",
        timeout="EventTimeTimeout",
    )
    _run_to_memory(sp, "hh", expected_input_rows=len(pdf) + 1)
    got = (
        heavy.merge_heavy_hitters(
            spark.table("hh").filter(F.col("key") != SENTINEL_CONV), k=10**6
        )
        .collect()
    )
    assert got, "sketch emitted nothing — event-time timeouts never fired"
    truth = (
        pdf.assign(wstart=pdf.ts.dt.floor("h"))
        .groupby(["wstart", "conv_id"])
        .size()
        .to_dict()
    )
    win_n = pdf.assign(wstart=pdf.ts.dt.floor("h")).groupby("wstart").size().to_dict()
    err_by_window: dict = {}
    for r in got:
        true = truth[(pd.Timestamp(r.wstart), r.key)]
        assert r.cnt <= true <= r.cnt + r.err, (r.key, r.cnt, r.err, true)
        err_by_window[r.wstart] = max(err_by_window.get(r.wstart, 0), r.err)
    surviving = {(pd.Timestamp(r.wstart), r.key) for r in got}
    decremented = False
    for w, n in win_n.items():
        werr = err_by_window.get(w.to_pydatetime(), 0)
        assert werr <= n / (capacity + 1)
        decremented = decremented or werr > 0
        # recall: anything heavier than the window's worst-case error survives
        for (tw, key), cnt in truth.items():
            if tw == w and cnt > werr:
                assert (tw, key) in surviving, (key, cnt, werr)
    assert decremented, "capacity too generous — bound never exercised"


def test_state_metrics_surface(spark, clean_dir):
    """state_metrics must expose per-(batch, stateful-op) rows/memory/commit
    numbers from the progress history — the operator-side complement of the
    sink's per-partition lineage ledger."""
    from pipeflow_spark.streaming.engine import await_drained, state_metrics

    d, pdf = clean_dir
    sp = (
        StreamingPipeline.read_transcripts(spark, d, max_files_per_trigger=2)
        .with_watermark("ts", "0 seconds")
        .dedupe_within_watermark(["conv_id", "turn_idx"])
        .tumbling_agg("ts", "5 minutes", ["role"], F.count("*").alias("n"))
    )
    q = sp.start_memory("sm", output_mode="append")
    await_drained(q, expected_input_rows=len(pdf) + 1)
    m = state_metrics(q)
    q.stop()
    assert m, "no state metrics captured"
    ops = {r["operator"] for r in m}
    assert "dedupeWithinWatermark" in ops and "stateStoreSave" in ops
    for r in m:
        assert r["batch_id"] is not None and r["rows_updated"] is not None
        assert r["state_memory_bytes"] is None or r["state_memory_bytes"] >= 0
    # the dedupe operator actually accumulated state across batches
    assert max(r["rows_total"] for r in m if r["operator"] == "dedupeWithinWatermark") > 0


def test_await_drained_raises_on_timeout(spark, clean_dir):
    """A drain that cannot complete raises instead of returning as if the
    query had drained."""
    from pipeflow_spark.streaming.engine import await_drained

    d, _ = clean_dir
    q = StreamingPipeline.read_transcripts(spark, d).start_memory("undrainable")
    try:
        with pytest.raises(TimeoutError, match="expected input rows"):
            await_drained(q, expected_input_rows=10**9, timeout_sec=2)
    finally:
        q.stop()


def test_progress_metrics_surface(spark, clean_dir):
    """progress_metrics must expose per-batch throughput/latency; the file
    source reports latestOffset='None' so offsets_behind is honestly None
    there (no comparable offsets) — the backlog path is covered by the
    rate-source test below and the shape test on _offset_scalar."""
    from pipeflow_spark.streaming.engine import await_drained, progress_metrics

    d, pdf = clean_dir
    sp = (
        StreamingPipeline.read_transcripts(spark, d, max_files_per_trigger=2)
        .with_watermark("ts", "0 seconds")
        .tumbling_agg("ts", "5 minutes", ["role"], F.count("*").alias("n"))
    )
    q = sp.start_memory("pm", output_mode="append")
    await_drained(q, expected_input_rows=len(pdf) + 1)
    m = progress_metrics(q)
    q.stop()
    assert m, "no progress metrics captured"
    assert sum(r["input_rows"] for r in m) >= len(pdf)
    for r in m:
        assert r["batch_id"] is not None and r["n_sources"] == 1
        assert r["trigger_ms"] is None or r["trigger_ms"] >= 0
        assert r["offsets_behind"] is None  # file source exposes no latestOffset


def test_progress_metrics_offsets_behind_rate_source(spark):
    """The rate source reports integer latest/end offsets, so offsets_behind
    must come back as a non-negative int — in the source's native units
    (seconds for rate; messages ≈ rows only for Kafka-style sources)."""
    from pipeflow_spark.streaming.engine import progress_metrics

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .writeStream.format("memory")
        .queryName("pm_rate")
        .start()
    )
    try:
        import time

        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            m = [r for r in progress_metrics(q) if r["input_rows"]]
            if m:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert m, "rate source produced no non-empty batches in 60s"
    assert all(isinstance(r["offsets_behind"], int) and r["offsets_behind"] >= 0 for r in m)


def test_offset_scalar_parses_source_offset_shapes():
    """_offset_scalar must handle the offset encodings real sources emit:
    file ({'logOffset': N} as a Python-repr string), rate (plain int / str
    int), Kafka-style per-topic-partition JSON maps (summed), pyspark's
    literal 'None' string, and opaque payloads (None)."""
    from pipeflow_spark.streaming.engine import _offset_scalar

    assert _offset_scalar({"logOffset": 7}) == 7
    assert _offset_scalar(12) == 12
    assert _offset_scalar("12") == 12
    assert _offset_scalar("{'logOffset': 0}") == 0  # Python repr, not JSON
    assert _offset_scalar('{"logOffset": 3}') == 3
    assert _offset_scalar({"topic": {"0": 10, "1": 5}}) == 15
    assert _offset_scalar('{"t": {"0": 10, "1": 5}}') == 15
    assert _offset_scalar("None") is None
    assert _offset_scalar("not-json") is None
    assert _offset_scalar('"opaque"') is None
    assert _offset_scalar(True) is None
    assert _offset_scalar(None) is None


def test_stateful_per_key_running_count(spark, clean_dir):
    d, pdf = clean_dir

    def running(key, pdfs, state):
        # GroupState.get is a property in pyspark 4.x (returns the tuple)
        total = state.get[0] if state.exists else 0
        for p in pdfs:
            total += len(p)
        state.update((total,))
        yield pd.DataFrame({"conv_id": [key[0]], "turns_seen": [total]})

    sp = (
        StreamingPipeline.read_transcripts(spark, d, max_files_per_trigger=100)
        .filter(f"conv_id != '{SENTINEL_CONV}'")
        .stateful_per_key(
            ["conv_id"],
            running,
            "conv_id string, turns_seen long",
            "turns_seen long",
            output_mode="update",
        )
    )
    # no row count: the conv_id filter prunes the sentinel file from the scan
    _run_to_memory(sp, "statecount", mode="update")
    got = {r.conv_id: r.turns_seen for r in spark.sql(
        "SELECT conv_id, max(turns_seen) AS turns_seen FROM statecount GROUP BY conv_id").collect()}
    expect = pdf.groupby("conv_id").size().to_dict()
    assert got == expect


# -- exactly-once / resume ----------------------------------------------------


def _windowed(spark, d):
    return (
        StreamingPipeline.read_transcripts(spark, d, max_files_per_trigger=1)
        .with_watermark("ts", "0 seconds")
        .tumbling_agg(
            "ts", "5 minutes", ["conv_id"], F.count("*").alias("n"), F.max("turn_idx").alias("max_turn")
        )
        .select(F.col("w.start").alias("ws"), "conv_id", "n", "max_turn")
    )


def _batch_oracle(spark, pdf):
    return {
        (r.ws, r.conv_id): (r.n, r.max_turn)
        for r in _to_spark(spark, pdf)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "conv_id")
        .agg(F.count("*").alias("n"), F.max("turn_idx").alias("max_turn"))
        .select(F.col("w.start").alias("ws"), "conv_id", "n", "max_turn")
        .collect()
    }


def test_sink_data_compaction_preserves_snapshot_and_replay(spark, tmp_path):
    """compact_data folds old batch dirs into one segment: read_committed
    is row-identical before/after (incl. _batch_id lineage), covered batch
    dirs are gone, later batches + a second compaction keep working, and a
    replay of a compacted batch is still an exactly-once no-op."""
    from pipeflow_spark.streaming import ExactlyOnceSink

    sink = ExactlyOnceSink(str(tmp_path / "sink"))
    mk = lambda lo: spark.range(lo, lo + 5).select(F.col("id"), F.lit("x").alias("t"))
    for b in range(6):
        sink(mk(b * 10), b)
    before = {(r.id, r._batch_id) for r in sink.read_committed(spark).collect()}

    through = sink.compact_data(spark, keep_last=2)
    assert through == 3
    after = {(r.id, r._batch_id) for r in sink.read_committed(spark).collect()}
    assert after == before and len(after) == 30
    import os

    gone = [b for b in range(4) if os.path.isdir(str(tmp_path / "sink" / "data" / f"batch_id={b}"))]
    assert gone == []

    # replay of a compacted batch: ledger still says committed -> no-op
    sink(mk(999), 2)
    assert {(r.id, r._batch_id) for r in sink.read_committed(spark).collect()} == before

    # keep writing, compact again: segment re-folds, still identical
    for b in range(6, 9):
        sink(mk(b * 10), b)
    sink.compact_data(spark, keep_last=2)
    final = {(r.id, r._batch_id) for r in sink.read_committed(spark).collect()}
    assert len(final) == 45 and before <= final


def test_sink_lineage_df_traces_every_file_to_its_batch(spark, tmp_path):
    """lineage() must expose one row per committed output file whose per-file
    counts reconcile exactly with the committed snapshot, per batch."""
    from pipeflow_spark.streaming import ExactlyOnceSink

    sink = ExactlyOnceSink(str(tmp_path / "sink"))
    for b in range(3):
        sink(spark.range(b * 10, b * 10 + 5).select("id"), b)
    lin = sink.lineage(spark)
    per_batch = {r.batch_id: r.total for r in lin.groupBy("batch_id").agg(
        F.sum("rows").alias("total")).collect()}
    got = {
        r.batch_id: r.n
        for r in sink.read_committed(spark).groupBy("_batch_id").count()
        .withColumnRenamed("_batch_id", "batch_id").withColumnRenamed("count", "n").collect()
    }
    assert per_batch == got == {0: 5, 1: 5, 2: 5}
    assert lin.filter(~F.col("file").endswith(".parquet")).count() == 0


def test_quarantine_dlq_split_survives_mid_split_crash(spark, tmp_path):
    """QuarantiningSink: a crash AFTER the main sink committed a batch but
    BEFORE its quarantine twin did must heal on resume — the replayed batch
    no-ops on main and completes dlq, so the union is exactly the input with
    no dupes and every quarantined row carries its failed-rule messages."""
    from pipeflow_spark.streaming import ExactlyOnceSink, StreamingPipeline
    from pipeflow_spark.validation import Validator

    src = tmp_path / "src"
    src.mkdir()
    rows = [(i, f"doc {i} text", 10 * i) for i in range(20)]  # val 0..190
    for part in range(2):  # two files -> two micro-batches
        pd.DataFrame(rows[part * 10 : part * 10 + 10], columns=["id", "text", "val"]).to_parquet(
            src / f"part-{part}.parquet", index=False
        )

    v = Validator().column("val").range(0, 95).and_  # ids 10.. quarantined
    stream = (
        spark.readStream.schema("id bigint, text string, val bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    main = ExactlyOnceSink(str(tmp_path / "main"))
    dlq = ExactlyOnceSink(str(tmp_path / "dlq"), fail_after_write_batch_id=1)
    q = StreamingPipeline(stream).start_validated(main, dlq, v, str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="injected failure"):
        q.awaitTermination()
    assert 1 in main.committed_batches() and 1 not in dlq.committed_batches()

    main2, dlq2 = ExactlyOnceSink(str(tmp_path / "main")), ExactlyOnceSink(str(tmp_path / "dlq"))
    q2 = StreamingPipeline(stream).start_validated(main2, dlq2, v, str(tmp_path / "ckpt"))
    q2.awaitTermination()

    ok = {r.id for r in main2.read_committed(spark).collect()}
    bad = {r.id: list(r._errors) for r in dlq2.read_committed(spark).collect()}
    assert ok == set(range(10))  # val 0..90 pass range(0, 95)
    assert set(bad) == set(range(10, 20)) and len(ok) + len(bad) == 20
    assert all(errs == ["val out of range [0, 95]"] for errs in bad.values())


def test_exactly_once_kill_resume(spark, clean_dir, tmp_path):
    """Crash injected between sink write and ledger commit; restart from
    checkpoint must reproduce the batch oracle exactly — no dupes, no holes."""
    d, pdf = clean_dir
    root, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    sink = ExactlyOnceSink(root, fail_after_write_batch_id=2)
    q = _windowed(spark, d).start_exactly_once(sink, ckpt, output_mode="append")
    with pytest.raises(Exception, match="injected failure"):
        q.awaitTermination()

    committed_before = sink.committed_batches()
    assert 2 not in committed_before  # crashed batch is NOT visible

    # restart from the same checkpoint: batch 2 replays (same id), commits,
    # and the stream runs to completion
    sink2 = ExactlyOnceSink(root)
    q2 = _windowed(spark, d).start_exactly_once(sink2, ckpt, output_mode="append")
    q2.awaitTermination()

    out = sink2.read_committed(spark)
    got = {(r.ws, r.conv_id): (r.n, r.max_turn) for r in out.collect()}
    assert got == _batch_oracle(spark, pdf)  # sentinel's window never closes
    assert "_batch_id" in out.columns
    assert {m["batch_id"] for m in sink2.metrics()} == set(sink2.committed_batches())
    # per-partition lineage: every committed batch lists its output files, and
    # the per-file footer counts sum to the batch row count
    for m in sink2.metrics():
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
        assert all(p["file"].endswith(".parquet") for p in m["partitions"])
    assert sum(m["rows"] for m in sink2.metrics()) == out.count()


def test_fanout_sink_atomic_across_tables(spark, clean_dir, tmp_path):
    """FanoutSink: one micro-batch → N derived tables under ONE commit.
    A crash AFTER table 'turns' is written but BEFORE the group commit must
    leave the batch invisible in BOTH tables (the per-side-ledger
    QuarantiningSink explicitly allows a half-visible window; the fanout
    ledger must not), and the replay must complete both."""
    from pipeflow_spark.streaming.exactly_once import FanoutSink

    d, pdf = clean_dir
    root, ckpt = str(tmp_path / "fan"), str(tmp_path / "ckpt")
    outputs = {
        "turns": lambda b: b.filter(F.col("conv_id") != SENTINEL_CONV),
        "role_counts": lambda b: (
            b.filter(F.col("conv_id") != SENTINEL_CONV)
            .groupBy("role").agg(F.count("*").alias("n"))
        ),
    }

    def _stream(sink):
        return StreamingPipeline.read_transcripts(
            spark, d, max_files_per_trigger=2
        ).start_exactly_once(sink, ckpt, output_mode="append")

    sink = FanoutSink(root, outputs, fail_after_table="turns")
    q = _stream(sink)
    with pytest.raises(Exception, match="injected failure"):
        q.awaitTermination()

    crashed = [b for b in range(10) if os.path.isdir(f"{root}/turns/data/batch_id={b}")
               and b not in sink.committed_batches()]
    assert crashed, "crash left no orphan partition — injection did not fire"
    # atomicity: the orphan 'turns' partition exists on disk but is invisible
    # in BOTH tables because the single group ledger never committed it
    for name in outputs:
        vis = {r._batch_id for r in sink.read_committed(spark, name).collect()}
        assert not vis & set(crashed)

    # replay from the same checkpoint completes both tables
    sink2 = FanoutSink(root, outputs)
    q2 = _stream(sink2)
    q2.awaitTermination()
    turns = sink2.read_committed(spark, "turns")
    assert turns.count() == len(pdf)
    got_roles = {
        (r.role, r.total)
        for r in sink2.read_committed(spark, "role_counts")
        .groupBy("role").agg(F.sum("n").alias("total")).collect()
    }
    assert got_roles == {(role, n) for role, n in pdf.role.value_counts().items()}
    # one shared ledger: per-table metrics exist for every committed batch
    for name in outputs:
        assert {m["batch_id"] for m in sink2.metrics(name)} == set(sink2.committed_batches())
    with pytest.raises(KeyError):  # typo'd table name fails fast, not []
        sink2.metrics("role_count")
    # group-ledger compaction: one fold covers all tables, history unchanged
    before_batches = sink2.committed_batches()
    hw = sink2.compact_ledger(keep_last=1)
    assert hw >= 0 and sink2.committed_batches() == before_batches
    assert sink2.is_committed(before_batches[0])
    # replay of a committed batch is a group no-op
    before = turns.count()
    sink2(spark.createDataFrame(pdf).limit(3), sink2.committed_batches()[0])
    assert sink2.read_committed(spark, "turns").count() == before


def test_resume_across_parallelism():
    """Cluster-resize rehearsal: crash the exactly-once stream under
    local[8]/8 shuffle partitions, resume the SAME checkpoint under
    local[32].  Must keep the checkpoint-pinned state partitioning (8 dirs
    under state/0 before and after), replay the crashed batch idempotently,
    and finish byte-equal to the one-shot batch oracle.  Runs in separate
    JVMs via tools/resume_across_parallelism.py (parallelism is fixed at
    session creation — same reason bench_scaling uses subprocesses)."""
    import subprocess
    import sys

    # outer budget > 2 × the tool's per-child subprocess timeout (480 s), so
    # a slow child surfaces as the tool's own diagnosable RuntimeError, not
    # as TimeoutExpired killing the parent without its stdout tail
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "..", "tools", "resume_across_parallelism.py")],
        capture_output=True, text=True, timeout=1100,
    )
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")]
    assert proc.returncode == 0 and lines, proc.stdout[-2000:] + proc.stderr[-2000:]
    summary = json.loads(lines[-1])
    assert summary["ok"], summary["checks"]
    assert summary["state_partitions"] == {"after_crash": 8, "after_resume": 8}
    assert summary["phase2"]["default_parallelism"] == 32


def test_repartition_state_changeover():
    """State-repartitioning via bounded-replay changeover: run 1 (8 state
    partitions) stops mid-corpus; the safe horizon is derived from its final
    watermark; run 2 (fresh checkpoint, 32 state partitions) replays ONLY
    the tail files; stitched output (run 1's closed windows + run 2's
    fully-covered windows) must equal the full-corpus batch oracle, with
    recompute-consistency on the overlap.  Separate JVMs via
    tools/repartition_state_changeover.py."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "..", "tools", "repartition_state_changeover.py")],
        capture_output=True, text=True, timeout=1100,
    )
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")]
    assert proc.returncode == 0 and lines, proc.stdout[-2000:] + proc.stderr[-2000:]
    summary = json.loads(lines[-1])
    assert summary["ok"], summary["checks"]
    assert summary["replay_files"] < summary["total_files"]
    assert summary["state_partitions"] == {"run1": 8, "run2": 32}


def test_exactly_once_replay_committed_is_noop(spark, clean_dir, tmp_path):
    d, pdf = clean_dir
    root, ckpt = str(tmp_path / "sink2"), str(tmp_path / "ckpt2")
    sink = ExactlyOnceSink(root)
    q = _windowed(spark, d).start_exactly_once(sink, ckpt)
    q.awaitTermination()
    assert {(r.ws, r.conv_id) for r in sink.read_committed(spark).collect()} == set(
        _batch_oracle(spark, pdf)
    )
    before = {(r.ws, r.conv_id, r._batch_id) for r in sink.read_committed(spark).collect()}

    # manually replay every committed batch with garbage data → all no-ops
    garbage = spark.range(5).selectExpr(
        "timestamp'2030-01-01' as ws", "'evil' as conv_id", "id as n", "id as max_turn"
    )
    for b in sink.committed_batches():
        sink(garbage, b)
    after = {(r.ws, r.conv_id, r._batch_id) for r in sink.read_committed(spark).collect()}
    assert before == after


_CKPT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_CKPT_MANAGER_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


def _checkpoint_manager(spark, path, hadoop_conf):
    """The CheckpointFileManager Spark builds for ``path`` under ``hadoop_conf``."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)), hadoop_conf)


def _process_starts(spark, path, run):
    """Commands of the processes the JVM forks while ``run()`` executes,
    from a JFR recording of ``jdk.ProcessStart`` events."""
    jvm = spark.sparkContext._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        run()
    finally:
        rec.stop()
        out = jvm.java.nio.file.Paths.get(
            str(path), spark.sparkContext._gateway.new_array(jvm.java.lang.String, 0))
        rec.dump(out)
        rec.close()
    return [str(e.getString("command")).split()[0]
            for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(out)]


def test_local_stream_checkpoint_renames_fork_no_readlink(spark, tmp_path):
    """A local session commits offsets, commits and RocksDB changelogs
    through the FileSystem checkpoint manager, whose rename is
    ``File.renameTo``.  The FileContext manager forks ``readlink`` for each
    path it checks on every rename when libhadoop is absent."""
    pdf = synthesize_transcripts(n_convs=10, n_files=1, seed=3, late_frac=0.0)
    d = str(tmp_path / "src")
    write_arrival_files(pdf, d)
    write_sentinel_file(d, SENTINEL_TS)
    sink = ExactlyOnceSink(str(tmp_path / "sink"))

    def run():
        _windowed(spark, d).start_exactly_once(
            sink, str(tmp_path / "ckpt"), output_mode="append").awaitTermination()
        # control: a fork inside the window is recorded
        spark.sparkContext._jvm.java.lang.ProcessBuilder(["true"]).start().waitFor()

    starts = _process_starts(spark, tmp_path / "starts.jfr", run)
    assert "true" in starts
    assert len(sink.committed_batches()) >= 2
    assert starts.count("readlink") == 0, sorted(set(starts))
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    assert _checkpoint_manager(spark, tmp_path, conf).getClass().getSimpleName() == (
        "FileSystemBasedCheckpointFileManager")


def test_cluster_master_keeps_filecontext_checkpoint_manager(monkeypatch):
    """Only a local master gets the FileSystem checkpoint manager; HDFS
    renames atomically without overwrite through Spark's FileContext one."""
    from types import SimpleNamespace

    from pyspark.sql import SparkSession

    from pipeflow_spark.session import get_spark

    built = []

    def capture(builder):
        built.append(dict(builder._options))
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    get_spark(master="spark://cluster:7077")
    get_spark(master="local[2]")
    assert _CKPT_MANAGER_CONF not in built[0]
    assert built[1][_CKPT_MANAGER_CONF] == _CKPT_MANAGER_PKG + "FileSystemBasedCheckpointFileManager"


@pytest.mark.parametrize("manager", ["FileSystemBasedCheckpointFileManager",
                                     "FileContextBasedCheckpointFileManager"])
def test_checkpoint_create_atomic_keeps_no_overwrite_guard(spark, tmp_path, manager):
    """HDFSMetadataLog detects a concurrent writer of the same batch by
    ``createAtomic(path, overwriteIfPossible=false)`` failing at close; both
    managers keep that guard, and the first writer's file survives."""
    from py4j.protocol import Py4JJavaError

    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    conf.set(_CKPT_MANAGER_CONF, _CKPT_MANAGER_PKG + manager)
    mgr = _checkpoint_manager(spark, tmp_path, conf)
    assert mgr.getClass().getSimpleName() == manager
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    first = mgr.createAtomic(path, True)
    first.write(bytearray(b"first"))
    first.close()
    second = mgr.createAtomic(path, False)
    second.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError) as err:
        second.close()
    assert jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException").isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"first"


def test_filecontext_checkpoint_resumes_under_local_default(spark, clean_dir, tmp_path):
    """A checkpoint written by Spark's FileContext manager (crashed between
    sink write and ledger commit) resumes under the local session's
    FileSystem manager with exactly-once output."""
    d, pdf = clean_dir
    root, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    local_default = spark.conf.get(_CKPT_MANAGER_CONF, None)
    spark.conf.set(_CKPT_MANAGER_CONF, _CKPT_MANAGER_PKG + "FileContextBasedCheckpointFileManager")
    try:
        q = _windowed(spark, d).start_exactly_once(
            ExactlyOnceSink(root, fail_after_write_batch_id=2), ckpt, output_mode="append")
        with pytest.raises(Exception, match="injected failure"):
            q.awaitTermination()
    finally:
        if local_default is None:
            spark.conf.unset(_CKPT_MANAGER_CONF)
        else:
            spark.conf.set(_CKPT_MANAGER_CONF, local_default)

    sink = ExactlyOnceSink(root)
    _windowed(spark, d).start_exactly_once(sink, ckpt, output_mode="append").awaitTermination()
    rows = [(r.ws, r.conv_id, r.n, r.max_turn) for r in sink.read_committed(spark).collect()]
    assert len(rows) == len(set(rows))  # no batch landed twice
    assert {(ws, c): (n, m) for ws, c, n, m in rows} == _batch_oracle(spark, pdf)
    batches = sink.committed_batches()
    assert batches == list(range(len(batches))) and 2 in batches
    assert [m["batch_id"] for m in sink.metrics()] == batches
    commits = sorted(int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit())
    assert commits == list(range(len(commits))) and len(commits) >= len(batches)


def test_tool_loop_detector_cep(spark, tmp_path):
    """Per-conv tool-loop CEP over per-key state — a run of consecutive tool
    turns split ACROSS arrival files must still be detected (state crosses
    micro-batches).  Runs on the v1 API (applyInPandasWithState); the v2 twin
    (transformWithStateInPandas, ToolLoopDetector) shares the same kernel but
    needs protobuf, absent here (see test_transform_with_state_gated)."""
    from pipeflow_spark.streaming.cep import (
        TOOL_LOOP_OUTPUT_SCHEMA,
        TOOL_LOOP_STATE_SCHEMA,
        tool_loop_apply_fn,
    )

    t0 = dt.datetime(2025, 1, 1)

    def mk(conv, idx, role):
        return (conv, idx, role, f"t{idx}", "search" if role == "tool" else None,
                t0 + dt.timedelta(minutes=idx))

    # c1: tool run of 3 (idx 1-3) split across files, then user closes it;
    # c2: tool run of 2 (idx 2-3) closed in-file; c3: no qualifying run
    f1 = [mk("c1", 0, "user"), mk("c1", 1, "tool"), mk("c1", 2, "tool"),
          mk("c2", 0, "user"), mk("c2", 1, "assistant"), mk("c3", 0, "tool")]
    f2 = [mk("c1", 3, "tool"), mk("c1", 4, "user"),
          mk("c2", 2, "tool"), mk("c2", 3, "tool"), mk("c2", 4, "assistant"),
          mk("c3", 1, "user")]
    src = tmp_path / "loops"
    src.mkdir()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    write_transcript_parquet(pd.DataFrame(f1, columns=cols), str(src / "part-00000.parquet"))
    write_transcript_parquet(pd.DataFrame(f2, columns=cols), str(src / "part-00001.parquet"))
    sp = (
        StreamingPipeline.read_transcripts(spark, str(src), max_files_per_trigger=1)
        .select("conv_id", "turn_idx", "role")
        .stateful_per_key(
            ["conv_id"], tool_loop_apply_fn(threshold=2),
            TOOL_LOOP_OUTPUT_SCHEMA, TOOL_LOOP_STATE_SCHEMA,
        )
    )
    _run_to_memory(sp, "tool_loops", expected_input_rows=12)
    got = {(r.conv_id, r.streak, r.end_turn_idx) for r in spark.sql("SELECT * FROM tool_loops").collect()}
    # closed runs: c1 idx1-3 (len 3), c2 idx2-3 (len 2); c1's file-1 open run
    # of 2 also surfaces as a progress report (batch-boundary dependent)
    assert ("c1", 3, 3) in got and ("c2", 2, 3) in got
    assert not any(c == "c3" for c, _, _ in got)


def test_transform_with_state_gated(spark, clean_dir):
    """The v2 API is gated on its protobuf runtime dependency: with it
    present the chain builds; without it the engine raises a clear error
    instead of a crashed streaming query."""
    from pipeflow_spark.streaming.cep import (
        TOOL_LOOP_OUTPUT_SCHEMA,
        ToolLoopDetector,
        has_transform_with_state_runtime,
    )

    d, pdf = clean_dir
    sp = StreamingPipeline.read_transcripts(spark, d, 3).select("conv_id", "turn_idx", "role")
    if not has_transform_with_state_runtime():
        with pytest.raises(RuntimeError, match="protobuf"):
            sp.transform_with_state(["conv_id"], ToolLoopDetector(2), TOOL_LOOP_OUTPUT_SCHEMA)
        return
    out = sp.transform_with_state(["conv_id"], ToolLoopDetector(2), TOOL_LOOP_OUTPUT_SCHEMA)
    _run_to_memory(out, "tool_loops_v2", expected_input_rows=len(pdf) + 1)
    assert spark.sql("SELECT * FROM tool_loops_v2").count() > 0


def test_stream_transcript_assembly_matches_batch(spark, clean_dir):
    """North-star check: assemble each conversation session's full ordered
    turn text in the stream (session_window whose aggregate is the ordered
    text concat) and compare per-turn-text-equal against an independent
    pandas gaps-and-islands build (same >= gap merge rule as session_window)."""
    src, pdf = clean_dir
    gap_min = 30
    assembled = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "turn_idx", "text"))),
            lambda x: x["text"],
        ),
        "\n",
    )
    df = (
        StreamingPipeline.read_transcripts(spark, src)
        .with_watermark("ts", "0 seconds")
        .df.groupBy(F.session_window("ts", f"{gap_min} minutes").alias("w"), "conv_id")
        .agg(assembled.alias("transcript"), F.count("*").alias("n_turns"))
        .select("conv_id", F.col("w.start").alias("ws"), "transcript", "n_turns")
    )
    _run_to_memory(StreamingPipeline(df), "tx_assembly", expected_input_rows=len(pdf) + 1)
    got = {
        (r.conv_id, r.ws): r.transcript
        for r in spark.sql("SELECT * FROM tx_assembly").collect()
        if r.conv_id != SENTINEL_CONV
    }
    exp = {}
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values(["ts", "turn_idx"])
        start, texts, last = None, [], None
        for ts, text_ in zip(g.ts, g.text):
            if last is not None and (ts - last).total_seconds() >= gap_min * 60:
                exp[(conv, start.to_pydatetime())] = "\n".join(texts)
                start, texts = None, []
            if start is None:
                start = ts
            texts.append(text_)
            last = ts
        exp[(conv, start.to_pydatetime())] = "\n".join(texts)
    assert got == exp


def test_stream_decontaminate_state_tracks_contamination_only(spark, tmp_path):
    """Streaming decontamination: contaminated docs are flagged with exact
    shared-gram counts, clean docs produce NO output — and, the scale
    property, never enter state either (state rows ≤ contaminated docs, not
    stream size: the broadcast join drops clean docs before the stateful
    count)."""
    from pipeflow_spark.streaming.engine import await_drained, state_metrics

    phrase = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = []
    base = dt.datetime(2025, 3, 1, 12, 0, 0)
    for i in range(10):  # clean docs: unique 10-token texts, no eval gram
        toks = " ".join(f"tok{i}x{j}" for j in range(10))
        rows.append((100 + i, toks, base + dt.timedelta(seconds=i)))
    for i in range(5):  # contaminated: unique prefix + the eval phrase
        rows.append((200 + i, f"pre{i}a pre{i}b {phrase}", base + dt.timedelta(seconds=30 + i)))
    src = tmp_path / "docs_src"
    src.mkdir()

    def _write(rws, p):  # Spark's vectorized reader needs us-timestamps
        pd.DataFrame(rws, columns=["doc_id", "text", "ts"]).to_parquet(
            p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )

    _write(rows, src / "part-0.parquet")
    _write([(999_999, "__sentinel__", dt.datetime(2026, 1, 1))], src / "part-9.parquet")

    ev = spark.createDataFrame([(1, phrase)], "doc_id bigint, text string")
    stream = (
        spark.readStream.schema("doc_id bigint, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sp = (
        StreamingPipeline(stream)
        .with_watermark("ts", "0 seconds")
        .decontaminate(ev, text_col="text", id_col="doc_id", ts_col="ts", window="1 hour", n=8)
        .select("doc_id", "shared_grams")
    )
    q = sp.start_memory("decon_stream", output_mode="append")
    await_drained(q, expected_input_rows=16)
    m = state_metrics(q)
    q.stop()
    got = {
        r.doc_id: r.shared_grams for r in spark.sql("SELECT * FROM decon_stream").collect()
    }
    # each contaminated doc shares exactly the one 8-gram; clean docs absent
    assert got == {200 + i: 1 for i in range(5)}
    # state held only (window, doc) groups for the 5 contaminated docs
    agg_rows = [r["rows_total"] for r in m if r["operator"] == "stateStoreSave"]
    assert agg_rows and max(agg_rows) <= 5


def test_stream_perplexity_gate_matches_batch(spark, tmp_path):
    """Streaming perplexity gate ≡ batch lm_cross_entropy + threshold on
    identical data: same model (trained on the static slice), same 5-dp
    rounding, same pass set — and the model lookup carries no state (the
    only stateful op is the per-(window, doc) mean)."""
    from pipeflow_spark.operators import lm
    from pipeflow_spark.streaming.engine import await_drained

    base = dt.datetime(2025, 3, 1, 12, 0, 0)
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox naps under the warm sun",
        "zz yy xx ww vv uu tt ss rr qq",
        "the lazy dog naps over the quick fox",
    ]
    rows = [(i, t, "en" if i < 2 else "xx", base + dt.timedelta(seconds=i))
            for i, t in enumerate(texts)]
    src = tmp_path / "ppl_src"
    src.mkdir()
    pd.DataFrame(rows, columns=["doc_id", "text", "lang", "ts"]).to_parquet(
        src / "part-0.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    pd.DataFrame(
        [(999_999, "sentinel row", "en", dt.datetime(2026, 1, 1))],
        columns=["doc_id", "text", "lang", "ts"],
    ).to_parquet(src / "part-9.parquet", index=False,
                 coerce_timestamps="us", allow_truncated_timestamps=True)

    batch = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, ts timestamp"
    )
    train = batch.filter(F.col("lang") == "en")
    ref = {
        r.doc_id: (r.n_bigrams, r.xent)
        for r in lm.lm_cross_entropy(batch, train).collect()
    }
    thresh = sorted(v[1] for v in ref.values())[1]  # pass exactly 2 of 4

    stream = (
        spark.readStream.schema("doc_id bigint, text string, lang string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        StreamingPipeline(stream)
        .with_watermark("ts", "0 seconds")
        .perplexity_gate(train, max_xent=thresh)
        .start_memory("ppl_gate", output_mode="append")
    )
    await_drained(q, expected_input_rows=5)
    q.stop()
    got = {
        r.doc_id: (r.n_bigrams, r.xent)
        for r in spark.sql("SELECT * FROM ppl_gate WHERE doc_id < 999999").collect()
    }
    assert got == {d: v for d, v in ref.items() if v[1] <= thresh}
    assert len(got) == 2


def test_mixture_filter_execution_mode_invariant(spark, tmp_path):
    """Deterministic hash sampling must select the SAME rows in a stream as
    in batch (map-only, layout-independent) — the property that lets one
    mixture definition serve backfill and live ingestion."""
    from pipeflow_spark.operators import sampling

    batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs_stream")
    batch.repartition(4).write.mode("overwrite").parquet(src)
    rates = {f"src{i}": (1.0 if i < 5 else 0.3) for i in range(20)}
    stream = spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        sampling.mixture_filter(stream, "source", rates)
        .select("doc_id")
        .writeStream.format("memory")
        .queryName("mix_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.doc_id for r in spark.sql("SELECT doc_id FROM mix_stream").collect())
    expect = sorted(
        r.doc_id for r in sampling.mixture_filter(batch, "source", rates).select("doc_id").collect()
    )
    assert got == expect and 0 < len(got) < batch.count()


def test_pattern_funnel_cep_spans_batches(spark, tmp_path):
    """The per-key pattern automaton (view → click+ → purchase) must complete
    matches whose steps arrive in DIFFERENT micro-batches — the O(1)-state
    CEP guarantee the batch regex can't demonstrate."""
    from pipeflow_spark.operators import cep_pattern

    t0 = dt.datetime(2025, 1, 1)

    def mk(conv, idx, sym):
        return (conv, idx, sym, f"t{idx}", None, t0 + dt.timedelta(minutes=idx))

    # u1: v c | c p  (split across files -> 1 match); u2: v | p (broken -> 0);
    # u3: v c p twice, one per file -> 2 matches
    f1 = [mk("u1", 0, "v"), mk("u1", 1, "c"), mk("u2", 0, "v"),
          mk("u3", 0, "v"), mk("u3", 1, "c"), mk("u3", 2, "p")]
    f2 = [mk("u1", 2, "c"), mk("u1", 3, "p"), mk("u2", 1, "p"),
          mk("u3", 3, "v"), mk("u3", 4, "c"), mk("u3", 5, "p")]
    src = tmp_path / "funnels"
    src.mkdir()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    write_transcript_parquet(pd.DataFrame(f1, columns=cols), str(src / "part-00000.parquet"))
    write_transcript_parquet(pd.DataFrame(f2, columns=cols), str(src / "part-00001.parquet"))
    steps = [("v", False), ("c", True), ("p", False)]
    sp = (
        StreamingPipeline.read_transcripts(spark, str(src), max_files_per_trigger=1)
        .select("conv_id", F.col("role").alias("sym"), "ts", "turn_idx")
        .stateful_per_key(
            ["conv_id"],
            cep_pattern.pattern_apply_fn(steps, "sym", ["ts", "turn_idx"]),
            cep_pattern.PATTERN_MATCH_SCHEMA,
            cep_pattern.PATTERN_STATE_SCHEMA,
        )
    )
    _run_to_memory(sp, "funnel_matches", expected_input_rows=12)
    got = [(r.key, r.end_order) for r in
           spark.sql("SELECT * FROM funnel_matches ORDER BY key, end_order").collect()]
    assert got == [("u1", 3), ("u3", 2), ("u3", 5)]


def test_ledger_compaction_preserves_exactly_once(tmp_path):
    """compact_ledger folds the contiguous committed prefix into one
    high-water marker: is_committed / committed_batches answers are
    unchanged, replays stay no-ops, and gaps (uncommitted batches) are never
    folded over."""
    import os

    from pipeflow_spark.streaming import ExactlyOnceSink

    sink = ExactlyOnceSink(str(tmp_path / "sink"))
    # simulate commits 0..9 plus a gap at 10, then 11
    for b in [*range(10), 11]:
        open(os.path.join(sink.ledger_dir, str(b)), "w").write("committed")
    before = sink.committed_batches()
    hw = sink.compact_ledger(keep_last=3)
    assert hw == 6  # contiguous prefix ends at 9, keep the newest 3 markers
    assert sink.committed_batches() == before
    assert sink.is_committed(0) and sink.is_committed(6) and sink.is_committed(11)
    assert not sink.is_committed(10)  # the gap survives compaction
    # covered markers are gone, newer ones remain
    names = set(os.listdir(sink.ledger_dir))
    assert "0" not in names and "6" not in names and "7" in names and "11" in names
    # idempotent + monotone
    assert sink.compact_ledger(keep_last=3) == 6
    assert sink.compact_ledger(keep_last=0) == 9
    assert sink.committed_batches() == before


def test_ledger_compaction_live_replay_noop(spark, tmp_path):
    """End-to-end: run a stream through the sink, compact the ledger, then
    re-run the same stream from a FRESH checkpoint — every batch replays and
    every replay must be a no-op (data written once)."""
    import os

    t0 = dt.datetime(2025, 1, 1)
    rows = [("c1", i, "user", f"t{i}", None, t0 + dt.timedelta(minutes=i)) for i in range(8)]
    src = tmp_path / "src"
    src.mkdir()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i in range(4):
        write_transcript_parquet(
            pd.DataFrame(rows[i * 2:(i + 1) * 2], columns=cols),
            str(src / f"part-{i:05d}.parquet"),
        )
    sink_root = str(tmp_path / "eo")

    def run(ckpt):
        sink = ExactlyOnceSink(sink_root)
        sp = StreamingPipeline.read_transcripts(spark, str(src), max_files_per_trigger=1)
        q = sp.start_exactly_once(sink, str(tmp_path / ckpt))
        q.awaitTermination()
        return sink

    sink = run("ckpt1")
    n_before = sink.read_committed(spark).count()
    mtimes = {
        f: os.path.getmtime(os.path.join(sink.data_dir, f)) for f in os.listdir(sink.data_dir)
    }
    assert sink.compact_ledger(keep_last=1) >= 0
    sink2 = run("ckpt2")  # fresh checkpoint -> Spark replays batch ids from 0
    assert sink2.read_committed(spark).count() == n_before
    after = {
        f: os.path.getmtime(os.path.join(sink2.data_dir, f)) for f in os.listdir(sink2.data_dir)
    }
    assert after == mtimes  # no partition was rewritten: replay was a no-op


def test_checkpoint_survives_stateless_plan_evolution(spark, tmp_path):
    """Operational guarantee: a checkpointed stateful query can be stopped
    and resumed with a MODIFIED stateless prefix (added benign filter +
    projection) — state (open windows) carries across the restart, and the
    final committed output equals the batch aggregate over all arrivals."""
    t0 = dt.datetime(2025, 1, 1)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def mk(conv, idx, role):
        return (conv, idx, role, f"t{idx}", None, t0 + dt.timedelta(minutes=idx))

    src = tmp_path / "src"
    src.mkdir()
    f1 = [mk("c1", 0, "user"), mk("c1", 1, "assistant"), mk("c2", 0, "user")]
    write_transcript_parquet(pd.DataFrame(f1, columns=cols), str(src / "part-00000.parquet"))
    sink = ExactlyOnceSink(str(tmp_path / "eo"))
    ckpt = str(tmp_path / "ckpt")

    def pipeline(evolved):
        sp = StreamingPipeline.read_transcripts(spark, str(src), max_files_per_trigger=1)
        if evolved:  # stateless prefix change between restarts
            sp = sp.filter("turn_idx >= 0").add_column("src_phase", F.lit(2))
        return (
            sp.with_watermark("ts", "0 seconds")
            .tumbling_agg("ts", "5 minutes", ["role"], F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "role", "n")
        )

    q = pipeline(False).start_exactly_once(sink, ckpt)
    q.awaitTermination()
    n_phase1 = sum(m["rows"] for m in sink.metrics())  # no sentinel yet: windows open

    f2 = [mk("c1", 10, "tool"), mk("c2", 11, "assistant")]
    write_transcript_parquet(pd.DataFrame(f2, columns=cols), str(src / "part-00001.parquet"))
    write_sentinel_file(str(src), SENTINEL_TS)
    q = pipeline(True).start_exactly_once(sink, ckpt)  # SAME checkpoint, new plan
    q.awaitTermination()

    got = {
        (r.ws, r.role): r.n
        for r in sink.read_committed(spark).collect()
        if r.ws < SENTINEL_TS and r.role != "sentinel"
    }
    allrows = spark.createDataFrame(pd.DataFrame(f1 + f2, columns=cols))
    expect = {
        (r.ws, r.role): r.n
        for r in allrows.groupBy(F.window(F.col("ts").cast("timestamp"), "5 minutes").alias("w"), "role")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "role", "n")
        .collect()
    }
    assert got == expect
    assert n_phase1 == 0  # nothing emitted before the restart: state crossed it


def test_state_metrics_report_late_drops(spark, late_dir):
    """With late arrivals and a tight watermark, the surfaced metrics must
    count watermark-dropped turns and expose the per-batch watermark — the
    late-turn-drop observability the north rule requires."""
    from pipeflow_spark.streaming.engine import await_drained, state_metrics

    d, pdf = late_dir
    sp = (
        StreamingPipeline.read_transcripts(spark, d, max_files_per_trigger=1)
        .with_watermark("ts", "1 minute")
        .tumbling_agg("ts", "5 minutes", ["role"], F.count("*").alias("n"))
    )
    q = sp.start_memory("late_metrics", output_mode="append")
    await_drained(q, expected_input_rows=len(pdf) + 1)
    m = state_metrics(q)
    q.stop()
    dropped = sum(r["rows_dropped_late"] or 0 for r in m)
    assert dropped > 0, "late arrivals should have been dropped by the watermark"
    assert any(r["watermark"] for r in m)


def test_pattern_cep_evicts_idle_conversations(spark, tmp_path):
    """EventTimeTimeout eviction: a conversation idle past the gap loses its
    partial automaton progress (state bounded by recently-active convs), so
    a resumption restarts from scratch; active convs are unaffected."""
    from pipeflow_spark.operators import cep_pattern
    from pipeflow_spark.streaming.engine import await_drained, state_metrics

    t0 = dt.datetime(2025, 1, 1)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def mk(conv, idx, sym, minutes):
        return (conv, idx, sym, f"t{idx}", None, t0 + dt.timedelta(minutes=minutes))

    src = tmp_path / "evict"
    src.mkdir()
    files = [
        # cold starts v,c then goes idle forever-ish
        [mk("cold", 0, "v", 0), mk("cold", 1, "c", 1), mk("hot", 0, "v", 1)],
        [mk("hot", 1, "c", 60)],                     # watermark -> 60 min
        [mk("hot", 2, "c", 62)],                     # no cold data: eviction fires
        # cold resumes with 'p': WOULD complete v,c+,p if state had survived;
        # fresh runs the full pattern in one file and must match
        [mk("cold", 2, "p", 63), mk("fresh", 0, "v", 63), mk("fresh", 1, "c", 64),
         mk("fresh", 2, "p", 65)],
    ]
    n = 0
    for i, rows in enumerate(files):
        write_transcript_parquet(pd.DataFrame(rows, columns=cols), str(src / f"part-{i:05d}.parquet"))
        n += len(rows)
    steps = [("v", False), ("c", True), ("p", False)]
    sp = (
        StreamingPipeline.read_transcripts(spark, str(src), max_files_per_trigger=1)
        .with_watermark("ts", "0 seconds")
        .select("conv_id", F.col("role").alias("sym"), "ts", "turn_idx")
        .stateful_per_key(
            ["conv_id"],
            cep_pattern.pattern_apply_fn(steps, "sym", ["ts", "turn_idx"], idle_gap_ms=600_000),
            cep_pattern.PATTERN_MATCH_SCHEMA,
            cep_pattern.PATTERN_STATE_SCHEMA,
            timeout="EventTimeTimeout",
        )
    )
    q = sp.start_memory("evict_matches", output_mode="append")
    await_drained(q, expected_input_rows=n)
    m = state_metrics(q)
    q.stop()
    got = [(r.key, r.end_order) for r in
           spark.sql("SELECT * FROM evict_matches ORDER BY key, end_order").collect()]
    assert got == [("fresh", 2)], got  # cold's pattern died with the eviction
    assert sum(r["rows_removed"] or 0 for r in m) >= 1  # the eviction is visible


def test_stream_asof_enrich_spans_batches(spark, tmp_path):
    """Streaming backward as-of: a left (user) turn buffered across
    micro-batches must pick up a right (assistant) turn that ARRIVES LATER
    but is event-time earlier — emission waits for the watermark, so the
    late right still wins.  NULL when no earlier right exists."""
    t0 = dt.datetime(2025, 1, 1)

    def mk(idx, role, minutes):
        return ("c1", idx, role, f"t{idx}", None, t0 + dt.timedelta(minutes=minutes))

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    # f1: U5@2min (no earlier assistant -> NULL), A0@8min, U1@10min, A2@15min
    f1 = [mk(5, "user", 2), mk(0, "assistant", 8), mk(1, "user", 10), mk(2, "assistant", 15)]
    # f2: A3@5min arrives late (event-time before U1, but U1 matches A0@8:
    # the LATEST at-or-before 10) and U4@20min (matches A2@15)
    f2 = [mk(3, "assistant", 5), mk(4, "user", 20)]
    # f3: far-future assistant sentinel pushes the watermark past everything
    f3 = [mk(99, "assistant", 6000)]
    src = tmp_path / "asof"
    src.mkdir()
    for i, rows in enumerate([f1, f2, f3]):
        write_transcript_parquet(
            pd.DataFrame(rows, columns=cols), str(src / f"part-0000{i}.parquet")
        )
    sp = (
        StreamingPipeline.read_transcripts(spark, str(src), max_files_per_trigger=1)
        .with_watermark("ts", "30 minutes")
        .asof_enrich(
            key="conv_id",
            ts_col="ts",
            is_left=F.col("role") == "user",
            id_col="turn_idx",
            val_col="turn_idx",
            key_type="string",
        )
    )
    _run_to_memory(sp, "asof_out", expected_input_rows=7)
    got = {
        r.id: (r.matched_ts, None if r.matched_val is None else int(r.matched_val))
        for r in spark.sql("SELECT * FROM asof_out").collect()
    }
    assert set(got) == {5, 1, 4}
    assert got[5] == (None, None)  # no assistant at-or-before 2min
    assert got[1] == (t0 + dt.timedelta(minutes=8), 0)  # A0@8 beats late A3@5
    assert got[4] == (t0 + dt.timedelta(minutes=15), 2)
    # and the late-but-in-order right DOES win when it is the latest one:
    # U1 would have matched A3@5 had A0 not existed — covered by the oracle
    # run (stream_asof_attribution_oracle) over the full shuffled table


def test_stream_asof_resumes_from_checkpoint(spark, tmp_path):
    """The as-of state machine (custom tuple state schema) must survive a
    mid-stream crash: kill after an early batch, restart from the same
    checkpoint, and the committed output still equals the event-time
    semantics — buffered lefts and the collapsed right carry over."""
    t0 = dt.datetime(2025, 1, 1)

    def mk(idx, role, minutes):
        return ("c1", idx, role, f"t{idx}", None, t0 + dt.timedelta(minutes=minutes))

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    f1 = [mk(5, "user", 2), mk(0, "assistant", 8), mk(1, "user", 10), mk(2, "assistant", 15)]
    f2 = [mk(3, "assistant", 5), mk(4, "user", 20)]
    f3 = [mk(99, "assistant", 6000)]
    src = tmp_path / "asof_resume"
    src.mkdir()
    for i, rows in enumerate([f1, f2, f3]):
        write_transcript_parquet(
            pd.DataFrame(rows, columns=cols), str(src / f"part-0000{i}.parquet")
        )

    def pipe():
        return (
            StreamingPipeline.read_transcripts(spark, str(src), max_files_per_trigger=1)
            .with_watermark("ts", "30 minutes")
            .asof_enrich(
                key="conv_id",
                ts_col="ts",
                is_left=F.col("role") == "user",
                id_col="turn_idx",
                val_col="turn_idx",
                key_type="string",
            )
        )

    root, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    sink = ExactlyOnceSink(root, fail_after_write_batch_id=1)
    q = pipe().start_exactly_once(sink, ckpt, output_mode="append")
    with pytest.raises(Exception, match="injected failure"):
        q.awaitTermination()

    sink2 = ExactlyOnceSink(root)
    q2 = pipe().start_exactly_once(sink2, ckpt, output_mode="append")
    from pipeflow_spark.streaming.engine import await_drained

    await_drained(q2, expected_input_rows=3)  # f2 replay + f3 (f1 committed pre-crash)
    q2.stop()
    got = {
        r.id: (r.matched_ts, None if r.matched_val is None else int(r.matched_val))
        for r in sink2.read_committed(spark).collect()
    }
    assert got == {
        5: (None, None),
        1: (t0 + dt.timedelta(minutes=8), 0),
        4: (t0 + dt.timedelta(minutes=15), 2),
    }


# ---------------------------------------------------------------------------
# post-review hardening (round-3 streaming additions)
# ---------------------------------------------------------------------------

def test_compact_data_survives_crash_between_segment_rename_and_publish(spark, tmp_path):
    """A crash AFTER segment-<T> is renamed into place but BEFORE the
    _compacted_through pointer publishes leaves an orphan dir at the exact
    name the retry will produce — the retry must clear it and succeed, not
    wedge forever on ENOTEMPTY."""
    sink = ExactlyOnceSink(str(tmp_path / "sink"))
    mk = lambda lo: spark.range(lo, lo + 5).select(F.col("id"), F.lit("x").alias("t"))
    for b in range(6):
        sink(mk(b * 10), b)
    before = {(r.id, r._batch_id) for r in sink.read_committed(spark).collect()}

    # simulate the orphan: target = contiguous(5) - keep_last(2) = 3
    orphan = tmp_path / "sink" / "data" / "_compacted" / "segment-3"
    orphan.mkdir(parents=True)
    (orphan / "stale-from-crashed-attempt.parquet").write_bytes(b"junk")

    through = sink.compact_data(spark, keep_last=2)
    assert through == 3
    after = {(r.id, r._batch_id) for r in sink.read_committed(spark).collect()}
    assert after == before and len(after) == 30


def test_ledger_marker_api_gap_semantics_and_compaction(tmp_path):
    """marker_ids/contiguous_committed_through respect gaps; compact never
    folds past a gap and removes only covered marker FILES."""
    from pipeflow_spark.streaming.exactly_once import BatchLedger

    led = BatchLedger(str(tmp_path / "led"))
    for b in (0, 1, 2, 5):
        led.commit(b)
    assert led.marker_ids() == [0, 1, 2, 5]
    assert led.contiguous_committed_through() == 2  # gap at 3
    assert led.committed_batches() == [0, 1, 2, 5]
    assert not led.is_committed(3)

    assert led.compact(keep_last=0) == 2  # folds only the contiguous prefix
    assert led.high_water() == 2
    assert led.marker_ids() == [5]  # gap-spanning marker preserved
    assert led.committed_batches() == [0, 1, 2, 5]
    assert led.is_committed(1) and led.is_committed(5) and not led.is_committed(3)

    led.commit(3)
    led.commit(4)
    assert led.contiguous_committed_through() == 5
    assert led.compact(keep_last=0) == 5
    assert led.marker_ids() == []
    assert led.committed_batches() == [0, 1, 2, 3, 4, 5]


def test_tumbling_distinct_count_ignores_null_values(spark, tmp_path):
    """COUNT(DISTINCT x) semantics: NULL is not a distinct value, but
    NULL-valued events still count toward the event total."""
    t0 = dt.datetime(2025, 3, 1)
    src = tmp_path / "dcnull"
    src.mkdir()
    rows = [
        ("c1", 0, "user", "a", None, t0),
        ("c1", 1, "assistant", "b", "search", t0 + dt.timedelta(minutes=1)),
        ("c1", 2, "assistant", "c", "search", t0 + dt.timedelta(minutes=2)),
        ("c1", 3, "assistant", "d", "calc", t0 + dt.timedelta(minutes=3)),
        ("c2", 0, "user", "e", None, t0 + dt.timedelta(minutes=4)),
        (SENTINEL_CONV, 0, "user", "zz", "zz", t0 + dt.timedelta(days=30)),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    write_transcript_parquet(pdf, str(src / "part-00000.parquet"))
    sp = (
        StreamingPipeline.read_transcripts(spark, str(src))
        .with_watermark("ts", "0 seconds")
        .tumbling_distinct_count("ts", "1 hour", [], "tool", alias="n_tools", count_alias="n_events")
    )
    _run_to_memory(sp, "dcnull", expected_input_rows=len(rows))
    got = spark.sql("SELECT w.start AS ws, n_tools, n_events FROM dcnull ORDER BY ws").collect()
    assert got[0].n_tools == 2, "NULL must not count as a distinct value"
    assert got[0].n_events == 5, "NULL-valued events still count toward the total"


def test_join_replies_rejects_right_side_batch_ops(spark, clean_dir):
    d, _ = clean_dir
    left = StreamingPipeline.read_transcripts(spark, d, 3).with_watermark("ts", "1 hour")
    right = (
        StreamingPipeline.read_transcripts(spark, d, 3)
        .with_watermark("ts", "1 hour")
        .per_batch(lambda df: df)
    )
    with pytest.raises(ValueError, match="right-hand pipeline"):
        left.join_replies(right)


def test_neardup_guard_string_doc_ids(spark, tmp_path):
    """The signature store must carry the caller's id type — string doc ids
    crashed the second batch's store join when the schema was hardcoded."""
    from pipeflow_spark.streaming.neardup import NearDupGuardSink

    schema = "doc_id string, text string"
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
        "red orange yellow green blue indigo violet pink brown black",
    ]
    src = tmp_path / "nds_src"
    src.mkdir()
    files = [
        [("a1", texts[0]), ("a2", texts[1])],
        [("b1", texts[0]), ("b2", texts[2])],  # b1 = cross-batch dup of a1
    ]
    for i, rows in enumerate(files):
        stage = tmp_path / f"nds_stage{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        import shutil as _sh

        _sh.copy(str(stage / part), str(src / f"part-{i:05d}.parquet"))

    guard = NearDupGuardSink(str(tmp_path / "nds"))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = StreamingPipeline(stream).start_exactly_once(
        guard, str(tmp_path / "nds_ck"), query_name="nd_str"
    )
    q.awaitTermination()
    kept = {r.doc_id for r in guard.read_kept(spark).collect()}
    assert kept == {"a1", "a2", "b2"}


def test_neardup_auto_compact_runs_inside_hook(spark, tmp_path):
    """auto_compact_every folds the store from the foreachBatch thread (the
    only safe place against a live query) without changing decisions."""
    from pipeflow_spark.streaming.neardup import NearDupGuardSink

    schema = "doc_id long, text string"
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
        "red orange yellow green blue indigo violet pink brown black",
    ]
    guard = NearDupGuardSink(str(tmp_path / "ac"), auto_compact_every=2)
    guard(spark.createDataFrame([(0, texts[0])], schema), 0)
    guard(spark.createDataFrame([(1, texts[1])], schema), 1)
    guard(spark.createDataFrame([(2, texts[2])], schema), 2)  # triggers compaction
    assert sorted(os.listdir(guard.ns_dir)) == ["batch_id=-1"]
    # decisions unchanged post-fold: a dup of batch-0's doc still drops
    guard(spark.createDataFrame([(3, texts[0])], schema), 3)
    kept = {r.doc_id for r in guard.read_kept(spark).collect()}
    assert kept == {0, 1, 2}


def test_refreshing_join_snapshot_pins_dim_across_replay(spark, tmp_path):
    """With snapshot_dir, the replay of an UNCOMMITTED batch re-joins the
    SAME dim the crashed attempt loaded (determinism start_upsert's
    idempotence argument requires); without it, the replay sees the newer
    dim."""
    batch = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    dim_holder = {"rows": [(1, "old")]}

    def load_dim():
        return spark.createDataFrame(dim_holder["rows"], "k int, tag string")

    captured = []

    def sink(df, bid):
        captured.append({tuple(r) for r in df.collect()})

    rate = spark.readStream.format("rate").load()  # never started; _df is unused by _batch_sink
    pinned = StreamingPipeline(rate).refreshing_join(
        load_dim, "k", snapshot_dir=str(tmp_path / "snaps")
    )
    fn = pinned._batch_sink(sink)
    fn(batch, 0)  # first attempt: dim = old
    dim_holder["rows"] = [(1, "new"), (2, "new")]  # dim changes mid-crash
    fn(batch, 0)  # replay of the SAME batch id
    assert captured[0] == captured[1] == {(1, "x", "old")}

    unpinned = StreamingPipeline(rate).refreshing_join(load_dim, "k")
    fn2 = unpinned._batch_sink(sink)
    captured.clear()
    fn2(batch, 7)
    assert captured[0] == {(1, "x", "new"), (2, "y", "new")}  # fresh dim visible


def test_offsets_behind_mixed_source_kinds_is_none():
    from pipeflow_spark.streaming.engine import _offsets_behind

    rate = {"latestOffset": "10", "endOffset": "4", "description": "RateStreamV2[rowsPerSecond=5]"}
    kafka = {"latestOffset": "100", "endOffset": "60", "description": "KafkaV2[Subscribe[t]]"}
    assert _offsets_behind([rate, dict(rate, endOffset="6")]) == 10  # same kind: sum
    assert _offsets_behind([rate, kafka]) is None  # seconds + messages: no lag
    assert _offsets_behind([{"latestOffset": None, "endOffset": "3"}]) is None


# -- streaming SCD2 maintenance ----------------------------------------------

def test_stream_scd2_multi_batch_seams_and_late(spark, tmp_path):
    """start_scd2 over a 3-file stream (maxFilesPerTrigger=1): versions left
    open by earlier micro-batches are closed by later ones, and a late
    change in the final batch re-cuts its key; final table equals the batch
    interval cut over the full change log."""
    from datetime import datetime as DT

    from pipeflow_spark.operators.scd import scd2_from_changes
    from pipeflow_spark.sinks import read_upsert_table
    from pipeflow_spark.streaming import StreamingPipeline

    schema = "user_id int, ts timestamp, change_id int, tier string"
    batches = [
        [(1, DT(2024, 1, 10), 1, "bronze"), (2, DT(2024, 1, 5), 2, "silver")],
        [(1, DT(2024, 2, 1), 3, "gold")],
        [(1, DT(2024, 1, 15), 4, "mid"),    # late: lands inside bronze→gold
         (2, DT(2024, 3, 1), 5, "gold")],
    ]
    src = str(tmp_path / "changes")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    table = str(tmp_path / "dim")
    q = StreamingPipeline(stream).start_scd2(
        table, keys=["user_id"], ts_col="ts", attr_cols=["tier"],
        order_cols=["change_id"], checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="scd2_seams",
    )
    q.awaitTermination()

    all_changes = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    expected = sorted(
        (r.user_id, str(r.valid_from), str(r.valid_to), r.tier)
        for r in scd2_from_changes(
            all_changes, "user_id", "ts", ["change_id", "tier"],
            order_cols="change_id", collapse_unchanged=False,
        ).collect()
    )
    got = sorted(
        (r.user_id, str(r.valid_from), str(r.valid_to), r.tier)
        for r in read_upsert_table(spark, table).collect()
    )
    assert got == expected
    # seam: batch-1 bronze was closed by the batch-3 late mid change
    u1 = {r.tier: (str(r.valid_to)[:10]) for r in
          read_upsert_table(spark, table).filter("user_id = 1").collect()}
    assert u1["bronze"] == "2024-01-15" and u1["mid"] == "2024-02-01"
    assert u1["gold"] == "None"


# -- streaming ExactSubstr span guard ------------------------------------------

def test_span_guard_cuts_against_history_and_intra_batch(spark, tmp_path):
    """Prefix semantics: a span unique at commit time stays intact; its later
    re-occurrence is cut.  Same-batch duplicates are all cut (no earlier
    committed copy to protect).  Replay is a no-op."""
    from pipeflow_spark.streaming import SpanGuardSink

    g = SpanGuardSink(str(tmp_path / "g"), min_len=3, min_count=2)
    schema = "doc_id int, text string"
    b1 = spark.createDataFrame([(0, "a b c d e"), (1, "p q r s")], schema)
    b2 = spark.createDataFrame([(2, "a b c d z z")], schema)
    b3 = spark.createDataFrame(
        [(3, "p q r s"), (4, "m n o w1"), (5, "m n o w2")], schema
    )
    for i, b in enumerate((b1, b2, b3)):
        g(b, i)
    clean = {r.doc_id: r for r in g.read_clean(spark).collect()}
    assert clean[0].clean_text == "a b c d e" and clean[0].n_removed == 0
    assert clean[1].clean_text == "p q r s"
    # doc 2: 'a b c d' grams hit history counts -> span [0,3] cut
    assert clean[2].clean_text == "z z" and clean[2].n_removed == 4
    # doc 3: whole doc already in history
    assert clean[3].clean_text == "" and clean[3].n_removed == 4
    # intra-batch pair: both occurrences cut
    assert clean[4].clean_text == "w1" and clean[5].clean_text == "w2"
    # replay batch 2: ledger no-op, store overwrite idempotent
    g(b2, 1 + 1)
    assert g.read_clean(spark).count() == 6


def test_span_guard_crash_between_store_and_commit_replays_exactly(spark, tmp_path):
    from pipeflow_spark.streaming import SpanGuardSink

    schema = "doc_id int, text string"
    b1 = spark.createDataFrame([(0, "a b c d e")], schema)
    b2 = spark.createDataFrame([(2, "a b c d z z")], schema)
    g = SpanGuardSink(str(tmp_path / "g"), min_len=3, min_count=2)
    g(b1, 0)
    # crash INSIDE the cleaned-commit, after the store dir was written
    g.clean.fail_after_write_batch_id = 1
    try:
        g(b2, 1)
    except Exception:
        pass
    g.clean.fail_after_write_batch_id = None
    g(b2, 1)  # replay: must not double-count its own store dir
    clean = {r.doc_id: r for r in g.read_clean(spark).collect()}
    # if the replay saw its own (gh,cnt) rows the 'z z' tail grams would
    # reach min_count and be cut too — exact replay keeps them
    assert clean[2].clean_text == "z z" and clean[2].n_removed == 4


def test_span_guard_compaction_counts_exactly_once(spark, tmp_path):
    """Fold per-batch count dirs into a manifest-carrying segment; results
    identical after compaction, and a crash-left old dir (simulated by
    re-creating one the manifest already names) is excluded from reads."""
    import os

    from pipeflow_spark.streaming import SpanGuardSink

    schema = "doc_id int, text string"
    g = SpanGuardSink(str(tmp_path / "g"), min_len=3, min_count=2)
    g(spark.createDataFrame([(0, "a b c d e")], schema), 0)
    g(spark.createDataFrame([(1, "h i j k")], schema), 1)
    folded = g.compact_store(spark)
    assert folded == 2
    segs = [d for d in os.listdir(g.ns_dir) if d.startswith("batch_id=-")]
    assert len(segs) == 1
    # crash simulation: a manifest-named dir that still exists is not re-read
    zombie = os.path.join(g.ns_dir, "batch_id=0")
    os.makedirs(zombie)
    spark.createDataFrame([(12345, 99)], "gh long, cnt long").write.mode(
        "overwrite"
    ).parquet(zombie)
    dirs = g._store_dirs(below=10)
    assert zombie not in dirs and len(dirs) == 1
    # post-compaction behavior: second 'a b c d' occurrence is still cut
    g(spark.createDataFrame([(2, "a b c d z z")], schema), 2)
    clean = {r.doc_id: r for r in g.read_clean(spark).collect()}
    assert clean[2].clean_text == "z z"


def test_stream_e2e_pins_match_batch_derivation():
    """The literal-pinned oracles of stream_tumbling_e2e /
    stream_join_replies_e2e (upgraded from rows-only in r4) re-derived from
    the synthesized batch frame with plain pandas — no streaming machinery,
    no Spark — so the pins are justified independently of the code they
    certify.  Any change to the generator laws or the chain semantics must
    re-pin BOTH the oracle and this derivation."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod
    from pipeflow_spark.streaming.transcripts import synthesize_transcripts

    pdf = synthesize_transcripts(n_convs=40, n_files=4, seed=42, late_frac=0.0)

    # tumbling chain: dedupe(conv, turn) is identity on the generator (one
    # row per (conv, turn) by construction), tumbling 5-min count + max turn
    tum = (
        pdf.assign(ws=pdf.ts.dt.floor("5min"))
        .groupby(["ws", "conv_id"], as_index=False)
        .agg(n=("turn_idx", "count"), max_turn=("turn_idx", "max"))
        .sort_values(["conv_id", "ws"])
    )
    oracle = duckdb.sql(entry_mod.oracle_sql()["stream_tumbling_e2e"]).df()
    got = set(map(tuple, oracle.assign(ws=pd.to_datetime(oracle.ws)).itertuples(index=False)))
    want = set(map(tuple, tum[["ws", "conv_id", "n", "max_turn"]].itertuples(index=False)))
    assert got == want

    # reply join: r.turn == u.turn + 1, same conv, 0 <= r.ts - u.ts <= 10 min
    users = pdf[pdf.role == "user"]
    replies = pdf[pdf.role.isin(["assistant", "tool"])]
    m = users.merge(replies, on="conv_id", suffixes=("_u", "_a"))
    m = m[
        (m.turn_idx_a == m.turn_idx_u + 1)
        & (m.ts_a >= m.ts_u)
        & (m.ts_a <= m.ts_u + pd.Timedelta(minutes=10))
    ]
    jn = (
        m.groupby("conv_id", as_index=False)
        .agg(n_pairs=("turn_idx_a", "count"), last_reply_turn=("turn_idx_a", "max"))
        .sort_values("conv_id")
    )
    oracle2 = duckdb.sql(entry_mod.oracle_sql()["stream_join_replies_e2e"]).df()
    got2 = set(map(tuple, oracle2.itertuples(index=False)))
    want2 = set(map(tuple, jn[["conv_id", "n_pairs", "last_reply_turn"]].itertuples(index=False)))
    assert got2 == want2


def test_failed_registry_stream_query_removes_its_scratch_dir(spark, sf_dir, tmp_path, monkeypatch):
    """A registry stream query that fails after its source is staged still
    removes its scratch dir (checkpoint, sink, symlinked source) and restores
    the session's shuffle partitions.  The failure is injected at the stream
    start, inside the state-partition pin, so no stream runs."""
    import tempfile

    from pipeflow_spark.queries import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    staged = []

    def fail_start(self, sink, checkpoint_dir, **kwargs):
        staged.extend(tmp_path.glob("pipeflow_*/src/part-99999.parquet"))
        raise RuntimeError("injected stream failure")

    monkeypatch.setattr(StreamingPipeline, "start_exactly_once", fail_start)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        with pytest.raises(RuntimeError, match="injected stream failure"):
            QUERIES["stream_events_tumbling_oracle"][0](spark, sf_dir)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(staged) == 1  # the failure came after the source was written
    assert list(tmp_path.glob("pipeflow_*")) == []


def test_streaming_add_column_takes_a_sql_string(spark):
    """StreamingPipeline shares the batch Pipeline's stateless stages, so
    ``add_column`` and ``filter`` accept SQL strings on a stream too."""
    sp = StreamingPipeline(spark.readStream.format("rate").load())
    out = sp.add_column("twice", "value * 2").filter("twice > 0")
    assert isinstance(out, StreamingPipeline)
    assert out.df.isStreaming and out.df.columns == ["timestamp", "value", "twice"]
