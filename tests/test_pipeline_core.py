"""Ports of the reference's core operator unit tests.

PipeFlow.Tests/PipelineTests.cs — same fixture (F1 persons), same assertions,
DataFrame implementation.
"""

import pytest
from pyspark.sql import functions as F

from pipeflow_spark import Pipeline


def test_filter(persons):
    # PipelineTests.cs:23-35 — Filter(age > 25) → 3 rows
    out = Pipeline(persons).filter(F.col("age") > 25).to_list()
    assert len(out) == 3
    assert {r.name for r in out} == {"Bob", "Charlie", "Diana"}


def test_filter_sql_string(persons):
    out = Pipeline(persons).filter("age > 25").count()
    assert out == 3


def test_map_select(persons):
    # PipelineTests.cs:37-50 — Map to a projection
    out = (
        Pipeline(persons)
        .map("name", (F.col("age") * 2).alias("double_age"))
        .order_by("name")
        .to_list()
    )
    assert out[0].name == "Alice" and out[0].double_age == 50


def test_take_skip(persons):
    # PipelineTests.cs:52-76 — Take/Skip in a defined order
    p = Pipeline(persons).order_by("id")
    assert [r.id for r in p.take(2).to_list()] == [1, 2]
    assert sorted(r.id for r in p.skip(2).to_list()) == [3, 4, 5]


def test_distinct(persons):
    # PipelineTests.cs:78-88 — whole-row dedupe
    doubled = Pipeline(persons).union(persons)
    assert doubled.count() == 10
    assert doubled.distinct().count() == 5
    assert Pipeline(persons).distinct("city").count() == 3


def test_order_by(persons):
    # PipelineTests.cs:90-122 — asc + desc
    asc = Pipeline(persons).order_by("age").to_list()
    assert [r.name for r in asc] == ["Eve", "Alice", "Diana", "Bob", "Charlie"]
    desc = Pipeline(persons).order_by_descending("age").to_list()
    assert [r.name for r in desc] == ["Charlie", "Bob", "Diana", "Alice", "Eve"]


def test_chained(persons):
    # PipelineTests.cs:124-141 — Filter → OrderBy → Take → Select
    out = (
        Pipeline(persons)
        .filter(F.col("age") >= 25)
        .order_by_descending("age")
        .take(2)
        .map("name")
        .to_list()
    )
    assert [r.name for r in out] == ["Charlie", "Bob"]


def test_first_count_foreach(persons):
    # PipelineTests.cs:143-192
    p = Pipeline(persons).order_by("id")
    assert p.first().name == "Alice"
    assert Pipeline(persons).filter(F.col("age") > 100).first_or_default() is None
    assert Pipeline(persons).filter(F.col("city") == "London").count() == 2


def test_flat_map(spark):
    # Pipeline.cs:53-60 SelectMany → explode
    df = spark.createDataFrame([(1, ["a", "b"]), (2, ["c"])], "id int, xs array<string>")
    out = Pipeline(df).flat_map("xs", "x", keep=["id"]).order_by("id", "x").to_list()
    assert [(r.id, r.x) for r in out] == [(1, "a"), (1, "b"), (2, "c")]


def test_execute_metrics(persons):
    res = Pipeline(persons).filter("age > 25").execute()
    assert res.success and res.processed_count == 3 and res.execution_time_sec >= 0


def test_set_ops(persons, spark):
    a = Pipeline(persons).filter("age >= 28")
    b = Pipeline(persons).filter("age <= 30")
    assert a.intersect(b).count() == 2  # Bob(30), Diana(28)
    assert a.except_all(b).count() == 1  # Charlie(35)


def test_spread_file_scan_avoids_rdd(spark, sf_dir, monkeypatch):
    """spread() on a file-backed scan sizes it from the file index in its
    physical plan, never from df.rdd (which runs the plan's stages)."""
    from pyspark.sql import DataFrame

    from pipeflow_spark import session

    df = spark.read.parquet(f"{sf_dir}/events.parquet")

    def _boom(self):
        raise AssertionError("spread touched df.rdd for a file-backed scan")

    monkeypatch.setattr(DataFrame, "rdd", property(_boom))
    out = session.spread(df)  # small file → repartition expected, no .rdd
    assert "Repartition" in out._jdf.queryExecution().logical().toString()
    monkeypatch.undo()
    assert session.spread(df).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_spread_plans_without_running_jobs(spark):
    """spread() sizes a plan that is not a file scan from its physical plan
    alone.  Under AQE ``df.rdd`` would run the plan's shuffle and broadcast
    stages while the chain is still being built, and the real action would
    run them again.  The estimate matches the width AQE really runs at."""
    from pipeflow_spark import session

    sc = spark.sparkContext
    narrow = spark.range(200).coalesce(1).localCheckpoint()
    anti = narrow.join(spark.range(0, 200, 3).localCheckpoint(), "id", "left_anti")
    agg = narrow.groupBy((F.col("id") % 7).alias("k")).count()  # one 8-way shuffle
    cached = spark.range(200).persist()
    cached.count()
    cached_agg = cached.groupBy((F.col("id") % 7).alias("k")).count()
    # two checkpoints with no byte count under one shuffle: the whole-plan
    # estimate (~0.7 MB) stands in for them once, not once per checkpoint
    union_agg = (spark.range(30_000).localCheckpoint()
                 .union(spark.range(30_000).localCheckpoint())
                 .groupBy((F.col("id") % 7).alias("k")).count())
    for df in (anti, agg, cached_agg, union_agg):
        sc.setJobGroup("spread-probe", "spread")
        try:
            out = session.spread(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup("spread-probe")) == []
        assert session._planned_width(df) == df.rdd.getNumPartitions() == 1
        assert out is not df  # one partition < default parallelism: spread
    for wide in (spark.range(200).localCheckpoint(),  # one partition per core
                 spark.createDataFrame([(i,) for i in range(20)], "id long")):
        assert session._planned_width(wide) == wide.rdd.getNumPartitions()
        assert session.spread(wide) is wide
    cached.unpersist()


def test_spread_ignores_broadcast_side_files(spark, tmp_path):
    """A file that is only a broadcast build side adds no width: a
    checkpoint twice the default parallelism wide, joined to a broadcast
    one-file parquet, is left as it is (sizing it from the plan's input
    files alone read it as one split and repartitioned it down)."""
    from pipeflow_spark import session

    want = spark.sparkContext.defaultParallelism
    small = str(tmp_path / "small.parquet")
    spark.range(10).coalesce(1).write.parquet(small)
    wide = spark.range(0, 1000, 1, 2 * want).localCheckpoint()
    df = wide.join(F.broadcast(spark.read.parquet(small)), "id")
    assert session._planned_width(df) == df.rdd.getNumPartitions() == 2 * want
    assert session.spread(df) is df


def test_fluent_curation_chain(spark):
    """The reference-style fluent chain over the curation bridges:
    quality gate -> PII redact (+audit) -> exact dedupe -> near dedupe ->
    decontaminate, in ONE Pipeline expression."""
    base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    rows = [
        (1, base + " alpha", "a@b.com"),                  # clean original
        (2, base + " alpha", "x"),                        # exact dup of 1 (after redaction? no: different email col, text identical)
        (3, base + " alpha beta", "x"),                   # near-dup of 1 (high jaccard)
        (4, "zz " * 40, "x"),                             # low quality -> gated
        (5, "completely different text about spark engines running fast pipelines with many words here", "x"),
        (6, base + " leak marker phrase one two three four five six seven eight", "x"),  # contaminated
    ]
    docs = spark.createDataFrame(
        [(i, t + " contact " + e, e) for i, t, e in rows], "doc_id bigint, text string, email string"
    )
    ev = spark.createDataFrame(
        [(100, "leak marker phrase one two three four five six seven eight")],
        "doc_id bigint, text string",
    )
    out = (
        Pipeline(docs)
        .quality_filter("text", 0.45, out="q")
        .redact_pii("text", audit=True)
        .dedupe_exact_text()
        .dedupe_near(threshold=0.7, method="jaccard")
        .decontaminate(ev, n=8)
        .to_list()
    )
    ids = sorted(r.doc_id for r in out)
    # 4 gated (quality, q=0.42 < 0.45), 2 exact-dup of 1, 3 near-dup of 1, 6 contaminated
    assert ids == [1, 5]
    r1 = next(r for r in out if r.doc_id == 1)
    assert "<EMAIL>" in r1.text and r1.n_email >= 1 and r1.q > 0.45


@pytest.mark.parametrize("method", ["jaccard", "minhash"])
def test_dedupe_near_releases_persisted_tables(spark, tmp_path, method):
    """The pair search persists its gram tables; dedupe_near releases them
    once the clusters are checkpointed, so the session's cache is empty
    after the pipeline ran and the result is still right.  Its input is
    checkpointed too, and both the pair search and the final anti-join read
    that checkpoint: the plan it returns has no file scan left, so the
    action that consumes it does not run the upstream chain a second time."""
    from pipeflow_spark import read

    base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, base), (2, base + " again"), (3, "an unrelated document about spark shuffles")],
        "doc_id bigint, text string",
    ).write.parquet(path)
    spark.catalog.clearCache()
    p = read.parquet(spark, path).filter(F.length("text") > 0).dedupe_near(threshold=0.7, method=method)
    leaves = p.df._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert {leaves.apply(i).nodeName() for i in range(leaves.size())} == {"LogicalRDD"}
    assert sorted(r.doc_id for r in p.to_list()) == [1, 3]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_fluent_budget_and_spike_bridges(spark):
    """The late-r3 bridges compose in the same fluent style: budget_cap
    truncates each key's prefix by weight; turn_rate_spikes flags the burst
    window (hand math mirrors test_tumbling_spikes_history_survives_idle)."""
    import datetime as dt

    rows = [
        ("s1", 1, 30), ("s1", 2, 30), ("s1", 3, 50),  # cum 30/60/110: 3 cut at quota 100
        ("s2", 1, 100), ("s2", 2, 1),                 # cum 100/101: 2 cut
    ]
    docs = spark.createDataFrame(rows, "source string, doc_id bigint, w bigint")
    kept = (
        Pipeline(docs).budget_cap("source", "doc_id", "w", 100).to_list()
    )
    assert sorted((r.source, r.doc_id) for r in kept) == [("s1", 1), ("s1", 2), ("s2", 1)]
    audit = Pipeline(docs).budget_cap("source", "doc_id", "w", 100, kept_only=False).to_list()
    assert {(r.source, r.doc_id): (r.cum, r.kept) for r in audit}[("s1", 3)] == (110, False)

    h = lambda hh, mm=0: dt.datetime(2025, 1, 1, hh, mm)  # noqa: E731
    ev = [("A", h(0)), ("A", h(0, 30)), ("A", h(1)), ("A", h(1, 30)),
          ("A", h(2)), ("A", h(2, 30))] + [("A", h(12, i)) for i in range(9)]
    edf = spark.createDataFrame(ev, "conv_id string, ts timestamp")
    out = {
        (r.conv_id, r.ws.hour): (r.n, r.n_prev, r.sum_prev, r.max_prev, r.spike)
        for r in Pipeline(edf).turn_rate_spikes("ts", "conv_id").to_list()
    }
    assert out[("A", 12)] == (9, 3, 6, 2, True)
    assert out[("A", 2)] == (2, 2, 4, 2, False)


def test_budget_cap_kept_only_preserves_original_columns(spark):
    """kept_only=True must keep every ORIGINAL column: the running sum runs
    over the full frame, not the operator's (key, order, weight) audit
    projection — a doc pipeline that budget-caps and then uses `text`
    downstream must not lose it."""
    rows = [("s1", 1, 30, "alpha"), ("s1", 2, 80, "beta"), ("s2", 1, 10, "gamma")]
    docs = spark.createDataFrame(rows, "source string, doc_id bigint, w bigint, text string")
    kept = Pipeline(docs).budget_cap("source", "doc_id", "w", 100).to_list()
    assert set(kept[0].asDict()) == {"source", "doc_id", "w", "text"}
    # s1 cum: 30, 110 — beta busts the quota; s2 cum: 10 — kept
    assert {(r.source, r.doc_id, r.text) for r in kept} == {
        ("s1", 1, "alpha"), ("s2", 1, "gamma")
    }


def test_byte_string_as_bytes_spark_semantics():
    """spread()'s maxPartitionBytes parse follows Spark byteStringAsBytes:
    '128m' is 128 MiB, not 128 bytes (the old digits-only strip silently
    disabled the repartition guard for any suffixed config value)."""
    from pipeflow_spark.session import _byte_string_as_bytes as b

    assert b("134217728b") == 128 << 20
    assert b("128m") == 128 << 20
    assert b("128MB") == 128 << 20
    assert b(" 1g ") == 1 << 30
    assert b("512k") == 512 << 10
    assert b("2t") == 2 << 40
    assert b("1000") == 1000
    assert b("garbage") == 128 << 20  # Spark default fallback


def test_perplexity_filter_fluent(spark):
    """Fluent LM gate: keeps reference-like rows with all original columns,
    drops high-xent rows and scoreless (<2-token) rows; out= keeps the
    score."""
    from pipeflow_spark import Pipeline
    from pipeflow_spark.operators import lm
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "a"),
            (2, "the quick brown fox naps under the lazy dog", "b"),
            (3, "zz yy xx ww vv uu tt ss rr qq", "c"),
            (4, "solo", "d"),
        ],
        "doc_id int, text string, extra string",
    )
    train = docs.filter(F.col("doc_id") == 1)
    ref = {r.doc_id: r.xent for r in lm.lm_cross_entropy(docs, train).collect()}
    thresh = sorted(ref.values())[1]  # admits exactly docs 1 and 2

    kept = Pipeline(docs).perplexity_filter(train, max_xent=thresh).to_list()
    assert sorted((r.doc_id, r.extra) for r in kept) == [(1, "a"), (2, "b")]

    scored = Pipeline(docs).perplexity_filter(train, max_xent=thresh, out="ppl_xent").to_list()
    assert {r.doc_id: r.ppl_xent for r in scored} == {
        d: x for d, x in ref.items() if x <= thresh
    }


def test_perplexity_filter_rejects_existing_out_column(spark):
    """out= naming a column the frame already has would join a second,
    ambiguous column of that name back on: refused up front."""
    docs = spark.createDataFrame([(1, "the quick brown fox", 0.5)], "doc_id int, text string, q double")
    with pytest.raises(ValueError, match="already a column"):
        Pipeline(docs).perplexity_filter(docs, max_xent=10.0, out="q")
