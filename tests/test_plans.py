"""Plan-quality assertions: the physical plans Catalyst produces for the
registry queries must be the plans we'd want at 100 TB — filters pushed into
the parquet scan, schemas pruned to referenced columns, small dims broadcast,
no redundant shuffles.  These are executed-plan string checks (the same thing
`.explain("formatted")` shows)."""

from pyspark.sql import functions as F

from pipeflow_spark.queries import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"][0](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200], "shipdate filter not pushed"


def test_column_pruning(spark, sf_dir):
    df = QUERIES["relational_core"][0](spark, sf_dir)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 3 referenced columns are read, not all 6 of events
    assert "user_id" in read_schema and "value" in read_schema
    assert "props" not in read_schema and "ts" not in read_schema and "event_id" not in read_schema


def test_broadcast_join_used(spark, sf_dir):
    df = QUERIES["broadcast_join_brand_revenue"][0](spark, sf_dir)
    assert "BroadcastHashJoin" in _plan(df)


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(QUERIES["q5_local_supplier_volume"][0](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, "region/nation/supplier should broadcast"


def test_remove_duplicates_single_shuffle(spark, sf_dir):
    from pipeflow_spark import Pipeline
    from pipeflow_spark.session import load_table

    df = (
        Pipeline(load_table(spark, sf_dir, "events"))
        .remove_duplicates("user_id", order_cols=["ts", "event_id"])
        .df
    )
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, "keyed dedupe needs exactly one shuffle"


def test_group_agg_partial_final(spark, sf_dir):
    df = QUERIES["group_agg_events"][0](spark, sf_dir)
    plan = _plan(df)
    # partial (map-side) + final hash aggregate around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_whole_stage_codegen_covers_profile(spark, sf_dir):
    from pipeflow_spark.operators import text
    from pipeflow_spark.session import load_table

    df = load_table(spark, sf_dir, "documents").select(
        text.token_count(F.col("text")).alias("a"), text.fingerprint(F.col("text")).alias("b")
    )
    plan = _plan(df)
    # codegen'd stages are star-prefixed in the executed-plan string: "*(1) Project"
    assert "*(1)" in plan or "WholeStageCodegen" in plan, f"profile must stay in codegen:\n{plan}"


def test_salted_agg_two_phase(spark, sf_dir):
    df = QUERIES["salted_agg_events"][0](spark, sf_dir)
    plan = _plan(df)
    # phase 1 on (keys, salt), phase 2 on keys — two distinct hash shuffles
    assert plan.count("Exchange hashpartitioning") == 2


def test_scalar_subquery_decorrelated_broadcast(spark, sf_dir):
    """The correlated-scalar-subquery query must plan as ONE fact scan joined
    to a broadcast threshold table — not a per-row subquery or a shuffled
    self-join."""
    plan = _plan(QUERIES["scalar_subquery_below_half_avg"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_unpivot_is_narrow_expand(spark, sf_dir):
    """Unpivot must expand rows locally (Expand/Generate node) with no shuffle
    before the aggregate's own exchange."""
    plan = _plan(QUERIES["unpivot_lineitem_measures"][0](spark, sf_dir))
    assert "Expand" in plan
    # exactly the aggregate's one shuffle (the sort's rangepartitioning
    # exchange is the orderBy terminal, not the unpivot)
    assert plan.count("Exchange hashpartitioning") == 1


def test_q19_pushes_common_disjunct_conjuncts(spark, sf_dir):
    """Catalyst must extract the brand set and quantity hull from the OR and
    push them into the part/lineitem scans — the disjunction alone would scan
    everything."""
    plan = _plan(QUERIES["q19_disjunctive_predicates"][0](spark, sf_dir))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")  # one section per scan
    assert any("p_brand" in s[:400] for s in pushed[1:]), "brand disjunct not pushed to part scan"
    assert any("l_quantity" in s[:400] for s in pushed[1:]), "quantity hull not pushed to lineitem scan"


def test_q18_semi_join_broadcasts_key_set(spark, sf_dir):
    """The IN/HAVING key set (rare orders) must broadcast into a left-semi
    hash join, not shuffle the orders table."""
    plan = _plan(QUERIES["q18_large_volume_orders"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval-gram set must broadcast; the corpus side must stay map-only
    up to the join (no shuffle of the exploded posting list before it)."""
    plan = _plan(QUERIES["decontaminate_ngram"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_pii_redaction_jvm_only_map_only(spark, sf_dir):
    """The chained regexp_replace redactor is plain JVM projection work — no
    Python eval node anywhere, and no hash shuffle before the terminal sort
    (the only exchange is the orderBy's range partitioning)."""
    plan = _plan(QUERIES["pii_redaction"][0](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "regexp_replace" in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the same key and count must sort-merge join
    with ZERO exchanges — the co-located-join layout that makes repeated
    100 TB fact-to-fact joins affordable (one write-time shuffle amortized
    over every future join)."""
    from pipeflow_spark.sinks import write

    a = spark.range(5000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(5000).selectExpr("id AS k", "id * 3 AS vb")
    write.bucketed(a, "bkt_a", ["k"], num_buckets=8, sort_cols=["k"], path=str(tmp_path / "a"))
    write.bucketed(b, "bkt_b", ["k"], num_buckets=8, sort_cols=["k"], path=str(tmp_path / "b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan}"
        assert j.count() == 5000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_gram_hash_posting_computes_grams_once(spark, sf_dir):
    """InferFiltersFromGenerate regression guard: exploding the gram-hash
    ARRAY ATTRIBUTE lets Catalyst infer size(ghs)>0 and predicate-pushdown
    rewrites it to the full gram expression below the exchange — computing
    the tokenize→hash pipeline twice (measured 33 s vs 0.8 s at sf0.1).
    gram_hash_posting fuses explode over the expression, which that rule
    skips; no Filter in its plan may contain the gram machinery."""
    from pipeflow_spark.operators.dedupe import gram_hash_posting

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") >= 50)
    p = gram_hash_posting(d, "text", "doc_id", n=8)
    plan = p._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Filter" in line:
            assert "array_distinct" not in line and "xxhash64" not in line, (
                "gram expression leaked into a pushed-down filter:\n" + line
            )
    assert plan.count("regexp_replace") == 1, "tokenization computed more than once"


def test_registry_plan_totals(spark, sf_dir):
    """CI gate over the whole registry: zero row-at-a-time Python eval nodes
    and zero cartesian products in ANY batch query's physical plan — a
    future per-row F.udf or accidental cross join cannot land silently.
    Regenerates PLANS.md in the same run so the audit artifact never drifts
    from the code."""
    import importlib.util
    import os

    tool = os.path.join(os.path.dirname(__file__), "..", "tools", "plan_report.py")
    spec = importlib.util.spec_from_file_location("plan_report", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    rows, totals = mod.build_report(spark, sf_dir)
    audited = [name for name, m in rows if m is not None]
    assert len(audited) >= 45, "registry shrank unexpectedly"
    offenders = [name for name, m in rows if m and (m["row_py"] or m["cartesian"])]
    assert totals == {"row_py": 0, "cartesian": 0}, f"plan regressions in: {offenders}"
    # json_path_props ticked 0.37→0.46 s at sf0.1 in the r4 bench with no
    # plan change (host noise); pin its full plan shape so any future REAL
    # regression (an extra shuffle, a lost pushdown, a Python fallback) is
    # distinguishable from noise in one glance (VERDICT r4 #5)
    jp = dict(rows)["json_path_props"]
    assert jp == {
        "scans": 1, "pushed": 0, "hash_ex": 1, "range_ex": 1, "bcast": 0,
        "smj": 0, "arrow_py": 0, "row_py": 0, "cartesian": 0,
    }, f"json_path_props plan shape changed: {jp}"
    mod.write_md(rows, totals, sf_dir)
