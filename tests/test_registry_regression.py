"""Regression net for driver-certified queries that rotated OUT of the
certification window (VERDICT r3 #8).

The driver certifies only the first 50 registry entries each round; entries
certified in an earlier round then rely on session tooling.  This suite
re-runs every previously-driver-green query that now sits PAST the window
against its DuckDB oracle at sf0.001 (small enough to keep the whole sweep
in CI time), under the same dual normalization as ``tools/certify_all.py``
— so a regression in a rotated-out query fails pytest, not just a manual
sweep.

Streaming oracles are included: at sf0.001 each bounded replay completes in
a few seconds.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracles import TABLES, oracle_problem, oracle_result, spark_result  # noqa: E402

from pipeflow_spark.queries import QUERIES  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


def _rotated_out_certified() -> list[str]:
    """Every oracle-backed query past the 50-entry window — both entries
    driver-certified in an earlier round AND entries added after the final
    rotation (the r5 additions have no driver row in any round, so this net
    is their ONLY automated Spark-vs-DuckDB check between manual
    certify_all sweeps; code-review r5)."""
    names = list(QUERIES)
    window = set(names[:50])
    return [n for n in names if n not in window and QUERIES[n][1] is not None]


ROTATED = _rotated_out_certified()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def test_rotation_set_is_nonempty_and_sane():
    # the net must cover the big earlier-round blocks AND the post-rotation
    # r5 additions (which have no driver row in any round)
    assert len(ROTATED) >= 30
    assert "q10_returned_items" in ROTATED  # r2-certified, past the boundary
    assert "stream_events_tumbling_oracle" in ROTATED  # r3-certified stream
    for new in ("lm_perplexity_score", "corpus_divergence", "mixture_temperature",
                "stream_perplexity_gate_oracle", "decontaminate_neardup"):
        assert new in ROTATED  # r5 additions: sweep+this-net only


@pytest.mark.parametrize("name", ROTATED)
def test_rotated_out_query_still_matches_oracle(name, spark, duck):
    fn, sql = QUERIES[name]
    assert oracle_problem(spark_result(fn(spark, SF_DIR)), oracle_result(duck, sql)) is None


def test_spark_result_runs_the_plan_once(spark):
    """spark_result reads the rows and the pandas frame from ONE execution
    of the plan: a mapInPandas stage counting its rows with an accumulator
    sees each row once, not once for collect() and again for toPandas()."""
    seen = spark.sparkContext.accumulator(0)

    def count(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    cols, rows, pdf = spark_result(spark.range(20).mapInPandas(count, "id long"))
    assert cols == ["id"] and len(rows) == len(pdf) == 20
    assert seen.value == 20
