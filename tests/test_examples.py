"""Smoke tests for the `examples/` scripts (the reference's
``Examples/ModernApiUsage.cs`` twins) — each must run end-to-end against the
shared test session and produce the shapes its narrative promises."""

import os
import sys

import pytest

EXAMPLES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"
)
sys.path.insert(0, EXAMPLES)


@pytest.fixture(scope="module")
def examples_mod():
    import modern_api_usage

    return modern_api_usage


def test_modern_api_usage_all_narratives(spark, tmp_path, examples_mod):
    out = examples_mod.main(spark=spark, workdir=str(tmp_path))
    # 1. basic: PipelineResult with rows processed
    assert out["basic"].success and out["basic"].processed_count > 0
    # 2. naming: the Excel file and the CSV directory both materialized
    xlsx, csv_dir = out["naming"]
    assert os.path.getsize(xlsx) > 0 and os.path.isdir(csv_dir)
    # 3. EF: idempotent upsert (two merges, one row set) + non-empty export
    n_suppliers, export = out["ef"]
    assert n_suppliers > 0 and len(export) > 0
    assert {"order_id", "total_amount", "item_count"} <= set(export[0].asDict())
    # 4. streaming: only non-empty emails pass (300 staged, every 10th blank)
    assert out["streaming"] == 270
    # 5. complex: top-100 JSON document, descending amounts
    json_path, top = out["complex"]
    import json

    doc = json.load(open(json_path))
    assert top.success and 0 < len(doc) <= 100
    amounts = [r["amount"] for r in doc]
    assert amounts == sorted(amounts, reverse=True)  # OrderByDescending(Amount)
    # 6. batch: in-stock rows posted to the API sink in batches
    assert out["batch"] > 0 and out["api_posts"] > 0


def test_streaming_training_pipeline(spark, tmp_path):
    import streaming_training_pipeline as stp

    out = stp.run(spark=spark, workdir=str(tmp_path))
    assert out["main_rows"] > 0 and out["batches"] > 0
    # the injected malformed turns all land in the dead-letter sink
    assert out["dlq_rows"] == 3
