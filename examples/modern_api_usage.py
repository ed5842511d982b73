"""Runnable twin of the reference's ``Examples/ModernApiUsage.cs`` — the six
narratives (basic fluent build, consistent naming across sinks, EF-style
upsert + export, streaming consumption, API → analysis → JSON, batched
source → API sink), each re-expressed through pipeflow_spark's public
surface.  Everything runs offline against generated inputs and the local
testdata; the two narratives that need a live backend in the reference
(SQL Server, MongoDB) show the identical call shape and fall back to the
offline analog so the script stays end-to-end runnable.

Run:  python examples/modern_api_usage.py  (from the repo root)
Each function also doubles as user-facing documentation and is smoke-run by
``tests/test_examples.py``.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pipeflow_spark import Pipeline, Validator, get_spark, read
from pipeflow_spark import sinks

SF = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# 1. Basic usage (ModernApiUsage.cs:12-40): CSV → Filter → Map → Execute
# ---------------------------------------------------------------------------
def basic_usage(spark, workdir: str):
    """``PipeFlowBuilder.FromCsv(...).Filter(...).Map(...).Build().ExecuteAsync()``

    The reference filters rows by a typed column read and projects an
    anonymous object; here the filter/projection are Catalyst Column
    expressions (JVM-side, no per-row Python), and ``execute()`` returns the
    same ``PipelineResult`` shape (success, processed count, wall time).
    """
    src = os.path.join(workdir, "input.csv")
    with open(src, "w") as f:
        f.write("ProductName,Amount,Quantity\n")
        for i in range(1, 201):
            f.write(f"product_{i},{i * 25}.50,{i % 7 + 1}\n")

    result = (
        read.csv(spark, src, delimiter=",", header=True)  # options => delimiter/HasHeaders
        .filter(F.col("Amount") > 1000)
        .map(
            F.col("ProductName").alias("Product"),
            (F.col("Amount") * F.col("Quantity")).alias("Revenue"),
        )
        .execute()
    )
    if result.success:
        print(f"Processed {result.processed_count} records in {result.execution_time_sec:.2f}s")
    else:
        print(f"Pipeline failed: {result.error}")
    return result


# ---------------------------------------------------------------------------
# 2. Consistent naming (ModernApiUsage.cs:42-58): JSON → Excel; SQL → CSV
# ---------------------------------------------------------------------------
def consistent_naming(spark, workdir: str):
    """``FromJson(...).Filter(...).ToExcelAsync(...)`` then
    ``FromSql(...).ToCsvAsync(...)``.

    The Excel sink takes the same options (sheet name; widths are auto-fit
    by the writer).  The SQL half's live form is one line —

        read.jdbc(spark, url, "(SELECT * FROM Orders WHERE o_orderstatus = 'P') q")

    — identical plan shape from there on; offline we bind the same orders
    table from parquet so the example completes without a database.
    """
    src = os.path.join(workdir, "data.json")
    with open(src, "w") as f:
        for i in range(10):
            f.write(json.dumps({"id": i, "active": i % 2 == 0, "name": f"rec_{i}"}) + "\n")

    xlsx = os.path.join(workdir, "output.xlsx")
    active = read.json(spark, src).filter(F.col("active") == F.lit(True))
    sinks.write.excel(active.df.select("id", "name"), xlsx, sheet="Active Records")

    pending_csv = os.path.join(workdir, "pending_orders")
    pending = read.table(spark, SF, "orders").filter(F.col("o_orderstatus") == "P")
    sinks.write.csv(pending.df, pending_csv)
    return xlsx, pending_csv


# ---------------------------------------------------------------------------
# 3. EF usage (ModernApiUsage.cs:60-94): paged source → map → transactional
#    upsert; then a filtered aggregate export streamed to a list
# ---------------------------------------------------------------------------
def entity_framework_usage(spark, workdir: str):
    """``FromQueryable(ctx.Customers...).WithPaging(500).Map(...)
    .ToEntityFrameworkAsync(upsert on ContactEmail, transactional)``.

    The paged-queryable source's scale analog is ``read.jdbc_partitioned``
    (range/keyset paging pulled by N executors concurrently instead of one
    sequential OFFSET loop); offline we bind customers from parquet.  The
    EF transactional upsert's analog is :func:`pipeflow_spark.sinks.
    upsert_parquet`: a keyed MERGE with an atomic snapshot-pointer commit —
    re-running it is idempotent, the batch twin of the exactly-once sink.
    The export half mirrors the reference's Include + Sum aggregate.
    """
    suppliers_tbl = os.path.join(workdir, "suppliers_upsert")
    customers = (
        read.table(spark, SF, "customer")
        .filter(F.col("c_acctbal") > 0)  # .Where(c => c.IsActive)
        .map(
            F.col("c_name").alias("name"),
            F.concat(F.col("c_name"), F.lit("@example.com")).alias("contact_email"),
            F.current_timestamp().alias("created_date"),
        )
    )
    sinks.upsert_parquet(spark, customers.df, suppliers_tbl, keys=["contact_email"])
    # idempotent: the same merge again is a no-op on row count
    sinks.upsert_parquet(spark, customers.df, suppliers_tbl, keys=["contact_email"])
    n_suppliers = sinks.read_upsert_table(spark, suppliers_tbl).count()

    lineitem = read.table(spark, SF, "lineitem").df
    cutoff = "1998-08-02"  # DateTime.Today.AddDays(-30) pinned for determinism
    export = (
        read.table(spark, SF, "orders")
        .filter(F.col("o_orderdate") >= cutoff)
        .join(
            lineitem.groupBy("l_orderkey").agg(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_amount"),
                F.count("*").alias("item_count"),
            ),
            on=[F.col("o_orderkey") == F.col("l_orderkey")],
        )
        .map(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_custkey").alias("customer_key"),
            F.col("total_amount"),
            F.col("item_count"),
        )
        .to_list()
    )
    print(f"Upserted suppliers: {n_suppliers}; exported orders: {len(export)}")
    return n_suppliers, export


# ---------------------------------------------------------------------------
# 4. Streaming usage (ModernApiUsage.cs:96-117): CSV stream → parallel filter
# ---------------------------------------------------------------------------
def streaming_usage(spark, workdir: str):
    """``FromCsv("large_file.csv").AsParallel(8).Filter(email not empty)``
    consumed with ``await foreach``.

    The true analog of IAsyncEnumerable consumption is Structured
    Streaming: a CSV *file stream* (explicit schema — unbounded inputs
    can't be inference-scanned), parallelism = input partitions rather than
    a thread pool, and the rows land in an in-memory sink as they arrive.
    """
    from pipeflow_spark.streaming.engine import StreamingPipeline

    d = os.path.join(workdir, "csv_stream")
    os.makedirs(d)
    for chunk in range(3):
        with open(os.path.join(d, f"part_{chunk}.csv"), "w") as f:
            f.write("user_id,Email\n")
            for i in range(100):
                uid = chunk * 100 + i
                f.write(f"{uid},{'' if uid % 10 == 0 else f'u{uid}@example.com'}\n")

    q = (
        StreamingPipeline.read_csv_stream(
            spark, d, schema="user_id int, Email string", max_files_per_trigger=1
        )
        .filter(F.col("Email").isNotNull() & (F.col("Email") != ""))
        .start_memory("example_emails")
    )
    q.processAllAvailable()
    q.stop()
    processed = spark.sql("SELECT count(*) AS n FROM example_emails").first().n
    print(f"Processed {processed} records...")
    return processed


# ---------------------------------------------------------------------------
# 5. Complex pipeline (ModernApiUsage.cs:119-151): API → top-100 → JSON doc
# ---------------------------------------------------------------------------
def complex_pipeline(spark, workdir: str, api_url: str):
    """``FromApi(url, auth+retry).Filter(completed).Map(...)
    .OrderByDescending(Amount).Take(100)`` then ``FromCollection(result)
    .ToJsonAsync(indented)``.

    ``read.api`` carries the reference's retry/pagination/auth semantics;
    the result re-enters as a collection pipeline and lands as the
    reference's indented whole-array JSON *document* shape.
    """
    top = (
        read.api(spark, api_url, auth_token="bearer-token", max_retries=3)
        .filter(F.col("status") == "completed")
        .map(
            F.col("id"),
            F.col("amount").cast("double").alias("amount"),
            F.to_date("date").alias("date"),
        )
        .order_by_descending("amount")
        .take(100)
        .execute()
    )
    out = os.path.join(workdir, "top_100_transactions.json")
    if top.success:
        rows = [r.asDict() for r in top.data]
        doc = read.collection(spark, rows, "id bigint, amount double, date date")
        sinks.collect_json_document(doc.df, out, order_by=[F.desc("amount")])
    return out, top


# ---------------------------------------------------------------------------
# 6. Batch processing (ModernApiUsage.cs:153-167): Mongo → batches → API sink
# ---------------------------------------------------------------------------
def batch_processing(spark, workdir: str, api_url: str):
    """``FromMongoDB(...).WithBatchSize(500).Filter(inStock)
    .ToApiAsync(batch 50, auth, custom header)``.

    The MongoDB source call shape is identical here
    (``read.mongodb(spark, uri, db, collection)``) but needs the
    mongo-spark-connector jar; absent one, this example binds the same
    rows from a collection so the API-sink half still runs: batched JSON
    POSTs issued from ``foreachPartition`` (executor-side, scales with
    partitions) with retry + auth + custom headers.
    """
    try:
        products = read.mongodb(spark, "mongodb://localhost", "mydb", "products")
        products.df.schema  # force source resolution
    except Exception:
        products = read.collection(
            spark,
            [(i, f"sku_{i}", i % 3 != 0) for i in range(1, 101)],
            "id int, sku string, inStock boolean",
        )
    in_stock = products.filter(F.col("inStock"))
    sinks.write.api(
        in_stock.df,
        api_url,
        batch_size=50,
        auth_token="api-key",
        headers={"X-Custom-Header": "value"},
    )
    return in_stock.count()


# ---------------------------------------------------------------------------
def _start_api_server():
    """Tiny local stand-in for the reference's https://api.example.com."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        TX = [
            {"id": i, "amount": round(100 + (i * 37) % 900 + i / 10, 2),
             "date": f"2024-01-{i % 28 + 1:02d}",
             "status": "completed" if i % 4 else "pending"}
            for i in range(1, 151)
        ]

        def log_message(self, *a):
            pass

        def _reply(self, obj, status=200):
            body = json.dumps(obj).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            self._reply({"data": self.TX})

        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            payload = json.loads(self.rfile.read(n))
            with self.server.lock:
                self.server.posts.append(payload)
            self._reply({"ok": True})

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    srv.lock = threading.Lock()
    srv.posts = []
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def main(spark=None, workdir: str | None = None) -> dict:
    own_session = spark is None
    if own_session:
        spark = get_spark("modern_api_usage", cpus=8, shuffle_partitions=8)
    tmp = workdir or tempfile.mkdtemp(prefix="pipeflow_example_")
    srv, api_url = _start_api_server()
    try:
        out = {}
        out["basic"] = basic_usage(spark, tmp)
        out["naming"] = consistent_naming(spark, tmp)
        out["ef"] = entity_framework_usage(spark, tmp)
        out["streaming"] = streaming_usage(spark, tmp)
        out["complex"] = complex_pipeline(spark, tmp, api_url)
        out["batch"] = batch_processing(spark, tmp, api_url)
        out["api_posts"] = len(srv.posts)
        return out
    finally:
        srv.shutdown()
        if own_session:
            spark.stop()


if __name__ == "__main__":
    results = main()
    print("all six ModernApiUsage narratives completed:",
          {k: type(v).__name__ for k, v in results.items()})
