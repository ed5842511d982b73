"""Local differential harness mimicking the driver's correctness gate:
run every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, compare row-count, schema (column names), and
order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}" if abs(v) < 1e15 else repr(v)
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def canon_pandas(pdf):
    """Driver-style normalization: materialize through pandas (the path a
    harness built on ``DataFrame.toPandas()`` / ``duckdb.sql().df()`` takes)
    and stringify each cell with plain ``str``.

    This is the normalization under which the four CORRECTNESS_r03 hash
    mismatches reproduce: DuckDB HUGEINT (``sum`` over INTEGER/BIGINT)
    cannot be represented by numpy, so ``.df()`` silently converts it to
    float64 — ``str`` then yields '1234.0' against Spark's int64 '1234',
    while row counts and column names still match.  Running BOTH this and
    the fetchall-style :func:`canon` keeps every future oracle honest under
    either materialization."""
    cols = sorted(pdf.columns)
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        cells = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                cells.append("∅")
            elif isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
                # Spark DATE survives toPandas as datetime.date while DuckDB
                # .df() widens it to a midnight Timestamp; the driver proved
                # DATE columns hash equal (full_outer_join_daily_recon green
                # r3), so canonicalize instead of false-flagging
                cells.append(f"{v} 00:00:00")
            elif isinstance(v, float):
                # deliberately NO precision-forgiving %.6g here: the driver's
                # stringification keeps the float dtype visible ('1234.0' vs
                # '1234'), which is how HUGEINT→float64 divergence shows up —
                # repr is the faithful, stricter simulation
                cells.append(repr(v))
            else:
                cells.append(str(v))
        out.append(tuple(cells))
    return sorted(out)


def spark_result(sdf):
    """(columns, rows, pandas frame) of a Spark DataFrame, run ONCE: the
    plan is materialized with ``localCheckpoint`` and both the collected
    rows and the ``toPandas()`` frame are read from the checkpoint."""
    cp = sdf.localCheckpoint()
    return cp.columns, [tuple(r) for r in cp.collect()], cp.toPandas()


def oracle_result(con, sql: str):
    """(columns, rows, pandas frame) of an oracle query, run ONCE: the
    result is materialized into a temp table and both the fetchall rows and
    the ``.df()`` frame are read from it."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE __oracle AS {sql}")
    try:
        rel = con.table("__oracle")
        return rel.columns, rel.fetchall(), rel.df()
    finally:
        con.execute("DROP TABLE __oracle")


def oracle_problem(spark_res, oracle_res) -> str | None:
    """Compare a :func:`spark_result` with an :func:`oracle_result`: column
    names, row count, then values under both normalizations
    (:func:`canon`, :func:`canon_pandas`).  Returns the first mismatch, or
    None when they agree."""
    (s_cols, s_rows, s_pdf), (d_cols, d_rows, d_pdf) = spark_res, oracle_res
    if sorted(s_cols) != sorted(d_cols):
        return f"schema {sorted(s_cols)} != {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"rowcount {len(s_rows)} != {len(d_rows)}"
    for label, a, b in (
        ("values", canon(s_rows, s_cols), canon(d_rows, d_cols)),
        ("pandas-normalized values", canon_pandas(s_pdf), canon_pandas(d_pdf)),
    ):
        if a != b:
            i, x, y = next((i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y)
            return f"{label} differ at sorted-row {i}: spark={x} duck={y}"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from pipeflow_spark.session import get_spark

    spark = get_spark("oracle_check", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.monotonic()
        try:
            s = spark_result(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(e).splitlines()[0][:200]}")
            continue
        n_rows = len(s[1])
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({n_rows} rows, {time.monotonic()-t0:.1f}s) [no oracle]")
            continue
        try:
            d = oracle_result(con, oracles[name])
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0][:200]}")
            continue
        problem = oracle_problem(s, d)
        if problem:
            failures.append(name)
            print(f"FAIL  {name}: {problem}")
        else:
            print(f"PASS  {name} ({n_rows} rows, {time.monotonic()-t0:.1f}s)")

    print(f"\n{ran - len(failures)}/{ran} ok; failures: {failures or 'none'}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
