"""Full-registry certification sweep + consolidated ledger (VERDICT r3 #3/#6).

Runs EVERY registry entry at sf0.01 against its DuckDB oracle under both
normalizations (fetchall-style and driver-style pandas), merges the result
with the per-round driver certifications (CORRECTNESS_r0*.json), and writes:

* ``CERTIFIED.md``  — one row per registry query: where it sits relative to
  the driver window, which round (if any) last driver-certified it, and the
  outcome of THIS sweep.  The judge / a user reads one file instead of
  diffing three CORRECTNESS artifacts and re-running spot checks.
* ``bench_artifacts/certify_<n>.json`` — the machine-readable run record.

Exit code 1 if any oracle-backed query fails.  Usage:

    python tools/certify_all.py [sf_dir]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from check_oracles import TABLES, oracle_problem, oracle_result, spark_result  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_rounds() -> dict[str, list[tuple[int, bool]]]:
    """name -> [(round, green)] across every CORRECTNESS_r*.json present."""
    out: dict[str, list[tuple[int, bool]]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            green = bool(
                row.get("hash_match") and row.get("rows_match") and row.get("schema_match")
            )
            out.setdefault(name, []).append((rnd, green))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry_mod
    from pipeflow_spark.session import get_spark

    spark = get_spark("certify_all", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    drounds = driver_rounds()
    results: dict[str, dict] = {}
    t_start = time.monotonic()
    for i, (name, fn) in enumerate(qs.items(), 1):
        t0 = time.monotonic()
        rec: dict = {"pos": i, "rows": None, "sec": None}
        try:
            s = spark_result(fn(spark, sf_dir))
            rec["rows"] = len(s[1])
        except Exception as e:  # noqa: BLE001
            rec.update(status="spark-error", detail=str(e).splitlines()[0][:160])
            results[name] = rec
            print(f"FAIL  {name}: spark error: {rec['detail']}", flush=True)
            continue
        if name not in oracles:
            rec["sec"] = round(time.monotonic() - t0, 1)
            rec.update(status="rows-only")
            results[name] = rec
            print(f"ok?   {name}: rows-only ({rec['rows']} rows)", flush=True)
            continue
        try:
            d = oracle_result(con, oracles[name])
        except Exception as e:  # noqa: BLE001
            rec.update(status="duckdb-error", detail=str(e).splitlines()[0][:160])
            results[name] = rec
            print(f"FAIL  {name}: duckdb error: {rec['detail']}", flush=True)
            continue
        problem = oracle_problem(s, d)
        rec["sec"] = round(time.monotonic() - t0, 1)
        if problem:
            rec.update(status="red", detail=problem)
            print(f"FAIL  {name}: {rec['detail']}", flush=True)
        else:
            rec.update(status="green")
            print(f"PASS  {name} ({rec['rows']} rows, {rec['sec']}s)", flush=True)
        results[name] = rec
    spark.stop()

    reds = [n for n, r in results.items() if r["status"] not in ("green", "rows-only")]
    total_sec = round(time.monotonic() - t_start, 1)

    # -- machine-readable artifact -------------------------------------------
    os.makedirs(os.path.join(REPO, "bench_artifacts"), exist_ok=True)
    # next = max existing sequence + 1 (a count would overwrite history when
    # the sequence has gaps — code-review r4)
    existing = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "bench_artifacts", "certify_*.json"))
        if (m := re.search(r"certify_(\d+)\.json$", p))
    ]
    seq = max(existing, default=0) + 1
    art = os.path.join(REPO, "bench_artifacts", f"certify_{seq:03d}.json")
    with open(art, "w") as f:
        json.dump(
            {"sf_dir": sf_dir, "total_sec": total_sec, "failures": reds, "results": results},
            f,
            indent=1,
        )

    # -- CERTIFIED.md ledger --------------------------------------------------
    lines = [
        "# CERTIFIED — consolidated certification ledger (generated)\n",
        f"\nGenerated by `tools/certify_all.py` at sf `{sf_dir}`; sweep artifact "
        f"`bench_artifacts/{os.path.basename(art)}` ({total_sec}s for "
        f"{len(results)} queries).\n",
        "\nColumns: **pos** = registry position (the driver certifies positions"
        " 1–50); **driver** = rounds with a green driver CORRECTNESS row"
        " (red rounds shown as rN✗); **sweep** = this full-registry dual-"
        "normalization differential (`green` = rows+schema+values match the"
        " DuckDB oracle under both fetchall-style and pandas-style"
        " normalization; `rows-only` = genuinely non-SQL-expressible, pinned"
        " by pytest instead).\n",
        "\n| pos | query | driver rounds | sweep | rows | sec |\n",
        "|---|---|---|---|---|---|\n",
    ]
    for name, rec in results.items():
        hist = drounds.get(name, [])
        dr = ", ".join(f"r{r}" + ("" if g else "✗") for r, g in hist) or "—"
        status = rec["status"]
        mark = {"green": "green", "rows-only": "rows-only"}.get(status, f"**{status}**")
        lines.append(
            f"| {rec['pos']} | `{name}` | {dr} | {mark} | "
            f"{rec['rows'] if rec['rows'] is not None else '—'} | "
            f"{rec['sec'] if rec['sec'] is not None else '—'} |\n"
        )
    n_green = sum(1 for r in results.values() if r["status"] == "green")
    n_rows = sum(1 for r in results.values() if r["status"] == "rows-only")
    lines.append(
        f"\n**{n_green} oracle-green + {n_rows} rows-only out of "
        f"{len(results)} registry entries; failures: {reds or 'none'}.**\n"
    )
    with open(os.path.join(REPO, "CERTIFIED.md"), "w") as f:
        f.writelines(lines)

    print(f"\n{len(results) - len(reds)}/{len(results)} ok; failures: {reds or 'none'}")
    print(f"wrote CERTIFIED.md + {art}")
    sys.exit(1 if reds else 0)


if __name__ == "__main__":
    main()
