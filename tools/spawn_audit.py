"""Processes the JVM forks per micro-batch of the bench stream chain.

Without libhadoop, Hadoop's local filesystem shells out for some file
operations (``readlink`` for a link status, ``chmod`` for a permission), and
each such call forks a process plus a thread to read its stderr.  This tool
counts those forks on warm catch-up drains of the benchmark's stream chain
and names the call site of each: the first stack frame outside ``java.*``,
``jdk.*`` and ``org.apache.hadoop.*``.  It records the JVM's own
``jdk.ProcessStart`` events with JFR (started in-process over py4j), so it
needs no agent and no external profiler.

Usage:  python tools/spawn_audit.py [--drains 5] [--repo DIR] [--out FILE]

``--repo`` imports ``pipeflow_spark`` and the chain from another checkout
(to compare a parent commit with the same tool).  The session is
``local[SPARK_GRAFT_CPUS]`` with the program's own confs; the input is the
benchmark's catch-up backlog (perfbench seed 61, ~100k turns, 6 files, 3
per trigger).  Two untimed drains warm the JVM first.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def call_site(event: dict) -> str:
    for frame in (event["values"].get("stackTrace") or {}).get("frames", []):
        m = frame["method"]
        name = (m["type"]["name"] + "." + m["name"]).replace("/", ".")
        if not name.startswith(("java.", "jdk.", "sun.", "org.apache.hadoop.")):
            return name
    return "?"


def main() -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--drains", type=int, default=5)
    ap.add_argument("--repo", default=REPO)
    ap.add_argument("--out")
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    sys.path[:0] = [repo, os.path.join(repo, "perfbench")]
    import chain
    import worker

    from pipeflow_spark.session import get_spark
    from pipeflow_spark.streaming import ExactlyOnceSink

    spark = get_spark("spawn_audit")
    jvm = spark.sparkContext._jvm
    work = tempfile.mkdtemp(prefix="pipeflow_spawn_audit_")
    try:
        src = os.path.join(work, "backlog")
        chain.write_files(chain.synthesize(61, worker.REPLAY_CONVS, worker.REPLAY_FILES), src)

        def drain(name: str) -> int:
            q = chain.north_star(spark, src, worker.REPLAY_FILES_PER_TRIGGER).start_exactly_once(
                ExactlyOnceSink(os.path.join(work, name, "sink")),
                os.path.join(work, name, "ckpt"), output_mode="append", available_now=True)
            q.awaitTermination()
            return len(q.recentProgress)

        drain("warm0")
        drain("warm1")
        rec = jvm.jdk.jfr.Recording()
        rec.enable("jdk.ProcessStart").withStackTrace()
        rec.start()
        t0 = time.time()
        batches = sum(drain(f"drain{i}") for i in range(args.drains))
        wall = time.time() - t0
        rec.stop()
        jfr = os.path.join(work, "spawns.jfr")
        rec.dump(jvm.java.nio.file.Paths.get(jfr, spark.sparkContext._gateway.new_array(jvm.java.lang.String, 0)))
        rec.close()
        printed = subprocess.run(
            ["jfr", "print", "--json", "--stack-depth", "64", "--events", "jdk.ProcessStart", jfr],
            capture_output=True, text=True, check=True).stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()

    events = json.loads(printed)["recording"]["events"]
    sites = collections.Counter((e["values"]["command"].split()[0], call_site(e)) for e in events)
    out = {
        "batches": batches,
        "wall_s": round(wall, 2),
        "process_starts": len(events),
        "per_batch": round(len(events) / batches, 1),
        "sites": [{"command": c, "site": s, "starts": n, "per_batch": round(n / batches, 1)}
                  for (c, s), n in sites.most_common()],
    }
    text = json.dumps(out, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return out


if __name__ == "__main__":
    main()
