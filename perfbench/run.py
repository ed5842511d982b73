"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Each run starts one fresh worker process
(``worker.py``) in its own process group, with only the machine described in
its environment: CPU count, driver memory, and scratch directories inside
the checkout.  The worker's log is kept in ``.perfbench_work/`` when the run
fails; the traced run's spans and progress events are kept in
``.perfbench_out/``.

The last line printed is one JSON object ``{correct, attempted, failed,
metrics}``: the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``.  The lines before it give the workload's own metric
names, sample counts and the host-noise record.  A run that crashes or
times out counts every op as failed and exits non-zero.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_replay_paced", "batch_curate")
RUN_LIMIT_S = 170  # the whole run, worker start-up and clean-up included
DRIVER_MEM = "4g"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _env(work: str) -> dict:
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # the JVM's own temp files (native libraries) stay in the checkout
        # too, and it writes no /tmp/hsperfdata_<user> monitoring file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=ROOT,
    )
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _reap(pgid: int) -> None:
    """Stop every process of the worker's group and wait until none is left:
    first a grace period for the JVM to exit on its own, then TERM, then KILL."""
    for sig, grace in ((None, 10.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.time() + grace
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def _fail(reason: str, log: str) -> int:
    print(f"perfbench: run failed: {reason}; log: {log}", file=sys.stderr)
    if os.path.exists(log):
        with open(log, errors="replace") as f:
            tail = f.readlines()[-30:]
        sys.stderr.writelines(tail)
    print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
    return 1


def _describe(workload: str, seed: int, res: dict) -> None:
    info = ", ".join(f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}" for k, v in res["info"].items())
    print(f"perfbench {workload} seed={seed}: {info}")
    layer = res["layer"]
    print(
        f"perfbench setup_s={layer['setup_s']:.3f} ops={res['ops']} ops_failed={res['failed']}"
        f" host_steal_share={layer['host.steal_share']:.4f}"
    )
    for note in res["notes"]:
        print(f"perfbench check: {note}")


def _run_worker(args, work: str, log: str) -> int:
    """Run the worker to completion or the time limit; always reap its group."""
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        *("--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds)),
        *("--trace", str(args.trace), "--work", work, "--t0", repr(T_START)),
        *("--out", os.path.join(work, "result.json")),
    ]
    with open(log, "w") as logf:
        proc = subprocess.Popen(
            cmd, cwd=work, env=_env(work), stdout=logf, stderr=subprocess.STDOUT, start_new_session=True
        )
        try:
            proc.wait(timeout=max(1.0, RUN_LIMIT_S - 20 - (time.time() - T_START)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _reap(proc.pid)
            proc.wait()
    return proc.returncode


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "pipeflow_spark", "__init__.py")):
        print(f"perfbench: no pipeflow_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()

    base = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    work, log = base, base + ".log"
    # a TERM to this process still stops and reaps the worker's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        returncode = _run_worker(args, work, log)
        if returncode != 0:
            return _fail(f"worker exited with {returncode}", log)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        if args.trace:
            keep = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"), os.path.join(keep, f"{args.workload}-seed{args.seed}-trace.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.remove(log)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    values = {**res["e2e"], **res["layer"]}
    _describe(args.workload, args.seed, res)
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    ok = res["failed"] == 0
    print(json.dumps({"correct": ok, "attempted": res["ops"], "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
