"""Host-contention gauge for this time-shared sandbox.

The hypervisor intermittently throttles sustained multi-core bursts
(20-40 % steal observed; identical Spark jobs measured 5.5 s vs 41.7 s an
hour apart — BENCH.md §2).  Before trusting any performance number, measure
relative per-core speed under full fan-out:

    gauge = sum(iterations of 16 concurrent 1 s burns) / (16 × solo burn)

~1.0 → quiet host, numbers are trustworthy; ≤0.9 → a steal window is open
and multi-core measurements will understate the engine.  bench_scaling.py
runs should only be recorded when the gauge holds ≥0.9 before AND after.

``wait_for_quiet`` is the one quiet-host gate (``bench.py`` and
``tools/quiet_capture.py`` both call it).  Env: SPARK_GRAFT_QUIET_LO /
SPARK_GRAFT_QUIET_HI (probe bounds, default [0.93, 1.10]),
SPARK_GRAFT_QUIET_SLEEP (refill sleep, default 240 s) and
SPARK_GRAFT_QUIET_BUDGET (longest wait, default 900 s).
"""

import multiprocessing as mp
import os
import sys
import time

LO = float(os.environ.get("SPARK_GRAFT_QUIET_LO", "0.93"))
HI = float(os.environ.get("SPARK_GRAFT_QUIET_HI", "1.10"))
SLEEP = int(os.environ.get("SPARK_GRAFT_QUIET_SLEEP", "240"))
# bounded at 15 min: long enough that a steal window usually passes, short
# enough that the caller's own timeout can't swallow the capture
BUDGET = int(os.environ.get("SPARK_GRAFT_QUIET_BUDGET", "900"))


def burn(_):
    t0 = time.time()
    x = 0
    while time.time() - t0 < 1.0:
        x += 1
    return x


def gauge(procs: int = 16) -> float:
    with mp.Pool(procs) as p:
        multi = p.map(burn, range(procs))
    solo = burn(0)
    return round(sum(multi) / (procs * solo), 2)


def wait_for_quiet(budget_sec: int = BUDGET) -> tuple[bool, list[float]]:
    """Bounded wait for a quiet host window before measuring anything.

    Double probe: two consecutive probes 30 s apart must both land in
    [LO, HI].  A single probe passes sub-minute oscillations, and a reading
    above HI means the probe's own solo phase was throttled.  A failed
    attempt is followed by a ``SLEEP`` refill sleep, because the 16-process
    probe itself drains the host's burst credits.

    Returns ``(quiet, probes)``: whether a window opened within
    ``budget_sec``, and every probe reading (the passing pair last).
    ``budget_sec=0`` makes one double probe that returns without sleeping;
    ``tools/quiet_capture.py`` gates each of its attempts that way."""
    probes: list[float] = []
    deadline = time.monotonic() + budget_sec
    while True:
        probes.append(gauge())
        if LO <= probes[-1] <= HI:
            time.sleep(30)
            probes.append(gauge())
            if LO <= probes[-1] <= HI:
                return True, probes
        if time.monotonic() + SLEEP >= deadline:
            return False, probes
        time.sleep(SLEEP)


if __name__ == "__main__":
    procs = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    print(gauge(procs))
