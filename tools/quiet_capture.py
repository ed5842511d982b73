"""Gauge-gated capture: run a benchmark command only inside a verified
quiet-host window, and annotate the result with the gauge readings.

This sandbox's hypervisor develops multi-minute CPU-steal windows (BENCH.md
§2): identical Spark jobs measure 5–10× apart depending on the minute, and a
single `tools/cpu_gauge.py` probe is itself noisy — a reading > 1.0 usually
means the probe's *solo* phase was throttled, not that the host is fast.
Protocol learned over rounds 2–3:

1. **Double-probe gate** (``cpu_gauge.wait_for_quiet``, shared with
   bench.py): two consecutive probes 30 s apart must BOTH land in the quiet
   bounds before launching.  Each attempt makes one double probe.
2. **Refill sleeps**: the 16-core probe and the measured run both drain the
   host's burst credits; sleep ``SPARK_GRAFT_QUIET_SLEEP`` (4 min) after a
   failed probe and ≥ 6 min after a failed run so the next probe measures
   the host, not the probe's or the run's own exhaust.
3. **Post-run verdict**: the captured JSON must embed its own before/after
   gauges (bench.py does); accept only if both ≥ accept threshold (0.9),
   else keep hunting.  Every rejected attempt is kept on disk — publish the
   raw attempts, never cherry-pick silently.

Usage:
    python tools/quiet_capture.py --out /tmp/final.json -- python bench.py
Env: QC_ACCEPT / QC_ATTEMPTS / QC_RUN_SLEEP, plus the gate's
SPARK_GRAFT_QUIET_* (see tools/cpu_gauge.py).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from cpu_gauge import SLEEP, gauge, wait_for_quiet  # noqa: E402

ACCEPT = float(os.environ.get("QC_ACCEPT", "0.9"))
ATTEMPTS = int(os.environ.get("QC_ATTEMPTS", "40"))
RUN_SLEEP = int(os.environ.get("QC_RUN_SLEEP", "360"))


def main() -> int:
    argv = sys.argv[1:]
    out_path = None
    if argv[:1] == ["--out"]:
        out_path, argv = argv[1], argv[2:]
    if argv[:1] == ["--"]:
        argv = argv[1:]
    if not argv:
        print(__doc__)
        return 2

    for attempt in range(1, ATTEMPTS + 1):
        quiet, probes = wait_for_quiet(budget_sec=0)
        print(f"attempt {attempt}: probes {probes}", flush=True)
        if not quiet:
            time.sleep(SLEEP)
            continue
        proc = subprocess.run(argv, capture_output=True, text=True)
        line = next(
            (l for l in reversed(proc.stdout.splitlines()) if l.startswith("{")), None
        )
        if line is None:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
            print(f"attempt {attempt}: no JSON line from command", flush=True)
            time.sleep(RUN_SLEEP)
            continue
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            print(f"attempt {attempt}: unparseable JSON", flush=True)
            time.sleep(RUN_SLEEP)
            continue
        hg = d.get("host_gauge") or {}
        before, after = hg.get("before"), hg.get("after")
        if before is None or after is None:
            # command doesn't self-gauge: stamp our own post-run probe
            after = gauge()
            before = probes[-1]
            d["host_gauge"] = {"before": before, "after": after}
        keep = f"{out_path or 'quiet_capture'}.attempt{attempt}"
        with open(keep, "w") as f:
            json.dump(d, f)
        if before >= ACCEPT and after >= ACCEPT:
            if out_path:
                with open(out_path, "w") as f:
                    json.dump(d, f)
            print(json.dumps(d))
            print(f"attempt {attempt}: ACCEPTED ({before}/{after})", flush=True)
            return 0
        print(f"attempt {attempt}: rejected ({before}/{after})", flush=True)
        time.sleep(RUN_SLEEP)
    print("no quiet window found; see .attempt* files for raw evidence")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
